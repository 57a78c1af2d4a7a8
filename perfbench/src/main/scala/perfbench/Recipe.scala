package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** A relation a recipe reads: another model, or a raw source table. */
sealed trait Rel
final case class RefRel(model: String) extends Rel
final case class SrcRel(table: String) extends Rel

/** One generated model's logic: a base relation, joins by shared key
  * columns, an optional filter, an optional grouping, and the output
  * list (`expr AS name`). It renders both as dbt-style SQL text (for
  * `sqlModel`) and as DataFrame calls (for `model` + `ctx.ref`), so the
  * seed can pick either declaration style for the same logic. */
final case class Recipe(from: Rel, joins: Seq[(Rel, Seq[String], String)],
    where: Seq[String], groupBy: Seq[String], select: Seq[String]) {

  def refs: Seq[String] = (from +: joins.map(_._1)).collect { case RefRel(m) => m }

  def sql: String = {
    def rel(r: Rel) = r match {
      case RefRel(m) => s"{{ ref('$m') }}"
      case SrcRel(t) => s"{{ source('raw', '$t') }}"
    }
    val js = joins.map { case (r, keys, how) =>
      s"${if (how == "left") "LEFT JOIN" else "JOIN"} ${rel(r)} USING (${keys.mkString(", ")})"
    }
    (Seq(s"SELECT ${select.mkString(", ")}", s"FROM ${rel(from)}") ++ js ++
      (if (where.isEmpty) Nil else Seq(s"WHERE ${where.mkString(" AND ")}")) ++
      (if (groupBy.isEmpty) Nil else Seq(s"GROUP BY ${groupBy.mkString(", ")}")))
      .mkString("\n")
  }

  /** The same logic through the DataFrame API; `ref`/`source` resolve
    * relations (a model's `ctx`, or a direct evaluation). */
  def dataFrame(ref: String => DataFrame, source: String => DataFrame): DataFrame = {
    def rel(r: Rel) = r match {
      case RefRel(m) => ref(m)
      case SrcRel(t) => source(t)
    }
    val joined = joins.foldLeft(rel(from)) { case (acc, (r, keys, how)) =>
      acc.join(rel(r), keys, if (how == "left") "left" else "inner")
    }
    val filtered = where.foldLeft(joined)((df, w) => df.filter(expr(w)))
    if (groupBy.isEmpty) filtered.select(select.map(expr): _*)
    else {
      val aggs = select.drop(groupBy.size).map(expr)
      filtered.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
  }
}

object Recipe {
  private val RefPat = raw"\{\{\s*ref\('([^']+)'\)\s*\}\}".r
  private val SrcPat = raw"\{\{\s*source\('raw',\s*'([^']+)'\)\s*\}\}".r

  /** Runs SQL text outside the engine: placeholders become temp views of
    * directly evaluated relations. */
  def runSql(spark: SparkSession, sql: String, ref: String => DataFrame,
      source: String => DataFrame): DataFrame = {
    val withRefs = RefPat.replaceAllIn(sql, m => {
      val v = s"perfbench_exp_${m.group(1)}"
      ref(m.group(1)).createOrReplaceTempView(v); v
    })
    spark.sql(SrcPat.replaceAllIn(withRefs, m => {
      val v = s"perfbench_src_${m.group(1)}"
      source(m.group(1)).createOrReplaceTempView(v); v
    }))
  }
}
