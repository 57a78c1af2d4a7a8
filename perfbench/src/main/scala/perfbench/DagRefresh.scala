package perfbench

import graft.SparkEntry
import graft.engine._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** One generated model: its layer, materialization, logic and whether it
  * is declared as SQL text or as a DataFrame function. `key` is the
  * entity key column the generated tests check. */
final case class ModelSpec(name: String, layer: String, kind: String,
    recipe: Recipe, asSql: Boolean, key: Option[String], dim: Option[String],
    countCol: Option[String]) {
  def materialization: Materialization = kind match {
    case "view" => Materialization.View
    case "table" => Materialization.Table
    case "ephemeral" => Materialization.Ephemeral
    case "bucketed" => Materialization.BucketedTable(key.toSeq, 4)
    case "insert_overwrite" => Materialization.InsertOverwrite(Seq("pbucket"))
    case "incremental" => Materialization.Incremental(key.map(Seq(_)),
      Materialization.IncrementalStrategy.Merge)
  }
}

/** A dbt-style project generated from a seed over the test tables:
  * staging views over every source, two intermediate aggregates per
  * entity that each `ref` 1-3 upstreams, one mart per entity joining its
  * dimension with both intermediates, one snapshot, and generic
  * tests (unique, not_null, relationships, accepted_values,
  * expression_is_true) that
  * hold on the generated data. The shape (counts per layer and per
  * materialization, joins per model) is fixed; the seed picks the logic
  * (which upstreams among equally deep paths, filter, aggregate, columns)
  * and the declaration style. */
final case class ProjectSpec(models: Seq[ModelSpec]) {
  val byName: Map[String, ModelSpec] = models.map(m => m.name -> m).toMap
  def marts: Seq[ModelSpec] = models.filter(_.layer == "mart")

  /** Canonical text of the whole project: same seed, same bytes. */
  def canonical: String = models.map { m =>
    s"${m.name}|${m.layer}|${m.kind}|${if (m.asSql) "sql" else "df"}|${m.key.getOrElse("")}|" +
      s"${m.dim.getOrElse("")}\n${m.recipe.sql}"
  }.mkString("\n--\n")

  def digest: String = java.security.MessageDigest.getInstance("SHA-256")
    .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

object ProjectSpec {
  val Sources: Seq[String] = Seq("customer", "orders", "lineitem", "part",
    "supplier", "nation", "region", "events", "documents")

  private val staging: Seq[(String, String, Seq[String])] = Seq(
    ("stg_customer", "customer", Seq("c_custkey AS customer_id",
      "c_nationkey AS nation_id", "CAST(c_acctbal AS DECIMAL(12,2)) AS cust_acctbal",
      "c_mktsegment AS segment")),
    ("stg_orders", "orders", Seq("o_orderkey AS order_id",
      "o_custkey AS customer_id", "o_orderstatus AS status",
      "CAST(o_totalprice AS DECIMAL(14,2)) AS total_price",
      "CAST(o_orderdate AS DATE) AS order_date",
      "year(o_orderdate) AS order_year", "o_orderpriority AS priority")),
    ("stg_lineitem", "lineitem", Seq("l_orderkey AS order_id",
      "l_partkey AS part_id", "l_suppkey AS supplier_id",
      "CAST(l_quantity AS DECIMAL(10,0)) AS quantity",
      "CAST(l_extendedprice AS DECIMAL(14,2)) AS price",
      "CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS net",
      "l_returnflag AS return_flag", "l_linestatus AS line_status",
      "year(l_shipdate) AS ship_year")),
    ("stg_part", "part", Seq("p_partkey AS part_id", "p_brand AS brand",
      "p_type AS part_type", "p_size AS size",
      "CAST(p_retailprice AS DECIMAL(10,2)) AS retail_price")),
    ("stg_supplier", "supplier", Seq("s_suppkey AS supplier_id",
      "s_nationkey AS nation_id", "CAST(s_acctbal AS DECIMAL(12,2)) AS supp_acctbal")),
    ("stg_nation", "nation", Seq("n_nationkey AS nation_id",
      "n_name AS nation_name", "n_regionkey AS region_id")),
    ("stg_region", "region", Seq("r_regionkey AS region_id", "r_name AS region_name")),
    ("stg_events", "events", Seq("event_id", "user_id AS customer_id",
      "event_type", "CAST(value AS DECIMAL(12,2)) AS value",
      "CAST(ts AS DATE) AS event_day")),
    ("stg_documents", "documents", Seq("doc_id", "lang", "source", "n_chars",
      "size(split(text, ' ')) AS n_words")))

  /** Columns with known value sets: (model, column, values). */
  val acceptedValues: Seq[(String, String, Seq[String])] = Seq(
    ("stg_orders", "status", Seq("F", "O", "P")),
    ("stg_events", "event_type", Seq("click", "view", "purchase", "signup", "error")))

  private val stagingKind = Map("stg_nation" -> "ephemeral", "stg_region" -> "ephemeral")

  /** A way to reach an entity's key from fact tables: joins, additive
    * measures, and filters whose value the seed fills in. */
  final case class Path(from: String, joins: Seq[(String, String)],
      measures: Seq[String], filters: Seq[scala.util.Random => String])

  private def inSet(colName: String, values: Seq[String])(r: scala.util.Random): String = {
    val pick = r.shuffle(values).take(2 + r.nextInt(values.size - 1)).sorted
    s"$colName IN (${pick.map(v => s"'$v'").mkString(", ")})"
  }
  private def atLeast(colName: String, lo: Int, hi: Int)(r: scala.util.Random): String =
    s"$colName >= ${lo + r.nextInt(hi - lo + 1)}"

  private val status = inSet("status", Seq("F", "O", "P")) _
  private val flag = inSet("return_flag", Seq("A", "N", "R")) _
  private val prio = inSet("priority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")) _
  private val segment = inSet("segment", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")) _
  private val evType = inSet("event_type", Seq("click", "view", "purchase", "signup", "error")) _
  private val ptype = inSet("part_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")) _
  private val orderYear = atLeast("order_year", 1995, 1998) _
  private val shipYear = atLeast("ship_year", 1995, 1998) _
  private val suppBalance = atLeast("supp_acctbal", -1000, 0) _

  /** entity -> (key, dimension model, dimension attributes, one list of
    * alternative paths per intermediate). The alternatives of a slot join
    * the same number of upstreams, so every seed builds plans of the same
    * shape and cost: the first intermediate reads one upstream, the
    * second joins two (three for nation). */
  private val entities: Seq[(String, String, String, Seq[String], Seq[Seq[Path]])] = Seq(
    ("customer", "customer_id", "stg_customer", Seq("segment", "nation_id", "cust_acctbal"), Seq(
      Seq(Path("stg_orders", Nil, Seq("total_price"), Seq(status, orderYear, prio)),
        Path("stg_events", Nil, Seq("value"), Seq(evType))),
      Seq(Path("stg_lineitem", Seq("stg_orders" -> "order_id"), Seq("net", "quantity", "price"),
          Seq(flag, status, shipYear)),
        Path("stg_orders", Seq("stg_customer" -> "customer_id"), Seq("total_price"),
          Seq(segment, status))))),
    ("part", "part_id", "stg_part", Seq("brand", "part_type", "size"), Seq(
      Seq(Path("stg_lineitem", Nil, Seq("net", "quantity", "price"), Seq(flag, shipYear))),
      Seq(Path("stg_lineitem", Seq("stg_part" -> "part_id"), Seq("net", "quantity", "retail_price"),
          Seq(ptype, flag)),
        Path("stg_lineitem", Seq("stg_orders" -> "order_id"), Seq("net", "total_price"),
          Seq(prio, status))))),
    ("nation", "nation_id", "stg_nation", Seq("nation_name", "region_id"), Seq(
      Seq(Path("stg_customer", Nil, Seq("cust_acctbal"), Seq(segment)),
        Path("stg_supplier", Nil, Seq("supp_acctbal"), Seq(suppBalance))),
      Seq(Path("stg_customer", Seq("stg_nation" -> "nation_id", "stg_region" -> "region_id"),
          Seq("cust_acctbal"), Seq(segment)),
        Path("stg_orders", Seq("stg_customer" -> "customer_id", "stg_nation" -> "nation_id"),
          Seq("total_price"), Seq(status, segment))))))

  /** Materialization of each entity's intermediates and mart (fixed, so
    * every seed builds the same mix). */
  private val intermediateKinds = Map(
    "customer" -> Seq("view", "table"), "part" -> Seq("view", "bucketed"),
    "nation" -> Seq("ephemeral", "table"))
  private val martKinds = Map(
    "customer" -> Seq("incremental"), "part" -> Seq("insert_overwrite"),
    "nation" -> Seq("view"))

  def generate(seed: Long): ProjectSpec = {
    val r = new scala.util.Random(seed)
    val out = mutable.ArrayBuffer[ModelSpec]()
    for ((name, src, cols) <- staging)
      out += ModelSpec(name, "staging", stagingKind.getOrElse(name, "view"),
        Recipe(SrcRel(src), Nil, Nil, Nil, cols), asSql = false, None, None, None)
    for ((entity, key, dim, attrs, slots) <- entities) {
      val inter = slots.zipWithIndex.map { case (alternatives, i) =>
        val p = alternatives(r.nextInt(alternatives.size))
        val name = s"int_${entity}_$i"
        val measure = p.measures(r.nextInt(p.measures.size))
        val agg = s"${Seq("sum", "max", "min")(r.nextInt(3))}($measure) AS m_$name"
        val filter = p.filters(r.nextInt(p.filters.size))(r)
        val recipe = Recipe(RefRel(p.from),
          p.joins.map { case (m, k) => (RefRel(m), Seq(k), "inner") }, Seq(filter),
          Seq(key), Seq(key, s"count(*) AS n_$name", agg))
        ModelSpec(name, "intermediate", intermediateKinds(entity)(i), recipe,
          asSql = false, Some(key), Some(dim), Some(s"n_$name"))
      }
      out ++= inter
      for (j <- martKinds(entity).indices) {
        val name = s"mart_${entity}_$j"
        val metricCols = inter.flatMap(i => i.recipe.select.drop(1).map(_.split(" AS ").last))
        val score = metricCols.map(c => s"coalesce(CAST($c AS DECIMAL(24,2)), 0)").mkString(" + ")
        val recipe = Recipe(RefRel(dim), inter.map(i => (RefRel(i.name), Seq(key), "left")),
          Nil, Nil, Seq(key) ++ r.shuffle(attrs).take(2) ++ metricCols ++
            Seq(s"$score AS score", s"CAST(pmod($key, 4) AS INT) AS pbucket"))
        out += ModelSpec(name, "mart", martKinds(entity)(j), recipe, asSql = false,
          Some(key), Some(dim), None)
      }
    }
    // half of the models (seeded) are declared as SQL text
    val sqlNames = r.shuffle(out.map(_.name).toSeq).take(out.size / 2).toSet
    ProjectSpec(out.map(m => m.copy(asSql = sqlNames(m.name))).toSeq)
  }
}

/** One registry query of a query pass: clock readings at its start, after
  * the query function returned and after the write, and its error. */
final case class QueryRun(name: String, startMs: Double, builtMs: Double,
    endMs: Double, error: Option[String])

/** `dag_refresh`: declare -> `compile()` -> `build()` of the generated
  * project into an empty schema, as `dbt build` on a fresh target, then one
  * pass of registry queries over the same source tables. */
final class DagRefresh(env: Env) extends Workload {
  import env._
  private val spec = ProjectSpec.generate(opts.seed)
  private val queryOrder = new scala.util.Random(opts.seed).shuffle(Metrics.queries)
  private val warehouse = workDir.resolve("warehouse")
  private var last: Project = _
  private var lastSchema = ""
  private val nodeSecs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val tracedIters = mutable.ArrayBuffer[Double]()
  private val plainIters = mutable.ArrayBuffer[Double]()

  private def src(t: String) = s"${opts.data}/$t.parquet"

  /** Every declaration call: sources, models, the snapshot and tests. */
  private def declare(schema: String): Project = {
    val p = new Project(spark, Target("bench", schema, threads = opts.cpus))
    ProjectSpec.Sources.foreach(t => p.source("raw", t, ParquetPath(src(t))))
    for (m <- spec.models) {
      val cfg = ModelConfig(materialized = m.materialization)
      if (m.asSql) p.sqlModel(m.name, cfg)(m.recipe.sql)
      else p.model(m.name, cfg)(ctx => m.recipe.dataFrame(ctx.ref, ctx.source("raw", _)))
    }
    p.snapshot("snap_customer", uniqueKey = "customer_id",
      checkCols = Seq("segment", "cust_acctbal")) { ctx =>
      Builds.group(spark, "snapshot.snap_customer")
      ctx.ref("stg_customer").select("customer_id", "segment", "cust_acctbal")
    }
    def t(name: String, model: String)(f: DataFrame => DataFrame): Unit =
      p.test(DataTest(name, model, df => { Builds.group(spark, s"test.$name"); f(df) }))
    // intermediates: unique on the first of each entity, a count check
    // on the second; marts: unique and relationships to their dimension
    for (m <- spec.models; k <- m.key) {
      if (m.layer == "mart" || m.name.endsWith("_0"))
        t(s"unique__${m.name}__$k", m.name)(GenericTests.unique(_, k))
      for (c <- m.countCol if m.name.endsWith("_1"))
        t(s"expression_is_true__${m.name}__$c", m.name)(
          GenericTests.expressionIsTrue(_, s"$c >= 1"))
      for (d <- m.dim if m.layer == "mart")
        t(s"relationships__${m.name}__$k", m.name)(
          GenericTests.relationships(_, k, p.materializedDf(d), k))
    }
    for ((m, c, vs) <- ProjectSpec.acceptedValues)
      t(s"accepted_values__${m}__$c", m)(GenericTests.acceptedValues(_, c, vs))
    t("not_null__snap_customer__customer_id", "snap_customer")(
      GenericTests.notNull(_, "customer_id"))
    p
  }

  /** One `dbt build` on a fresh schema, then the query pass: (project,
    * graph, results, phase seconds, queries). */
  private def refresh(schema: String)
      : (Project, ProjectGraph, RunResults, Seq[Double], Seq[QueryRun]) = {
    val t0 = System.nanoTime()
    val p = tracer.span("declare", schema)(declare(schema))
    val t1 = System.nanoTime()
    val g = tracer.span("compile", schema)(p.compile())
    val t2 = System.nanoTime()
    val rr = tracer.span("build", schema)(p.build())
    val t3 = System.nanoTime()
    val qs = tracer.span("queries", schema)(queryOrder.map(runQuery(schema, _)))
    (p, g, rr, Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9), qs)
  }

  /** graft.Bench's block protocol for one query: clear the cache, call the
    * query function, write its result to the noop sink. */
  private def runQuery(op: String, name: String): QueryRun = {
    spark.catalog.clearCache()
    val t0 = tracer.clock
    var built = t0
    val error = try {
      tracer.span(s"query:$name", op) {
        val df = tracer.span("query.build", op)(SparkEntry.queries(name)(spark, opts.data))
        built = tracer.clock
        tracer.span("query.write", op)(df.write.format("noop").mode("overwrite").save())
      }
      None
    } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    QueryRun(name, t0, built, tracer.clock, error)
  }

  private def drop(schema: String): Unit = {
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .filter(_.name.startsWith(s"${schema}__")).foreach(t => spark.catalog.dropTempView(t.name))
    spark.sql(s"DROP DATABASE IF EXISTS $schema CASCADE")
  }

  def setup(): Unit = {
    System.err.println(s"[perfbench] dag_refresh project ${spec.digest} " +
      s"(${spec.models.size} models + 1 snapshot)")
    // JIT and codegen warm-up: one untimed refresh of the same project
    refresh("warmup")
    drop("warmup")
  }

  def iterate(i: Int): Double = {
    val schema = s"dag$i"
    val traced = tracedIteration(i)
    val before = if (traced) Files.listing(warehouse) else Map.empty[String, (Long, Long)]
    val (secs, (p, g, rr, phases, qs)) = tracer.iteration(traced, schema)(refresh(schema))
    for (r <- rr.results) {
      outcome.op(r.status == "success", s"$schema ${r.id}: ${r.status} ${r.message}")
      // source nodes do no work; they would only dilute op_geomean_s
      if (!r.id.startsWith("source."))
        nodeSecs.getOrElseUpdate(r.id, mutable.ArrayBuffer()) += r.durationMs / 1000.0
    }
    for (q <- qs) {
      outcome.op(q.error.isEmpty, s"$schema query ${q.name} threw ${q.error.getOrElse("")}")
      nodeSecs.getOrElseUpdate(s"query.${q.name}", mutable.ArrayBuffer()) +=
        (q.endMs - q.startMs) / 1000.0
    }
    if (traced) {
      tracedIters += secs
      Seq("declare", "compile", "build").zip(phases)
        .foreach { case (k, v) => layer(s"project.${k}_s") += v }
      val (files, bytes) = Files.written(before, Files.listing(warehouse))
      layer("materializer.files_written") += files
      layer("materializer.bytes_written_mb") += bytes / 1048576.0
      Builds.record(layer, tracer, g, rr, id =>
        if (id.startsWith("model.")) spec.byName.get(id.stripPrefix("model.")).map(_.kind)
        else if (id.startsWith("snapshot.")) Some("snapshot") else None)
      for (q <- qs) {
        layer(s"query.${q.name}.s") += (q.endMs - q.startMs) / 1000.0
        layer(s"query.${q.name}.build_s") += (q.builtMs - q.startMs) / 1000.0
        layer(s"query.${q.name}.jobs") += tracer.jobsBetween(q.startMs, q.endMs).size
      }
    } else if (i > 0) plainIters += secs
    last = p
    lastSchema = schema
    secs
  }

  override def between(i: Int): Unit = if (i > 0) drop(s"dag${i - 1}")

  /** Marts and snapshot against their direct evaluation; the query
    * results are written with their DuckDB oracle SQL to `query_out/`,
    * where run.py compares them through tools/compare.py. */
  def verify(): Unit = {
    val direct = new DagRefresh.Direct(spark, spec, src)
    val snapCols = Seq("customer_id", "segment", "cust_acctbal")
    outcome.same(spec.marts.map(m => (m.name, last.materializedDf(m.name), direct.ref(m.name))) :+
      (("snap_customer open rows", spark.table(s"$lastSchema.snap_customer")
        .filter(col("valid_to").isNull).select(snapCols.map(col): _*),
        direct.ref("stg_customer").select(snapCols.map(col): _*))))
    val out = workDir.resolve("query_out")
    java.nio.file.Files.createDirectories(out)
    for (q <- Metrics.queries)
      try SparkEntry.queries(q)(spark, opts.data).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(q).toString)
      catch { case e: Exception => System.err.println(s"[perfbench] query $q: $e") }
    java.nio.file.Files.writeString(out.resolve("oracle_sql.json"), Json.any(
      SparkEntry.oracleSql.filter { case (q, _) => Metrics.queries.contains(q) }))
  }

  def operationSeconds: Seq[Double] = nodeSecs.values.map(v => Stats.median(v.toSeq)).toSeq
  def storedRoots: Seq[java.nio.file.Path] = Seq(warehouse)
  def tracedUnits: Int = tracedIters.size
  def traceOverhead: Double = Stats.median(tracedIters.toSeq) / Stats.median(plainIters.toSeq)
  def layerMetrics: Map[String, Double] = Builds.perIteration(layer, tracedIters.size)
}

object DagRefresh {
  /** Evaluates the spec with Spark alone (no Project): sources read from
    * parquet, refs evaluated recursively with each model's own logic. */
  final class Direct(spark: org.apache.spark.sql.SparkSession, spec: ProjectSpec,
      src: String => String) {
    private val memo = mutable.Map[String, DataFrame]()
    private def source(t: String) = spark.read.parquet(src(t))
    def ref(name: String): DataFrame = memo.getOrElseUpdate(name, {
      val m = spec.byName(name)
      if (m.asSql) Recipe.runSql(spark, m.recipe.sql, ref, source)
      else m.recipe.dataFrame(ref, source)
    })
  }
}
