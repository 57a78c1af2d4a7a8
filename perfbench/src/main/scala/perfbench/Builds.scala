package perfbench

import graft.engine.{ProjectGraph, RunResults}
import scala.collection.mutable

/** Per-layer accounting of `Project.build()` runs, shared by both workloads. */
object Builds {
  /** Names the calling thread's Spark jobs after a node, so the listener
    * can attribute test and snapshot jobs the way Project does for
    * models. */
  def group(spark: org.apache.spark.sql.SparkSession, id: String): Unit =
    // compile() also calls build functions, on the driver thread: a group
    // set there would stick to every later job of that thread
    if (Thread.currentThread() ne Main.driverThread) spark.sparkContext.setJobGroup(id, id)

  /** Node-level per-layer sums of one traced build, called right after
    * its traced unit: node count and busy time, critical path, driver gap
    * per node (node time not covered by its own Spark jobs in this unit),
    * time by materialization kind, and tests. */
  def record(layer: mutable.Map[String, Double], tracer: Tracer, g: ProjectGraph,
      rr: RunResults, kindOf: String => Option[String]): Unit = {
    val dur = rr.results.map(r => r.id -> r.durationMs / 1000.0).toMap
    layer("project.nodes") += rr.results.size
    layer("project.node_busy_s") += dur.values.sum
    layer("project.critical_path_s") += criticalPath(g, dur)
    // node ids repeat across units, so only this unit's jobs count
    val (from, to) = tracer.windows.last
    val jobs = tracer.jobsBetween(from, to).groupBy(_.group)
    layer("project.node_driver_gap_s") += dur.map { case (id, d) =>
      math.max(0.0, d - Intervals.union(jobs.getOrElse(id, Nil).toSeq
        .map(j => (j.startMs.toDouble, j.endMs.toDouble))) / 1000.0)
    }.sum
    for ((id, d) <- dur; k <- kindOf(id)) layer(s"materializer.${k}_s") += d
    val tests = rr.results.filter(_.id.startsWith("test."))
    layer("tests.s") += tests.map(_.durationMs / 1000.0).sum
    layer("tests.count") += tests.size
  }

  /** Sums over `n` traced iterations as per-iteration values, plus the
    * concurrency ratio. */
  def perIteration(layer: mutable.Map[String, Double], n: Int): Map[String, Double] = {
    val avg = layer.map { case (k, v) => k -> v / math.max(1, n) }.toMap
    avg + ("project.concurrency" -> avg.getOrElse("project.node_busy_s", 0.0) /
      avg.getOrElse("project.build_s", 1.0))
  }

  /** Longest chain of node durations, following ref edges and the
    * `dbt build` rule that a model also waits for its upstream models'
    * tests. */
  def criticalPath(g: ProjectGraph, dur: Map[String, Double]): Double = {
    val testsOf = g.nodes.keys.filter(_.startsWith("test."))
      .flatMap(t => g.upstream(t).map(_ -> t)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val memo = mutable.Map[String, Double]()
    def cp(id: String): Double = memo.getOrElseUpdate(id, {
      val ups = g.upstream(id).toSeq
      val waits = if (id.startsWith("test.")) ups else ups ++ ups.flatMap(testsOf.getOrElse(_, Nil))
      dur.getOrElse(id, 0.0) + (waits.map(cp) :+ 0.0).max
    })
    (dur.keys.map(cp).toSeq :+ 0.0).max
  }
}
