package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Command-line options, parsed from `--key value` pairs. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, cpus: Int, t0Ms: Long,
    out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("data"), kv("work"),
      kv("cpus").toInt, kv("t0-ms").toLong, kv("out"))
  }
}

/** Counts operations and the ones that failed (node errors, failed or
  * skipped tests, throwing ledger runs, correctness mismatches). */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
  }

  /** One operation per (label, got, want): equal unordered hashes. */
  def same(checks: Seq[(String, DataFrame, DataFrame)]): Unit = {
    val h = try Hash.unordered(checks.flatMap { case (n, got, want) =>
        Seq(s"$n/got" -> got, s"$n/want" -> want) })
      catch { case e: Exception => System.err.println(e); Map.empty[String, String] }
    for ((n, _, _) <- checks)
      op(h.contains(s"$n/got") && h.get(s"$n/got") == h.get(s"$n/want"),
        s"$n differs from its direct evaluation: ${h.get(s"$n/got")} vs ${h.get(s"$n/want")}")
  }
}

/** What every workload gives the runner. */
trait Workload {
  /** Everything before the timed body (inputs, warm-up, first build). */
  def setup(): Unit
  /** One timed iteration; returns its wall seconds. */
  def iterate(i: Int): Double
  /** Untimed housekeeping after an iteration. */
  def between(i: Int): Unit = ()
  def maxIterations: Int = Int.MaxValue
  /** Correctness checks after the timed body (recorded in Outcome). */
  def verify(): Unit
  /** Per-operation median seconds, for `op_geomean_s`. */
  def operationSeconds: Seq[Double]
  /** Directories whose size is `stored_mb`. */
  def storedRoots: Seq[java.nio.file.Path]
  /** Workload-specific per-layer metrics from the traced iterations. */
  def layerMetrics: Map[String, Double]
  /** Traced iterations the Spark counters are averaged over. */
  def tracedUnits: Int
  /** Traced iteration time divided by untraced iteration time. */
  def traceOverhead: Double
}

final class Env(val spark: SparkSession, val tracer: Tracer, val opts: Opts,
    val outcome: Outcome) {
  val workDir: java.nio.file.Path = java.nio.file.Paths.get(opts.work)
  def traceMode: Boolean = opts.trace
  /** A traced run times an untraced warm-up unit, then traced,
    * untraced, traced units: trace.overhead compares the traced units
    * with the untraced one between them, which cancels a steady warm-up
    * trend, and leaves the first unit after set-up out. */
  def minIterations: Int = if (traceMode) 4 else 1
  def tracedIteration(i: Int): Boolean = traceMode && i % 2 == 1
}

object Main {
  val driverThread: Thread = Thread.currentThread()

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--describe")) {
      // digest of the project a seed generates, without starting Spark
      println(ProjectSpec.generate(args(3).toLong).digest)
      return
    }
    val o = Opts.parse(args)
    val spark = session(o)
    val env = new Env(spark, new Tracer(spark), o, new Outcome)
    def since(t0Ms: Long) = (System.currentTimeMillis() - t0Ms) / 1000.0
    System.err.println(f"[perfbench] session ready after ${since(o.t0Ms)}%.1f s")
    val inputsDigest = Main.awaitInputs(java.nio.file.Paths.get(o.work, "inputs.ready"))
    val w: Workload = o.workload match {
      case "dag_refresh" => new DagRefresh(env)
      case "incremental_cycles" => new IncrementalCycles(env)
    }
    w.setup()
    val setupS = since(o.t0Ms)
    val iters = mutable.ArrayBuffer[Double]()
    val t0 = System.currentTimeMillis()
    while (iters.size < w.maxIterations &&
        (iters.size < env.minIterations || since(t0) < o.seconds)) {
      iters += w.iterate(iters.size)
      w.between(iters.size - 1)
    }
    val t1 = System.currentTimeMillis()
    w.verify()
    System.err.println(f"[perfbench] setup $setupS%.1f s, body ${(t1 - t0) / 1000.0}%.1f s, " +
      f"checks ${since(t1)}%.1f s; ${iters.size} iterations: " +
      iters.map(x => f"$x%.3f").mkString(" ") + s"; inputs $inputsDigest")
    // full GCs with pauses between, so Spark's ContextCleaner can drop
    // what the first collection made unreachable
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val e2e = Map(
      "setup_s" -> setupS,
      "run_s" -> Stats.median(iters.toSeq),
      "op_geomean_s" -> Stats.geomean(w.operationSeconds),
      "heap_live_mb" -> heapMb,
      "stored_mb" -> w.storedRoots.map(Files.bytes).sum / 1048576.0)
    val metrics =
      if (!o.trace) e2e
      else {
        val measured = sparkMetrics(env, w) ++ w.layerMetrics +
          ("trace.overhead" -> w.traceOverhead)
        // the result line carries every per-layer name; the layers this
        // workload does not run read 0 and are listed in the trace file
        val unmeasured = Metrics.perLayerNames.filterNot(measured.contains)
        val layer = unmeasured.map(_ -> 0.0).toMap ++ measured
        val path = java.nio.file.Paths.get(o.out, s"trace-${o.workload}-${o.seed}.json")
        env.tracer.writeJson(path, Map("workload" -> o.workload,
          "seed" -> o.seed.toString, "inputs_digest" -> inputsDigest,
          "per_layer" -> layer, "unmeasured" -> unmeasured, "iterations_s" -> iters.toSeq))
        System.err.println(s"[perfbench] trace written to $path")
        layer
      }
    val body = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(Metrics.unitOf(k))}}"
    }.mkString("{", ", ", "}")
    val out = env.outcome
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": $body}""")
    spark.stop()
  }

  /** Waits for the generator (running beside the JVM start) to publish
    * the inputs; returns their digest. */
  def awaitInputs(ready: java.nio.file.Path): String = {
    while (!java.nio.file.Files.exists(ready)) Thread.sleep(20)
    java.nio.file.Files.readString(ready).trim
  }

  /** Spark counters of the traced iterations, averaged per iteration. */
  def sparkMetrics(env: Env, w: Workload): Map[String, Double] = {
    val t = env.tracer
    val jobs = t.counters.jobs.filter(_.endMs >= 0).toSeq
    val n = math.max(1, w.tracedUnits).toDouble
    val runS = t.windows.map(x => x._2 - x._1).sum / 1000.0 / n
    val unionS = Intervals.union(jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))) / 1000.0 / n
    val mb = 1048576.0
    val execRun = jobs.map(_.runMs).sum / 1000.0 / n
    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> jobs.map(_.stages).sum / n,
      "spark.tasks" -> jobs.map(_.tasks).sum / n,
      "spark.executor_run_s" -> execRun,
      "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0 / n,
      "spark.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / mb / n,
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / mb / n,
      "spark.spill_mb" -> jobs.map(_.spill).sum / mb / n,
      "spark.job_union_s" -> unionS,
      "spark.driver_gap_s" -> (runS - unionS),
      "spark.core_util" -> (if (runS > 0) execRun / (runS * env.opts.cpus) else 0.0))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)
}

object Files {
  private def regularFiles[T](root: java.nio.file.Path)(
      f: java.util.stream.Stream[java.nio.file.Path] => T): Option[T] =
    if (!java.nio.file.Files.exists(root)) None
    else {
      val s = java.nio.file.Files.walk(root)
      try Some(f(s.filter(java.nio.file.Files.isRegularFile(_)))) finally s.close()
    }

  def bytes(root: java.nio.file.Path): Long =
    regularFiles(root)(_.mapToLong(java.nio.file.Files.size(_)).sum()).getOrElse(0L)

  /** (path -> (size, mtime)) of every file under `root`. */
  def listing(root: java.nio.file.Path): Map[String, (Long, Long)] =
    regularFiles(root) { s =>
      val b = Map.newBuilder[String, (Long, Long)]
      s.forEach(p => b += p.toString -> (java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis))
      b.result()
    }.getOrElse(Map.empty)

  /** Files created or rewritten between two listings, and their bytes.
    * Spark's `.crc` side files are left out. */
  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): (Int, Long) = {
    val w = after.filter { case (p, v) => !p.endsWith(".crc") && !before.get(p).contains(v) }
    (w.size, w.values.map(_._1).sum)
  }
}

/** Content hashes for the correctness checks. */
object Hash {
  /** Order-insensitive hash of each relation's rows (multiset semantics):
    * column names and types, row count, and the sum and xor of a 64-bit
    * hash of each row. All relations are hashed in one Spark action. */
  def unordered(dfs: Seq[(String, DataFrame)]): Map[String, String] = {
    val parts = dfs.map { case (label, df) =>
      val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")): _*)
      df.select(h.as("h"))
        .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).cast("string").as("s"),
          bit_xor(col("h")).as("x"))
        .select(lit(label).as("label"), col("n"), col("s"), col("x"))
    }
    val schemas = dfs.map { case (label, df) => label -> df.schema.fields.sortBy(_.name)
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",") }.toMap
    parts.reduce(_ unionByName _).collect().map { r =>
      val label = r.getString(0)
      label -> s"${schemas(label)}|${r.getLong(1)}|${r.get(2)}|${r.get(3)}"
    }.toMap
  }
}
