package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval recorded around a call the benchmark makes into a
  * layer. `op` is the operation id (a refresh's schema, a cycle or a node); `parent` is
  * the id of the enclosing span, -1 at the top. Times are epoch millis
  * with sub-millisecond precision so they line up with Spark's job
  * events. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Spark job as the listener saw it, with its tasks' counters summed. */
final class JobRec(val jobId: Int, val group: String, val startMs: Long,
    val stageIds: Set[Int]) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Collects jobs, stages and task counters. Attached only while a traced
  * iteration runs. */
final class SparkCounters extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  private val byStage = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val r = new JobRec(e.jobId, group, e.time, e.stageIds.toSet)
    jobs += r
    e.stageIds.foreach(byStage(_) = r)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { byStage.get(e.stageInfo.stageId).foreach(_.stages += 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (r <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      r.tasks += 1
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** `StreamingQueryProgress.durationMs` phases summed over micro-batches
  * while `counting` is set (the ledger runs; a streaming-table model's
  * query inside `Project.build()` is left out). */
final class StreamCounters extends StreamingQueryListener {
  val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
  var microbatches = 0L
  @volatile var counting = false
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (counting) synchronized {
      val p = e.progress
      // an AvailableNow run also reports an empty closing trigger;
      // only triggers that processed a batch count as micro-batches
      if (p.numInputRows > 0) microbatches += 1
      p.durationMs.asScala.foreach { case (k, v) => phases(k) += v / 1000.0 }
    }
}

/** Spans and Spark/streaming counters of the traced iterations. Outside
  * a traced iteration every span is a plain pass-through and no listener
  * is attached. Spans are kept in memory and written when the run ends. */
final class Tracer(spark: SparkSession) {
  private var active = false
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  val counters = new SparkCounters
  val streams = new StreamCounters
  /** (start, end) epoch ms of each traced iteration. */
  val windows = mutable.ArrayBuffer[(Double, Double)]()

  /** Wall clock in epoch ms with sub-millisecond resolution. */
  private val epochAtStart = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()
  def clock: Double = epochAtStart + (System.nanoTime() - nanoAtStart) / 1e6

  /** Runs `body` as one iteration: traced (listeners attached, spans
    * kept) when `traced`, plain otherwise. Returns (seconds, result). */
  def iteration[T](traced: Boolean, op: String)(body: => T): (Double, T) = {
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      spark.streams.addListener(streams)
      active = true
    }
    val t0 = clock
    val out = try span("iteration", op)(body) finally {
      if (traced) {
        org.apache.spark.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
        spark.streams.removeListener(streams)
        active = false
      }
    }
    val t1 = clock
    if (traced) windows += ((t0, t1))
    ((t1 - t0) / 1000.0, out)
  }

  /** A span around a call on the benchmark's thread. */
  def span[T](name: String, op: String = "")(body: => T): T =
    if (!active) body
    else {
      val id = spans.synchronized { spans += Span(spans.size, stack.headOption
        .getOrElse(-1), name, op, clock, -1); spans.size - 1 }
      stack = id :: stack
      try body finally {
        stack = stack.tail
        spans.synchronized { spans(id) = spans(id).copy(endMs = clock) }
      }
    }

  /** Finished Spark jobs that started between two clock readings (the
    * counters keep every traced unit's jobs; callers ask for one unit's
    * window, or for one call's inside it). */
  def jobsBetween(startMs: Double, endMs: Double): Seq[JobRec] =
    counters.synchronized(counters.jobs.filter(j =>
      j.endMs >= 0 && j.startMs >= startMs && j.startMs <= endMs).toList)

  private def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Adds every recorded Spark job as a child span of the innermost
    * benchmark span that contains it; its `op` is the job group (node id,
    * or a streaming query's run id). */
  private def addJobSpans(): Unit = {
    val bench = allSpans
    for (j <- counters.jobs if j.endMs >= 0) {
      val inside = bench.filter(s => s.startMs <= j.startMs && s.endMs >= j.endMs)
      val parent = if (inside.isEmpty) -1 else inside.maxBy(_.startMs).id
      spans += Span(spans.size, parent, "spark.job", j.group, j.startMs.toDouble, j.endMs.toDouble)
    }
  }

  /** Self time by span name: span time minus the part its children cover. */
  private def selfSeconds: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Intervals.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        s.seconds - covered / 1000.0
      }.sum
    }
  }

  /** Writes the header, self time by span name, and every span. */
  def writeJson(path: java.nio.file.Path, header: Map[String, Any]): Unit = {
    addJobSpans()
    val sb = new StringBuilder
    sb ++= "{" ++= header.map { case (k, v) => s"${Json.str(k)}: ${Json.any(v)}" }
      .mkString(", ")
    sb ++= ", \"self_s\": " ++= Json.any(selfSeconds)
    sb ++= ", \"spans\": [\n"
    sb ++= allSpans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
      s""""op": ${Json.str(s.op)}, "start_ms": ${"%.3f".format(s.startMs)}, """ +
      s""""end_ms": ${"%.3f".format(s.endMs)}}""").mkString(",\n")
    sb ++= "\n]}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Intervals {
  /** Total length covered by a set of (start, end) intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
  def any(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => s"${str(k.toString)}: ${any(x)}" }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(any).mkString("[", ", ", "]")
    case null => "null"
    case o => str(o.toString)
  }
}
