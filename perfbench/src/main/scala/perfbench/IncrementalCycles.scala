package perfbench

import graft.engine._
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.collection.mutable

/** `incremental_cycles`: a landed base of orders/events/documents, then
  * one seeded delta per cycle. A cycle is `Project.build()` (Merge and
  * InsertNew incrementals, an insert-overwrite by month, a partitioned
  * snapshot, a streaming table and a table downstream of it, tests), one
  * AvailableNow run of each `EventStreams` ledger over the same landing
  * data, and a read of the ledgers' merge views. Cycle latency runs from
  * the delta's files being in place to the merge views read; landing (a
  * file move) is not counted. */
final class IncrementalCycles(env: Env) extends Workload {
  import env._
  private val landing = java.nio.file.Paths.get(opts.data, "landing")
  private val deltas = java.nio.file.Paths.get(opts.data, "deltas")
  private val warehouse = workDir.resolve("warehouse")
  private val ckpt = workDir.resolve("checkpoints")
  private val available = Option(deltas.toFile.list()).map(_.length).getOrElse(0)
  private var project: Project = _
  private var landedBytes = 0L
  private val steps = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val tracedCycles = mutable.ArrayBuffer[Double]()
  private val plainCycles = mutable.ArrayBuffer[Double]()

  override def maxIterations: Int = available

  private def dir(t: String) = landing.resolve(t).toString
  private lazy val schemas = Seq("events", "documents")
    .map(t => t -> spark.read.parquet(dir(t)).schema).toMap

  private def declare(): Project = {
    val p = new Project(spark, Target("bench", "inc", threads = opts.cpus))
    for (t <- Seq("orders", "events", "documents")) p.source("raw", t, ParquetPath(dir(t)))
    def newRows(ctx: Ctx, t: String, cycleCol: String = "cycle"): DataFrame = {
      val all = ctx.source("raw", t)
      if (!ctx.isIncremental) all
      else all.filter(col("cycle") > lit(ctx.thisDf.agg(max(col(cycleCol))).first().get(0)))
    }
    p.model("orders_latest", ModelConfig(Materialization.Incremental(Some(Seq("order_id")),
        Materialization.IncrementalStrategy.Merge))) { ctx =>
      IncrementalCycles.latest(newRows(ctx, "orders"), desc = true)
    }
    p.model("orders_first", ModelConfig(Materialization.Incremental(Some(Seq("order_id")),
        Materialization.IncrementalStrategy.InsertNew))) { ctx =>
      IncrementalCycles.latest(newRows(ctx, "orders"), desc = false)
    }
    // insert-overwrite: recompute every month the new rows touch
    p.model("events_monthly", ModelConfig(Materialization.InsertOverwrite(Seq("month")))) { ctx =>
      val all = ctx.source("raw", "events")
      val scoped =
        if (!ctx.isIncremental) all
        else {
          val months = newRows(ctx, "events", "last_cycle")
            .select(date_format(col("ts"), "yyyy-MM").as("month")).distinct()
          all.join(months, date_format(all("ts"), "yyyy-MM") === months("month"), "left_semi")
        }
      IncrementalCycles.monthly(scoped)
    }
    p.snapshot("orders_snapshot", uniqueKey = "order_id",
      checkCols = Seq("status", "total_price"), partitions = Some(8)) { ctx =>
      Builds.group(spark, "snapshot.orders_snapshot")
      ctx.ref("orders_latest").select("order_id", "status", "total_price")
    }
    p.model("events_stream", ModelConfig(Materialization.StreamingTable())) { ctx =>
      ctx.sourceStream("raw", "events").select(IncrementalCycles.eventCols: _*)
    }
    p.model("events_by_user", ModelConfig(Materialization.Table)) { ctx =>
      IncrementalCycles.byUser(ctx.ref("events_stream"))
    }
    def t(name: String, model: String)(f: DataFrame => DataFrame): Unit =
      p.test(DataTest(name, model, df => { Builds.group(spark, s"test.$name"); f(df) }))
    t("unique__orders_latest__order_id", "orders_latest")(GenericTests.unique(_, "order_id"))
    t("accepted_values__orders_latest__status", "orders_latest")(
      GenericTests.acceptedValues(_, "status", Seq("F", "O", "P")))
    t("unique__orders_first__order_id", "orders_first")(GenericTests.unique(_, "order_id"))
    t("expression_is_true__events_monthly__n", "events_monthly")(
      GenericTests.expressionIsTrue(_, "n >= 1"))
    p
  }

  private def ledgerTable(kind: String) = s"led.$kind"

  private def runLedger(kind: String): Unit = {
    val cp = ckpt.resolve(kind).toString
    kind match {
      case "dedup" => EventStreams.streamingDedupLedger(spark, dir("documents"),
        schemas("documents"), ledgerTable(kind), cp, "doc_id", "text")
      case "count_min" => EventStreams.streamingCountMin(spark, dir("events"),
        schemas("events"), ledgerTable(kind), cp, "event_type", depth = 4, width = 256)
      case "token" => EventStreams.streamingTokenLedger(spark, dir("documents"),
        schemas("documents"), ledgerTable(kind), cp, "source", IncrementalCycles.tokens)
    }
  }

  private def readMerges(): Unit = {
    val (counters, totals) = EventStreams.mergeCountMinLedger(spark.table(ledgerTable("count_min")))
    counters.collect()
    totals.collect()
    EventStreams.mergeTokenLedger(spark.table(ledgerTable("token")), "source").collect()
    spark.table(ledgerTable("dedup")).count()
  }

  /** Moves delta `k`'s files into the landing directories. */
  private def land(k: Int): Unit = {
    val d = deltas.resolve(f"$k%04d")
    for (t <- Seq("orders", "events", "documents")) {
      val f = d.resolve(t).resolve(f"c$k%04d.parquet")
      landedBytes += java.nio.file.Files.size(f)
      java.nio.file.Files.move(f, landing.resolve(t).resolve(f.getFileName))
    }
  }

  /** One cycle after landing: build, ledgers, merge views. */
  private def cycle(op: String, traced: Boolean): Double = {
    val stepT = mutable.LinkedHashMap[String, Double]()
    def step[T](name: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      try {
        val out = tracer.span(name, op)(body)
        if (name != "build") outcome.op(ok = true, "")
        Some(out)
      } catch { case e: Exception =>
        outcome.op(ok = false, s"$op $name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      } finally stepT(name) = (System.nanoTime() - t0) / 1e9
    }
    // streaming phases count for the ledger runs only
    def countStreams(on: Boolean): Unit = if (traced) {
      org.apache.spark.BusDrain(spark.sparkContext)
      tracer.streams.counting = on
    }
    val (secs, rr) = tracer.iteration(traced, op) {
      val rr = step("build")(project.build()).getOrElse(RunResults(Nil))
      countStreams(true)
      try for (l <- Metrics.ledgers) step(s"ledger:$l")(runLedger(l))
      finally countStreams(false)
      step("merge")(readMerges())
      rr
    }
    for (r <- rr.results)
      outcome.op(r.status == "success", s"$op ${r.id}: ${r.status} ${r.message}")
    if (traced) {
      layer("project.build_s") += stepT("build")
      Metrics.ledgers.foreach { l =>
        layer(s"streaming.$l.s") += stepT(s"ledger:$l")
        layer("streaming.ledger_s") += stepT(s"ledger:$l")
      }
      layer("streaming.merge_s") += stepT("merge")
      Builds.record(layer, tracer, project.compile(), rr, IncrementalCycles.kindOf)
    }
    // operations for op_geomean_s: the build's nodes (as in dag_refresh),
    // each ledger run and the merge read
    val ops = rr.results.filterNot(_.id.startsWith("source."))
      .map(r => r.id -> r.durationMs / 1000.0) ++ stepT.filter(_._1 != "build")
    ops.foreach { case (k, v) => steps.getOrElseUpdate(k, mutable.ArrayBuffer()) += v }
    System.err.println(s"[perfbench] $op: " + stepT.map { case (k, v) => f"$k $v%.2f s" }.mkString(", "))
    secs
  }

  def setup(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS led")
    project = declare()
    cycle("initial", traced = false)
    steps.clear()
  }

  def iterate(i: Int): Double = {
    val bytes0 = landedBytes
    land(i + 1)
    val traced = tracedIteration(i)
    val before = if (traced) Files.listing(warehouse) else Map.empty[String, (Long, Long)]
    val secs = cycle(s"cycle${i + 1}", traced)
    if (traced) {
      val (files, bytes) = Files.written(before, Files.listing(warehouse))
      layer("materializer.files_written") += files
      layer("materializer.bytes_written_mb") += bytes / 1048576.0
      layer("materializer.write_amp") += bytes.toDouble / math.max(1L, landedBytes - bytes0)
      tracedCycles += secs
    } else if (i > 0) plainCycles += secs
    secs
  }

  /** Every incremental table and the snapshot's open rows against a full
    * rebuild over the landed data; the ledgers with an exact batch twin
    * against that batch computation over everything landed. */
  def verify(): Unit = {
    val orders = spark.read.parquet(dir("orders"))
    val events = spark.read.parquet(dir("events"))
    val docs = spark.read.parquet(dir("documents"))
    def table(m: String) = spark.table(s"inc.$m")
    val snapCols = Seq("order_id", "status", "total_price").map(col)
    val (counters, totals) = EventStreams.mergeCountMinLedger(spark.table(ledgerTable("count_min")))
    val cmBatch = EventStreams.countMinPartial(events, "event_type", 4, 256, 0L)
    outcome.same(Seq(
      ("orders_latest", table("orders_latest"), IncrementalCycles.latest(orders, desc = true)),
      ("orders_first", table("orders_first"), IncrementalCycles.latest(orders, desc = false)),
      ("events_monthly", table("events_monthly"), IncrementalCycles.monthly(events)),
      ("orders_snapshot open rows",
        table("orders_snapshot").filter(col("valid_to").isNull).select(snapCols: _*),
        IncrementalCycles.latest(orders, desc = true).select(snapCols: _*)),
      ("events_stream", table("events_stream"), events.select(IncrementalCycles.eventCols: _*)),
      ("events_by_user", table("events_by_user"),
        IncrementalCycles.byUser(events.select(IncrementalCycles.eventCols: _*))),
      ("count_min ledger counters", counters,
        cmBatch.filter(col("pos") >= 0).select(col("pos"), col("cnt"))),
      ("count_min ledger total", totals,
        cmBatch.filter(col("pos") === -1).select(col("cnt").as("__n"))),
      ("token ledger", EventStreams.mergeTokenLedger(spark.table(ledgerTable("token")), "source"),
        docs.groupBy(col("source")).agg(count(lit(1)).as("docs"),
          sum(IncrementalCycles.tokens.cast("long")).as("tokens")))))
  }

  def operationSeconds: Seq[Double] = steps.values.map(v => Stats.median(v.toSeq)).toSeq
  def storedRoots: Seq[java.nio.file.Path] = Seq(warehouse, ckpt)
  def tracedUnits: Int = tracedCycles.size
  def traceOverhead: Double = Stats.median(tracedCycles.toSeq) / Stats.median(plainCycles.toSeq)

  def layerMetrics: Map[String, Double] = {
    val n = math.max(1, tracedCycles.size).toDouble
    val s = tracer.streams
    def ph(k: String) = s.phases.getOrElse(k, 0.0) / n
    val avg = Builds.perIteration(layer, tracedCycles.size)
    avg ++ Map(
      "streaming.trigger_s" -> ph("triggerExecution"),
      "streaming.add_batch_s" -> ph("addBatch"),
      "streaming.latest_offset_s" -> ph("latestOffset"),
      "streaming.query_planning_s" -> ph("queryPlanning"),
      "streaming.wal_commit_s" -> ph("walCommit"),
      "streaming.floor_s" -> (avg.getOrElse("streaming.ledger_s", 0.0) - ph("triggerExecution")),
      "streaming.microbatches" -> s.microbatches / n)
  }
}

object IncrementalCycles {
  val eventCols: Seq[Column] = Seq(col("event_id"), col("user_id"), col("event_type"),
    col("value").cast("decimal(12,2)").as("value"), col("ts"), col("cycle"))

  val tokens: Column = size(split(col("text"), " "))

  /** The latest (`desc`) or first version of each order. */
  def latest(orders: DataFrame, desc: Boolean): DataFrame = {
    val w = Window.partitionBy(col("o_orderkey"))
      .orderBy(if (desc) col("cycle").desc else col("cycle").asc)
    orders.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("o_orderkey").as("order_id"), col("o_custkey").as("customer_id"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("decimal(14,2)").as("total_price"),
        col("o_orderdate").as("order_date"), col("cycle"))
  }

  def monthly(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(12,2)")).as("total_value"),
        max(col("cycle")).as("last_cycle"))
      .select("event_type", "n", "total_value", "last_cycle", "month")

  def byUser(events: DataFrame): DataFrame =
    events.groupBy(col("user_id")).agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  def kindOf(id: String): Option[String] = id match {
    case "model.orders_latest" | "model.orders_first" => Some("incremental")
    case "model.events_monthly" => Some("insert_overwrite")
    case "model.events_stream" => Some("streaming_table")
    case "model.events_by_user" => Some("table")
    case "snapshot.orders_snapshot" => Some("snapshot")
    case _ => None
  }
}
