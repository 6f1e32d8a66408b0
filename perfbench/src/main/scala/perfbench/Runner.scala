package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._
import org.json4s.DefaultFormats
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.{GraftSession, Schemas}
import graft.operators.Analytics
import graft.streaming.{FileTradeSource, HarnessGuard, Streams}

/** JVM half of the lakehouse benchmark: drives the trade pipeline through
  * its public entry points and writes raw observations (timings, every
  * micro-batch's progress JSON, gold sink dumps, query results, and in a
  * traced run the listener counters and spans) to one JSON file. The
  * Python half (`run.py`) turns them into metrics and checks them.
  *
  * Usage: Runner key=value... with keys
  *   mode      backfill | live | baseline
  *   cores     local[N] executor threads
  *   work      scratch directory for this run
  *   out       result JSON path
  *   trace     0 | 1
  *   seconds   measured-phase length
  * plus the mode's inputs (landing dirs, generator command, ...).
  */
object Runner {

  private def nowMs: Long = System.currentTimeMillis()

  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val d = new Runner(conf)
    val code = try d.run() finally d.close()
    sys.exit(code)
  }

  /** Backfill: drains measured at least, whatever `seconds` says. */
  val MinDrains = 2
  /** Live: processing-time trigger of the three hops. */
  val LiveTriggerMs = 3000L
  /** Live: schedule time before the measured window (excluded). */
  val LiveWarmupSeconds = 8.0
  /** Analyst loop: untimed pairs before the timed ones. Calls keep
    * getting faster for ~20 pairs as plans and the JIT warm up; the
    * steepest part is left out of the measurement. */
  val WarmupPairs = 5
}

/** Counters a traced run attributes to a layer: a hop (by the streaming
  * query id Spark puts in every job's properties) or an analytics query
  * class (by a local property set around the call).
  */
final class LayerCounters {
  var tasks = 0L
  var taskFailures = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  var bytesRead = 0L
  def toMap: Map[String, Long] = Map(
    "tasks" -> tasks, "task_failures" -> taskFailures, "task_ms" -> taskMs,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "bytes_written" -> bytesWritten,
    "records_written" -> recordsWritten, "bytes_read" -> bytesRead)
}

final case class Span(id: Int, parent: Int, name: String, startMs: Long,
                      endMs: Long) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** The traced run's instrumentation: a SparkListener for task metrics, a
  * StreamingQueryListener for one span per micro-batch, and the span
  * buffer. Registered only when the run is traced; untraced runs read
  * nothing but `StreamingQuery.recentProgress`.
  */
final class Tracer(spark: SparkSession) {
  import Runner.nowMs

  private val labelOfQuery = new ConcurrentHashMap[String, String]()
  private val hopSpanOfQuery = new ConcurrentHashMap[String, Integer]()
  private val labelOfStage = new ConcurrentHashMap[Integer, String]()
  val counters = new ConcurrentHashMap[String, LayerCounters]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  @volatile private var installed = false

  val OpProperty = "perfbench.op"

  private def counter(label: String): LayerCounters =
    counters.computeIfAbsent(label, _ => new LayerCounters)

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      val label = props.flatMap(p =>
          Option(p.getProperty("sql.streaming.queryId")))
        .flatMap(id => Option(labelOfQuery.get(id)))
        .orElse(props.flatMap(p => Option(p.getProperty(OpProperty))))
      label.foreach(l => j.stageIds.foreach(s => labelOfStage.put(s, l)))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(labelOfStage.get(t.stageId)).foreach { l =>
        val c = counter(l)
        c.synchronized {
          c.tasks += 1
          if (t.reason != org.apache.spark.Success) c.taskFailures += 1
          Option(t.taskMetrics).foreach { m =>
            c.taskMs += m.executorRunTime
            c.gcMs += m.jvmGCTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.bytesWritten += m.outputMetrics.bytesWritten
            c.recordsWritten += m.outputMetrics.recordsWritten
            c.bytesRead += m.inputMetrics.bytesRead
          }
        }
      }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val id = p.id.toString
      Option(hopSpanOfQuery.get(id)).foreach { parent =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val dur = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        addSpan(parent, s"${labelOfQuery.get(id)}.batch", start, start + dur)
      }
    }
  }

  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    installed = true
  }

  def addSpan(parent: Int, name: String, start: Long, end: Long): Int =
    synchronized {
      nextId += 1
      spans += Span(nextId, parent, name, start, end)
      nextId
    }

  /** Open a hop span now; its micro-batch spans attach as children. */
  def openHop(label: String, q: StreamingQuery, start: Long,
              parent: Int = 0): Int = {
    val id = addSpan(parent, label, start, -1)
    labelOfQuery.put(q.id.toString, label)
    hopSpanOfQuery.put(q.id.toString, id)
    id
  }

  def closeSpan(id: Int, end: Long): Unit = synchronized {
    val i = spans.indexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(endMs = end)
  }

  def spanList: Seq[Map[String, Any]] = synchronized(spans.map(_.toMap).toSeq)

  def counterMap: Map[String, Map[String, Long]] =
    counters.asScala.map { case (k, v) => k -> v.synchronized(v.toMap) }.toMap

  /** Let the asynchronous listener bus deliver what is queued. */
  def settle(): Unit = if (installed) Thread.sleep(1500)
}

final class Runner(conf: Map[String, String]) {
  import Runner._

  private val mode = conf("mode")
  private val cores = conf("cores").toInt
  private val work = conf("work")
  private val traced = conf("trace") == "1"
  private val seconds = conf("seconds").toDouble
  private val result = mutable.LinkedHashMap.empty[String, Any]
  private val errors = mutable.ArrayBuffer.empty[String]

  private lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = s"local[$cores]")
      .appName(s"perfbench-$mode")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      // keep every micro-batch's progress readable from the query handle
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Streams.applyCommitTuning(s)
    s
  }
  private lazy val tracer = new Tracer(spark)

  def close(): Unit = {
    val st = SparkSession.getActiveSession
    st.foreach(_.streams.active.foreach(q => scala.util.Try(q.stop())))
    st.foreach(_.stop())
  }

  def run(): Int = {
    spark.range(1).count()
    try mode match {
      case "backfill" => runBackfill()
      case "live" => runLive()
      case "baseline" => runBaseline()
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    } catch {
      case e: Throwable =>
        errors += s"$mode aborted: ${firstLine(e)}"
        e.printStackTrace()
    }
    result("harness_warnings") = HarnessGuard.drain()
    result("errors") = errors.toSeq
    result("heap_retained_mb") = retainedHeapMb()
    result("gc_ms_total") = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    if (traced) {
      tracer.settle()
      result("counters") = tracer.counterMap
      result("spans") = tracer.spanList
    }
    Files.write(Paths.get(conf("out")),
      Serialization.write(result.toMap)(DefaultFormats)
        .getBytes(StandardCharsets.UTF_8))
    0
  }

  private def firstLine(e: Throwable): String =
    String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(400)

  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // ---- the three hops, drained one after another (AvailableNow) ----

  private def hopRecord(name: String, q: StreamingQuery, start: Long,
                        end: Long): Map[String, Any] = Map(
    "name" -> name, "id" -> q.id.toString, "start_ms" -> start,
    "end_ms" -> end,
    "progress" -> q.recentProgress.map(p => JsonMethods.parse(p.json)).toSeq)

  /** Drain `landing` through bronze, silver and gold into `base`.
    * `tracedRep` opens spans and attributes counters for this drain.
    */
  private def drain(landing: String, base: String, tracedRep: Boolean,
                    dump: Option[String]): Map[String, Any] = {
    val an = Trigger.AvailableNow()
    val hops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val drainSpan = if (tracedRep) tracer.addSpan(0, "drain", nowMs, -1) else 0
    def hop(name: String)(start: => StreamingQuery): Unit = {
      val t0 = nowMs
      val q = start
      val span = if (tracedRep) tracer.openHop(name, q, t0, drainSpan) else 0
      try q.awaitTermination()
      finally {
        val t1 = nowMs
        if (tracedRep) tracer.closeSpan(span, t1)
        hops += hopRecord(name, q, t0, t1)
      }
    }
    val start = nowMs
    var error: Option[String] = None
    try {
      hop("bronze")(Streams.kafkaLikeToBronze(
        new FileTradeSource(landing).stream(spark), s"$base/bronze",
        s"$base/ck_bronze", trigger = an))
      hop("silver")(Streams.bronzeToSilver(spark, s"$base/bronze",
        s"$base/silver", s"$base/ck_silver", trigger = an))
      hop("gold")(Streams.silverToGold(spark, s"$base/silver", s"$base/gold",
        s"$base/ck_gold", trigger = an))
    } catch {
      case e: Exception =>
        error = Some(firstLine(e))
        errors += s"drain failed: ${error.get}"
    }
    val end = nowMs
    if (tracedRep) tracer.closeSpan(drainSpan, end)
    val out = mutable.LinkedHashMap[String, Any]("traced" -> tracedRep,
      "start_ms" -> start, "end_ms" -> end, "ok" -> error.isEmpty,
      "error" -> error, "hops" -> hops.toSeq,
      "sinks" -> Map("bronze" -> s"$base/bronze", "silver" -> s"$base/silver",
        "gold" -> s"$base/gold"))
    if (error.isEmpty) dump.foreach(p => out("gold_dump") = dumpGold(s"$base/gold", p))
    out.toMap
  }

  private val BarCols = Seq("symbol", "bar_start", "open", "high", "low",
    "close", "volume", "vwap", "trades")

  /** Every row of a gold sink as CSV (doubles in full precision). */
  private def dumpGold(goldDir: String, path: String): String = {
    val rows = spark.read.parquet(goldDir).select(BarCols.map(col): _*).collect()
    val sb = new StringBuilder
    rows.foreach { r =>
      val ts = Option(r.getTimestamp(1)).map(_.getTime.toString).getOrElse("")
      sb ++= Seq(Option(r.getString(0)).getOrElse(""), ts,
        r.get(2), r.get(3), r.get(4), r.get(5), r.get(6), r.get(7), r.get(8))
        .mkString(",")
      sb += '\n'
    }
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
    path
  }

  private def rmrf(p: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new File(p))
  }

  // ---- analytics: Analytics.enrich / Analytics.lastK over a gold table ----

  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def scanQuery(gold: DataFrame): DataFrame =
    Analytics.enrich(gold.select(Schemas.goldBars.fieldNames.toIndexedSeq.map(col): _*))
      .filter(col("is_return_anom") || col("is_volume_anom"))
      .groupBy().count()

  private def pointQuery(gold: DataFrame, symbol: String): DataFrame =
    Analytics.lastK(Analytics.enrich(
      gold.select(Schemas.goldBars.fieldNames.toIndexedSeq.map(col): _*)
        .filter(col("symbol") === symbol)))
      .select(col("symbol"), col("bar_start"), col("close"), col("ret"),
        col("z_ret"), col("z_vol"))

  private def render(df: DataFrame): String =
    df.collect().map(_.toSeq.mkString("|")).mkString(";")

  /** Files and bytes the query's parquet scans read (from SQL metrics). */
  private def scanMetrics(plan: SparkPlan): (Long, Long) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val scans = nodes(plan).filter(_.nodeName.startsWith("Scan parquet"))
    def m(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    (m("numFiles"), m("filesSize"))
  }

  /** One timed analytics call; `cls` is scan or point. */
  private def query(gold: DataFrame, cls: String, symbol: String,
                    tracedQ: Boolean, round: Int): Unit = {
    val label = if (tracedQ) s"analytics.$cls" else null
    spark.sparkContext.setLocalProperty(tracer.OpProperty, label)
    val t0 = System.nanoTime()
    val wall0 = nowMs
    var res: Option[String] = None
    var planMs = 0.0
    var files = 0L
    var bytes = 0L
    try {
      val df = if (cls == "scan") scanQuery(gold) else pointQuery(gold, symbol)
      val p0 = System.nanoTime()
      df.queryExecution.executedPlan
      planMs = (System.nanoTime() - p0) / 1e6
      res = Some(render(df))
      val (f, b) = scanMetrics(df.queryExecution.executedPlan)
      files = f; bytes = b
    } catch {
      case e: Exception => errors += s"$cls query failed: ${firstLine(e)}"
    } finally spark.sparkContext.setLocalProperty(tracer.OpProperty, null)
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracedQ) tracer.addSpan(0, s"analytics.$cls", wall0, nowMs)
    queries += Map("cls" -> cls, "symbol" -> symbol, "round" -> round,
      "start_ms" -> wall0, "ms" -> ms, "planning_ms" -> planMs,
      "traced" -> tracedQ, "ok" -> res.isDefined, "result" -> res,
      "files_read" -> files, "bytes_read" -> bytes)
  }

  /** The closed loop: one client alternating scan and point, one pair
    * per symbol. The table is read once per loop, as a notebook (and
    * graft.Demo) does.
    */
  private def queryLoop(goldDir: String, symbols: Seq[String],
                        tracedQ: Boolean, round: Int): Unit = {
    val gold = spark.read.parquet(goldDir)
    symbols.foreach { sym =>
      query(gold, "scan", "", tracedQ, round)
      query(gold, "point", sym, tracedQ, round)
    }
  }

  /** The same calls over the generator's expected bars: every recorded
    * result of `round` must match.
    */
  private def checkQueries(expectedCsv: String, round: Int): Unit = {
    val exp = expectedBars(expectedCsv)
    val expectedCache = mutable.Map.empty[(String, String), String]
    val mine = queries.indices.filter(i => queries(i)("round") == round)
    mine.foreach { i =>
      val q = queries(i)
      val cls = q("cls").toString
      val sym = q("symbol").toString
      val want = expectedCache.getOrElseUpdate((cls, sym),
        render(if (cls == "scan") scanQuery(exp) else pointQuery(exp, sym)))
      val got = q("result").asInstanceOf[Option[String]]
      val ok = got.contains(want)
      if (!ok && got.isDefined)
        errors += s"$cls($sym) result differs from the expected bars"
      queries(i) = q + ("ok" -> ok) + ("result" -> None)
    }
    exp.unpersist()
  }

  private val expectedSchema = StructType(Seq(
    StructField("symbol", StringType), StructField("bar_start_ms", LongType),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", DoubleType), StructField("vwap", DoubleType),
    StructField("trades", LongType)))

  private def expectedBars(csv: String): DataFrame = {
    val bs = timestamp_millis(col("bar_start_ms"))
    spark.read.schema(expectedSchema).csv(csv)
      .select(col("symbol"), bs.as("bar_start"),
        (bs + expr("INTERVAL 1 MINUTE")).as("bar_end"), col("open"),
        col("high"), col("low"), col("close"), col("volume"), col("vwap"),
        col("trades"), to_date(bs).as("bar_date"))
      .cache()
  }

  /** The generator runs beside the JVM's start-up; its report file is
    * written last, so its presence means the landing is complete.
    */
  private def awaitGenerated(landing: String): Unit = {
    val report = new File(new File(landing).getParentFile, "report.json")
    val deadline = nowMs + 170000
    while (!report.exists && nowMs < deadline) Thread.sleep(20)
    if (!report.exists) throw new IllegalStateException(s"no generator report for $landing")
  }

  private def symbolsArg: IndexedSeq[String] =
    new String(Files.readAllBytes(Paths.get(conf("point_symbols"))),
      StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty).toIndexedSeq

  // ---- workloads ----

  /** Warm-up (one drain of the history itself), then repeated drains of
    * the history until `seconds` pass, then a probe of analyst queries
    * over the last drained gold table.
    */
  private def runBackfill(): Unit = {
    val landing = conf("landing")
    awaitGenerated(landing)
    result("warmup") = Seq(drain(landing, s"$work/warm", false, None))
    if (traced) {
      // the small history at this session's cores, for the local[1] baseline
      awaitGenerated(conf("baseline_landing"))
      result("scale_drain") = drain(conf("baseline_landing"), s"$work/scale", false, None)
    }
    result("warm_done_ms") = nowMs
    val measureStart = nowMs
    val until = measureStart + (seconds * 1000).toLong
    val drains = mutable.ArrayBuffer.empty[Map[String, Any]]
    var rep = 0
    // a traced run measures its first half untraced, then installs the
    // listeners: the two halves give the tracing overhead
    val untracedReps = if (traced) math.max(1, MinDrains / 2) else MinDrains
    var more = true
    while (more) {
      val tracedRep = traced && rep >= untracedReps
      if (tracedRep) tracer.install()
      val base = s"$work/drain$rep"
      drains += drain(landing, base, tracedRep, Some(s"$work/gold$rep.csv"))
      rep += 1
      // stop before a repetition that would overrun the measured phase
      val perRep = (nowMs - measureStart) / rep
      more = rep < MinDrains || nowMs + perRep <= until
      if (more) rmrf(base)
    }
    result("drains") = drains.toSeq
    val gold = drains.last("sinks").asInstanceOf[Map[String, String]]("gold")
    probe(gold)
  }

  /** The analyst's closed loop over the gold table the run just wrote. */
  private def probe(goldDir: String): Unit = {
    queryLoop(goldDir, symbolsArg.take(WarmupPairs), tracedQ = false, round = 0)
    queryLoop(goldDir, symbolsArg, traced, round = 1)
    checkQueries(conf("expected"), round = 1)
    result("queries") = queries.toSeq
  }

  /** Open loop: the three hops run concurrently as continuous queries
    * while the generator process lands files on its own schedule.
    */
  private def runLive(): Unit = {
    val base = s"$work/live"
    val landing = s"$base/landing"
    Seq(landing, s"$base/bronze", s"$base/silver").foreach(p =>
      new File(p).mkdirs())
    val trig = Trigger.ProcessingTime(LiveTriggerMs)
    val starts = mutable.LinkedHashMap.empty[String, (StreamingQuery, Long)]
    def start(name: String)(q: => StreamingQuery): Unit = {
      val t0 = nowMs
      starts(name) = (q, t0)
    }
    start("bronze")(Streams.kafkaLikeToBronze(
      new FileTradeSource(landing).stream(spark), s"$base/bronze",
      s"$base/ck_bronze", trigger = trig))
    start("silver")(Streams.bronzeToSilver(spark, s"$base/bronze",
      s"$base/silver", s"$base/ck_silver", trigger = trig))
    start("gold")(Streams.silverToGoldLiveHourly(spark, s"$base/silver",
      s"$base/gold", s"$base/ck_gold", trigger = trig))

    val warmS = LiveWarmupSeconds
    val t0 = nowMs + 1000
    val report = s"$base/gen_report.json"
    val cmd = new String(Files.readAllBytes(Paths.get(conf("gen_cmd_file"))),
      StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty).toSeq ++ Seq(
      "--t0-ms", t0.toString, "--duration-s", (warmS + seconds).toString,
      "--out", landing, "--report", report)
    result("schedule_t0_ms") = t0
    result("warm_done_ms") = t0 + (warmS * 1000).toLong
    val gen = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(new File(s"$base/gen.log"))
      .start()
    try measureLive(base, starts, gen, t0, warmS, report)
    finally if (gen.isAlive) { gen.destroyForcibly(); gen.waitFor() }
    probe(s"$base/gold")
  }

  private def measureLive(base: String,
                          starts: mutable.LinkedHashMap[String, (StreamingQuery, Long)],
                          gen: Process, t0: Long, warmS: Double,
                          report: String): Unit = {
    val hopSpans = mutable.Map.empty[String, Int]
    if (traced) {
      // the first half of the measured window is untraced
      val installAt = t0 + ((warmS + seconds / 2) * 1000).toLong
      while (nowMs < installAt && gen.isAlive) Thread.sleep(50)
      tracer.install()
      result("trace_from_ms") = nowMs
      starts.foreach { case (name, (q, _)) =>
        hopSpans(name) = tracer.openHop(name, q, nowMs) }
    }
    val genCode = gen.waitFor()
    result("schedule_end_ms") = nowMs
    if (genCode != 0) errors += s"generator exited with $genCode"
    // catch up: every hop processes what the generator landed
    val lastEventMs = if (new File(report).exists) {
      val txt = new String(Files.readAllBytes(Paths.get(report)), StandardCharsets.UTF_8)
      "\"last_event_ms\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
    } else None
    val gold = starts("gold")._1
    val deadline = nowMs + 60000
    def goldMax: Long = gold.recentProgress.flatMap(p =>
      Option(p.eventTime.get("max"))).map(s =>
      java.time.Instant.parse(s).toEpochMilli).foldLeft(0L)(math.max)
    while (lastEventMs.exists(_ > goldMax) && nowMs < deadline &&
      gold.isActive) Thread.sleep(100)
    if (lastEventMs.exists(_ > goldMax))
      errors += "live: gold did not catch up with the generator within the drain timeout"
    val hops = starts.map { case (name, (q, s)) =>
      q.exception.foreach(e => errors += s"$name failed: ${firstLine(e)}")
      q.stop()
      hopSpans.get(name).foreach(tracer.closeSpan(_, nowMs))
      hopRecord(name, q, s, nowMs)
    }.toSeq
    if (traced) tracer.settle()
    result("live") = Map("hops" -> hops, "gen_report" -> report,
      "gold_dump" -> dumpGold(s"$base/gold", s"$work/gold_live.csv"),
      "sinks" -> Map("bronze" -> s"$base/bronze", "silver" -> s"$base/silver",
        "gold" -> s"$base/gold"))
  }

  /** The backfill history drained once warm on this session's cores: the
    * single-core scaling baseline.
    */
  private def runBaseline(): Unit = {
    val landing = conf("landing")
    awaitGenerated(landing)
    result("warmup") = Seq(drain(landing, s"$work/warm", false, None))
    result("drains") = Seq(drain(landing, s"$work/drain", false, None))
  }
}
