package benchmark

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.{StreamingQueries, TickSink, TickSource}

/** Engine side of the benchmark. `run.py` builds the inputs, starts this
  * JVM with one workload, and reads back `jvm.json` (timings, posture,
  * failures and, in traced runs, spans and layer counters) plus
  * `arrivals.csv` (every sink row with its arrival time). All timing is
  * taken here, around calls into the engine's public functions; the
  * metrics and the correctness verdict are computed by `run.py`.
  *
  * Arguments: `<workload> <runDir> <dataDir> <cpus> <trace 0|1>`.
  */
object Harness {

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Wall clock in epoch milliseconds with sub-millisecond digits. */
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  // ---- spans (kept in memory, written once at exit) -------------------

  final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)
  private val spanIds = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var tracing = false

  def span[T](name: String, parent: Long = 0L)(body: Long => T): T = {
    if (!tracing) body(0L)
    else {
      val id = spanIds.incrementAndGet()
      val t0 = nowMs()
      try body(id) finally spans.add(Span(id, parent, name, t0, nowMs()))
    }
  }

  // ---- failures: class and first message line, never a silent number --

  val failures = new ConcurrentLinkedQueue[(String, String)]()
  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
    s"${e.getClass.getName}: $msg"
  }
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body) catch {
      case NonFatal(e) => failures.add(what -> describe(e)); None
    }

  // ---- sink: arrival log ------------------------------------------------

  /** Every row a `TickSink.KeyedBatched` send delivers, as CSV:
    * `job,arrival_ms,ticker,window_end_ms,values...`. Local mode runs the
    * executors in this JVM, so the sends reach this queue directly.
    */
  val arrivals = new ConcurrentLinkedQueue[String]()
  /** Latest window end delivered per job, for the live run's stop rule. */
  val lastEnd = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The `send` function given to the sink. `job` selects the row shape:
    * candle rows are (ticker, window_start, window_end, first, last, min,
    * max), slide rows are (ticker, p, t).
    */
  final class Recorder(job: String) extends ((String, Seq[Row]) => Unit) with Serializable {
    def apply(key: String, rows: Seq[Row]): Unit = span(s"TickSink.send.$job") { _ =>
      val at = nowMs()
      rows.foreach { r =>
        val line =
          if (job == "candle")
            s"$job,$at,${r.getString(0)},${r.getTimestamp(2).getTime}," +
              s"${r.getDouble(3)},${r.getDouble(4)},${r.getDouble(5)},${r.getDouble(6)}"
          else s"$job,$at,${r.getString(0)},${r.getTimestamp(2).getTime},${r.getDouble(1)}"
        arrivals.add(line)
        lastEnd.merge(job, r.getTimestamp(2).getTime, (a, b) => math.max(a, b))
      }
    }
  }

  // ---- traced-run collectors -------------------------------------------

  /** Job and task counters per phase: the harness tags each call with the
    * `bench.phase` local property, which Spark copies onto every job the
    * call submits (pool threads inherit it).
    */
  final class PhaseListener extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val counters = new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()
    private def add(phase: String, i: Int, v: Double): Unit = {
      val a = counters.computeIfAbsent(phase, _ => new Array[Double](7))
      a.synchronized { a(i) += v }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty("bench.phase")))
        .getOrElse("other")
      e.stageIds.foreach(s => stagePhase.put(s, phase))
      add(phase, 0, 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val phase = Option(stagePhase.get(e.stageId)).getOrElse("other")
      val m = e.taskMetrics
      add(phase, 1, 1)
      if (m != null) {
        add(phase, 2, m.executorRunTime.toDouble)
        add(phase, 3, m.executorCpuTime / 1e6)
        add(phase, 4, m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(phase, 5, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(phase, 6, m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  /** Catalyst phase durations of every executed plan, from its
    * `QueryPlanningTracker`: (start_ms, analysis, optimization, planning).
    */
  val planned = new ConcurrentLinkedQueue[String]()
  final class PlanListener extends org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
        ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
        e: Exception): Unit = record(qe)
    private def record(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
      planned.add(s"[$start,${ms("analysis")},${ms("optimization")},${ms("planning")}]")
    }
  }

  /** Streaming progress events, as Spark's own JSON, per query name. */
  val progress = new ConcurrentLinkedQueue[String]()
  final class ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(s"""{"job":"${e.progress.name}","p":${e.progress.json}}""")
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Janino compiles and compile failures, read from the engine's own
    * log lines: `Code generated in X ms` (CodeGenerator, INFO) and the
    * ERROR it logs when a generated class does not compile (whole-stage
    * codegen then falls back to the interpreted path).
    */
  val codegenEvents = new ConcurrentLinkedQueue[String]()
  private def installCodegenAppender(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (cfg.getAppender("benchCodegen") == null) {
      val generated = """Code generated in ([0-9.]+) ms""".r.unanchored
      val app = new AbstractAppender("benchCodegen", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = {
          val msg = e.getMessage.getFormattedMessage
          val t = e.getTimeMillis
          msg match {
            case generated(ms) => codegenEvents.add(s"""[$t,"compile",$ms]""")
            case _ if e.getLevel.isMoreSpecificThan(Level.ERROR) =>
              codegenEvents.add(s"""[$t,"failure",0]""")
            case _ => ()
          }
        }
      }
      app.start()
      cfg.addAppender(app)
      val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(app, Level.INFO, null)
      cfg.addLogger(name, lc)
      ctx.updateLoggers()
    }
  }

  // ---- posture ------------------------------------------------------------

  def session(cpus: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("benchmark")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.streaming.stateStore.providerClass", RocksDb)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (tracing) {
      installCodegenAppender()
      spark.sparkContext.addSparkListener(phaseListener)
      spark.listenerManager.register(new PlanListener)
      spark.streams.addListener(new ProgressListener)
    }
    spark
  }
  val phaseListener = new PhaseListener

  def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty("bench.phase", name)
    try body finally spark.sparkContext.setLocalProperty("bench.phase", null)
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  // ---- streaming jobs -------------------------------------------------------

  /** One event-time job of the paper: (name, width-or-over, every, delay). */
  final case class Job(name: String, over: String, every: String, delay: String) {
    def query(ticks: DataFrame): DataFrame =
      if (name == "candle") StreamingQueries.candlestick(ticks, delay, over)
      else StreamingQueries.slidingMinTwoLevel(ticks, delay, over, every)
  }

  def start(spark: SparkSession, job: Job, dir: String, ckpt: String,
      availableNow: Boolean, maxFiles: Option[Int]): StreamingQuery = {
    val ticks = TickSource.fileJson(spark, dir, maxFilesPerTrigger = maxFiles)
    TickSink.writer(job.query(ticks),
      TickSink.KeyedBatched(100, Seq("ticker"), ";", new Recorder(job.name)), availableNow)
      .queryName(job.name)
      .option("checkpointLocation", ckpt)
      .start()
  }

  /** Drain `dir` once per job under AvailableNow; returns wall seconds per job. */
  def drain(spark: SparkSession, jobs: Seq[Job], dir: String, ckptRoot: String,
      maxFiles: Int): Seq[(String, Double)] =
    jobs.map { j =>
      val t0 = nowMs()
      val q = start(spark, j, dir, s"$ckptRoot/${j.name}", availableNow = true, Some(maxFiles))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      j.name -> (nowMs() - t0) / 1000.0
    }

  private def waitFor(path: String, timeoutMs: Long): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!Files.exists(Paths.get(path)) && System.currentTimeMillis() < end) Thread.sleep(20)
    Files.exists(Paths.get(path))
  }

  private def readText(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)
  private def writeText(path: String, s: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, s.getBytes(UTF_8))
    Files.move(tmp, Paths.get(path), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def jsonNums(xs: Iterable[Double]): String = xs.mkString("[", ",", "]")

  // ---- workloads --------------------------------------------------------------

  /** The two jobs with the workload's window config (`config.txt`). */
  def jobs(cfg: Map[String, String]): Seq[Job] =
    Seq("candle", "slide").map(n => Job(n, cfg(s"${n}_over"), cfg(s"${n}_every"), cfg(s"${n}_delay")))

  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, dataDir, cpusArg, traceArg) = args
    val cpus = cpusArg.toInt
    tracing = traceArg == "1"
    val cfgFile = s"$runDir/config.txt"
    val cfg: Map[String, String] =
      if (!Files.exists(Paths.get(cfgFile))) Map.empty
      else readText(cfgFile).linesIterator.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    val out = new StringBuilder("{")
    def put(k: String, v: String): Unit = {
      if (out.length > 1) out ++= ","
      out ++= jsonStr(k) ++= ":" ++= v
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val loadStart = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // Set-up, from JVM start to the first timed call: class loading, the
    // session, then the stats ANALYZE, the store writes and a warm-up scan
    // (batch) or warm-up drains of the jobs (streaming).
    var statsMode = "off"
    var statsS = 0.0
    val spark = span("setup") { _ =>
      val s = session(cpus, runDir)
      workload match {
        case "batch_queries" =>
          val t1 = nowMs()
          statsMode = attempt("Cbo.ensureStatsAll") {
            phase(s, "stats") {
              s.conf.set("spark.sql.cbo.enabled", "true")
              s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
              graft.plans.Cbo.ensureStatsAll(s, dataDir)
              s.conf.set(graft.Tables.statsCatalogConf, dataDir)
            }
            "on"
          }.getOrElse {
            s.conf.set("spark.sql.cbo.enabled", "false")
            s.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
            "degraded"
          }
          statsS = (nowMs() - t1) / 1000.0
          storeWrites(s, runDir, dataDir, put)
          phase(s, "warmup") {
            s.range(10000).selectExpr("id % 7 k").groupBy("k").count().collect()
            noop(graft.Tables.load(s, dataDir, "lineitem").groupBy("l_returnflag").count())
          }
        case _ =>
          // warms the listed jobs' plans on a small static backlog, drained
          // `warmup_rounds` times from fresh checkpoints
          val warm = cfg("warmup_jobs").split(",").toSet
          phase(s, "warmup") {
            for (k <- 1 to cfg("warmup_rounds").toInt)
              drain(s, jobs(cfg).filter(j => warm(j.name)), s"$runDir/warmup",
                s"$runDir/ckpt/warmup$k", cfg("max_files").toInt)
          }
      }
      s
    }
    put("setup_s", ((nowMs() - jvmStart) / 1000.0).toString)
    arrivals.clear()
    lastEnd.clear()
    put("stats_s", statsS.toString)
    put("measure_start_ms", nowMs().toString)
    val gcBefore = gcMs()
    val codegenBefore = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    workload match {
      case "tick_live" => live(spark, runDir, cfg, put)
      case "tick_replay" => replay(spark, runDir, cfg, put)
      case "batch_queries" => batch(spark, runDir, dataDir, put)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    put("gc_ms", (gcMs() - gcBefore).toString)
    put("codegen_compiles", (org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount - codegenBefore).toString)
    // listener buses deliver asynchronously; let them drain before reading
    if (tracing) Thread.sleep(1500)
    val loadEnd = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    put("posture", posture(spark, cpus, statsMode, loadStart, loadEnd))
    put("failures", failures.asScala.map { case (w, m) =>
      s"[${jsonStr(w)},${jsonStr(m)}]" }.mkString("[", ",", "]"))
    if (tracing) {
      put("spans", spans.asScala.map(s =>
        s"""[${s.id},${s.parent},${jsonStr(s.name)},${s.start},${s.end}]""").mkString("[", ",", "]"))
      put("phases", phaseListener.counters.asScala.map { case (p, a) =>
        s"${jsonStr(p)}:${jsonNums(a.toSeq)}" }.mkString("{", ",", "}"))
      put("planned", planned.asScala.mkString("[", ",", "]"))
      put("codegen_events", codegenEvents.asScala.mkString("[", ",", "]"))
      put("progress", progress.asScala.mkString("[", ",", "]"))
    }
    Files.write(Paths.get(s"$runDir/arrivals.csv"),
      arrivals.asScala.mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
    // peak resident memory of this process, native (RocksDB) included
    put("peak_rss_kb", readText("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "")).getOrElse("0"))
    out ++= "}"
    writeText(s"$runDir/jvm.json", out.toString)
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def posture(spark: SparkSession, cpus: Int, stats: String,
      loadStart: Double, loadEnd: Double): String = {
    val xmx = Runtime.getRuntime.maxMemory / (1024 * 1024)
    Seq(
      "cpus_requested" -> cpus.toString,
      "cpus_available" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_version" -> jsonStr(spark.version),
      "xmx_mb" -> xmx.toString,
      "codegen_cache_entries" -> jsonStr(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
      "stats" -> jsonStr(stats),
      "state_store_provider" -> jsonStr(
        spark.conf.get("spark.sql.streaming.stateStore.providerClass")),
      "load_start" -> loadStart.toString,
      "load_end" -> loadEnd.toString
    ).map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
  }

  /** Open loop: start both jobs on the empty watched directory, tell the
    * generator to go, and stop once the last due window of each job has
    * arrived (or the grace period ends). `gen_done` carries the due
    * cutoff the generator computed from its last tick.
    */
  def live(spark: SparkSession, runDir: String, cfg: Map[String, String],
      put: (String, String) => Unit): Unit = {
    val js = jobs(cfg)
    val dir = s"$runDir/ticks"
    val qs = js.map(j => start(spark, j, dir, s"$runDir/ckpt/live_${j.name}",
      availableNow = false, None))
    writeText(s"$runDir/ready", nowMs().toString)
    val genTimeout = (cfg("gen_seconds").toDouble * 1000).toLong + 30000L
    require(waitFor(s"$runDir/gen_done", genTimeout), "generator never finished")
    val cutoff = readText(s"$runDir/gen_done").trim.toDouble
    val deadline = System.currentTimeMillis() + cfg("grace_ms").toLong
    def arrivedUpTo(job: String): Double =
      Option(lastEnd.get(job)).map(_.toDouble).getOrElse(0.0)
    while (System.currentTimeMillis() < deadline &&
      js.exists(j => arrivedUpTo(j.name) < cutoff) && qs.forall(_.isActive)) Thread.sleep(100)
    // the trigger that delivered the cutoff window may still be sending
    // from other partitions: let every in-flight batch finish first
    // (one failure record per query: a failed query is inactive, or its
    // processAllAvailable throws the query's exception)
    qs.foreach { q =>
      if (q.isActive) attempt(s"query ${q.name}")(q.processAllAvailable())
      else q.exception.foreach(e => failures.add(s"query ${q.name}" -> describe(e)))
    }
    qs.foreach(_.stop())
  }

  /** Catch-up: drain the backlog under AvailableNow, candle job first,
    * then the slide job, into the same sink.
    */
  def replay(spark: SparkSession, runDir: String, cfg: Map[String, String],
      put: (String, String) => Unit): Unit = {
    put("replay_start_ms", nowMs().toString)
    val walls = span("replay") { _ =>
      attempt("replay drain") {
        drain(spark, jobs(cfg), s"$runDir/ticks", s"$runDir/ckpt/replay",
          cfg("max_files").toInt)
      }.getOrElse(Nil)
    }
    put("drain_s", walls.map { case (j, s) => s"${jsonStr(j)}:$s" }.mkString("{", ",", "}"))
  }

  private def readOrder(runDir: String): Seq[String] =
    readText(s"$runDir/queries.txt").linesIterator.map(_.trim).filter(_.nonEmpty).toSeq

  private def reclaim(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Store writes: each `QuerySpec.setup` of the listed queries, once, in
    * name order. Part of the batch workload's set-up.
    */
  def storeWrites(spark: SparkSession, runDir: String, dataDir: String,
      put: (String, String) => Unit): Unit = {
    val specs = graft.Registry.all.map(q => q.name -> q).toMap
    val setups = readOrder(runDir).distinct.sorted
      .flatMap(n => specs.get(n).flatMap(_.setup).map(n -> _)).map { case (n, f) =>
        val t0 = nowMs()
        val ok = span(s"setup:$n") { _ =>
          phase(spark, s"setup:$n")(attempt(s"setup $n")(f(spark, dataDir)).isDefined)
        }
        reclaim(spark)
        s"""[${jsonStr(n)},${(nowMs() - t0) / 1000.0},$ok]"""
      }
    put("store_writes", setups.mkString("[", ",", "]"))
  }

  /** The listed queries in the given order (a query may be listed once per
    * pass). A query is timed as its `run` call plus a noop-write action; an
    * `Observation` on the action counts its rows for the oracle comparison.
    */
  def batch(spark: SparkSession, runDir: String, dataDir: String,
      put: (String, String) => Unit): Unit = {
    val specs = graft.Registry.all.map(q => q.name -> q).toMap
    val order = readOrder(runDir)
    put("bench_names", graft.Registry.all.filter(_.benchmark).map(q => jsonStr(q.name))
      .mkString("[", ",", "]"))
    put("oracle", order.flatMap(n => specs.get(n).flatMap(_.oracle).map(sql =>
      s"${jsonStr(n)}:${jsonStr(sql)}")).mkString("{", ",", "}"))
    val rows = order.zipWithIndex.map { case (n, i) =>
      val q = specs.get(n)
      val obs = Observation(s"rows_${i}_$n")
      val qStart = nowMs()
      var runS, actS = 0.0
      val result = span(s"query:$n") { id =>
        attempt(s"query $n") {
          val spec = q.getOrElse(throw new NoSuchElementException(s"no registered query $n"))
          val df = span("run", id) { _ => phase(spark, s"run:$n")(spec.run(spark, dataDir)) }
          runS = (nowMs() - qStart) / 1000.0
          val t1 = nowMs()
          span("action", id) { _ =>
            phase(spark, s"action:$n")(noop(df.observe(obs, count(lit(1)).as("rows"))))
          }
          actS = (nowMs() - t1) / 1000.0
          obs.get("rows").asInstanceOf[Long]
        }
      }
      reclaim(spark)
      s"""[${jsonStr(n)},$qStart,$runS,$actS,${result.getOrElse(-1L)},${result.isDefined}]"""
    }
    put("queries", rows.mkString("[", ",", "]"))
  }
}
