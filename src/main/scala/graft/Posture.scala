package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one session posture of the engine's mains (Bench, Verify, the
  * streaming job mains, the probe tool) and of the test suite: every
  * `SparkSession` in the library is built here, and each posture env var
  * is read here only.
  *
  *   - `SPARK_GRAFT_CPUS` (default 4): `local[n]` worker threads, with
  *     shuffle partitions equal to n;
  *   - `SPARK_GRAFT_CODEGEN_CACHE` (default 4096): whole-stage-codegen
  *     compile cache entries;
  *   - `SPARK_GRAFT_STATS=0`: skip the stats-ON step ([[statsOn]]).
  *
  * Runtime confs a caller needs on top (Verify's parquet timestamp type,
  * the job mains' state store) are set on the built session.
  */
object Posture {

  /** RocksDB state-store provider (ships with Spark; the rocksdbjni native
    * lib rides in the distribution jars). The job mains and Bench's
    * streaming section run on it: state lives on local disk with a block
    * cache, so keyed state is bounded by disk, not executor heap.
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  val StateStoreConf = "spark.sql.streaming.stateStore.providerClass"

  /** `local[n]` threads requested through `SPARK_GRAFT_CPUS`. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** Whole-stage-codegen compile cache size (static conf, Spark default
    * 100 entries): a 217-query interleaved pass generates thousands of
    * distinct codegen units, so at the default size every rep of every
    * query re-Janino-compiles its whole plan — pure fixed overhead that
    * dwarfs the data work at the small SFs and is still dead weight at
    * scale (the cache is keyed by generated SOURCE, so the entries are
    * scale-independent; ~tens of KB of bytecode each). Results are
    * unaffected. `SPARK_GRAFT_CODEGEN_CACHE=100` restores the Spark
    * default for an A/B.
    */
  val codegenCache: Int =
    sys.env.get("SPARK_GRAFT_CODEGEN_CACHE").fold(4096)(_.toInt)

  /** False when `SPARK_GRAFT_STATS=0` opts out of [[statsOn]]. */
  val statsWanted: Boolean = !sys.env.get("SPARK_GRAFT_STATS").contains("0")

  /** Build (or join) the session: `local[cpus]`, shuffle partitions =
    * cpus, [[graft.plans.GraftExtensions]], UTC session zone, UI off, the
    * codegen cache above, WARN logs. `staticConfs` are the confs Spark
    * only accepts at build time.
    */
  def session(cpus: Int = Posture.cpus,
      staticConfs: Seq[(String, String)] = Seq.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", codegenCache.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    staticConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stats-ON posture (r15 verdict #1): ANALYZE'd catalog tables for every
    * non-events table + CBO with join reorder, and [[Tables.load]]
    * redirected to them — the statistics-fed plans the engine runs at
    * scale (the r15 sweep proved 6 plan changes, all wins, SURVEY §8.17).
    * The NTZ FilterEstimation guard lives in ensureStatsAll.
    *
    * Returns `off` under `SPARK_GRAFT_STATS=0`, `on` on success, and
    * `degraded` when the ANALYZE fails: a failed ANALYZE must degrade to
    * the stats-less posture, never kill the run (createAnalyzed already
    * dropped any half-made table; the catalog conf stays unset, so every
    * load falls back to path reads). NonFatal only — an OOM or interrupt
    * must kill the run, not masquerade as a degraded one. The CBO confs
    * are reset so the degraded run truly IS the stats-less posture (CBO
    * over empty stats is not the same plans).
    */
  def statsOn(spark: SparkSession, sfDir: String): String =
    if (!statsWanted) "off"
    else try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      graft.plans.Cbo.ensureStatsAll(spark, sfDir)
      spark.conf.set(Tables.statsCatalogConf, sfDir)
      "on"
    } catch { case NonFatal(e) =>
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      System.err.println(s"[posture] stats-ON setup failed, running " +
        s"stats-less: ${e.getMessage}")
      "degraded"
    }

  /** Drop every persistent RDD. The split/checkpoint operators (quality
    * gates, decontamination, LM scoring, gap-fill, mixtures — see
    * Registry's eagerness scaladoc) pin localCheckpoint partitions at
    * construction time, and reclaim normally waits on ContextCleaner GC.
    * Across 100+ queries × 5 constructions at sf0.1 the debris outpaces
    * the cleaner, inflating the LATE series (warm ran slower than cold;
    * streaming rates sank ~8×) purely through heap/storage pressure. A
    * constructed frame is garbage once its action ran, so callers reclaim
    * after it.
    */
  def reclaim(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  /** Run `body` with session confs set, restoring each key's prior value
    * (or unsetting it) after, also when `body` throws. Callers must force
    * execution INSIDE (Catalyst reads confs at optimization time, not at
    * DataFrame construction).
    */
  def withConfs[T](spark: SparkSession, pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
