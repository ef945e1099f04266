package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series join operators Spark has no native form for (SURVEY.md
  * §2-B extension surface): as-of join and bounded range join. Both are
  * composed from equi-join/window primitives per the custom-operator
  * preference order — no custom physical operator is needed because the
  * semantics decompose onto shuffles Catalyst already plans well.
  */
object Joins {

  /** As-of join: for each left row, the most recent right row of the same
    * key with right.ts <= left.ts (inner: lefts with no prior right drop).
    *
    * Shape: tag and union both sides, then one window pass per key ordered
    * by (ts, side, event_id) carrying the last-seen right row forward.
    * ONE shuffle on the key — same exchange count as a plain equi-join —
    * instead of an inequality join (which Spark would plan as a broadcast
    * nested loop). This is the standard MERGE-style as-of at scale: state
    * per key is one row, and skew behaves like any keyed window.
    *
    * Right-side ties on (key, ts) are broken deterministically by max
    * event_id (the union ordering ends in event_id), so results are
    * engine-reproducible.
    */
  def asofJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.select(col("user_id"), col("ts"), col("event_id"),
      lit(null).cast("long").as("r_event_id"),
      lit(null).cast("double").as("r_value"),
      lit(1).as("side"))
    val r = right.select(col("user_id"), col("ts"), col("event_id"),
      col("event_id").as("r_event_id"), col("value").as("r_value"),
      lit(0).as("side"))
    // right rows sort before left rows at equal ts => "<=" semantics
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("asof_event_id", last(col("r_event_id"), ignoreNulls = true).over(w))
      .withColumn("asof_value", last(col("r_value"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("asof_event_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id"), col("asof_value"))
  }

  /** Bounded range join, aggregated: per left row, the count of right rows
    * of the same key with right.ts in [left.ts - window, left.ts).
    *
    * Shape: band the time axis into `windowSeconds` buckets; each right
    * row lands in its bucket and the next (2x bounded duplication), the
    * join becomes an equi-join on (key, bucket) plus a residual range
    * filter. This replaces the nested-loop plan an inequality join gets
    * with a hash join whose fan-out is bounded by bucket population — the
    * standard banded decomposition for interval joins at scale.
    */
  def rangeJoinCount(
      left: DataFrame, right: DataFrame, windowSeconds: Long = 600): DataFrame = {
    val winUs = windowSeconds * 1000000L
    val l = left.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("l_us"))
      .withColumn("bucket", floor(col("l_us") / winUs))
    val r = right.select(col("user_id").as("r_user"),
      unix_micros(col("ts")).as("r_us"))
      .withColumn("bucket", explode(array(
        floor(col("r_us") / winUs), floor(col("r_us") / winUs) + 1)))
    l.join(r, l("user_id") === r("r_user") && l("bucket") === r("bucket"), "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(sum(when(col("r_us") >= col("l_us") - winUs &&
        col("r_us") < col("l_us"), 1L).otherwise(0L)).as("n_in_window"))
  }

  /** Salted equi-join for skewed keys: the probe side gets a deterministic
    * salt in [0, saltFactor) (hash of its unique id — reproducible, unlike
    * rand()), the build side replicates each row to every salt, and the
    * join key becomes (key, salt). A hot key's rows now spread over
    * `saltFactor` reducers instead of one straggler task. Results are
    * identical to the unsalted join (each probe row still meets every
    * matching build row exactly once — on its own salt).
    *
    * This is the manual form of what AQE skew-join does adaptively; it
    * exists for the planned-ahead case (known-hot keys, deterministic
    * plans) and as the documented skew recipe for 100 TB fact-fact joins.
    */
  def saltedJoin(
      probe: DataFrame, probeKey: String, probeSaltBy: String,
      build: DataFrame, buildKey: String,
      saltFactor: Int = 8): DataFrame = {
    val salted = probe.withColumn("_salt",
      pmod(xxhash64(col(probeSaltBy)), lit(saltFactor)).cast("int"))
    val replicated = build.withColumn("_salt",
      explode(expr(s"sequence(0, ${saltFactor - 1})")))
    salted.join(replicated,
      salted(probeKey) === replicated(buildKey) &&
        salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }

  /** Skew-aware salted join: salt ONLY detected hot keys. A pre-pass
    * counts probe keys (map-side combined, tiny output) and keeps those
    * above `hotThreshold`; the hot-key set broadcasts to both sides. Hot
    * probe rows spread over `saltFactor` reducers; build rows replicate
    * only for hot keys at salts 1..saltFactor-1 (every key keeps its
    * unreplicated salt-0 copy, which is where non-hot traffic and the
    * salt-0 hot slice land). Results are identical to the plain join —
    * each probe row meets each matching build row exactly once, on its
    * own salt — but the replication cost is proportional to the SKEW,
    * not the build table: with no hot keys this degenerates to the plain
    * join plus one cheap count pass. [[saltedJoin]] remains the
    * planned-ahead form when replicating everything is acceptable.
    */
  def saltedJoinSkewAware(
      probe: DataFrame, probeKey: String, probeSaltBy: String,
      build: DataFrame, buildKey: String,
      saltFactor: Int = 8, hotThreshold: Long = 100000L): DataFrame = {
    val hot = probe.groupBy(col(probeKey)).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > hotThreshold)
      .select(col(probeKey).as("_hot_key"))
    val salted = probe
      .join(broadcast(hot), probe(probeKey) === col("_hot_key"), "left")
      .withColumn("_salt",
        when(col("_hot_key").isNotNull,
          pmod(xxhash64(col(probeSaltBy)), lit(saltFactor)).cast("int"))
          .otherwise(lit(0)))
      .drop("_hot_key")
    val hotBuild = build
      .join(broadcast(hot), build(buildKey) === col("_hot_key"))
      .drop("_hot_key")
      .withColumn("_salt", explode(expr(s"sequence(1, ${saltFactor - 1})")))
    val buildAll = build.withColumn("_salt", lit(0)).unionByName(hotBuild)
    salted.join(buildAll,
      salted(probeKey) === buildAll(buildKey) &&
        salted("_salt") === buildAll("_salt"))
      .drop("_salt")
  }

  /** Deterministic skewed fixture for the AQE-vs-manual comparison: the
    * probe is lineitem with every third order key collapsed onto ONE hot
    * key (~1/3 of all probe rows land in a single join partition), the
    * build side keeps one row per surviving key plus a single row for
    * the hot key — the classic fact-against-dimension skew shape where
    * the join RESULT stays |probe|-sized but one reducer gets a third of
    * the traffic. Both the AQE path and the manual salted path run this
    * exact join; the oracle is the plain relational join, proving every
    * mitigation result-identical.
    */
  def skewedFixture(li: DataFrame, orders: DataFrame)
      : (DataFrame, DataFrame) = {
    // MEASURED CONSTRAINT (r14): AQE splits a skewed partition at
    // MAP-OUTPUT-BLOCK granularity — a hot partition fed by a single
    // mapper cannot be split at all, and the harness parquet is one row
    // group = one scan task, so OptimizeSkewedJoin silently never fires
    // however low the thresholds. The repartition(8) stands in for the
    // thousands of scan tasks a 100 TB probe side has (where this
    // constraint never binds); the manual salted join has no such
    // granularity floor — that asymmetry is part of the lesson.
    val probe = li.repartition(8).select(
      when(col("l_orderkey") % 3 === 0, 0L).otherwise(col("l_orderkey"))
        .as("k"),
      col("l_extendedprice"))
    val build = orders.where(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      .unionByName(orders.sparkSession.range(1)
        .select(lit(0L).as("k"), lit("HOT").as("o_orderpriority")))
    (probe, build)
  }

  /** The fixture join + per-priority aggregate, un-executed — PlanSpec
    * pins the adaptive plan this builds under different skew confs.
    */
  def skewedJoinAgg(li: DataFrame, orders: DataFrame): DataFrame = {
    val (probe, build) = skewedFixture(li, orders)
    probe.join(build, Seq("k"))
      .groupBy(col("o_orderpriority"))
      .agg(
        graft.RelationalQueries.dsum(col("l_extendedprice"), 2)
          .as("sum_price"),
        count(lit(1)).as("n"))
  }

  /** Registered AQE skew-join query: the skewed fixture under
    * `spark.sql.adaptive.skewJoin` with thresholds scaled to the harness
    * volumes (the defaults target 256 MB partitions; the DECISION logic —
    * split the oversized probe partition, replicate the matching build
    * rows — is identical at any scale). Broadcast is disabled so the
    * skew actually reaches a sort-merge join, which is the 100 TB
    * fact-fact situation where AQE skew handling matters. The eager
    * checkpoint materializes under the confs; the oracle is the plain
    * join (mitigation must be result-invisible).
    */
  /** Runtime bloom-filter join injection — Spark's ENGINE-INJECTED form
    * of the bloom front this pipeline builds explicitly (the
    * `decontaminate_ngram_bloom` / `io_bloom_lookup` discipline): with
    * `spark.sql.optimizer.runtime.bloomFilter.enabled`, Catalyst plants
    * a `bloom_filter_agg` over the SELECTIVE side's join keys and pushes
    * `might_contain(scalar-subquery, xxhash64(key))` into the FACT
    * scan's filter — fact rows that cannot match are dropped at the scan
    * before paying the shuffle. PlanSpec pins both plan halves and
    * result-invisibility; the oracle is the plain join.
    *
    * Conf notes for 100 TB honesty: the
    * `applicationSideScanSizeThreshold` default (10 GB) targets real
    * fact scans — it is zeroed here so the mechanism engages at harness
    * scale; broadcast is disabled so the join stays sort-merge, the
    * shape where pre-shuffle row dropping pays.
    */
  def bloomRuntimeJoin(spark: org.apache.spark.sql.SparkSession,
      li: DataFrame, orders: DataFrame): DataFrame =
    graft.Posture.withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      bloomJoinAgg(li, orders).localCheckpoint()
    }

  /** The selective-dim ⋈ fact shape the runtime filter targets,
    * un-executed — PlanSpec pins the injected bloom under the confs.
    */
  def bloomJoinAgg(li: DataFrame, orders: DataFrame): DataFrame =
    li.join(orders.where(col("o_orderpriority") === "1-URGENT"),
        li("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        graft.RelationalQueries.dsum(col("l_extendedprice"), 2)
          .as("sum_price"),
        count(lit(1)).as("n"))

  def skewAqeJoin(spark: org.apache.spark.sql.SparkSession,
      li: DataFrame, orders: DataFrame): DataFrame =
    graft.Posture.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      skewedJoinAgg(li, orders).localCheckpoint()
    }
}

