package graft

/** The one session posture: what every built session carries, the
  * stats-ON degrade path, and the conf save/set/restore helper. Each case
  * leaves the shared session's confs as it found them.
  */
class PostureSpec extends GraftSpec {

  override def withFixture(test: NoArgTest) = {
    val before = spark.conf.getAll
    try super.withFixture(test)
    finally {
      spark.conf.getAll.keys.filterNot(before.contains).foreach(spark.conf.unset)
      before.foreach { case (k, v) =>
        if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)
      }
    }
  }

  test("a Posture session carries the extensions, shuffle partitions = cpus, " +
    "UTC and the codegen cache") {
    assert(spark eq Posture.session(cpus = 4), "one shared session")
    assert(spark.catalog.functionExists("cosine_sim"),
      "GraftExtensions' functions are registered")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ===
      spark.sparkContext.defaultParallelism)
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
  }

  test("statsOn over a directory with no tables degrades to the stats-less posture") {
    assume(Posture.statsWanted, "SPARK_GRAFT_STATS=0 skips the stats-ON step")
    val empty = java.nio.file.Files.createTempDirectory("graft_no_tables").toString
    assert(Posture.statsOn(spark, empty) === "degraded")
    assert(spark.conf.get("spark.sql.cbo.enabled") === "false")
    assert(spark.conf.get("spark.sql.cbo.joinReorder.enabled") === "false")
    assert(spark.conf.getOption(Tables.statsCatalogConf).isEmpty)
  }

  test("withConfs restores a set key and unsets an unset one, also on a throw") {
    val (set, unset) = ("spark.graft.test.set", "spark.graft.test.unset")
    spark.conf.set(set, "before")
    spark.conf.unset(unset)
    def check(): Unit = {
      assert(spark.conf.get(set) === "before")
      assert(spark.conf.getOption(unset).isEmpty)
    }
    val seen = Posture.withConfs(spark, set -> "inside", unset -> "inside") {
      (spark.conf.get(set), spark.conf.get(unset))
    }
    assert(seen === (("inside", "inside")))
    check()
    intercept[IllegalStateException] {
      Posture.withConfs(spark, set -> "inside", unset -> "inside") {
        throw new IllegalStateException("body failed")
      }
    }
    check()
  }
}
