package graft

import graft.operators.{Cdc, Governance, StorageLayout}

/** CDC maintenance: delta derivation precedence, the copy-on-write
  * merge's row-level semantics AND its physical untouched-partition
  * contract, the manifest-IVM ≡ physical-merge equivalence, and the
  * bloom point lookup's pruning + completeness.
  */
class CdcSpec extends GraftSpec {
  import spark.implicits._

  // en clean; de/fr dirty with every op firing, including the overlap
  // cases (77 = 7·11 delete-beats-update; 91 = 7·13 update AND insert
  // seed) and a stored n_chars deliberately != length(text) to pin that
  // untouched rows CARRY their stored value rather than recompute it.
  private def fixture = Seq(
    (1L, "alpha one", "en", "s1", 9L),
    (2L, "beta two", "en", "s1", 99L),
    (3L, "gamma three", "de", "s1", 11L),
    (7L, "delta seven", "de", "s2", 11L),
    (11L, "eps eleven", "de", "s2", 10L),
    (13L, "zeta thirteen", "de", "s1", 13L),
    (77L, "eta seventyseven", "fr", "s2", 16L),
    (91L, "theta ninetyone", "fr", "s1", 15L),
    (22L, "iota twentytwo", "fr", "s2", 14L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("cdc delta: delete beats update, one row can seed update and insert") {
    val batch = Cdc.feed(fixture)
    assert(Cdc.deletes(batch).as[Long].collect().toSet === Set(11L, 22L, 77L))
    val upd = Cdc.updates(batch).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_chars")))).toMap
    // 77 is 7·11: the delete guard keeps it out of the update set
    assert(upd.keySet === Set(7L, 91L))
    assert(upd(7L) === (("cdc1 delta seven", 16L)))
    val ins = Cdc.inserts(batch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // 91 seeds BOTH an update (key 91) and an insert (key 1000091)
    assert(ins === Map(1000013L -> "ins zeta thirteen",
      1000091L -> "ins theta ninetyone"))
  }

  test("copy-on-write merge: exact final rows, clean partition physically untouched") {
    val path = java.nio.file.Files.createTempDirectory("graft_cdc").toString + "/snap"
    Cdc.writeSnapshot(fixture, path)
    def listing(lang: String) =
      new java.io.File(s"$path/lang=$lang").listFiles()
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val enBefore = listing("en")
    val deBefore = listing("de")
    Cdc.mergeDelta(spark, Cdc.feed(fixture), path)
    // the clean partition's files: same names, sizes, mtimes — never
    // opened for write; the dirty partition was rewritten
    assert(listing("en") === enBefore)
    assert(listing("de") !== deBefore)
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("lang"), r.getAs[Long]("n_chars"))).toSet
    assert(got === Set(
      (1L, "alpha one", "en", 9L),
      (2L, "beta two", "en", 99L),          // stored n_chars carried verbatim
      (3L, "gamma three", "de", 11L),       // untouched dirty-lang row
      (7L, "cdc1 delta seven", "de", 16L),  // updated image, n_chars recomputed
      (13L, "zeta thirteen", "de", 13L),
      (1000013L, "ins zeta thirteen", "de", 17L),
      (91L, "cdc1 theta ninetyone", "fr", 20L),
      (1000091L, "ins theta ninetyone", "fr", 19L)
      // 11, 22 deleted; 77 deleted (delete beat the update)
    ))
  }

  test("manifest IVM equals the physical merge's manifest, source by source") {
    val path = java.nio.file.Files.createTempDirectory("graft_cdc_ivm").toString
    Cdc.writeSnapshot(fixture, s"$path/snap")
    Cdc.mergeDelta(spark, Cdc.feed(fixture), s"$path/snap")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_chars"),
          r.getAs[Long]("fp_xor")))).toMap
    val physical = toMap(Governance.releaseManifest(spark.read.parquet(s"$path/snap")))
    val ivm = toMap(Cdc.manifestIvm(spark, fixture, s"$path/ivm"))
    assert(ivm === physical)
    // and the deltas genuinely moved every source: s1 gained the two
    // inserts (5 → 7), s2 lost its three deletes (4 → 1) — the equality
    // above is not vacuous
    assert(ivm("s1")._1 === 7L && ivm("s2")._1 === 1L)
  }

  // day-1 final state of `fixture` — what both merge strategies must
  // produce (asserted row-by-row in the COW test above)
  private val day1Final = Set(
    (1L, "alpha one", "en", 9L),
    (2L, "beta two", "en", 99L),
    (3L, "gamma three", "de", 11L),
    (7L, "cdc1 delta seven", "de", 16L),
    (13L, "zeta thirteen", "de", 13L),
    (1000013L, "ins zeta thirteen", "de", 17L),
    (91L, "cdc1 theta ninetyone", "fr", 20L),
    (1000091L, "ins theta ninetyone", "fr", 19L))

  private def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
      r.getAs[String]("lang"), r.getAs[Long]("n_chars"))).toSet

  test("merge-on-read: resolved view equals the COW state, base files untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mor").toString
    val (base, log) = (s"$dir/base", s"$dir/log")
    Cdc.writeSnapshot(fixture, base)
    def listing(lang: String) =
      new java.io.File(s"$base/lang=$lang").listFiles()
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = Cdc.dirtyLangs.map(listing) :+ listing("en")
    Cdc.appendMorLog(Cdc.feed(fixture), Cdc.day1Rules, log, day = 1)
    assert(rowSet(Cdc.morRead(spark, base, log)) === day1Final)
    // MOR's contract: the read-side merge landed on the COW state while
    // EVERY base file — dirty languages included — stayed untouched
    assert((Cdc.dirtyLangs.map(listing) :+ listing("en")) === before)
  }

  // extra rows exercising the day-2 rules (del %17, upd %5, ins %19) and
  // the op successions: day1-update→day2-update (35), day1-insert→day2-
  // update of the inserted key (65 → 1000065), day2 delete (85), day2
  // insert seeding while the seed row survives (19)
  private def fixture2 = fixture.union(Seq(
    (85L, "kappa eightyfive", "de", "s2", 16L),
    (10L, "lambda ten", "de", "s1", 10L),
    (19L, "mu nineteen", "fr", "s2", 11L),
    (35L, "nu thirtyfive", "fr", "s1", 13L),
    (65L, "xi sixtyfive", "de", "s2", 12L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars"))

  // day-1 final state of `fixture2`: day1Final plus the extra rows after
  // the day-1 rules (35 updated, 65 seeds an insert, 85/10/19 untouched)
  private val day1FinalF2 = day1Final ++ Set(
    (85L, "kappa eightyfive", "de", 16L),
    (10L, "lambda ten", "de", 10L),
    (19L, "mu nineteen", "fr", 11L),
    (35L, "cdc1 nu thirtyfive", "fr", 18L),
    (65L, "xi sixtyfive", "de", 12L),
    (1000065L, "ins xi sixtyfive", "de", 16L))

  // day-2 final state of `fixture2` (chained on day 1) — shared by the
  // compaction test and the time-travel version-2 read
  private val day2Final = day1Final ++ Set(
    (10L, "cdc2 lambda ten", "de", 15L),
    (65L, "cdc2 xi sixtyfive", "de", 17L),
    (1000065L, "cdc2 ins xi sixtyfive", "de", 21L),
    (19L, "mu nineteen", "fr", 11L),
    (35L, "cdc2 cdc1 nu thirtyfive", "fr", 23L),
    (2000019L, "ins2 mu nineteen", "fr", 16L),
    // 1000065 ≡ 0 (mod 19): the day-1-INSERTED key both updates and
    // seeds a fresh day-2 insert — the full succession matrix
    (3000065L, "ins2 ins xi sixtyfive", "de", 21L))
  // 85 deleted day 2; day-1 images of 10/65/35 superseded by day 2

  test("two-day MOR log: latest day wins; compaction folds it and drops the log") {
    val dir = java.nio.file.Files.createTempDirectory("graft_morc").toString
    val (base, log) = (s"$dir/base", s"$dir/log")
    Cdc.writeSnapshot(fixture2, base)
    def enListing() =
      new java.io.File(s"$base/lang=en").listFiles()
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val enBefore = enListing()
    Cdc.appendMorLog(Cdc.feed(fixture2), Cdc.day1Rules, log, day = 1)
    val feed2 = Cdc.morRead(spark, base, log)
      .where(org.apache.spark.sql.functions.col("lang")
        .isin(Cdc.dirtyLangs: _*))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .localCheckpoint()
    Cdc.appendMorLog(feed2, Cdc.day2Rules, log, day = 2)
    assert(rowSet(Cdc.morRead(spark, base, log)) === day2Final)
    Cdc.compactMorLogs(spark, base, log)
    // merge-free read of the compacted base gives the same rows; the
    // clean partition was never rewritten; the log is gone
    assert(rowSet(spark.read.parquet(base)) === day2Final)
    assert(enListing() === enBefore)
    assert(!new java.io.File(log).exists())
  }

  test("streaming CDC ingest: micro-batched log commits resolve to the batch merge") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_morstream").toString
    val (base, log) = (s"$dir/base", s"$dir/log")
    Cdc.writeSnapshot(fixture, base)
    val entries = Cdc.logEntries(Cdc.feed(fixture), Cdc.day1Rules).collect()
      .map(r => (r.getAs[String]("op"), r.getAs[Long]("doc_id"),
        r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"),
        Option(r.getAs[java.lang.Long]("n_chars")).map(_.longValue)))
    // replay the day's delta as three interleaved micro-batches — the
    // shape a live feed actually arrives in
    val batches = entries.groupBy(_._2 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    assert(batches.size >= 2)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, String, String, String, Option[Long])]
    val q = Cdc.morLogStream(
      input.toDF().toDF("op", "doc_id", "text", "lang", "source", "n_chars"),
      log).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // three log generations landed; the same morRead resolves them to
    // exactly the batch merge's final state
    assert(new java.io.File(log).listFiles().count(_.getName.startsWith("day=")) === batches.size)
    assert(rowSet(Cdc.morRead(spark, base, log)) === day1Final)
  }

  test("bloom lookup: scan pruned to the bloom's candidate partitions, result complete") {
    val scratch = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    val df = StorageLayout.bloomLookup(spark, fixture, scratch)
    val got = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"))).toSet
    // needles = de ids ≡ 3 (mod 10): docs 3 and 13; no false negatives
    assert(got === Set((3L, "de"), (13L, "de")))
    // the scan's partition filter names the candidate partitions, and
    // the clean 'en' partition is not among them (bloom pruning is a
    // PartitionFilter, the needle list a pushed data filter)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
    assert(pf.contains("de"), p)
    assert(!pf.contains("en"), p)
    assert(p.contains("PushedFilters: [In(doc_id"), p)
  }

  test("time travel: three live versions, clean files shared verbatim across manifests") {
    val root = java.nio.file.Files.createTempDirectory("graft_tt").toString + "/store"
    Cdc.versionedInit(spark, fixture2, root)
    Cdc.versionedMerge(spark, root, 0, 1, Cdc.day1Rules)
    Cdc.versionedMerge(spark, root, 1, 2, Cdc.day2Rules)
    // every version stays readable AFTER later commits, each exactly its
    // day's sequential merge state — snapshot isolation in both directions
    assert(rowSet(Cdc.readVersion(spark, root, 0)) === rowSet(fixture2))
    assert(rowSet(Cdc.readVersion(spark, root, 1)) === day1FinalF2)
    assert(rowSet(Cdc.readVersion(spark, root, 2)) === day2Final)
    def manifest(v: Int): Map[String, Set[String]] =
      spark.read.parquet(s"$root/m/v=$v").collect()
        .map(r => r.getAs[String]("lang") -> r.getAs[String]("path"))
        .groupBy(_._1).map { case (l, ps) => l -> ps.map(_._2).toSet }
    val (m0, m1, m2) = (manifest(0), manifest(1), manifest(2))
    // zero-copy contract: the clean partition's file entries are carried
    // VERBATIM — v0, v1, v2 all point at the SAME physical en files
    assert(m1("en") === m0("en"))
    assert(m2("en") === m0("en"))
    // while each commit gave the dirty partitions fresh files (no
    // version ever mutates a file another version points at)
    Cdc.dirtyLangs.foreach { l =>
      assert((m1(l) & m0(l)).isEmpty, s"v1 reused a v0 $l file")
      assert((m2(l) & m1(l)).isEmpty, s"v2 reused a v1 $l file")
    }
  }

  test("vacuum: manifest-row refcount — shared files survive, orphans deleted") {
    val root = java.nio.file.Files.createTempDirectory("graft_vac").toString + "/store"
    Cdc.versionedInit(spark, fixture2, root)
    Cdc.versionedMerge(spark, root, 0, 1, Cdc.day1Rules)
    Cdc.versionedMerge(spark, root, 1, 2, Cdc.day2Rules)
    def manifestPaths(v: Int): Map[String, Set[String]] =
      spark.read.parquet(s"$root/m/v=$v").collect()
        .map(r => r.getAs[String]("lang") -> r.getAs[String]("path"))
        .groupBy(_._1).map { case (l, ps) => l -> ps.map(_._2).toSet }
    val m0 = manifestPaths(0)
    val m2 = manifestPaths(2)
    Cdc.expireVersions(spark, root, keep = Seq(2))
    def exists(p: String) = new java.io.File(new java.net.URI(p).getPath).exists
    // expired manifests gone, the survivor intact
    assert(!new java.io.File(s"$root/m/v=0").exists())
    assert(!new java.io.File(s"$root/m/v=1").exists())
    assert(new java.io.File(s"$root/m/v=2").exists())
    // the refcount case a directory-level GC gets wrong: v0's en files
    // are still referenced by v2's manifest — they MUST survive the sweep
    assert(m0("en").forall(exists), "vacuum deleted a file v2 still references")
    // while v0's superseded dirty files are physically gone
    Cdc.dirtyLangs.foreach { l =>
      assert(m0(l).forall(p => !exists(p)), s"v0 $l orphan survived the sweep")
    }
    // the whole intermediate d1 generation is unreferenced — gone too
    assert(!new java.io.File(s"$root/d1/lang=de").exists())
    assert(!new java.io.File(s"$root/d1/lang=fr").exists())
    // every file v2 references is still there, and the read is unchanged
    assert(m2.values.flatten.forall(exists))
    assert(rowSet(Cdc.readVersion(spark, root, 2)) === day2Final)
  }

  test("rtbf purge: ids gone from all of history, untouched files still shared") {
    val root = java.nio.file.Files.createTempDirectory("graft_rtbf").toString + "/store"
    Cdc.versionedInit(spark, fixture2, root)
    Cdc.versionedMerge(spark, root, 0, 1, Cdc.day1Rules)
    Cdc.versionedMerge(spark, root, 1, 2, Cdc.day2Rules)
    def manifest(v: Int): Map[String, Set[String]] =
      spark.read.parquet(s"$root/m/v=$v").collect()
        .map(r => r.getAs[String]("lang") -> r.getAs[String]("path"))
        .groupBy(_._1).map { case (l, ps) => l -> ps.map(_._2).toSet }
    val before = (0 to 2).map(manifest)
    // purge doc_id ≡ 0 (mod 7): hits every version, every dirty lang, and
    // the day-1 insert 1000013 (= 7·142859) — re-keyed rows purge too
    Cdc.rtbfPurge(spark, root, Seq(0, 1, 2), 7L, 0L)
    val after = (0 to 2).map(manifest)
    def purged(s: Set[(Long, String, String, Long)]) = s.filter(_._1 % 7 != 0)
    // exactly the requested rows vanished from EVERY version's read
    assert(rowSet(Cdc.readVersion(spark, root, 0)) === purged(rowSet(fixture2)))
    assert(rowSet(Cdc.readVersion(spark, root, 1)) === purged(day1FinalF2))
    assert(rowSet(Cdc.readVersion(spark, root, 2)) === purged(day2Final))
    // en holds ids 1 and 2 — unaffected, so its file entries are carried
    // VERBATIM through the purge and remain SHARED by all three versions
    (0 to 2).foreach(v => assert(after(v)("en") === before(v)("en")))
    // the rewrite is MINIMAL: only files containing purged ids are
    // replaced (unaffected part-files keep their entries verbatim), every
    // replaced original is physically gone (bytes deleted, not merely
    // unreferenced), every live entry exists, and each dirty partition —
    // which holds a purged id somewhere — saw at least one replacement
    def exists(p: String) = new java.io.File(new java.net.URI(p).getPath).exists
    Cdc.dirtyLangs.foreach { l =>
      (0 to 2).foreach { v =>
        val (b, a) = (before(v)(l), after(v)(l))
        assert((b -- a).nonEmpty, s"v$v $l: no file was replaced")
        assert((b -- a).forall(p => !exists(p)), s"v$v $l original survived")
        assert((b & a).forall(exists), s"v$v $l carried-over entry missing")
        assert(a.forall(exists), s"v$v $l live entry missing")
      }
    }
    // each affected original was rewritten at most once (one replacement
    // file per fidx directory; a fully-purged original drops its entries
    // with no replacement at all)
    def dirtySet(ms: Seq[Map[String, Set[String]]]) =
      ms.flatMap(m => Cdc.dirtyLangs.flatMap(m(_))).toSet
    assert((dirtySet(after) -- dirtySet(before)).size <=
      (dirtySet(before) -- dirtySet(after)).size)
  }

  test("incremental read: manifest-diff change feed, clean partitions never opened") {
    val root = java.nio.file.Files.createTempDirectory("graft_incr").toString + "/store"
    Cdc.versionedInit(spark, fixture2, root)
    Cdc.versionedMerge(spark, root, 0, 1, Cdc.day1Rules)
    val got = Cdc.incrementalDiff(spark, root, 0, 1).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("status")) ->
        r.getAs[Long]("n_docs")).toMap
    // hand-derived from fixture2 + day-1 rules: de deletes 11, updates 7,
    // inserts 1000013/1000065; fr deletes 22/77, updates 91/35, inserts
    // 1000091 — and the same count of untouched rows ride the partition
    // rewrite as 'same' (they are IN the rewritten files)
    assert(got === Map(
      ("de", "added") -> 2L, ("de", "deleted") -> 1L,
      ("de", "changed") -> 1L, ("de", "same") -> 5L,
      ("fr", "added") -> 1L, ("fr", "deleted") -> 2L,
      ("fr", "changed") -> 2L, ("fr", "same") -> 1L))
    // the clean partition's manifest entries are identical across the two
    // versions, so the diff's file set — and the feed — cannot contain en
    assert(!got.keySet.map(_._1).contains("en"))
  }

  test("wap: staged commit invisible until published; bad feed aborted, main untouched") {
    val root = java.nio.file.Files.createTempDirectory("graft_wap").toString + "/store"
    Cdc.versionedInit(spark, fixture2, root)
    // stage day 1 on a branch: durable and auditable, but m/v=1 absent —
    // a version reader cannot see it
    Cdc.wapStage(spark, root, 0, "day1", Cdc.day1Rules)
    assert(!new java.io.File(s"$root/m/v=1").exists())
    assert(rowSet(Cdc.readManifest(spark, s"$root/m/b_day1")) === day1FinalF2)
    // audit passes (every parent lang survives) → publish = one rename
    assert(Cdc.wapFinalize(spark, root, 0, "day1", 1))
    assert(!new java.io.File(s"$root/m/b_day1").exists())
    assert(rowSet(Cdc.readVersion(spark, root, 1)) === day1FinalF2)
    // a feed that deletes EVERYTHING in the dirty langs and inserts
    // nothing: the audit must reject it, and the abort must leave the
    // version chain exactly as it was
    val killRules = Cdc.DeltaRules(1L, 3L, 9999991L, "bad", "bad", 5000000L)
    Cdc.wapStage(spark, root, 1, "day2", killRules)
    assert(!Cdc.wapFinalize(spark, root, 1, "day2", 2))
    assert(!new java.io.File(s"$root/m/v=2").exists())
    assert(!new java.io.File(s"$root/m/b_day2").exists())
    assert(!new java.io.File(s"$root/db_day2").exists())
    assert(rowSet(Cdc.readVersion(spark, root, 1)) === day1FinalF2)
  }

  // fixture2 plus an es partition for the concurrent second writer:
  // every writer-B op fires (23 deletes; 6, 87 update; 29, 87 insert —
  // 87 seeds both; 46 delete-beats-nothing; 4 untouched)
  private def fixture3 = fixture2.union(Seq(
    (4L, "omicron four", "es", "s1", 12L),
    (6L, "pi six", "es", "s2", 6L),
    (23L, "rho twentythree", "es", "s1", 15L),
    (29L, "sigma twentynine", "es", "s2", 16L),
    (46L, "tau fortysix", "es", "s1", 12L),
    (87L, "ups eightyseven", "es", "s2", 15L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars"))

  private val esOrig = Set(
    (4L, "omicron four", "es", 12L),
    (6L, "pi six", "es", 6L),
    (23L, "rho twentythree", "es", 15L),
    (29L, "sigma twentynine", "es", 16L),
    (46L, "tau fortysix", "es", 12L),
    (87L, "ups eightyseven", "es", 15L))

  // writer B's merge of the es partition it read AT v0 (23 and 46
  // deleted; 6 and 87 updated; 29 and 87 seed re-keyed inserts)
  private val esAfterB = Set(
    (4L, "omicron four", "es", 12L),
    (6L, "cdcb pi six", "es", 11L),
    (29L, "sigma twentynine", "es", 16L),
    (87L, "cdcb ups eightyseven", "es", 20L),
    (3000029L, "insb sigma twentynine", "es", 21L),
    (3000087L, "insb ups eightyseven", "es", 20L))

  test("concurrent commits: disjoint writer rebases onto the head, overlap rejected") {
    val root = java.nio.file.Files.createTempDirectory("graft_conc").toString + "/store"
    Cdc.versionedInit(spark, fixture3, root)
    // B stages FIRST and is still unpublished when A stages and commits
    Cdc.wapStage(spark, root, 0, "wb", Cdc.writerBRules, Cdc.dirtyLangsB)
    Cdc.wapStage(spark, root, 0, "wa", Cdc.day1Rules, Cdc.dirtyLangs)
    assert(Cdc.commitStaged(spark, root, 0, "wa", Cdc.dirtyLangs) === Right(1))
    // the write set is recoverable from manifest metadata alone
    assert(Cdc.commitWriteSet(spark, root, 1) === Set("de", "fr"))
    // B's commit sees the interleaved v1, proves disjointness, rebases
    assert(Cdc.commitStaged(spark, root, 0, "wb", Cdc.dirtyLangsB) === Right(2))
    assert(Cdc.commitWriteSet(spark, root, 2) === Set("es"))
    def manifest(v: Int): Map[String, Set[String]] =
      spark.read.parquet(s"$root/m/v=$v").collect()
        .map(r => r.getAs[String]("lang") -> r.getAs[String]("path"))
        .groupBy(_._1).map { case (l, ps) => l -> ps.map(_._2).toSet }
    val (m0, m1, m2) = (manifest(0), manifest(1), manifest(2))
    // the rebase carried A's fresh files and v0's shared files VERBATIM
    assert(m2("de") === m1("de"))
    assert(m2("fr") === m1("fr"))
    assert(m2("en") === m0("en"))
    assert(m2("es").forall(_.contains("/db_wb/")), m2("es"))
    // v1 is exactly A's merge (es untouched); v2 is serial A-then-B
    assert(rowSet(Cdc.readVersion(spark, root, 1)) === day1FinalF2 ++ esOrig)
    assert(rowSet(Cdc.readVersion(spark, root, 2)) === day1FinalF2 ++ esAfterB)
    // writer C overlaps A's committed write set → rejected, branch
    // dropped, the chain and its head untouched
    Cdc.wapStage(spark, root, 0, "wc", Cdc.day2Rules, Seq("de"))
    val rc = Cdc.commitStaged(spark, root, 0, "wc", Seq("de"))
    assert(rc.isLeft && rc.swap.toOption.get.contains("de"), rc)
    assert(Cdc.headVersion(spark, root) === 2)
    assert(!new java.io.File(s"$root/m/b_wc").exists())
    assert(!new java.io.File(s"$root/db_wc").exists())
    assert(rowSet(Cdc.readVersion(spark, root, 2)) === day1FinalF2 ++ esAfterB)
    // the rejected writer retries the only legal way — re-stage from the
    // NEW head (its merge must re-read the partition A changed) — and
    // lands clean as v3
    Cdc.wapStage(spark, root, 2, "wc2", Cdc.day2Rules, Seq("de"))
    assert(Cdc.commitStaged(spark, root, 2, "wc2", Seq("de")) === Right(3))
    assert(Cdc.commitWriteSet(spark, root, 3) === Set("de"))
    // serializability: the concurrent history (A ∥ B rebased, C retried)
    // equals a fully SERIAL A → B → C execution on a fresh store
    val ser = java.nio.file.Files.createTempDirectory("graft_ser").toString + "/store"
    Cdc.versionedInit(spark, fixture3, ser)
    Cdc.versionedMerge(spark, ser, 0, 1, Cdc.day1Rules)
    Cdc.versionedMerge(spark, ser, 1, 2, Cdc.writerBRules, Cdc.dirtyLangsB)
    Cdc.versionedMerge(spark, ser, 2, 3, Cdc.day2Rules, Seq("de"))
    assert(rowSet(Cdc.readVersion(spark, root, 3)) ===
      rowSet(Cdc.readVersion(spark, ser, 3)))
  }

  test("streaming versioned commits: each micro-batch is one readable version") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_vstream").toString + "/store"
    Cdc.versionedInit(spark, fixture2, root)
    val entries = Cdc.partitionedLogEntries(Cdc.feed(fixture2), Cdc.day1Rules)
      .collect()
      .map(r => (r.getAs[String]("op"), r.getAs[Long]("doc_id"),
        r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"),
        Option(r.getAs[java.lang.Long]("n_chars")).map(_.longValue)))
    // partition-aware feed: even the delete images carry their lang
    assert(entries.filter(_._1 == "D").forall(_._4 != null))
    val batches = entries.groupBy(_._2 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    assert(batches.size === 3)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, String, String, String, Option[Long])]
    val q = Cdc.versionedLogStream(
      input.toDF().toDF("op", "doc_id", "text", "lang", "source", "n_chars"),
      root).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // the live chain: v0 untouched, every intermediate version readable,
    // and the final version equals the one-shot day-1 merge (the batch
    // split partitions the day's ops by key, so sequential partial
    // commits compose to the full merge)
    assert(rowSet(Cdc.readVersion(spark, root, 0)) === rowSet(fixture2))
    assert(rowSet(Cdc.readVersion(spark, root, 3)) === day1FinalF2)
    val sizes = (0 to 3).map(v => rowSet(Cdc.readVersion(spark, root, v)).size)
    assert(sizes.distinct.size > 1, "intermediate versions never moved")
  }

  test("sort-key evolution: re-sort commit flips which predicate skips, " +
    "state identical") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft_resort").toString + "/store"
    // n_chars deliberately DECORRELATED from doc_id ((id*37) % 500 cycles
    // fast), so doc_id-sorted files have near-full n_chars ranges and the
    // layout flip is what creates the skipping
    val docs = spark.range(1L, 1201L).select(
      col("id").as("doc_id"),
      concat(lit("text "), col("id")).as("text"),
      when(col("id") % 2 === 0, "en").otherwise("de").as("lang"),
      lit("s1").as("source"),
      ((col("id") * 37) % 500 + 10).as("n_chars"))
    Cdc.versionedInit(spark, docs, root, 128)
    Cdc.resortCommit(spark, root, 0, 1, 128)
    // rewrite-only: not a row moved
    assert(rowSet(Cdc.readVersion(spark, root, 1)) ===
      rowSet(Cdc.readVersion(spark, root, 0)))
    val (lo, hi) = Cdc.nCharsBand(docs)
    val skipped = Cdc.readVersion(spark, root, 1,
        statRange = Some(("n_chars", lo, hi)))
      .where(col("n_chars").between(lo, hi))
    val full = Cdc.readVersion(spark, root, 1)
      .where(col("n_chars").between(lo, hi))
    // no false negatives, strictly fewer files opened
    assert(rowSet(skipped) === rowSet(full))
    assert(skipped.inputFiles.length < full.inputFiles.length,
      s"${skipped.inputFiles.length} vs ${full.inputFiles.length}")
    // the layout property: the SAME band forces the doc_id-sorted layout
    // to scan more rows than the n_chars-sorted one
    def scanned(v: Int): Long =
      Cdc.manifestFrame(spark, s"$root/m/v=$v")
        .where(col("max_n_chars") >= lo && col("min_n_chars") <= hi)
        .agg(coalesce(sum(col("n_rows")), lit(0L))).head.getLong(0)
    assert(scanned(1) < scanned(0), s"${scanned(1)} vs ${scanned(0)}")
  }

  test("z-order commit: the 2-D box admits fewer rows than EITHER 1-D layout, " +
    "state identical, both prunes applied on the read") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft_zcdc").toString + "/store"
    // 4096 rows/lang at 16-row files = 256 files/lang — enough layout
    // resolution that the z-curve's ~cell-per-file granularity shows
    val docs = spark.range(1L, 8193L).select(
      col("id").as("doc_id"),
      concat(lit("text "), col("id")).as("text"),
      when(col("id") % 2 === 0, "en").otherwise("de").as("lang"),
      lit("s1").as("source"),
      ((col("id") * 37) % 500 + 10).as("n_chars"))
    Cdc.versionedInit(spark, docs, root, 16)   // v0: by doc_id
    Cdc.resortCommit(spark, root, 0, 1, 16)    // v1: by n_chars
    Cdc.zorderCommit(spark, root, 1, 2, 16)    // v2: z-order
    assert(rowSet(Cdc.readVersion(spark, root, 2)) ===
      rowSet(Cdc.readVersion(spark, root, 0)))
    val (dlo, dhi) = Cdc.zoneBand(docs)
    val (nlo, nhi) = Cdc.nCharsBand(docs)
    def scanned(v: Int): Long =
      Cdc.manifestFrame(spark, s"$root/m/v=$v")
        .where(col("max_doc_id") >= dlo && col("min_doc_id") <= dhi &&
          col("max_n_chars") >= nlo && col("min_n_chars") <= nhi)
        .agg(coalesce(sum(col("n_rows")), lit(0L))).head.getLong(0)
    val (s0, s1, s2) = (scanned(0), scanned(1), scanned(2))
    assert(s2 < s0 && s2 < s1,
      s"zorder must beat both 1-D layouts: doc_id=$s0 n_chars=$s1 zorder=$s2")
    // skipped read prunes on BOTH stat pairs and equals the full read
    val box = col("doc_id").between(dlo, dhi) &&
      col("n_chars").between(nlo, nhi)
    val skipped = Cdc.readVersion(spark, root, 2,
      idRange = Some((dlo, dhi)),
      statRange = Some(("n_chars", nlo, nhi))).where(box)
    val full = Cdc.readVersion(spark, root, 2).where(box)
    assert(rowSet(skipped) === rowSet(full))
    assert(skipped.inputFiles.length < full.inputFiles.length)
  }

  test("streamed ingest: an at-least-once duplicate delivery changes nothing, " +
    "a naive re-APPLY would not") {
    // 33 (de, %11 → deleted) fills the %3==0 micro-batch the base fixture
    // leaves empty, without changing the day-1 final state
    val docs = fixture2.union(Seq(
      (33L, "omega thirtythree", "de", "s2", 17L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_sing").toString + "/store"
    Cdc.streamIngestStore(spark, docs, root)
    // 4 deliveries, 3 versions: the duplicate replayed its slot
    assert(Cdc.headVersion(spark, root) === 3)
    assert(rowSet(Cdc.readVersion(spark, root, 3)) === day1FinalF2)
    assert(rowSet(Cdc.readVersion(spark, root, 0)) === rowSet(docs))
    // the registered read leg agrees with the raw as-of read
    val m = Cdc.streamIngestManifest(spark, docs, root).collect()
    assert(m.map(_.getAs[Int]("n_versions")).toSet === Set(3))
    assert(m.map(_.getAs[Long]("n_docs")).sum === day1FinalF2.size.toLong)
    // and the hazard the slot-replay protocol avoids: re-APPLYING a
    // batch on top of the chain's own output re-unions its INSERT
    // images beside the copies the first application already landed —
    // duplicate keys, the corruption an append-style duplicate handler
    // ships (batch %3==2 carries the 1000013/1000091 insert images)
    val batch2 = Cdc.partitionedLogEntries(Cdc.feed(docs), Cdc.day1Rules)
      .where(org.apache.spark.sql.functions.col("doc_id") % 3 === 2)
    Cdc.commitLogBatch(spark, root, fromV = 3, toV = 4, log = batch2)
    val keys = Cdc.readVersion(spark, root, 4).collect()
      .map(_.getAs[Long]("doc_id"))
    assert(keys.length > keys.distinct.length,
      "re-apply must exhibit the duplicated-insert corruption")
    assert(keys.count(_ == 1000013L) === 2)
    // the guard: replaying a slot that is no longer the tail must FAIL
    // fast — descendant manifests carry its part-file paths verbatim for
    // untouched langs, so a rewrite would dangle them
    val ex = intercept[IllegalArgumentException] {
      Cdc.commitLogBatch(spark, root, fromV = 1, toV = 2, log = batch2)
    }
    assert(ex.getMessage.contains("not the tail"))
  }

  test("deletion vectors: end-to-end equals the key-filtered truth, " +
    "DV artifact is delete-sized, base files untouched") {
    val root = java.nio.file.Files.createTempDirectory("graft_dv").toString
    val got = Cdc.dvManifest(spark, fixture, root).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        r.getAs[Long]("n_docs")).toMap
    // deletes: 11, 22, 77 (dirty langs, %11) — en untouched
    assert(got === Map(
      ("en", "s1") -> 2L, ("de", "s1") -> 2L, ("de", "s2") -> 1L,
      ("fr", "s1") -> 1L))
    val dv = Cdc.buildDeletionVectors(spark, s"$root/base",
      Cdc.deletes(Cdc.feed(fixture)))
    assert(dv.count() === 3L) // one (partition, pos) row per deleted key
    // a delete wrote zero data bytes: only parquet files in the base are
    // the original snapshot's (no staging, no rewrite dirs)
    val files = new java.io.File(s"$root/base").listFiles.map(_.getName)
    assert(files.forall(n =>
      n.startsWith("lang=") || n.startsWith("_") || n.startsWith(".")),
      files.mkString(","))
  }

  test("deletion vectors address ROWS, not keys: with duplicate keys, " +
    "one position delete removes exactly one of the copies") {
    val root = java.nio.file.Files.createTempDirectory("graft_dvdup").toString
    val dup = Seq(
      (7L, "first copy", "en", "s1", 10L),
      (7L, "second copy", "en", "s1", 11L),
      (8L, "bystander", "en", "s1", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    Cdc.writePositionedSnapshot(dup, s"$root/base")
    // a KEY-based delete of 7 dooms both copies — the DV build maps the
    // key to BOTH physical addresses
    val keyDv = Cdc.buildDeletionVectors(spark, s"$root/base",
      Seq(7L).toDF("doc_id"))
    assert(keyDv.count() === 2L)
    // a POSITION delete of just one address keeps the other copy — the
    // semantics no key-tombstone log can express
    val oneDv = Seq(("en", 1L)).toDF("lang", "pos")
    val left = Cdc.dvRead(spark, s"$root/base", oneDv).collect()
    assert(left.length === 2)
    assert(left.count(_.getAs[Long]("doc_id") == 7L) === 1)
    assert(left.count(_.getAs[Long]("doc_id") == 8L) === 1)
  }

  test("zone maps: skipped read ≡ full read on fewer files; manifest pruned by lang") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_zone").toString + "/store"
    // enough rows per lang for several 128-row zone files
    val docs = spark.range(1L, 1201L).select(
      col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"),
      element_at(typedLit(Seq("en", "de", "fr")),
        (col("id") % 3 + 1).cast("int")).as("lang"),
      concat(lit("s"), col("id") % 4).as("source"),
      length(concat(lit("doc "), col("id"))).cast("long").as("n_chars"))
    Cdc.zonedStore(spark, docs, root)
    // every zoned data file respects the roll size, and each lang has
    // enough files for skipping to be observable
    val m2 = Cdc.manifestFrame(spark, s"$root/m/v=2").collect()
    assert(m2.forall(_.getAs[Long]("n_rows") <= Cdc.defaultZoneRows))
    val filesPerLang = m2.groupBy(_.getAs[String]("lang")).view.mapValues(_.length)
    assert(filesPerLang.values.forall(_ >= 3), filesPerLang.toMap.toString)
    // the skipped read admits strictly fewer files yet returns the
    // identical aggregate state (zone maps have no false negatives, the
    // re-applied exact predicate removes anything extra)
    val skipped = Cdc.zonemapRead(spark, docs, root)
    val full = Cdc.zonemapReadFull(spark, docs, root)
    assert(skipped.collect().map(_.toSeq).toSet ===
      full.collect().map(_.toSeq).toSet)
    assert(skipped.inputFiles.length < full.inputFiles.length,
      s"${skipped.inputFiles.length} vs ${full.inputFiles.length}")
    // the gauge agrees with the physical admit count and reports real
    // skipping for every lang
    val gauge = Cdc.zonemapGauge(spark, docs, root).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("files_admitted"), r.getAs[Long]("files_total"),
          r.getAs[Long]("skip_bp")))).toMap
    assert(gauge.values.map(_._1).sum === skipped.inputFiles.length)
    gauge.foreach { case (l, (adm, tot, bp)) =>
      assert(adm < tot, s"$l admitted all files")
      assert(bp > 0L, s"$l skipped nothing")
    }
    // a lang-filtered as-of read prunes the MANIFEST partitions: the
    // partition predicate reaches the manifest's own parquet scan, so
    // the driver never lists the other langs' metadata
    val mf = Cdc.manifestFrame(spark, s"$root/m/v=2", Seq("de"))
    val p = mf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
    assert(pf.contains("lang") && pf.contains("de"), p)
    // and the pruned as-of read returns exactly the full read's de slice
    val deOnly = Cdc.readVersion(spark, root, 2, Seq("de"))
    assert(rowSet(deOnly) ===
      rowSet(Cdc.readVersion(spark, root, 2)).filter(_._3 == "de"))
    // OPTIMIZE as a commit: v3 = v2 bin-packed into 512-row files —
    // identical rows, strictly fewer files per multi-file lang, fresh
    // zone maps respecting the larger roll, and v2 still reading its own
    // small files afterwards (snapshot isolation through compaction)
    Cdc.optimizeCommit(spark, root, 2, 3, Cdc.optimizeTargetRows)
    assert(rowSet(Cdc.readVersion(spark, root, 3)) ===
      rowSet(Cdc.readVersion(spark, root, 2)))
    val m3 = Cdc.manifestFrame(spark, s"$root/m/v=3").collect()
    assert(m3.forall(_.getAs[Long]("n_rows") <= Cdc.optimizeTargetRows))
    val after = m3.groupBy(_.getAs[String]("lang")).view.mapValues(_.length)
    filesPerLang.foreach { case (l, before) =>
      assert(after(l) < before, s"$l: $before files -> ${after(l)}")
    }
    def exists(p: String) = new java.io.File(new java.net.URI(p).getPath).exists
    assert(m2.map(_.getAs[String]("path")).forall(exists),
      "optimize must not touch the files the old version references")
  }

  test("zero-admission skipped read: empty frame with the store schema, " +
    "no file read") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft_zadm").toString + "/store"
    val docs = spark.range(1L, 201L).select(
      col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"),
      lit("en").as("lang"),
      lit("s1").as("source"),
      (col("id") % 100 + 10).cast("long").as("n_chars"))
    Cdc.versionedInit(spark, docs, root, 16)
    // a band no file's zone map overlaps → zero admitted files, an
    // empty frame with the store schema (literal — no sample-file read)
    val empty = Cdc.readVersion(spark, root, 0,
      idRange = Some((100000L, 200000L)))
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq ===
      Seq("doc_id", "text", "source", "n_chars", "lang"))
    assert(empty.inputFiles.isEmpty, "zero-admission must read no file")
    // and unions cleanly with a non-empty admitted read (schema parity)
    val some = Cdc.readVersion(spark, root, 0, idRange = Some((1L, 50L)))
    assert(some.unionByName(empty).count() === some.count())
  }

  test("equi-depth z-order recovers the skew-squashed dimension min-max loses") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft_zed").toString + "/store"
    // a skewed id space shaped like the CDC store: a dense base plus a
    // sparse far tail — min-max quantization squashes the base into <1%
    // of the doc_id range (the curve's doc_id bits go dead), equi-depth
    // spreads it by rank
    val base = spark.range(1L, 2901L).select(col("id").as("doc_id"))
    val tail = spark.range(0L, 100L)
      .select((lit(1000000L) + col("id") * 10000L).as("doc_id"))
    val docs = base.unionByName(tail).select(
      col("doc_id"),
      concat(lit("doc "), col("doc_id")).as("text"),
      lit("en").as("lang"),
      lit("s1").as("source"),
      ((col("doc_id") * 37) % 500 + 10).cast("long").as("n_chars"))
    Cdc.versionedInit(spark, docs, root, 16)          // v0: by doc_id
    Cdc.zorderCommit(spark, root, 0, 1, 16)           // v1: min-max Z
    Cdc.zorderEquiDepthCommit(spark, root, 1, 2, 16)  // v2: equi-depth Z
    assert(rowSet(Cdc.readVersion(spark, root, 2)) ===
      rowSet(Cdc.readVersion(spark, root, 0)))
    // a 2-D box inside the dense base: doc_id middle band × n_chars band
    val (dlo, dhi) = (600L, 1200L)
    val (nlo, nhi) = (135L, 210L)
    def scanned(v: Int): Long =
      Cdc.manifestFrame(spark, s"$root/m/v=$v")
        .where(col("max_doc_id") >= dlo && col("min_doc_id") <= dhi &&
          col("max_n_chars") >= nlo && col("min_n_chars") <= nhi)
        .agg(coalesce(sum(col("n_rows")), lit(0L))).head.getLong(0)
    val (sMinMax, sEd) = (scanned(1), scanned(2))
    assert(sEd < sMinMax,
      s"equi-depth must recover the squashed dimension: ed=$sEd minmax=$sMinMax")
    // the ADVISOR must make the same call from the manifests alone: on
    // this dense-id fixture equi-depth Z ranks first for the 2-D box
    // workload (the crossover regime the CDC store's 41-file floor
    // hides — there the oracle-pinned io_cdc_layout_advise picks the
    // 1-D doc_id sort)
    val advice = Cdc.adviseLayout(spark, root,
      Seq(("by_doc_id", 0), ("zorder", 1), ("zorder_ed", 2)),
      Seq(Seq(("doc_id", dlo, dhi), ("n_chars", nlo, nhi))))
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[Long]("rows_scanned")))
    assert(advice.head._1 === "zorder_ed",
      s"advisor must pick equi-depth Z on the dense-id fixture: " +
        advice.mkString(", "))
  }

  test("zoned write range-splits each lang across tasks; file boundaries " +
    "stay the single-task chunking") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft_split").toString + "/store"
    // 2000 rows/lang at the 128-row roll → ~4 rank groups per lang, so
    // the split path (not the old one-task-per-lang sort) is what writes
    val docs = spark.range(1L, 4001L).select(
      col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"),
      element_at(typedLit(Seq("en", "de")),
        (col("id") % 2 + 1).cast("int")).as("lang"),
      lit("s1").as("source"),
      ((col("id") * 37) % 500 + 10).cast("long").as("n_chars"))
    // AQE legitimately coalesces this KB-sized shuffle back into one
    // task (merging whole rank groups cannot move a file boundary; at
    // scale it coalesces toward the advisory partition SIZE, keeping
    // thousands of tasks per terabyte lang) — disable coalescing here
    // so the pin observes the raw multi-task split
    Posture.withConfs(spark,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
    Cdc.versionedInit(spark, docs, root, Cdc.defaultZoneRows)
    // >1 write task per lang: distinct part indices in each lang dir
    def taskIds(dir: String): Set[String] =
      new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("part-")).map(_.split("-")(1)).toSet
    Seq("en", "de").foreach { l =>
      assert(taskIds(s"$root/d0/lang=$l").size > 1, s"$l written by one task")
    }
    // file boundaries: EXACTLY the global (lang, doc_id)-sorted roll —
    // the contract every oracle recomputes, now produced by many tasks
    val expected = docs.collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
      .groupBy(_._1).flatMap { case (l, rs) =>
        rs.map(_._2).sorted.grouped(Cdc.defaultZoneRows).map(c =>
          (l, c.min, c.max, c.size.toLong))
      }.toSet
    val got = Cdc.manifestFrame(spark, s"$root/m/v=0").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("min_doc_id"),
        r.getAs[Long]("max_doc_id"), r.getAs[Long]("n_rows"))).toSet
    assert(got === expected)
    // same contract under an evolved sort key — n_chars is coarse, so
    // this exercises the doc_id SUB-cell branch of the rank grid
    Cdc.resortCommit(spark, root, 0, 1, Cdc.defaultZoneRows)
    val expectedN = docs.collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("doc_id")))
      .groupBy(_._1).flatMap { case (l, rs) =>
        rs.map(t => (t._2, t._3)).sortBy(identity)
          .grouped(Cdc.defaultZoneRows).map { c =>
            (l, c.map(_._1).min, c.map(_._1).max,
              c.map(_._2).min, c.map(_._2).max, c.size.toLong) }
      }.toSet
    val gotN = Cdc.manifestFrame(spark, s"$root/m/v=1").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("min_n_chars"),
        r.getAs[Long]("max_n_chars"), r.getAs[Long]("min_doc_id"),
        r.getAs[Long]("max_doc_id"), r.getAs[Long]("n_rows"))).toSet
    assert(gotN === expectedN)
    Seq("en", "de").foreach { l =>
      assert(taskIds(s"$root/d1/lang=$l").size > 1, s"resort $l one task")
    }
    }
  }

  test("hot primary value in the rank grid re-cells instead of serializing " +
    "one row_number window; group boundaries stay the global-sorted roll") {
    import org.apache.spark.sql.functions._
    // one lang, 4000 rows: n_chars 100 dominates (3500 rows) inside a
    // multi-value grid cell (101 sits beside it; the spread tail forces
    // cell width w1 > 1) — the r16 verdict's residual straggler shape.
    // Refinement level 1 value-splits the heavy multi-value cell, level 2
    // doc-splits the then-isolated heavy single value.
    val docs = spark.range(1L, 4001L).select(
      col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"),
      lit("en").as("lang"),
      lit("s1").as("source"),
      when(col("id") <= 3500L, 100L)
        .when(col("id") <= 3600L, 101L)
        .otherwise((col("id") % 400L) * 27L + 200L).as("n_chars"))
    val zoneRows = 16
    val sortCols = Seq("lang", "n_chars", "doc_id")
    val g = Cdc.zoneGrid(docs, zoneRows, sortCols).get
      .select((Seq("lang", "n_chars", "doc_id", "__grp") ++
        Cdc.zoneGridKeys).map(col): _*).collect()
    // (a) no window partition exceeds the hot-cell bound — the hot value's
    // 3500 rows must spread over many (lang, grid-key) cells
    val hotBound = 4L * zoneRows * Cdc.zoneSplitFiles
    val cellSizes = g.groupBy(r =>
      (r.getAs[String]("lang"), r.getAs[Long]("__c1"), r.getAs[Long]("__c2"),
        r.getAs[Long]("__r1"), r.getAs[Long]("__r2"))).view.mapValues(_.length)
    val worst = cellSizes.values.max
    assert(worst <= hotBound,
      s"largest rank window holds $worst rows (> bound $hotBound) — the " +
        "hot value serialized through one window partition again")
    assert(cellSizes.size > 200,
      "the hot value's rows did not spread across sub-cells")
    // (b) exactness: every row's rank group equals its global-sorted rank
    // div splitRows — the bit-identical-boundary contract, per row
    val splitRows = zoneRows.toLong * Cdc.zoneSplitFiles
    val expected = g.map(r => (r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")))
      .sortBy(identity).zipWithIndex
      .map { case (k, i) => k -> (i.toLong / splitRows) }.toMap
    g.foreach { r =>
      val k = (r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("__grp") === expected(k),
        s"row $k landed in group ${r.getAs[Long]("__grp")}, global sort " +
          s"says ${expected(k)}")
    }
  }

  test("clustered doc ids in the equi-depth rank grid re-cell instead of " +
    "serializing one window; ranks stay the exact global ranks") {
    import org.apache.spark.sql.functions._
    // two id clusters far apart (RTBF holes / id-space migration): the
    // fixed-width 4096-cell grid over [mn, mx] pushes each cluster into
    // ONE cell (~5000 rows), the r17 residual straggler shape for the
    // doc_id rank. Refinement must doc-interval-split the heavy cells.
    val docs = spark.range(0L, 10000L).select(
      when(col("id") < 5000L, col("id") + 1L)
        .otherwise(col("id") - 5000L + 1000000000L).as("doc_id"),
      lit("en").as("lang"),
      ((col("id") * 37L) % 997L + 10L).as("n_chars"))
    val g = Cdc.zorderEquiDepthKeyed(docs, 8, keepKeys = true)
      .select("doc_id", "n_chars", "__c", "__r", "__ra").collect()
    // (a) bounded windows: unique ids mean a doc-interval sub-cell of
    // width ceil(range/256) holds at most that many rows
    val worst = g.groupBy(r =>
      (r.getAs[Long]("__c"), r.getAs[Long]("__r"))).view.mapValues(_.length)
    assert(worst.values.max <= 5000 / 256 + 2,
      s"largest rank window holds ${worst.values.max} rows — a clustered " +
        "id cell serialized through one window partition")
    // (b) exactness: __ra is the exact global doc_id rank, per row
    val rank = g.map(_.getAs[Long]("doc_id")).sorted.zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    g.foreach(r => assert(r.getAs[Long]("__ra") === rank(r.getAs[Long]("doc_id"))))
    // (c) the skew-free path is unchanged: dense ids produce no heavy
    // cell, and the keyed output matches a driver-side recompute of the
    // full equi-depth Morton key
    val dense = spark.range(1L, 2001L).select(col("id").as("doc_id"),
      lit("en").as("lang"), ((col("id") * 13L) % 211L + 5L).as("n_chars"))
    val keyed = Cdc.zorderEquiDepthKeyed(dense, 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("zbucket")).toMap
    val rows = dense.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars")))
    val n = rows.length.toLong
    val raM = rows.map(_._1).sorted.zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val sortedV = rows.map(_._2).sorted
    val rbM = rows.map(_._2).distinct
      .map(v => v -> (sortedV.indexWhere(_ == v) + 1L)).toMap
    def morton16(a: Long, b: Long): Long = {
      // mirror StorageLayout.morton: dim A at even bits, B shifted to odd
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    rows.foreach { case (id, v) =>
      val qa = (raM(id) - 1L) * 65536L / n
      val qb = (rbM(v) - 1L) * 65536L / n
      assert(keyed(id) === (morton16(qa, qb) >> (32 - 8)),
        s"zbucket mismatch for doc $id")
    }
  }

  test("cost-gated auto-OPTIMIZE: keep writes nothing, an amortizing " +
    "workload commits, and the gate arithmetic is exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // pure gate logic on hand-built advice frames (the decision is a
    // deterministic function of 4 metadata rows)
    def advice(rows: Seq[(String, Long, Long, Long)]) =
      rows.toDF("layout", "rows_scanned", "rows_total", "rank")
        .select(col("layout"), lit(0L).as("files_total"),
          lit(0L).as("files_admitted"), col("rows_scanned"),
          col("rows_total"), col("rank"))
    val adv = advice(Seq(
      ("by_doc_id", 100L, 10000L, 1L), ("zorder_ed", 600L, 10000L, 2L),
      ("zorder", 700L, 10000L, 3L), ("by_n_chars", 900L, 10000L, 4L)))
    def decide(a: org.apache.spark.sql.DataFrame, cur: String, reps: Long) = {
      val r = Cdc.optimizeGateDecision(a, cur, reps).head
      (r.getAs[String]("winner"), r.getAs[Long]("saving_rows"),
        r.getAs[Long]("rewrite_rows"), r.getAs[String]("action"))
    }
    // saving 500/replay: 1 replay never pays 10000; 21 replays do
    assert(decide(adv, "zorder_ed", 1L) === ("by_doc_id", 500L, 10000L, "keep"))
    assert(decide(adv, "zorder_ed", 21L) ===
      ("by_doc_id", 500L, 10000L, "rewrite"))
    // winner == current keeps regardless of the replay count
    assert(decide(adv, "by_doc_id", 1000000L)._4 === "keep")
    // against the real store: keep writes NOTHING; a forced-amortizing
    // replay count applies the winner as the v7 commit with no row moved
    val docs2 = Tables.load(spark, sf, "documents")
    val root = java.nio.file.Files
      .createTempDirectory("graft_gate").toString
    Cdc.zorderEdStore(spark, docs2, root)
    val realAdvice = Cdc.layoutAdvice(spark, docs2, root)
    val (_, kept) = Cdc.optimizeAutoGatedCommit(
      spark, root, 6, 7, Cdc.defaultZoneRows, realAdvice,
      current = "zorder_ed", nReplays = 1L)
    assert(kept === "keep", "a single replay can never amortize a full " +
      "rewrite — the gate must keep")
    assert(!new java.io.File(s"$root/m/v=7").exists(),
      "keep must leave no new version behind")
    // at the spec SF every layout ties at the file-resolution floor
    // (saving = 0), so even an enormous replay count must keep — the
    // honest decision, pinned
    val (_, keptHuge) = Cdc.optimizeAutoGatedCommit(
      spark, root, 6, 7, Cdc.defaultZoneRows, realAdvice,
      current = "zorder_ed", nReplays = 1000000000L)
    val saving = Cdc.optimizeGateDecision(realAdvice, "zorder_ed", 1L)
      .head.getAs[Long]("saving_rows")
    assert(saving === 0L && keptHuge === "keep",
      s"saving $saving at the resolution floor should gate to keep")
    assert(!new java.io.File(s"$root/m/v=7").exists())
    // the rewrite branch, forced by an advice frame where the winner's
    // saving amortizes: the commit lands as v7 — the same rewrite-only
    // discipline as the ungated auto-OPTIMIZE — and moves no row
    val (winner2, action2) = Cdc.optimizeAutoGatedCommit(
      spark, root, 6, 7, Cdc.defaultZoneRows, adv,
      current = "zorder_ed", nReplays = 21L)
    assert(winner2 === "by_doc_id" && action2 === "rewrite")
    assert(new java.io.File(s"$root/m/v=7").exists(),
      "rewrite decision must land the commit")
    val before = Cdc.readVersion(spark, root, 6)
      .collect().map(_.toSeq).toSet
    val after = Cdc.readVersion(spark, root, 7)
      .collect().map(_.toSeq).toSet
    assert(after === before, "the gated commit moved a row")
  }

  test("logged-workload advisor equals the hand-fed advisor on the same bands") {
    val docs = Tables.load(spark, sf, "documents")
    val root = java.nio.file.Files
      .createTempDirectory("graft_wlog").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[Long]("files_total"),
        r.getAs[Long]("files_admitted"), r.getAs[Long]("rows_scanned"),
        r.getAs[Long]("rows_total"), r.getAs[Long]("rank"))).toSet
    val logged = rows(Cdc.layoutAdviceLogged(spark, docs, root))
    val handFed = rows(Cdc.layoutAdviceMixed(spark, docs, root))
    assert(logged === handFed && logged.nonEmpty,
      "capture -> replay must reconstruct the hand-authored workload")
    // the log itself is metadata-sized: exactly the two issued bands
    val log = spark.read.parquet(s"$root/wlog")
      .select("qid", "col_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(log === Set((0L, "doc_id"), (1L, "n_chars")))
  }

  test("rtbfPurgeAll: one call purges the store AND both derived index " +
    "artifacts, with the purge set read from each artifact itself") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files
      .createTempDirectory("graft_rtbf_all").toString
    val store = s"$root/store"
    Cdc.versionedInit(spark, fixture2, store)
    Cdc.versionedMerge(spark, store, 0, 1, Cdc.day1Rules)
    val emb = Tables.load(spark, sf, "embeddings")
    val annDir = s"$root/ann"
    graft.operators.Similarity.writeIvfPqIndexFull(emb, annDir)
    val docs = Tables.load(spark, sf, "documents")
    val dedupIdx = s"$root/dedup_idx"
    graft.operators.Dedup.writeBucketIndex(
      docs.select(col("doc_id"), col("text")), dedupIdx)
    // fixture sanity: all three artifacts hold ids ≡ 0 (mod 7) before
    def storeIds(v: Int) = Cdc.readVersion(spark, store, v)
      .select("doc_id").collect().map(_.getLong(0))
    def annServed = graft.operators.Similarity.annIvfPqAppended(emb, annDir)
      .collect().map(_.getLong(1))
    def dedupIds = spark.read.parquet(dedupIdx)
      .select("doc_id").collect().map(_.getLong(0))
    assert(storeIds(1).exists(_ % 7 == 0) && annServed.exists(_ % 7 == 0) &&
      dedupIds.exists(_ % 7 == 0), "vacuous fixture")
    Cdc.rtbfPurgeAll(spark, store, Seq(0, 1), 7L, 0L,
      annIndexDir = Some(annDir), dedupIndexDir = Some(dedupIdx))
    // store: gone from every version's read
    (0 to 1).foreach(v => assert(!storeIds(v).exists(_ % 7 == 0)))
    // ann: tombstoned — unsearchable through every persisted path now,
    // physical removal deferred to the compact cadence
    assert(new java.io.File(s"$annDir/tombstones").exists())
    assert(!annServed.exists(_ % 7 == 0))
    // dedup bucket index: swept physically (staged rewrite)
    assert(!dedupIds.exists(_ % 7 == 0) && dedupIds.nonEmpty)
  }

  test("weighted logged advisor prices observed frequency and equals the " +
      "hand-fed weighted advisor; unweighted read of the same log still " +
      "matches set semantics") {
    val docs = Tables.load(spark, sf, "documents")
    val root = java.nio.file.Files
      .createTempDirectory("graft_wlog3").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[Long]("files_total"),
        r.getAs[Long]("files_admitted"), r.getAs[Long]("rows_scanned"),
        r.getAs[Long]("rows_total"), r.getAs[Long]("rank"))).toSet
    val weighted = rows(Cdc.layoutAdviceWeighted(spark, docs, root))
    val (dlo, dhi) = Cdc.zoneBand(docs)
    val (nlo, nhi) = Cdc.nCharsBand(docs)
    val handFed = rows(Cdc.adviseLayoutWeighted(spark, root, Cdc.zedLayouts,
      Seq((Seq(("doc_id", dlo, dhi)), 3L), (Seq(("n_chars", nlo, nhi)), 1L))))
    assert(weighted === handFed && weighted.nonEmpty,
      "log-fed weighted advice must equal the hand-fed 3:1 workload")
    // the same 3:1 log read UNWEIGHTED collapses to the 1:1 mixed advice
    // — duplicate rows carry frequency only when asked for
    val unweighted =
      rows(Cdc.adviseLayoutLogged(spark, root, Cdc.zedLayouts,
        s"$root/wlog3"))
    assert(unweighted === rows(Cdc.layoutAdviceMixed(spark, docs, root)),
      "set semantics must be frequency-blind over the weighted log")
    // a qid whose band rows disagree on replay count is a contract
    // violation the weighted read refuses loudly
    import spark.implicits._
    val bad = java.nio.file.Files
      .createTempDirectory("graft_wlog_bad").toString
    Seq((0L, "doc_id", 1L, 9L), (0L, "doc_id", 1L, 9L),
      (0L, "n_chars", 2L, 8L))
      .toDF("qid", "col_name", "lo", "hi").write.mode("append").parquet(bad)
    val e = intercept[IllegalArgumentException] {
      Cdc.adviseLayoutLogged(spark, root, Cdc.zedLayouts, bad,
        weighted = true)
    }
    assert(e.getMessage.contains("differing"))
  }

  test("as-of scan-path normalizer strips scheme AND authority the same " +
    "way on every URI shape the join can meet") {
    // the r18 hazard: the scan side regex kept the authority while the
    // manifest side's URI.getPath dropped it, so on authority-bearing
    // URIs (s3a://bucket/…, hdfs://nn:8020/…) the inner join silently
    // returned zero rows. One shared pattern must reduce every shape to
    // the same bare path.
    val shapes = Seq(
      "file:/a/lang=en/part-0.parquet",       // Hadoop Path.toString
      "file:///a/lang=en/part-0.parquet",     // input_file_name
      "s3a://bucket/a/lang=en/part-0.parquet",
      "hdfs://nn:8020/a/lang=en/part-0.parquet",
      "/a/lang=en/part-0.parquet")            // already bare
    assert(shapes.map(Cdc.normalizeScanPath).toSet ===
      Set("/a/lang=en/part-0.parquet"),
      "every URI shape must normalize to the same bare path")
    // and the column-side normalizer is the SAME pattern applied by the
    // same regex engine — pin the textual identity, not just behavior
    import spark.implicits._
    val viaColumn = shapes.toDF("p")
      .select(org.apache.spark.sql.functions.regexp_replace(
        $"p", Cdc.scanPathNormRe, "").as("n"))
      .as[String].collect().toSet
    assert(viaColumn === Set("/a/lang=en/part-0.parquet"))
  }
}
