package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** MetaCatalog v2 — the Iceberg-shaped table semantics the reference gets
  * from `datafusion_iceberg` (Cargo.lock:1341): snapshot commits, VERSION /
  * TIMESTAMP AS OF time travel, INSERT OVERWRITE isolation, copy-on-write
  * DELETE, ALTER TABLE schema evolution, identity-partitioned layouts. */
class CatalogV2Spec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    val wh = Files.createTempDirectory("graft_wh2").toString
    s.conf.set("spark.sql.catalog.g2", "graft.catalog.MetaCatalog")
    s.conf.set("spark.sql.catalog.g2.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS g2.db")
    s
  }

  test("each INSERT commits one snapshot; VERSION AS OF reads history") {
    spark.sql("CREATE TABLE g2.db.snap (a INT, s STRING)") // v1: empty
    spark.sql("INSERT INTO g2.db.snap VALUES (1, 'x')")    // v2
    spark.sql("INSERT INTO g2.db.snap VALUES (2, 'y')")    // v3
    assert(spark.sql("SELECT count(*) FROM g2.db.snap").collect().head.getLong(0) == 2)
    assert(spark.sql("SELECT count(*) FROM g2.db.snap VERSION AS OF 1")
      .collect().head.getLong(0) == 0)
    assert(spark.sql("SELECT a FROM g2.db.snap VERSION AS OF 2").collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    assert(spark.sql("SELECT a FROM g2.db.snap VERSION AS OF 3 ORDER BY a").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("TIMESTAMP AS OF resolves the latest snapshot at or before the time") {
    val now = System.currentTimeMillis()
    // all snapshots committed in the past relative to now+1h
    val futureTs = java.time.Instant.ofEpochMilli(now + 3600 * 1000L).toString
    assert(spark.sql(
      s"SELECT count(*) FROM g2.db.snap TIMESTAMP AS OF '$futureTs'")
      .collect().head.getLong(0) == 2)
    intercept[Exception] { // before table creation → no snapshot
      spark.sql("SELECT * FROM g2.db.snap TIMESTAMP AS OF '2000-01-01 00:00:00'")
        .collect()
    }
  }

  test("INSERT OVERWRITE replaces contents in a new snapshot; old reads intact") {
    spark.sql("CREATE TABLE g2.db.ow (a INT)")
    spark.sql("INSERT INTO g2.db.ow VALUES (1), (2)")      // v2
    spark.sql("INSERT OVERWRITE g2.db.ow VALUES (10)")     // v3
    assert(spark.sql("SELECT a FROM g2.db.ow").collect().map(_.getInt(0)).toSeq == Seq(10))
    assert(spark.sql("SELECT a FROM g2.db.ow VERSION AS OF 2 ORDER BY a").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("DELETE FROM is copy-on-write: survivors visible, history preserved") {
    spark.sql("CREATE TABLE g2.db.del (a INT, grp STRING)")
    spark.sql("INSERT INTO g2.db.del VALUES (1,'keep'), (2,'drop'), (3,'keep'), (4,'drop')")
    spark.sql("DELETE FROM g2.db.del WHERE grp = 'drop'")
    assert(spark.sql("SELECT a FROM g2.db.del ORDER BY a").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
    // pre-delete snapshot still has all four rows
    assert(spark.sql("SELECT count(*) FROM g2.db.del VERSION AS OF 2")
      .collect().head.getLong(0) == 4)
    // compound predicate
    spark.sql("DELETE FROM g2.db.del WHERE a > 1 AND grp = 'keep'")
    assert(spark.sql("SELECT a FROM g2.db.del").collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("DELETE keeps rows where the predicate is NULL (three-valued logic)") {
    spark.sql("CREATE TABLE g2.db.delnull (a INT, note STRING)")
    spark.sql("INSERT INTO g2.db.delnull VALUES (1,'x'), (10,'y'), (NULL,'z')")
    spark.sql("DELETE FROM g2.db.delnull WHERE a > 5")
    // a=NULL does NOT match a>5 → must survive
    val notes = spark.sql("SELECT note FROM g2.db.delnull ORDER BY note")
      .collect().map(_.getString(0)).toSeq
    assert(notes == Seq("x", "z"), notes.toString)
  }

  test("concurrent INSERTs never lose a commit (read-move-publish is atomic)") {
    spark.sql("CREATE TABLE g2.db.conc (a INT)")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val writes = (1 to 8).map { i =>
      Future { spark.sql(s"INSERT INTO g2.db.conc VALUES ($i)") }
    }
    Await.result(Future.sequence(writes), 120.seconds)
    assert(spark.sql("SELECT count(*) FROM g2.db.conc").collect().head.getLong(0) == 8)
    assert(spark.sql("SELECT sum(a) FROM g2.db.conc").collect().head.getLong(0) == 36)
  }

  test("DELETE replaces only the files it read; later INSERTs survive") {
    // simulate INSERT landing between DELETE's snapshot read and commit:
    // the surgical commit must keep files added after the base snapshot
    spark.sql("CREATE TABLE g2.db.delrace (a INT)")
    spark.sql("INSERT INTO g2.db.delrace VALUES (1), (2)")
    spark.sql("INSERT INTO g2.db.delrace VALUES (3)")
    spark.sql("DELETE FROM g2.db.delrace WHERE a = 1")
    // all snapshots' files still resolvable; current view = {2, 3}
    assert(spark.sql("SELECT a FROM g2.db.delrace ORDER BY a").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 3))
    // snapshot lineage: v4's file set keeps v3's new file (not rewritten,
    // since the delete base included it — this asserts the diff-based
    // commit path rather than blanket overwrite)
    val warehouse = spark.conf.get("spark.sql.catalog.g2.warehouse")
    val dir = java.nio.file.Paths.get(warehouse, "db", "delrace")
    val snaps = graft.catalog.Snapshots.list(dir)
    assert(snaps.length == 4)
  }

  test("ALTER TABLE ADD COLUMN: old files read NULL, new writes carry it") {
    spark.sql("CREATE TABLE g2.db.evo (a INT)")
    spark.sql("INSERT INTO g2.db.evo VALUES (1)")
    spark.sql("ALTER TABLE g2.db.evo ADD COLUMN note STRING")
    spark.sql("INSERT INTO g2.db.evo VALUES (2, 'new')")
    val rows = spark.sql("SELECT a, note FROM g2.db.evo ORDER BY a").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    assert(rows == Seq((1, None), (2, Some("new"))))
  }

  test("ALTER TABLE DROP COLUMN hides the column without rewriting data") {
    spark.sql("CREATE TABLE g2.db.evo2 (a INT, junk STRING)")
    spark.sql("INSERT INTO g2.db.evo2 VALUES (7, 'gone')")
    spark.sql("ALTER TABLE g2.db.evo2 DROP COLUMN junk")
    assert(spark.sql("SELECT * FROM g2.db.evo2").schema.fieldNames.toSeq == Seq("a"))
    assert(spark.sql("SELECT a FROM g2.db.evo2").collect().head.getInt(0) == 7)
  }

  test("ALTER TYPE beyond the legal widenings is rejected loudly " +
      "(old parquet keeps the physical kind)") {
    // int→bigint is a LEGAL widening since r16 (see the promotion
    // tests); a kind change is not — the narrow bytes cannot serve it
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE g2.db.evo2 ALTER COLUMN a TYPE STRING")
    }
    assert(e2.getMessage.contains("widening"))
  }

  test("identity-partitioned table: hive layout on disk, partition pruning on read") {
    spark.sql("CREATE TABLE g2.db.part (id INT, region STRING) PARTITIONED BY (region)")
    spark.sql("INSERT INTO g2.db.part VALUES (1,'eu'), (2,'us'), (3,'eu'), (4,'ap')")
    assert(spark.sql("SELECT id FROM g2.db.part WHERE region = 'eu' ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    // hive-style dirs actually exist under data/
    val warehouse = spark.conf.get("spark.sql.catalog.g2.warehouse")
    val dataDir = java.nio.file.Paths.get(warehouse, "db", "part", "data")
    val dirs = java.nio.file.Files.list(dataDir).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (dirs.hasNext) names += dirs.next().getFileName.toString
    assert(names.toSet == Set("region=eu", "region=us", "region=ap"), names.toString)
    // the region predicate lands in PartitionFilters (dir-level pruning),
    // NOT in data filters — the scan never opens non-eu files
    val plan = spark.sql("SELECT id FROM g2.db.part WHERE region = 'eu'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.matches(
      "(?s).*PartitionFilters: \\[[^\\]]*region[^\\]]*eu[^\\]]*\\].*"),
      s"expected region=eu in PartitionFilters:\n$plan")
  }

  test(".partitions metadata table reports per-partition file/row/byte counts") {
    // self-contained (never depend on another test's table — filtered
    // runs break the ordering)
    spark.sql("CREATE TABLE g2.db.partmeta (id INT, region STRING) " +
      "PARTITIONED BY (region)")
    spark.sql("INSERT INTO g2.db.partmeta VALUES (1,'eu'), (2,'us'), " +
      "(3,'eu'), (4,'ap')")
    val parts = spark.sql(
      "SELECT partition, file_count, record_count " +
        "FROM g2.db.partmeta.partitions ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(parts.map(_._1) == Seq("region=ap", "region=eu", "region=us"))
    assert(parts.map(_._3) == Seq(1L, 2L, 1L), s"row counts: $parts")
    assert(parts.forall(_._2 >= 1L))
    // unpartitioned table: ONE empty-string partition row
    spark.sql("CREATE TABLE g2.db.nopart (a INT)")
    spark.sql("INSERT INTO g2.db.nopart VALUES (1), (2), (3)")
    val np = spark.sql(
      "SELECT partition, record_count FROM g2.db.nopart.partitions")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(np == Seq(("", 3L)), np.toString)
    // sizes come from the filesystem and are positive
    assert(spark.sql("SELECT sum(size_bytes) FROM g2.db.partmeta.partitions")
      .collect().head.getLong(0) > 0L)
  }

  test("partitioned table: translatable DELETE still takes deleteWhere " +
      "(metadata path, no rewrite); ReplaceData ops route partitions") {
    // Regression: SupportsRowLevelOperations is matched by
    // RewriteDeleteFromTable BEFORE SupportsDeleteV2, so an eager
    // partitioned-table throw in newRowLevelOperationBuilder fired at
    // analysis and killed DELETEs that OptimizeMetadataOnlyDeleteFromTable
    // would have converted back to the metadata deleteWhere path.
    spark.sql("CREATE TABLE g2.db.pdel (id INT, region STRING) PARTITIONED BY (region)")
    spark.sql("INSERT INTO g2.db.pdel VALUES (1,'eu'), (2,'us'), (3,'eu'), (4,'ap')")
    spark.sql("DELETE FROM g2.db.pdel WHERE region = 'us'")
    spark.sql("DELETE FROM g2.db.pdel WHERE id = 3")
    assert(spark.sql("SELECT id FROM g2.db.pdel ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 4))
    // metadata-only path = no data file rewrite: the survivors' files
    // are untouched originals (COW would produce new part files)
    val files = spark.sql("SELECT file_path FROM g2.db.pdel.files")
      .collect().map(_.getString(0)).toSeq
    assert(files.forall(f => f.contains("region=eu") || f.contains("region=ap")),
      files.mkString(", "))
    // A command that genuinely needs the ReplaceData write path now
    // routes partition dirs in the V2 writer (round 7) instead of
    // rejecting — see "row-level SQL commands route partition dirs".
    spark.sql("UPDATE g2.db.pdel SET id = id + 10 WHERE id > 0")
    assert(spark.sql("SELECT id FROM g2.db.pdel ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(11, 14))
  }

  test("TRUNCATE TABLE commits an empty snapshot") {
    spark.sql("CREATE TABLE g2.db.tr (a INT)")
    spark.sql("INSERT INTO g2.db.tr VALUES (1), (2)")
    spark.sql("TRUNCATE TABLE g2.db.tr")
    assert(spark.sql("SELECT count(*) FROM g2.db.tr").collect().head.getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM g2.db.tr VERSION AS OF 2")
      .collect().head.getLong(0) == 2)
  }

  test(".snapshots metadata table lists the commit log") {
    spark.sql("CREATE TABLE g2.db.log (a INT)")          // v1
    spark.sql("INSERT INTO g2.db.log VALUES (1)")        // v2
    spark.sql("INSERT INTO g2.db.log VALUES (2), (3)")   // v3
    val snaps = spark.sql(
      "SELECT version, n_files FROM g2.db.log.snapshots ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(snaps.map(_._1) == Seq(1L, 2L, 3L))
    assert(snaps.head._2 == 0)                            // v1 empty
    assert(snaps(1)._2 > 0 && snaps(2)._2 > snaps(1)._2)  // files accumulate
    // committed_at is monotone
    val ts = spark.sql("SELECT committed_at FROM g2.db.log.snapshots ORDER BY version")
      .collect().map(_.getTimestamp(0).getTime)
    assert(ts.sorted.toSeq == ts.toSeq)
  }

  test("compact rewrites many small commits into sorted target files") {
    spark.sql("CREATE TABLE g2.db.cmp (k INT, v STRING)")
    (1 to 6).foreach { i => // 6 commits -> >= 6 files
      spark.sql(s"INSERT INTO g2.db.cmp VALUES ($i, 'a$i'), (${i + 100}, 'b$i')")
    }
    val (before, after) =
      graft.catalog.Maintenance.compact(spark, "g2.db.cmp", Seq("k"), targetFiles = 2)
    assert(before >= 6, s"expected one+ file per commit, got $before")
    assert(after <= 2, s"expected <= 2 compacted files, got $after")
    // contents identical, history intact
    assert(spark.sql("SELECT count(*), sum(k) FROM g2.db.cmp").collect().head
      .toSeq == Seq(12L, (1 to 6).map(i => i + i + 100).sum.toLong))
    assert(spark.sql("SELECT count(*) FROM g2.db.cmp VERSION AS OF 4")
      .collect().head.getLong(0) == 6) // pre-compaction snapshot readable
    // range clustering: each file's k-range is disjoint (sorted layout)
    val files = graft.catalog.Snapshots
      .latest(java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "cmp"))
      .get.files
    val ranges = files.map { f =>
      val p = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "cmp").resolve(f)
      val df = spark.read.parquet(p.toString)
      val r = df.agg(org.apache.spark.sql.functions.min("k"),
        org.apache.spark.sql.functions.max("k")).collect().head
      (r.getInt(0), r.getInt(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 < b._1, s"overlapping ranges $a $b")
      case _ => ()
    }
  }

  test("aggregate pushdown: COUNT/MIN/MAX answered from parquet footer " +
      "stats through the catalog scan") {
    spark.sql("CREATE TABLE g2.db.aggpd (a INT, s STRING)")
    spark.sql("INSERT INTO g2.db.aggpd VALUES (1,'x'), (5,'y'), (3,'z')")
    spark.sql("INSERT INTO g2.db.aggpd VALUES (7,'w')")
    // a DEDICATED session: suites run in parallel in this JVM, and
    // flipping aggregatePushdown on the shared session would flip
    // concurrently-running COUNT/MIN/MAX plans (and their flips could
    // break this test's negative assertion)
    val iso = spark.newSession()
    iso.conf.set("spark.sql.catalog.g2", "graft.catalog.MetaCatalog")
    iso.conf.set("spark.sql.catalog.g2.warehouse",
      spark.conf.get("spark.sql.catalog.g2.warehouse"))
    val spark2 = iso
    val prev = spark2.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    spark2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      // the whole aggregate compiles to a footer-stats read: at 100 TB
      // this is O(files) metadata, zero data bytes scanned
      val df = spark2.sql(
        "SELECT count(*) AS c, min(a) AS mn, max(a) AS mx FROM g2.db.aggpd")
      val r = df.collect().head
      assert((r.getLong(0), r.getInt(1), r.getInt(2)) == ((4L, 1, 7)))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT(*)"), plan)
      // time travel aggregates the PINNED snapshot's file set
      val old = spark2.sql("SELECT count(*) AS c, max(a) AS mx " +
        "FROM g2.db.aggpd VERSION AS OF 2").collect().head
      assert((old.getLong(0), old.getInt(1)) == ((3L, 5)))
      // COW DELETE rewrites the inventory; stats follow the new files
      spark2.sql("DELETE FROM g2.db.aggpd WHERE a = 7")
      val after = spark2.sql(
        "SELECT count(*) AS c, max(a) AS mx FROM g2.db.aggpd").collect().head
      assert((after.getLong(0), after.getInt(1)) == ((3L, 5)))
      // a residual data filter disables the pushdown — correct fallback
      val filtered = spark2.sql(
        "SELECT count(*) AS c FROM g2.db.aggpd WHERE s <> 'q'")
      assert(filtered.collect().head.getLong(0) == 3L)
      assert(!filtered.queryExecution.executedPlan.toString
        .contains("PushedAggregation: [COUNT"))
    } finally spark2.conf.set("spark.sql.parquet.aggregatePushdown", prev)
  }

  test("DELETE prunes by footer stats: non-overlapping files keep their identity") {
    spark.sql("CREATE TABLE g2.db.delprune (k INT, v STRING)")
    spark.sql("INSERT INTO g2.db.delprune SELECT id, concat('v', id) FROM range(100)")
    graft.catalog.Maintenance.compact(spark, "g2.db.delprune", Seq("k"), targetFiles = 4)
    val wh = spark.conf.get("spark.sql.catalog.g2.warehouse")
    val dir = java.nio.file.Paths.get(wh, "db", "delprune")
    val beforeFiles = graft.catalog.Snapshots.latest(dir).get.files.toSet
    assert(beforeFiles.size == 4)
    // delete a key that lives in exactly one range-partitioned file
    spark.sql("DELETE FROM g2.db.delprune WHERE k = 7")
    val afterFiles = graft.catalog.Snapshots.latest(dir).get.files.toSet
    val kept = beforeFiles.intersect(afterFiles)
    assert(kept.size == 3, // three files provably unaffected, untouched
      s"expected 3 surviving original files, got ${kept.size}")
    assert(spark.sql("SELECT count(*) FROM g2.db.delprune").collect()
      .head.getLong(0) == 99)
    // a provable no-op DELETE commits nothing
    val vBefore = graft.catalog.Snapshots.latest(dir).get.version
    spark.sql("DELETE FROM g2.db.delprune WHERE k = 100000")
    assert(graft.catalog.Snapshots.latest(dir).get.version == vBefore)
  }

  test("snapshot tags: VERSION AS OF '<name>', expiry protection, .refs") {
    spark.sql("CREATE TABLE g2.db.tagged (a INT)")          // v1 empty
    spark.sql("INSERT INTO g2.db.tagged VALUES (1), (2)")   // v2
    spark.sql("INSERT INTO g2.db.tagged VALUES (3)")        // v3
    spark.sql("INSERT OVERWRITE g2.db.tagged VALUES (9)")   // v4
    // pin the pre-overwrite corpus as a named tag via SQL
    val created = spark.sql(
      "CALL g2.system.create_tag('db.tagged', 'train-run-1', 3)").collect()
    assert(created.head.getString(0) == "train-run-1" &&
      created.head.getLong(1) == 3L)
    // tag reads resolve to the pinned snapshot
    assert(spark.sql(
      "SELECT a FROM g2.db.tagged VERSION AS OF 'train-run-1' ORDER BY a")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // .refs metadata table lists it
    val refs = spark.sql("SELECT name, version FROM g2.db.tagged.refs")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(refs == Seq(("train-run-1", 3L)))
    // tags are immutable; numeric names are rejected as ambiguous
    intercept[Exception] { spark.sql(
      "CALL g2.system.create_tag('db.tagged', 'train-run-1', 2)").collect() }
    intercept[Exception] { spark.sql(
      "CALL g2.system.create_tag('db.tagged', '7', 2)").collect() }
    // expiry keeps the tagged snapshot (and its files) alive
    val (dropped, _) = graft.catalog.Maintenance.expireSnapshots(
      spark, "g2.db.tagged", keepLast = 1)
    assert(dropped == 2) // v1, v2 expired; v3 survives via the tag
    assert(spark.sql(
      "SELECT a FROM g2.db.tagged VERSION AS OF 'train-run-1' ORDER BY a")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    intercept[Exception] { spark.sql(
      "SELECT * FROM g2.db.tagged VERSION AS OF 2").collect() }
    // dropping the tag releases the protection; the next expiry reclaims
    assert(spark.sql("CALL g2.system.drop_tag('db.tagged', 'train-run-1')")
      .collect().head.getBoolean(0))
    val (dropped2, _) = graft.catalog.Maintenance.expireSnapshots(
      spark, "g2.db.tagged", keepLast = 1)
    assert(dropped2 == 1)
    intercept[Exception] { spark.sql(
      "SELECT * FROM g2.db.tagged VERSION AS OF 'train-run-1'").collect() }
    // unknown tag errors name the available tags
    val err = intercept[Exception] { spark.sql(
      "SELECT * FROM g2.db.tagged VERSION AS OF 'nope'").collect() }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    assert(msgs(err).contains("no tag or branch 'nope'"))
  }

  test("remove_orphan_files reclaims dropped-branch leftovers, keeps " +
      "referenced and too-young files") {
    spark.sql("CREATE TABLE g2.db.orph (a INT)")          // v1
    spark.sql("INSERT INTO g2.db.orph VALUES (1)")        // v2
    spark.sql("CALL g2.system.create_branch('db.orph', 'tmp', 2)").collect()
    spark.sql("INSERT INTO g2.db.orph.branch_tmp VALUES (2), (3)")
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "orph")
    def dataFiles: Set[String] = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(dir.resolve("data"))) {
        _.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(_.toString).toSet
      }
    }
    val before = dataFiles
    // branch-referenced staged files are NOT orphans
    assert(graft.catalog.Maintenance.removeOrphanFiles(
      spark, "g2.db.orph", olderThanMillis = 0) == 0)
    assert(spark.sql("CALL g2.system.drop_branch('db.orph', 'tmp')")
      .collect().head.getBoolean(0))
    // too-young guard: default cutoff deletes nothing
    assert(spark.sql(
      "CALL g2.system.remove_orphan_files('db.orph', 24)").collect()
      .head.getInt(0) == 0)
    assert(dataFiles == before)
    // cutoff 0: the dropped branch's staged files are reclaimed
    val n = graft.catalog.Maintenance.removeOrphanFiles(
      spark, "g2.db.orph", olderThanMillis = 0)
    assert(n >= 1, s"expected staged orphans reclaimed, got $n")
    assert(spark.sql("SELECT a FROM g2.db.orph").collect()
      .map(_.getInt(0)).toSeq == Seq(1), "main content untouched")
    assert(spark.sql("SELECT a FROM g2.db.orph VERSION AS OF 1").collect()
      .isEmpty) // historical snapshots still resolve
  }

  test("concurrent branch staging never loses a commit; a concurrent " +
      "main commit makes fast_forward fail loudly, not drop data") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    spark.sql("CREATE TABLE g2.db.bconc (a INT)")          // v1
    spark.sql("INSERT INTO g2.db.bconc VALUES (0)")        // v2
    spark.sql("CALL g2.system.create_branch('db.bconc', 'st', 2)").collect()
    // 8 concurrent staged INSERTs race the branch log's CAS
    val writes = (1 to 8).map { i =>
      Future { spark.sql(s"INSERT INTO g2.db.bconc.branch_st VALUES ($i)") }
    }
    Await.result(Future.sequence(writes), 120.seconds)
    assert(spark.sql("SELECT sum(a) FROM g2.db.bconc.branch_st")
      .collect().head.getLong(0) == 36)
    assert(spark.sql("SELECT count(*) FROM g2.db.bconc")
      .collect().head.getLong(0) == 1)
    // main moves past the fork -> the publish must FAIL, and the
    // concurrent main row must never vanish
    spark.sql("INSERT INTO g2.db.bconc VALUES (100)")      // v3
    val err = intercept[Exception] { spark.sql(
      "CALL g2.system.fast_forward('db.bconc', 'st')").collect() }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    assert(msgs(err).contains("not fast-forwardable"))
    assert(spark.sql("SELECT sum(a) FROM g2.db.bconc")
      .collect().head.getLong(0) == 100)
  }

  test("rollback_to_version restores old content as a NEW snapshot") {
    spark.sql("CREATE TABLE g2.db.rollb (a INT)")          // v1
    spark.sql("INSERT INTO g2.db.rollb VALUES (1), (2)")   // v2
    spark.sql("INSERT OVERWRITE g2.db.rollb VALUES (9)")   // v3
    val out = spark.sql(
      "CALL g2.system.rollback_to_version('db.rollb', 2)").collect()
    assert(out.head.getLong(0) == 2L && out.head.getLong(1) == 4L)
    assert(spark.sql("SELECT a FROM g2.db.rollb ORDER BY a")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // append-only history: the overwritten state is still readable
    assert(spark.sql("SELECT a FROM g2.db.rollb VERSION AS OF 3")
      .collect().map(_.getInt(0)).toSeq == Seq(9))
    intercept[Exception] { spark.sql(
      "CALL g2.system.rollback_to_version('db.rollb', 99)").collect() }
  }

  test("WAP branches: stage, audit, fast-forward publish, expiry safety") {
    spark.sql("CREATE TABLE g2.db.wap (a INT)")          // v1 empty
    spark.sql("INSERT INTO g2.db.wap VALUES (1), (2)")   // v2 main
    val created = spark.sql(
      "CALL g2.system.create_branch('db.wap', 'audit', 2)").collect()
    assert(created.head.getString(0) == "audit" &&
      created.head.getLong(1) == 2L)
    // stage on the branch: MAIN MUST NOT SEE IT
    spark.sql("INSERT INTO g2.db.wap.branch_audit VALUES (3), (4)")
    assert(spark.sql("SELECT count(*) FROM g2.db.wap")
      .collect().head.getLong(0) == 2)
    // audit reads: the branch handle and VERSION AS OF '<branch>'
    assert(spark.sql("SELECT a FROM g2.db.wap.branch_audit ORDER BY a")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    assert(spark.sql("SELECT a FROM g2.db.wap VERSION AS OF 'audit' ORDER BY a")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    // staged commits stack; a row-level fixup on the branch stays staged
    spark.sql("INSERT INTO g2.db.wap.branch_audit VALUES (5)")
    spark.sql("DELETE FROM g2.db.wap.branch_audit WHERE a = 4")
    assert(spark.sql("SELECT a FROM g2.db.wap.branch_audit ORDER BY a")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 5))
    assert(spark.sql("SELECT count(*) FROM g2.db.wap")
      .collect().head.getLong(0) == 2)
    // .refs lists the branch with its fork point
    val refs = spark.sql(
      "SELECT name, type, version FROM g2.db.wap.refs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs == Seq(("audit", "BRANCH", 2L)))
    // a tag cannot shadow a branch name (one VERSION AS OF namespace)
    intercept[Exception] { spark.sql(
      "CALL g2.system.create_tag('db.wap', 'audit', 2)").collect() }
    // expiry keeps the fork snapshot AND the staged files alive
    val (droppedW, _) = graft.catalog.Maintenance.expireSnapshots(
      spark, "g2.db.wap", keepLast = 1)
    assert(droppedW == 1) // only v1; v2 is the branch fork point
    assert(spark.sql("SELECT a FROM g2.db.wap.branch_audit ORDER BY a")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 5))
    // publish: main jumps to the branch head atomically
    val pub = spark.sql(
      "CALL g2.system.fast_forward('db.wap', 'audit')").collect()
    assert(pub.head.getLong(0) == 3L)
    assert(spark.sql("SELECT a FROM g2.db.wap ORDER BY a")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 5))
    // the branch now points at the published snapshot and keeps working
    assert(spark.sql("SELECT a FROM g2.db.wap.branch_audit ORDER BY a")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 5))
    // NOT fast-forwardable once main moves past a branch's fork point
    spark.sql("CALL g2.system.create_branch('db.wap', 'late', 3)").collect()
    spark.sql("INSERT INTO g2.db.wap VALUES (9)") // main v4
    spark.sql("INSERT INTO g2.db.wap.branch_late VALUES (8)")
    val ffErr = intercept[Exception] { spark.sql(
      "CALL g2.system.fast_forward('db.wap', 'late')").collect() }
    def msgs2(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs2(t.getCause)
    assert(msgs2(ffErr).contains("not fast-forwardable"))
    // dropping the branch removes its ref and staged log
    assert(spark.sql("CALL g2.system.drop_branch('db.wap', 'late')")
      .collect().head.getBoolean(0))
    intercept[Exception] { spark.sql(
      "SELECT * FROM g2.db.wap.branch_late").collect() }
    // a never-branched name is not writable
    intercept[Exception] { spark.sql(
      "INSERT INTO g2.db.wap.branch_ghost VALUES (7)") }
  }

  test("bloom sidecars skip point lookups where footer min/max can't prune") {
    spark.sql("CREATE TABLE g2.db.bloomy (k INT, v STRING)")
    // two ONE-FILE commits with INTERLEAVED key ranges: [1,99] and
    // [2,100] overlap, so footer stats alone can never separate a point
    // lookup (coalesce(1) pins one part file per append — SQL VALUES
    // parallelizes to one file per row, whose min==max stats WOULD prune)
    spark.createDataFrame(Seq((1, "o"), (3, "o"), (5, "o"), (99, "o")))
      .toDF("k", "v").coalesce(1).writeTo("g2.db.bloomy").append()
    spark.createDataFrame(Seq((2, "e"), (4, "e"), (6, "e"), (100, "e")))
      .toDF("k", "v").coalesce(1).writeTo("g2.db.bloomy").append()
    val wh = spark.conf.get("spark.sql.catalog.g2.warehouse")
    val dir = java.nio.file.Paths.get(wh, "db", "bloomy")
    val before = graft.catalog.Snapshots.latest(dir).get.files.toSet
    assert(before.size == 2)
    // build sidecars through the SQL procedure surface
    val out = spark.sql("CALL g2.system.add_blooms('db.bloomy', 'k')").collect()
    assert(out.head.getInt(0) == 2)
    // k=50 is inside both footer ranges but in neither bloom →
    // provable no-op, NO commit (4 items in a 100k-sized filter: fp
    // chance is negligible)
    val v = graft.catalog.Snapshots.latest(dir).get.version
    spark.sql("DELETE FROM g2.db.bloomy WHERE k = 50")
    assert(graft.catalog.Snapshots.latest(dir).get.version == v)
    // point DELETE: only the odd file contains 5 — the even file is
    // bloom-negative and keeps its identity (footer range says "maybe")
    spark.sql("DELETE FROM g2.db.bloomy WHERE k = 5")
    val after = graft.catalog.Snapshots.latest(dir).get.files.toSet
    val kept = before.intersect(after)
    assert(kept.size == 1)
    assert(spark.sql("SELECT count(*) FROM g2.db.bloomy").collect()
      .head.getLong(0) == 7)
    // the rewritten odd file has NO sidecar (new name) → conservative
    // rewrite, still correct; the even file's sidecar still prunes it
    // (99 is bloom-negative there) so it keeps its identity again
    spark.sql("DELETE FROM g2.db.bloomy WHERE k = 99")
    val after2 = graft.catalog.Snapshots.latest(dir).get.files.toSet
    assert(kept.subsetOf(after2))
    assert(spark.sql("SELECT count(*) FROM g2.db.bloomy").collect()
      .head.getLong(0) == 6)
    // snapshot expiry removes dead files' sidecars with them; every
    // surviving sidecar belongs to a live file
    graft.catalog.Maintenance.expireSnapshots(spark, "g2.db.bloomy", 1)
    val liveNames = after2.map(f =>
      java.nio.file.Paths.get(f).getFileName.toString)
    val leftovers = scala.util.Using.resource(
        java.nio.file.Files.list(dir.resolve("blooms"))) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString).toSet
    }
    assert(leftovers.nonEmpty) // the still-live even file keeps its bloom
    assert(leftovers.forall(n => liveNames.exists(l => n.startsWith(l + "."))),
      s"orphan sidecars survive expiry: $leftovers")
    // a CORRUPTED sidecar degrades to conservative (may match), never
    // to a wrong prune or a crash
    val evenRel = after2.head
    java.nio.file.Files.write(
      graft.catalog.BloomSidecars.sidecarPath(dir, evenRel, "k"),
      Array[Byte](1, 2, 3))
    assert(graft.catalog.BloomSidecars.mayMatchAll(dir, evenRel,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 123456))))
  }

  test("date-range DELETE prunes via logical-type-aware stats") {
    spark.sql("CREATE TABLE g2.db.deldate (d DATE, v INT)")
    spark.sql("""INSERT INTO g2.db.deldate
      |SELECT date_add(DATE'2024-01-01', CAST(id AS INT)), CAST(id AS INT)
      |FROM range(100)""".stripMargin)
    graft.catalog.Maintenance.compact(spark, "g2.db.deldate", Seq("d"), 4)
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "deldate")
    val before = graft.catalog.Snapshots.latest(dir).get.files.toSet
    // delete one early date: only the first range file may match
    spark.sql("DELETE FROM g2.db.deldate WHERE d < DATE'2024-01-05'")
    val after = graft.catalog.Snapshots.latest(dir).get.files.toSet
    assert(before.intersect(after).size == 3,
      s"expected 3 untouched files, got ${before.intersect(after).size}")
    assert(spark.sql("SELECT count(*) FROM g2.db.deldate").collect()
      .head.getLong(0) == 96)
  }

  test("timestamp-range DELETE prunes via TIMESTAMP(MICROS) annotation") {
    // Spark's default parquet timestamp encoding is legacy INT96, whose
    // Binary stats are (correctly) not pruned; MICROS is the modern
    // encoding the annotation-aware path reasons about.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
    spark.sql("CREATE TABLE g2.db.delts (ts TIMESTAMP, v INT)")
    spark.sql("""INSERT INTO g2.db.delts
      |SELECT timestampadd(HOUR, CAST(id AS INT), TIMESTAMP'2024-01-01 00:00:00'),
      |  CAST(id AS INT)
      |FROM range(96)""".stripMargin)
    graft.catalog.Maintenance.compact(spark, "g2.db.delts", Seq("ts"), 4)
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "delts")
    val before = graft.catalog.Snapshots.latest(dir).get.files.toSet
    spark.sql(
      "DELETE FROM g2.db.delts WHERE ts >= TIMESTAMP'2024-01-04 22:00:00'")
    val after = graft.catalog.Snapshots.latest(dir).get.files.toSet
    assert(before.intersect(after).size == 3,
      s"expected 3 untouched files, got ${before.intersect(after).size}")
    assert(spark.sql("SELECT count(*) FROM g2.db.delts").collect()
      .head.getLong(0) == 94)
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
  }

  test("decimal-range DELETE prunes via unscaled-int stats") {
    spark.sql("CREATE TABLE g2.db.delmoney (price DECIMAL(9,2), v INT)")
    spark.sql("""INSERT INTO g2.db.delmoney
      |SELECT CAST(id AS DECIMAL(9,2)) / 4, CAST(id AS INT) FROM range(100)
      |""".stripMargin)
    graft.catalog.Maintenance.compact(spark, "g2.db.delmoney", Seq("price"), 4)
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "delmoney")
    val before = graft.catalog.Snapshots.latest(dir).get.files.toSet
    spark.sql("DELETE FROM g2.db.delmoney WHERE price < 1.00")
    val after = graft.catalog.Snapshots.latest(dir).get.files.toSet
    assert(before.intersect(after).size == 3,
      s"expected 3 untouched files, got ${before.intersect(after).size}")
    assert(spark.sql("SELECT count(*) FROM g2.db.delmoney").collect()
      .head.getLong(0) == 96)
  }

  test("DELETE on decimal/date columns stays conservative (no silent skips)") {
    // decimal stats are unscaled ints in parquet — a naive numeric compare
    // would prune the file and silently keep the row
    spark.sql("CREATE TABLE g2.db.deldec (price DECIMAL(9,2), d DATE)")
    spark.sql("INSERT INTO g2.db.deldec VALUES (5.00, DATE'2024-01-01'), " +
      "(7.50, DATE'2024-06-01')")
    spark.sql("DELETE FROM g2.db.deldec WHERE price = 5.00")
    assert(spark.sql("SELECT price FROM g2.db.deldec").collect()
      .map(_.getDecimal(0).toPlainString).toSeq == Seq("7.50"))
    spark.sql("DELETE FROM g2.db.deldec WHERE d < DATE'2024-03-01'")
    assert(spark.sql("SELECT count(*) FROM g2.db.deldec").collect()
      .head.getLong(0) == 1)
  }

  test("stale-base rewrite aborts loudly instead of duplicating rows") {
    spark.sql("CREATE TABLE g2.db.conflict (a INT)")
    spark.sql("INSERT INTO g2.db.conflict VALUES (1), (2)")
    val wh = spark.conf.get("spark.sql.catalog.g2.warehouse")
    val dir = java.nio.file.Paths.get(wh, "db", "conflict")
    val base = graft.catalog.Snapshots.latest(dir).get
    // a competing compaction replaces the base files first
    graft.catalog.Maintenance.compact(spark, "g2.db.conflict", Seq("a"), 1)
    // now a rewrite still holding the OLD base must abort, not commit
    val e = intercept[java.util.ConcurrentModificationException] {
      graft.catalog.Maintenance.CompactTestHook
        .replaceWithStaleBase(spark, "g2.db.conflict", base.files)
    }
    assert(e.getMessage.contains("stale"))
    assert(spark.sql("SELECT count(*) FROM g2.db.conflict").collect()
      .head.getLong(0) == 2) // table unchanged
  }

  test("expireSnapshots drops history and deletes orphaned files") {
    spark.sql("CREATE TABLE g2.db.exp (a INT)")
    spark.sql("INSERT INTO g2.db.exp VALUES (1)")
    spark.sql("INSERT OVERWRITE g2.db.exp VALUES (2)")   // v2's file now orphanable
    spark.sql("INSERT INTO g2.db.exp VALUES (3)")        // v4: files of v3+v4
    val (droppedSnaps, deletedFiles) =
      graft.catalog.Maintenance.expireSnapshots(spark, "g2.db.exp", keepLast = 2)
    assert(droppedSnaps == 2)     // v1 (empty) + v2
    assert(deletedFiles >= 1)     // v2's overwritten file physically gone
    // current reads unaffected; expired version now unreadable
    assert(spark.sql("SELECT sum(a) FROM g2.db.exp").collect().head.getLong(0) == 5)
    intercept[Exception] {
      spark.sql("SELECT * FROM g2.db.exp VERSION AS OF 2").collect()
    }
    assert(spark.sql("SELECT count(*) FROM g2.db.exp.snapshots")
      .collect().head.getLong(0) == 2)
  }

  test("information_schema.columns lists catalog-table columns") {
    spark.sql("CREATE TABLE g2.db.info (id BIGINT, name STRING)")
    graft.engine.InfoSchema.refresh(spark)
    val cols = spark.sql(
      """SELECT column_name, data_type FROM __infoschema_columns
        |WHERE table_catalog = 'g2' AND table_schema = 'db'
        |  AND table_name = 'info'
        |ORDER BY ordinal_position""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(cols == Seq(("id", "bigint"), ("name", "string")))
    // the standard introspection join must line up row for row
    val joined = spark.sql(
      """SELECT c.column_name
        |FROM __infoschema_tables t
        |JOIN __infoschema_columns c
        |  USING (table_catalog, table_schema, table_name)
        |WHERE t.table_catalog = 'g2' AND t.table_name = 'info'""".stripMargin)
      .collect().map(_.getString(0)).toSet
    assert(joined == Set("id", "name"))
  }

  test("snapshot commit CAS: a foreign commit forces a retry on the next version") {
    val dir = Files.createTempDirectory("graft_snap_cas")
    graft.catalog.Snapshots.commit(dir, Seq("f1.parquet")) // v1
    // simulate another driver winning v2 between our read and publish:
    // the version file already exists, so createLink must fail and the
    // commit must land on v3 computed on top of the winner's v2
    Files.writeString(dir.resolve("_graft_snapshots").resolve("v00000002.snap"),
      System.currentTimeMillis().toString + "\nf1.parquet\nforeign.parquet")
    val snap = graft.catalog.Snapshots.commitWith(dir) { prev =>
      prev.get.files :+ "mine.parquet"
    }
    assert(snap.version == 3L)
    assert(snap.files.toSet ==
      Set("f1.parquet", "foreign.parquet", "mine.parquet"),
      "retry must recompute on top of the foreign winner's file list")
    assert(graft.catalog.Snapshots.latest(dir).get.version == 3L)
  }

  test("information_schema sees nested namespaces and real nullability") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g2.outer")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g2.outer.inner")
    spark.sql("CREATE TABLE g2.outer.inner.deep (id BIGINT NOT NULL, v DOUBLE)")
    graft.engine.InfoSchema.refresh(spark)
    val t = spark.sql(
      """SELECT table_schema FROM __infoschema_tables
        |WHERE table_catalog = 'g2' AND table_name = 'deep'""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(t == Seq("outer.inner"), s"nested-namespace table missing: $t")
    val cols = spark.sql(
      """SELECT column_name, is_nullable FROM __infoschema_columns
        |WHERE table_catalog = 'g2' AND table_name = 'deep'
        |ORDER BY ordinal_position""".stripMargin)
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(cols == Seq(("id", false), ("v", true)),
      s"nullability must come from the table schema: $cols")
  }

  test("table properties round-trip through SET/UNSET TBLPROPERTIES") {
    spark.sql("ALTER TABLE g2.db.tr SET TBLPROPERTIES ('graft.owner' = 'graft')")
    val show = spark.sql("SHOW TBLPROPERTIES g2.db.tr").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(show.get("graft.owner").contains("graft"))
    spark.sql("ALTER TABLE g2.db.tr UNSET TBLPROPERTIES ('graft.owner')")
    val show2 = spark.sql("SHOW TBLPROPERTIES g2.db.tr").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(!show2.contains("graft.owner"))
  }

  test("z-order compaction prunes on BOTH dimensions; linear sort only on one") {
    import org.apache.spark.sql.sources.EqualTo
    // 32x32 uniform grid, committed as one table, compacted two ways
    def mkTable(name: String): Unit = {
      spark.sql(s"CREATE TABLE g2.db.$name (x INT, y INT)")
      val values = (0 until 32).flatMap(x => (0 until 32).map(y => s"($x, $y)"))
      spark.sql(s"INSERT INTO g2.db.$name VALUES ${values.mkString(", ")}")
    }
    def filesOf(name: String): Seq[String] = {
      val dir = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", name)
      graft.catalog.Snapshots.latest(dir).get.files
        .map(f => dir.resolve(f).toString)
    }
    // how many files COULD contain the point (x0, y0), per footer stats?
    def filesMatching(name: String, x0: Int, y0: Int): Int =
      filesOf(name).count(f => graft.catalog.ParquetStats.mayMatchAll(
        f, Seq(EqualTo("x", x0), EqualTo("y", y0)),
        spark.sparkContext.hadoopConfiguration))

    mkTable("zlin")
    graft.catalog.Maintenance.compact(spark, "g2.db.zlin", Seq("x"), 16)
    mkTable("zmor")
    graft.catalog.Maintenance.compactZOrder(spark, "g2.db.zmor",
      Seq("x", "y"), 16, bits = 8)

    // identical contents after either rewrite
    assert(spark.sql("SELECT count(*), sum(x), sum(y) FROM g2.db.zmor")
      .collect().head.toSeq ==
      spark.sql("SELECT count(*), sum(x), sum(y) FROM g2.db.zlin")
        .collect().head.toSeq)

    val probes = Seq((3, 27), (16, 16), (30, 2), (9, 9))
    val lin = probes.map { case (x, y) => filesMatching("zlin", x, y) }
    val mor = probes.map { case (x, y) => filesMatching("zmor", x, y) }
    // x-sorted files each span ALL of y: a point query prunes only via x
    // (1 of 16 files). Z-ordered files cover small (x, y) rectangles: the
    // same point query must also prune to very few files — and, unlike
    // the linear layout, a y-ONLY predicate must prune too.
    assert(mor.forall(_ <= 2), s"z-order should isolate points, got $mor")
    val yOnlyLin = filesOf("zlin").count(f =>
      graft.catalog.ParquetStats.mayMatchAll(f, Seq(EqualTo("y", 5)),
        spark.sparkContext.hadoopConfiguration))
    val yOnlyMor = filesOf("zmor").count(f =>
      graft.catalog.ParquetStats.mayMatchAll(f, Seq(EqualTo("y", 5)),
        spark.sparkContext.hadoopConfiguration))
    assert(yOnlyLin == filesOf("zlin").size,
      "linear-on-x files must all span y (no pruning expected)")
    assert(yOnlyMor < filesOf("zmor").size / 2,
      s"z-order must prune on y alone: $yOnlyMor of ${filesOf("zmor").size}")
    assert(lin.sum >= mor.sum, "z-order should never prune worse here")
  }

  test("upsert is a pruned copy-on-write MERGE: update + insert, one snapshot") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.ups (k INT, v STRING)")           // v1
    spark.sql("INSERT INTO g2.db.ups VALUES (1,'a'), (2,'b'), (3,'c')") // v2
    // cluster on k into 3 files so the footer envelope can prune
    graft.catalog.Maintenance.compact(spark, "g2.db.ups", Seq("k"), 3) // v3
    // narrow update (key 2 only): exactly one of the three files rewritten
    val (rw, total) = graft.catalog.Maintenance.upsert(spark, "g2.db.ups",
      Seq((2, "B")).toDF("k", "v"), Seq("k"))                       // v4
    assert(total == 3 && rw == 1, s"expected 1-of-3 rewrite, got $rw of $total")
    assert(spark.sql("SELECT k, v FROM g2.db.ups ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "B"), (3, "c")))
    // pre-merge snapshot still reads the old value (time travel intact)
    assert(spark.sql("SELECT v FROM g2.db.ups VERSION AS OF 3 WHERE k = 2")
      .collect().head.getString(0) == "b")
    // mixed update + insert in one commit
    graft.catalog.Maintenance.upsert(spark, "g2.db.ups",
      Seq((3, "C"), (9, "i")).toDF("k", "v"), Seq("k"))             // v5
    assert(spark.sql("SELECT k, v FROM g2.db.ups ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "B"), (3, "C"), (9, "i")))
    // contract checks: empty source is a snapshot-free no-op; duplicate
    // or null source keys are rejected before any write
    val snapsBefore = spark.sql("SELECT count(*) FROM g2.db.ups.snapshots")
      .collect().head.getLong(0)
    val (rw0, _) = graft.catalog.Maintenance.upsert(spark, "g2.db.ups",
      Seq.empty[(Int, String)].toDF("k", "v"), Seq("k"))
    assert(rw0 == 0)
    assert(spark.sql("SELECT count(*) FROM g2.db.ups.snapshots")
      .collect().head.getLong(0) == snapsBefore)
    intercept[IllegalArgumentException] {
      graft.catalog.Maintenance.upsert(spark, "g2.db.ups",
        Seq((5, "x"), (5, "y")).toDF("k", "v"), Seq("k"))
    }
    intercept[IllegalArgumentException] {
      graft.catalog.Maintenance.upsert(spark, "g2.db.ups",
        spark.sql("SELECT CAST(NULL AS INT) AS k, 'x' AS v"), Seq("k"))
    }
  }

  test(".files metadata table lists the current snapshot's file inventory") {
    spark.sql("CREATE TABLE g2.db.ft (a INT)")
    spark.sql("INSERT INTO g2.db.ft VALUES (1), (2), (3)")
    spark.sql("INSERT INTO g2.db.ft VALUES (4)")
    val rows = spark.sql(
      "SELECT file_path, size_bytes, record_count, snapshot_version " +
        "FROM g2.db.ft.files ORDER BY file_path").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("record_count")).sum == 4,
      "footer record counts must sum to the table row count")
    assert(rows.forall(_.getAs[Long]("size_bytes") > 0))
    val latest = spark.sql("SELECT max(version) FROM g2.db.ft.snapshots")
      .collect().head.getLong(0)
    assert(rows.forall(_.getAs[Long]("snapshot_version") == latest))
    // DELETE rewrites: the inventory tracks the NEW current snapshot
    spark.sql("DELETE FROM g2.db.ft WHERE a <= 2")
    val after = spark.sql("SELECT record_count FROM g2.db.ft.files").collect()
    assert(after.map(_.getAs[Long]("record_count")).sum == 2)
  }

  test("SQL MERGE INTO / UPDATE / subquery DELETE plan through row-level COW") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.rlo (k INT, v STRING)")               // v1
    spark.sql("INSERT INTO g2.db.rlo VALUES (1,'a'), (2,'b'), (3,'c')") // v2
    Seq((2, "B2"), (9, "i")).toDF("k", "v").createOrReplaceTempView("rlo_src")

    spark.sql("""MERGE INTO g2.db.rlo t USING rlo_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")                                // v3
    def rows(): Seq[(Int, String)] =
      spark.sql("SELECT k, v FROM g2.db.rlo ORDER BY k").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows() == Seq((1, "a"), (2, "B2"), (3, "c"), (9, "i")))

    spark.sql("UPDATE g2.db.rlo SET v = concat(v, '!') WHERE k >= 9")   // v4
    assert(rows() == Seq((1, "a"), (2, "B2"), (3, "c"), (9, "i!")))

    // IN-subquery predicate is not Filter-translatable, so this DELETE
    // cannot take the metadata deleteWhere path — it must run through
    // the same ReplaceData plan
    spark.sql(
      "DELETE FROM g2.db.rlo WHERE k IN (SELECT k FROM rlo_src WHERE v = 'B2')") // v5
    assert(rows() == Seq((1, "a"), (3, "c"), (9, "i!")))

    // a MERGE clause with its own condition + DELETE action
    spark.sql("""MERGE INTO g2.db.rlo t USING rlo_src s ON t.k = s.k
      WHEN MATCHED AND t.k = 9 THEN DELETE""")                          // v6
    assert(rows() == Seq((1, "a"), (3, "c")))

    // every row-level command committed one snapshot; history reads back
    assert(spark.sql("SELECT k FROM g2.db.rlo VERSION AS OF 2 ORDER BY k")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(spark.sql("SELECT v FROM g2.db.rlo VERSION AS OF 4 WHERE k = 9")
      .collect().head.getString(0) == "i!")
    assert(spark.sql("SELECT count(*) FROM g2.db.rlo.snapshots")
      .collect().head.getLong(0) == 6)
  }

  test("MERGE runtime group filtering rewrites only files that can match") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.rgf (k INT, v STRING)")
    spark.sql("INSERT INTO g2.db.rgf VALUES (1,'a'), (2,'b'), (3,'c')")
    graft.catalog.Maintenance.compact(spark, "g2.db.rgf", Seq("k"), 3)
    def inventory(): Set[String] = spark.sql(
      "SELECT file_path FROM g2.db.rgf.files").collect()
      .map(_.getString(0)).toSet
    val before = inventory()
    assert(before.size == 3)
    Seq((2, "B")).toDF("k", "v").createOrReplaceTempView("rgf_src")
    spark.sql("""MERGE INTO g2.db.rgf t USING rgf_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *""")
    val after = inventory()
    assert(spark.sql("SELECT v FROM g2.db.rgf WHERE k = 2")
      .collect().head.getString(0) == "B")
    assert(spark.sql("SELECT count(*) FROM g2.db.rgf")
      .collect().head.getLong(0) == 3)
    // the k=1 and k=3 files must survive UNTOUCHED (same paths); only the
    // k=2 file was rewritten — runtime group filtering at work
    assert((before intersect after).size == 2,
      s"expected 2 surviving files, before=$before after=$after")
  }

  test("row-level SQL commands route partition dirs (MERGE/UPDATE/DELETE on partitioned)") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.prl (id INT, v STRING, region STRING) " +
      "PARTITIONED BY (region)")
    spark.sql("INSERT INTO g2.db.prl VALUES " +
      "(1,'a','east'), (2,'b','east'), (3,'c','west'), (4,'d','north')")
    // MERGE: update one row, insert one new row into a NEW partition
    Seq((2, "B", "east"), (9, "z", "south")).toDF("id", "v", "region")
      .createOrReplaceTempView("prl_src")
    val mergeSql = """MERGE INTO g2.db.prl t USING prl_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *"""
    // the Write's clustered distribution materializes: replacement data
    // shuffles by the partition column before ReplaceData, bounding
    // open writers (and files) per task at any scale
    val plan = spark.sql(s"EXPLAIN FORMATTED $mergeSql")
      .collect().head.getString(0)
    assert(plan.contains("hashpartitioning(region"), plan)
    spark.sql(mergeSql)
    assert(spark.sql("SELECT id, v, region FROM g2.db.prl ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1, "a", "east"), (2, "B", "east"), (3, "c", "west"),
        (4, "d", "north"), (9, "z", "south")))
    // files landed in hive-layout partition dirs and partition pruning
    // still works over the rewritten data
    val files = spark.sql("SELECT file_path FROM g2.db.prl.files")
      .collect().map(_.getString(0)).toSeq
    assert(files.forall(_.contains("region=")), files.mkString(", "))
    assert(files.exists(_.contains("region=south")))
    val pruned = spark.sql("SELECT id FROM g2.db.prl WHERE region = 'east'")
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(pruned.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // UPDATE with a non-partition predicate
    spark.sql("UPDATE g2.db.prl SET v = upper(v) WHERE id >= 3")
    assert(spark.sql("SELECT v FROM g2.db.prl ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("a", "B", "C", "D", "Z"))
    // non-translatable DELETE takes the COW ReplaceData path (regex
    // predicates have no DSv2 filter translation → can't be metadata-only)
    spark.sql("DELETE FROM g2.db.prl WHERE v RLIKE '^[CZ]$'")
    assert(spark.sql("SELECT id FROM g2.db.prl ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2, 4))
    // history intact: the pre-MERGE snapshot still reads all 4 originals
    assert(spark.sql("SELECT count(*) FROM g2.db.prl VERSION AS OF 2")
      .collect().head.getLong(0) == 4)
  }

  test("empty-string partition value writes the default-partition dir " +
      "(table stays readable)") {
    spark.sql("CREATE TABLE g2.db.peps (id INT, region STRING) " +
      "PARTITIONED BY (region)")
    spark.sql("INSERT INTO g2.db.peps VALUES (1,'east'), (2,'west')")
    // rendering '' as a bare 'region=' dir would trip Spark's read-side
    // partition inference ("Empty partition column value") — like
    // ExternalCatalogUtils.getPartitionPathString, '' maps to the
    // default-partition name, same as NULL
    spark.sql("UPDATE g2.db.peps SET region = '' WHERE id = 2")
    val files = spark.sql("SELECT file_path FROM g2.db.peps.files")
      .collect().map(_.getString(0)).toSeq
    assert(files.exists(_.contains("region=__HIVE_DEFAULT_PARTITION__")),
      files.mkString(", "))
    assert(!files.exists(_.matches(".*/region=/.*")), files.mkString(", "))
    // the table still reads; '' round-trips as the default partition
    // (NULL), exactly Spark's own dynamic-partition write contract
    assert(spark.sql("SELECT region FROM g2.db.peps WHERE id = 2")
      .collect().head.isNullAt(0))
    assert(spark.sql("SELECT count(*) FROM g2.db.peps")
      .collect().head.getLong(0) == 2)
  }

  test("_file metadata column tags rows with their source file, in ONE scan") {
    spark.sql("CREATE TABLE g2.db.ftag (a INT)")
    spark.sql("INSERT INTO g2.db.ftag VALUES (1), (2)")
    spark.sql("INSERT INTO g2.db.ftag VALUES (3)")
    val df = spark.sql("SELECT a, _file FROM g2.db.ftag")
    // ONE scan node — `_file` must not fork the plan per data file
    val planStr = df.queryExecution.executedPlan.toString
    assert("BatchScan".r.findAllIn(planStr).size == 1, planStr)
    // the VECTORIZED path survives the tag (ColumnarToRow above the scan)
    assert(planStr.contains("ColumnarToRow"), planStr)
    val rows = df.collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.length == 3)
    assert(rows.forall(_._2.endsWith(".parquet")), rows.mkString(", "))
    // a row's tag matches the .files inventory by file name
    val inv = spark.sql("SELECT file_path FROM g2.db.ftag.files").collect()
      .map(r => new java.io.File(r.getString(0)).getName).toSet
    assert(rows.map(t => new java.io.File(t._2).getName).toSet.subsetOf(inv))
    // the two INSERTs never share a file
    val f3 = rows.find(_._1 == 3).get._2
    val inF3 = rows.filter(_._2 == f3).map(_._1).toSet
    assert(inF3.contains(3) && !inF3.contains(1) && !inF3.contains(2))
    // combines with a filter; equality over the tag works
    val filtered = spark.sql("SELECT _file FROM g2.db.ftag WHERE a = 3")
      .collect().map(_.getString(0)).toSeq
    assert(filtered == Seq(f3))
    // without `_file` the untouched delegate plan serves the scan
    val plain = spark.sql("SELECT a FROM g2.db.ftag")
      .queryExecution.executedPlan.toString
    assert(!plain.contains("graft-file-tagged"), plain)
  }

  test("CALL g2.system.* stored procedures run Maintenance from SQL") {
    spark.sql("CREATE TABLE g2.db.proc (k INT, x DOUBLE, y DOUBLE)")
    // three commits → three files, three snapshots
    spark.sql("INSERT INTO g2.db.proc VALUES (1, 1.0, 9.0)")
    spark.sql("INSERT INTO g2.db.proc VALUES (2, 5.0, 5.0)")
    spark.sql("INSERT INTO g2.db.proc VALUES (3, 9.0, 1.0)")
    // compact: 3 files → 1 sort-clustered file
    val c = spark.sql(
      "CALL g2.system.compact(table => 'db.proc', sort_cols => 'k', " +
        "target_files => 1)").collect()
    assert(c.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((3, 1)))
    assert(spark.sql("SELECT k FROM g2.db.proc ORDER BY k").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // zorder: positional args, rewrites into 2 files on both dims
    val z = spark.sql("CALL g2.system.zorder('db.proc', 'x,y', 2)").collect()
    assert(z.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 2)))
    // expire: keep only the newest snapshot; dropped count > 0 and old
    // versions stop resolving
    val e = spark.sql("CALL g2.system.expire_snapshots('db.proc', 1)")
      .collect()
    assert(e.head.getInt(0) > 0)
    intercept[Exception] {
      spark.sql("SELECT * FROM g2.db.proc VERSION AS OF 1").collect()
    }
    assert(spark.sql("SELECT count(*) FROM g2.db.proc")
      .collect().head.getLong(0) == 3)
    // SHOW PROCEDURES lists the system namespace's procedures
    val shown = spark.sql("SHOW PROCEDURES IN g2.system").collect()
      .map(_.toSeq.map(String.valueOf).mkString(" ")).mkString("\n")
    Seq("compact", "zorder", "expire_snapshots").foreach(p =>
      assert(shown.contains(p), s"missing $p in:\n$shown"))
    // unknown procedure fails loudly with the available list
    val err = intercept[Exception] {
      spark.sql("CALL g2.system.nope('db.proc')").collect()
    }
    assert(err.getMessage.contains("unknown procedure") ||
      (err.getCause != null &&
        err.getCause.getMessage.contains("unknown procedure")), err.toString)
  }

  test("a real data column named _file shadows the metadata column") {
    spark.sql("CREATE TABLE g2.db.fshadow (a INT, `_file` STRING)")
    spark.sql("INSERT INTO g2.db.fshadow VALUES (1, 'data-val')")
    assert(spark.sql("SELECT _file FROM g2.db.fshadow").collect()
      .map(_.getString(0)).toSeq == Seq("data-val"))
  }

  test("changelog reads only the rows that changed between versions") {
    import graft.catalog.Changelog
    spark.sql("CREATE TABLE g2.db.cdc (a INT, grp STRING)")       // v1
    // one file per row: an INSERT … VALUES would write both to one file
    spark.sql("INSERT INTO g2.db.cdc SELECT CAST(id AS INT), " +
      "IF(id = 1, 'k', 'd') FROM range(1, 3, 1, 2)")              // v2
    spark.sql("INSERT INTO g2.db.cdc VALUES (3,'k')")             // v3
    spark.sql("DELETE FROM g2.db.cdc WHERE grp = 'd'")            // v4: COW
    def rows(from: Long, to: Long) =
      Changelog.read(spark, "g2.db.cdc", from, to)
        .select("a", "_change_type", "_commit_version")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        .toSet
    // appends are pure inserts
    assert(rows(1, 3) == Set((1, "insert", 2L), (2, "insert", 2L),
      (3, "insert", 3L)))
    // the COW DELETE is FILE-granular: footer stats prune the rewrite to
    // the file(s) that may match, so only (2,'d')'s file rewrites — a
    // whole-file delete with no survivors re-inserted (and no empty
    // survivor file committed)
    assert(rows(3, 4) == Set((2, "delete", 4L)))
    // empty range -> empty frame with the changelog schema
    val empty = Changelog.read(spark, "g2.db.cdc", 4, 4)
    assert(empty.columns.takeRight(2).toSeq ==
      Seq("_change_type", "_commit_version") && empty.isEmpty)
    // tailing from v0 replays everything
    assert(rows(0, 4).count(_._2 == "insert") == 3)
  }

  test("netChanges cancels COW carry-over rows, keeps logical changes") {
    import graft.catalog.Changelog
    spark.sql("CREATE TABLE g2.db.cdcn (a INT)")                   // v1
    // ONE file with mixed keys so the COW rewrite must carry rows over
    spark.sql("INSERT INTO g2.db.cdcn SELECT /*+ COALESCE(1) */ * " +
      "FROM VALUES (1), (2), (3), (4) AS t(a)")                    // v2
    spark.sql("DELETE FROM g2.db.cdcn WHERE a % 2 = 0")            // v3: COW
    // the raw file-level feed carries over the untouched rows 1 and 3
    val raw = Changelog.read(spark, "g2.db.cdcn", 2, 3)
      .select("a", "_change_type")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(raw == Set((1, "delete"), (2, "delete"), (3, "delete"),
      (4, "delete"), (1, "insert"), (3, "insert")),
      s"expected whole-file delete + survivor re-insert, got $raw")
    // net changes: carry-overs cancel, only the logical deletes remain
    val net = Changelog.netChanges(spark, "g2.db.cdcn", 2, 3)
      .select("a", "_change_type", "n_copies")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(net == Set((2, "delete", 1L), (4, "delete", 1L)), net.toString)
    // duplicate-row multiplicity is multiset-correct
    spark.sql("INSERT INTO g2.db.cdcn VALUES (7), (7)")            // v4
    val dup = Changelog.netChanges(spark, "g2.db.cdcn", 3, 4)
      .select("a", "_change_type", "n_copies")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(dup == Set((7, "insert", 2L)), dup.toString)
  }

  test("netChanges applied cumulatively reconstructs any version range " +
      "(randomized op sequences)") {
    import graft.catalog.Changelog
    val rnd = new scala.util.Random(11)
    spark.sql("CREATE TABLE g2.db.cdrnd (a INT)")
    var expected = Map.empty[Int, Long].withDefaultValue(0L) // multiset
    for (_ <- 0 until 10) {
      if (rnd.nextBoolean() || expected.isEmpty) {
        val vals = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(6))
        spark.sql(s"INSERT INTO g2.db.cdrnd VALUES " +
          vals.map(v => s"($v)").mkString(", "))
        vals.foreach(v => expected += v -> (expected(v) + 1L))
      } else {
        val v = rnd.nextInt(6)
        spark.sql(s"DELETE FROM g2.db.cdrnd WHERE a = $v")
        expected -= v
      }
    }
    // replaying the net changes over the whole history must yield the
    // final multiset exactly
    val replayed = Changelog.netChanges(spark, "g2.db.cdrnd", 0L, 100L)
      .collect().foldLeft(Map.empty[Int, Long].withDefaultValue(0L)) {
        (acc, r) =>
          val (a, n) = (r.getInt(0), r.getLong(3))
          val sign = if (r.getString(2) == "insert") n else -n
          acc + (a -> (acc(a) + sign))
      }.filter(_._2 != 0L)
    assert(replayed == expected.filter(_._2 != 0L).toMap,
      s"replayed $replayed vs expected $expected")
    // and it matches the current table content
    val now = spark.sql("SELECT a FROM g2.db.cdrnd").collect()
      .groupBy(_.getInt(0)).map { case (k, v) => k -> v.length.toLong }
    assert(now == expected.filter(_._2 != 0L).toMap)
  }

  test("CALL changes returns the per-version file-level summary") {
    spark.sql("CREATE TABLE g2.db.cdcsum (a INT)")                 // v1
    spark.sql("INSERT INTO g2.db.cdcsum VALUES (1)")               // v2
    spark.sql("INSERT INTO g2.db.cdcsum VALUES (2)")               // v3
    spark.sql("DELETE FROM g2.db.cdcsum WHERE a = 1")              // v4
    val got = spark.sql("CALL g2.system.changes('db.cdcsum', 1, 4)")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3))).toSeq
    assert(got == Seq((2L, 1, 0), (3L, 1, 0), (4L, 0, 1)),
      s"unexpected summary $got")
  }

  // --- merge-on-read position deletes (write.delete.mode) ---------------

  private def tdir(table: String) = java.nio.file.Paths.get(
    spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", table)
  private def snapNow(table: String) =
    graft.catalog.Snapshots.latest(tdir(table)).get

  test("MOR DELETE writes position-delete sidecars, rewrites no data file") {
    spark.sql("""CREATE TABLE g2.db.mor (a INT, grp STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")          // v1
    spark.sql("INSERT INTO g2.db.mor VALUES (1,'keep'), (2,'drop')")   // v2
    spark.sql("INSERT INTO g2.db.mor VALUES (3,'keep'), (4,'drop')")   // v3
    val before = snapNow("mor")
    assert(before.deleteFiles.isEmpty && before.dataFiles.size >= 2)

    spark.sql("DELETE FROM g2.db.mor WHERE grp = 'drop'")              // v4
    val after = snapNow("mor")
    assert(after.dataFiles.toSet == before.dataFiles.toSet,
      "MOR DELETE must not rewrite or drop any data file")
    assert(after.deleteFiles.nonEmpty &&
      after.deleteFiles.forall(_.startsWith("deletes/")),
      s"expected position-delete sidecars, got ${after.deleteFiles}")

    // reads exclude masked rows — plain, filtered, aggregated
    assert(spark.sql("SELECT a FROM g2.db.mor ORDER BY a").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
    assert(spark.sql("SELECT a FROM g2.db.mor WHERE a >= 2 ORDER BY a")
      .collect().map(_.getInt(0)).toSeq == Seq(3))
    assert(spark.sql("SELECT count(*) FROM g2.db.mor").collect()
      .head.getLong(0) == 2, "aggregate pushdown must not count masked rows")

    // time travel: before the delete sees all rows, after sees the mask
    assert(spark.sql("SELECT count(*) FROM g2.db.mor VERSION AS OF 3")
      .collect().head.getLong(0) == 4)

    // a second MOR delete stacks
    spark.sql("DELETE FROM g2.db.mor WHERE a = 1")                     // v5
    assert(spark.sql("SELECT a FROM g2.db.mor").collect()
      .map(_.getInt(0)).toSeq == Seq(3))
    assert(snapNow("mor").deleteFiles.size > after.deleteFiles.size)
    assert(snapNow("mor").dataFiles.toSet == before.dataFiles.toSet)

    // a no-match MOR delete commits nothing
    val v = snapNow("mor").version
    spark.sql("DELETE FROM g2.db.mor WHERE a = 999")
    assert(snapNow("mor").version == v, "empty MOR delete must not commit")
  }

  test("MOR and COW DELETEs produce identical query results") {
    for ((t, mode) <- Seq(("morcow_m", "merge-on-read"), ("morcow_c", "copy-on-write"))) {
      spark.sql(s"""CREATE TABLE g2.db.$t (a INT, b DOUBLE)
        TBLPROPERTIES ('write.delete.mode'='$mode')""")
      spark.sql(s"INSERT INTO g2.db.$t SELECT CAST(id AS INT), CAST(id AS DOUBLE) / 7 " +
        "FROM range(0, 1000)")
      spark.sql(s"DELETE FROM g2.db.$t WHERE a % 3 = 1")
      spark.sql(s"DELETE FROM g2.db.$t WHERE a >= 900")
    }
    val m = spark.sql("SELECT * FROM g2.db.morcow_m ORDER BY a").collect().toSeq
    val c = spark.sql("SELECT * FROM g2.db.morcow_c ORDER BY a").collect().toSeq
    assert(m == c, "merge-on-read and copy-on-write must agree row-for-row")
    assert(snapNow("morcow_m").deleteFiles.nonEmpty)
    assert(snapNow("morcow_c").deleteFiles.isEmpty)
  }

  test("compact folds MOR sidecars into rewritten files and drops them") {
    spark.sql("""CREATE TABLE g2.db.morc (a INT, s STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.morc SELECT CAST(id AS INT), concat('s', id) " +
      "FROM range(0, 100)")
    spark.sql("INSERT INTO g2.db.morc SELECT CAST(id AS INT), concat('s', id) " +
      "FROM range(100, 200)")
    val dropped = (0 until 200 by 10).toSeq
    spark.sql(s"DELETE FROM g2.db.morc WHERE a IN (${dropped.mkString(",")})")
    assert(snapNow("morc").deleteFiles.nonEmpty)
    graft.catalog.Maintenance.compact(spark, "g2.db.morc", Seq("a"), 2)
    val s = snapNow("morc")
    assert(s.deleteFiles.isEmpty, "compaction must fold sidecars away")
    assert(spark.sql("SELECT count(*), sum(a) FROM g2.db.morc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).head ==
      ((180L, (0 until 200).filter(_ % 10 != 0).map(_.toLong).sum)))
    // masked rows stay gone in the compacted files
    assert(spark.sql("SELECT count(*) FROM g2.db.morc WHERE a % 10 = 0")
      .collect().head.getLong(0) == 0)
  }

  test("non-translatable DELETE on a MOR table falls back to COW, correctly") {
    // `k IN (subquery)` cannot take the metadata deleteWhere path, so
    // even under write.delete.mode=merge-on-read it runs the row-level
    // COW rewrite — correct rows, rewrite cost; pinned as the documented
    // scope boundary (MOR applies to Filter-translatable DELETEs).
    spark.sql("""CREATE TABLE g2.db.morsub (k INT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.morsub VALUES (1), (2), (3), (4)")
    spark.sql("DELETE FROM g2.db.morsub WHERE k = 2") // MOR sidecar
    assert(snapNow("morsub").deleteFiles.nonEmpty)
    spark.sql( // subquery yields k = 3
      "DELETE FROM g2.db.morsub WHERE k IN (SELECT id + 3 FROM range(1))")
    assert(spark.sql("SELECT k FROM g2.db.morsub ORDER BY k").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 4),
      "COW fallback must not resurrect MOR-masked rows")
  }

  test("_file metadata column serves through a MOR scan") {
    spark.sql("""CREATE TABLE g2.db.morf (a INT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.morf VALUES (1), (2)")
    spark.sql("INSERT INTO g2.db.morf VALUES (3)")
    spark.sql("DELETE FROM g2.db.morf WHERE a = 2")
    val rows = spark.sql("SELECT a, _file FROM g2.db.morf ORDER BY a")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.map(_._1).toSeq == Seq(1, 3))
    assert(rows.forall(_._2.endsWith(".parquet")))
    assert(rows.map(_._2).distinct.length == 2, "two source files expected")
  }

  test("MOR DELETE on an identity-partitioned table masks across partition dirs") {
    spark.sql("""CREATE TABLE g2.db.morp (a INT, lang STRING)
      PARTITIONED BY (lang)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.morp VALUES (1,'en'), (2,'en'), (3,'de'), (4,'de')")
    val before = snapNow("morp")
    spark.sql("DELETE FROM g2.db.morp WHERE a >= 2 AND a <= 3")
    assert(snapNow("morp").dataFiles.toSet == before.dataFiles.toSet)
    assert(snapNow("morp").deleteFiles.nonEmpty)
    assert(spark.sql("SELECT a FROM g2.db.morp ORDER BY a").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 4))
    // partition pruning still serves the mask
    assert(spark.sql("SELECT a FROM g2.db.morp WHERE lang = 'en'").collect()
      .map(_.getInt(0)).toSeq == Seq(1))
  }

  test("MOR delete masks rows whose partition value needs URI encoding") {
    // a SPACE in a hive partition value survives into the path un-escaped;
    // the scan-side index lookup must match the planned file identity
    // across encodings (percent-encoded URI vs decoded Hadoop path)
    spark.sql("""CREATE TABLE g2.db.morsp (a INT, tag STRING)
      PARTITIONED BY (tag)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.morsp VALUES (1,'a b'), (2,'a b'), (3,'plain')")
    spark.sql("DELETE FROM g2.db.morsp WHERE a = 2")
    assert(snapNow("morsp").deleteFiles.nonEmpty, "expected a MOR sidecar")
    assert(spark.sql("SELECT a FROM g2.db.morsp ORDER BY a").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3),
      "masked row in the space-valued partition must stay gone")
  }

  test("upsert on a MOR table does not resurrect masked rows") {
    spark.sql("""CREATE TABLE g2.db.moru (k INT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.moru VALUES (1,'a'), (2,'b'), (3,'c')")
    spark.sql("DELETE FROM g2.db.moru WHERE k = 2") // MOR mask
    import spark.implicits._
    graft.catalog.Maintenance.upsert(spark, "g2.db.moru",
      Seq((3, "C!"), (9, "i")).toDF("k", "v"), Seq("k"))
    assert(spark.sql("SELECT k, v FROM g2.db.moru ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (3, "C!"), (9, "i")),
      "k=2 was MOR-masked before the upsert and must stay gone")
  }

  test("changelog emits row-level deletes for MOR commits; nets zero on compact") {
    spark.sql("""CREATE TABLE g2.db.morcdc (k INT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")           // v1
    spark.sql("INSERT INTO g2.db.morcdc VALUES (1), (2), (3), (4)")     // v2
    spark.sql("DELETE FROM g2.db.morcdc WHERE k IN (2, 4)")             // v3
    val cdc = graft.catalog.Changelog.read(spark, "g2.db.morcdc", 2L, 3L)
      .select("k", "_change_type", "_commit_version").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(cdc == Seq((2, "delete", 3L), (4, "delete", 3L)),
      s"MOR delete must emit EXACTLY the masked rows, got $cdc")

    // a second overlapping MOR delete re-records k=4: only the NEWLY
    // masked row is a change
    spark.sql("DELETE FROM g2.db.morcdc WHERE k >= 3")                  // v4
    val cdc2 = graft.catalog.Changelog.read(spark, "g2.db.morcdc", 3L, 4L)
      .select("k", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(cdc2 == Seq((3, "delete")), s"already-masked k=4 must not repeat: $cdc2")

    // compaction carries over: net changes across it are zero
    graft.catalog.Maintenance.compact(spark, "g2.db.morcdc", Seq("k"), 1) // v5
    val net = graft.catalog.Changelog.netChanges(spark, "g2.db.morcdc", 4L, 5L)
    assert(net.count() == 0, "compaction must net to zero row changes")

    // cumulative replay: per-k inserts minus deletes over the whole
    // history reconstructs the surviving row set (netChanges rows are
    // per-commit; carryovers cancel within each commit)
    import org.apache.spark.sql.functions.{col, sum, when}
    val survived = graft.catalog.Changelog
      .netChanges(spark, "g2.db.morcdc", 0L, 5L)
      .groupBy("k")
      .agg(sum(when(col("_change_type") === "insert", col("n_copies"))
        .otherwise(-col("n_copies"))).as("n"))
      .where(col("n") > 0).select("k")
      .collect().map(_.getInt(0)).toSeq
    assert(survived == Seq(1), s"history must replay to k=1: $survived")
  }

  test("rollback across a MOR delete un-masks rows; changelog emits inserts") {
    spark.sql("""CREATE TABLE g2.db.morrb (k INT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")           // v1
    spark.sql("INSERT INTO g2.db.morrb VALUES (1), (2)")                // v2
    spark.sql("DELETE FROM g2.db.morrb WHERE k = 2")                    // v3
    assert(spark.sql("SELECT count(*) FROM g2.db.morrb").collect()
      .head.getLong(0) == 1)
    spark.sql("CALL g2.system.rollback_to_version('db.morrb', 2)")      // v4
    assert(spark.sql("SELECT k FROM g2.db.morrb ORDER BY k").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2), "rollback must un-mask k=2")
    val cdc = graft.catalog.Changelog.read(spark, "g2.db.morrb", 3L, 4L)
      .select("k", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(cdc == Seq((2, "insert")), s"un-delete must emit an insert: $cdc")
  }

  test("streaming readTable rejects tables with MOR history") {
    spark.sql("""CREATE TABLE g2.db.morst (k INT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.morst VALUES (1), (2)")
    spark.sql("DELETE FROM g2.db.morst WHERE k = 1")
    val e = intercept[IllegalArgumentException] {
      graft.catalog.CatalogStreams.readTable(spark, "g2.db.morst")
    }
    assert(e.getMessage.contains("merge-on-read"))
  }

  test("rewrite_position_deletes coalesces sidecars and drops dangling " +
      "entries without touching data files") {
    spark.sql("""CREATE TABLE g2.db.morrw (k INT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.morrw SELECT CAST(id AS INT), concat('v', id) " +
      "FROM range(0, 100)")
    spark.sql("DELETE FROM g2.db.morrw WHERE k < 5")    // sidecar batch 1
    spark.sql("DELETE FROM g2.db.morrw WHERE k >= 95")  // sidecar batch 2
    val before = snapNow("morrw")
    assert(before.deleteFiles.size >= 2)

    // an upsert rewrites the touched files: its sidecar entries dangle
    import spark.implicits._
    graft.catalog.Maintenance.upsert(spark, "g2.db.morrw",
      Seq((50, "V!")).toDF("k", "v"), Seq("k"))
    val mid = snapNow("morrw")
    assert(mid.deleteFiles.toSet == before.deleteFiles.toSet,
      "upsert must not touch sidecars")

    val res = spark.sql(
      "CALL g2.system.rewrite_position_deletes('db.morrw', 1)").collect().head
    val after = snapNow("morrw")
    assert(after.dataFiles.toSet == mid.dataFiles.toSet,
      "sidecar rewrite must not touch data files")
    assert(after.deleteFiles.size == 1,
      s"expected one coalesced sidecar, got ${after.deleteFiles}")
    assert(res.getInt(0) >= 2 && res.getInt(1) == 1)
    assert(res.getLong(3) <= res.getLong(2),
      "dangling entries (if any) must only ever drop")
    // masked-row visibility unchanged
    assert(spark.sql("SELECT count(*) FROM g2.db.morrw").collect()
      .head.getLong(0) == 90)
    assert(spark.sql("SELECT v FROM g2.db.morrw WHERE k = 50").collect()
      .head.getString(0) == "V!")
    assert(spark.sql("SELECT count(*) FROM g2.db.morrw WHERE k < 5 OR k >= 95")
      .collect().head.getLong(0) == 0)
  }

  test("MOR position index over the broadcast cap fails loudly, advising compact") {
    spark.sql("""CREATE TABLE g2.db.morcap (k INT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.morcap SELECT CAST(id AS INT) FROM range(0, 100)")
    spark.sql("DELETE FROM g2.db.morcap WHERE k < 50")
    spark.conf.set(graft.catalog.DeleteSidecars.BroadcastMaxBytesKey, "64")
    try {
      val e = intercept[Exception] {
        spark.sql("SELECT count(*) FROM g2.db.morcap").collect()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
      assert(chain(e).exists(m => m != null && m.contains("compact")),
        s"expected a compact-advising error, got ${chain(e)}")
    } finally
      spark.conf.unset(graft.catalog.DeleteSidecars.BroadcastMaxBytesKey)
    // and reads recover once the limit is back
    assert(spark.sql("SELECT count(*) FROM g2.db.morcap").collect()
      .head.getLong(0) == 50)
  }

  // --- field-id schema evolution (RENAME COLUMN, drop+re-add) -----------

  test("RENAME COLUMN serves old files' data under the new name (field ids)") {
    spark.sql("CREATE TABLE g2.db.ren (a INT, s STRING)")            // v1
    spark.sql("INSERT INTO g2.db.ren VALUES (1,'x'), (2,'y')")       // v2: gen-1 files
    spark.sql("ALTER TABLE g2.db.ren RENAME COLUMN a TO a2")
    // old files read under the NEW name
    assert(spark.sql("SELECT a2, s FROM g2.db.ren ORDER BY a2").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "x"), (2, "y")))
    // new writes land under the new physical name and mix with old files
    spark.sql("INSERT INTO g2.db.ren VALUES (3,'z')")                // v3: gen-2 file
    assert(spark.sql("SELECT a2 FROM g2.db.ren ORDER BY a2").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // filters on the renamed column apply across both generations
    assert(spark.sql("SELECT s FROM g2.db.ren WHERE a2 >= 2 ORDER BY s")
      .collect().map(_.getString(0)).toSeq == Seq("y", "z"))
    // aggregates too
    assert(spark.sql("SELECT sum(a2) FROM g2.db.ren").collect()
      .head.getLong(0) == 6L)
    // the old name is gone
    intercept[Exception] {
      spark.sql("SELECT a FROM g2.db.ren").collect()
    }
    // chained rename: a2 -> a3, still serving generation-1 bytes
    spark.sql("INSERT INTO g2.db.ren VALUES (4,'w')")                // v4
    spark.sql("ALTER TABLE g2.db.ren RENAME COLUMN a2 TO a3")
    assert(spark.sql("SELECT a3 FROM g2.db.ren ORDER BY a3").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
  }

  test("drop + re-add of a column does NOT resurrect old data (field ids)") {
    spark.sql("CREATE TABLE g2.db.dra (k INT, x STRING)")            // v1
    spark.sql("INSERT INTO g2.db.dra VALUES (1,'old1'), (2,'old2')") // v2
    spark.sql("ALTER TABLE g2.db.dra DROP COLUMN x")
    spark.sql("ALTER TABLE g2.db.dra ADD COLUMN x STRING")
    // the classic field-id test: old files' physical x must NOT serve
    assert(spark.sql("SELECT k, x FROM g2.db.dra ORDER BY k").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq == Seq((1, null), (2, null)),
      "re-added column must read NULL from pre-drop files")
    spark.sql("INSERT INTO g2.db.dra VALUES (3,'new3')")
    assert(spark.sql("SELECT k, x FROM g2.db.dra WHERE x IS NOT NULL").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((3, "new3")))
  }

  test("rename guards: partition columns and name collisions reject") {
    spark.sql("CREATE TABLE g2.db.reng (a INT, region STRING) " +
      "PARTITIONED BY (region)")
    spark.sql("INSERT INTO g2.db.reng VALUES (1, 'eu')")
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE g2.db.reng RENAME COLUMN region TO r2")
    }
    assert(e1.getMessage.contains("partition column"))
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE g2.db.reng RENAME COLUMN a TO region")
    }
    assert(e2.getMessage.contains("already exists"))
  }

  test("compact migrates pre-rename files to the current generation") {
    spark.sql("CREATE TABLE g2.db.renc (a INT, s STRING)")
    spark.sql("INSERT INTO g2.db.renc VALUES (1,'x'), (2,'y')")
    spark.sql("ALTER TABLE g2.db.renc RENAME COLUMN a TO b")
    spark.sql("INSERT INTO g2.db.renc VALUES (3,'z')")
    // pre-migration: upsert and row-level commands reject loudly
    val e = intercept[Exception] {
      import spark.implicits._
      graft.catalog.Maintenance.upsert(spark, "g2.db.renc",
        Seq((1, "X")).toDF("b", "s"), Seq("b"))
    }
    assert(e.getMessage.contains("compact"))
    val e2 = intercept[Exception] {
      spark.sql("UPDATE g2.db.renc SET s = 'u' WHERE b = 1")
    }
    assert(e2.getMessage.contains("compact"))
    graft.catalog.Maintenance.compact(spark, "g2.db.renc", Seq("b"), 1)
    assert(spark.sql("SELECT b, s FROM g2.db.renc ORDER BY b").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "x"), (2, "y"), (3, "z")))
    // post-migration the guarded paths work again
    spark.sql("UPDATE g2.db.renc SET s = 'u' WHERE b = 1")
    assert(spark.sql("SELECT s FROM g2.db.renc WHERE b = 1").collect()
      .head.getString(0) == "u")
  }

  test("MOR deletes and renames compose (positions are name-agnostic)") {
    spark.sql("""CREATE TABLE g2.db.renm (a INT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.renm VALUES (1), (2), (3)")
    spark.sql("ALTER TABLE g2.db.renm RENAME COLUMN a TO b")
    spark.sql("DELETE FROM g2.db.renm WHERE b = 2") // MOR over old-gen files
    assert(snapNow("renm").deleteFiles.nonEmpty, "expected a MOR sidecar")
    assert(spark.sql("SELECT b FROM g2.db.renm ORDER BY b").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
    // compact folds sidecars AND migrates generations in one pass
    graft.catalog.Maintenance.compact(spark, "g2.db.renm", Seq("b"), 1)
    val s = snapNow("renm")
    assert(s.deleteFiles.isEmpty)
    assert(spark.sql("SELECT b FROM g2.db.renm ORDER BY b").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("changelog rejects ranges referencing pre-rename files (no silent " +
      "NULLs or resurrected bytes); post-compact ranges read fine") {
    spark.sql("CREATE TABLE g2.db.rencl (k INT, x STRING)")          // v1
    spark.sql("INSERT INTO g2.db.rencl VALUES (1,'a'), (2,'b')")     // v2
    spark.sql("ALTER TABLE g2.db.rencl RENAME COLUMN x TO y")
    spark.sql("INSERT INTO g2.db.rencl VALUES (3,'c')")              // v3
    val e = intercept[UnsupportedOperationException] {
      graft.catalog.Changelog.read(spark, "g2.db.rencl", 1L, 3L).collect()
    }
    assert(e.getMessage.contains("older schema generation"))
    graft.catalog.Maintenance.compact(spark, "g2.db.rencl", Seq("k"), 1) // v4
    // the compaction diff ITSELF still references the pre-rename files
    // (their rows are its 'delete' side) — (3, 4] stays rejected too
    intercept[UnsupportedOperationException] {
      graft.catalog.Changelog.read(spark, "g2.db.rencl", 3L, 4L).collect()
    }
    // a range past the migration touches only current-generation files
    spark.sql("INSERT INTO g2.db.rencl VALUES (4,'d')")              // v5
    val rows = graft.catalog.Changelog.read(spark, "g2.db.rencl", 4L, 5L)
      .select("k", "y", "_change_type").collect()
    assert(rows.nonEmpty && rows.forall(!_.isNullAt(1)),
      "post-compact changelog must serve the renamed column's data")
  }

  test("DELETE prunes never consult a same-named column from a dropped " +
      "field (old-generation files bypass footer stats)") {
    spark.sql("CREATE TABLE g2.db.dras (k INT, b INT)")
    spark.sql("INSERT INTO g2.db.dras VALUES (1, 100), (2, 200)")
    spark.sql("ALTER TABLE g2.db.dras DROP COLUMN b")
    spark.sql("ALTER TABLE g2.db.dras ADD COLUMN b INT")
    spark.sql("INSERT INTO g2.db.dras VALUES (3, 300)")
    // old files' PHYSICAL b has numNulls=0 — stats keyed by current
    // name would prune them and the matching rows would survive
    spark.sql("DELETE FROM g2.db.dras WHERE b IS NULL")
    assert(spark.sql("SELECT k FROM g2.db.dras ORDER BY k").collect()
      .map(_.getInt(0)).toSeq == Seq(3),
      "rows whose re-added column reads NULL must be deleted")
    // and the value predicate must not be answered from stale stats:
    // old physical b contains 200 but the FIELD b is NULL there
    spark.sql("DROP TABLE IF EXISTS g2.db.dras2")
    spark.sql("CREATE TABLE g2.db.dras2 (k INT, b INT)")
    spark.sql("INSERT INTO g2.db.dras2 VALUES (1, 100), (2, 200)")
    spark.sql("ALTER TABLE g2.db.dras2 DROP COLUMN b")
    spark.sql("ALTER TABLE g2.db.dras2 ADD COLUMN b INT")
    spark.sql("DELETE FROM g2.db.dras2 WHERE b = 200")
    assert(spark.sql("SELECT count(*) FROM g2.db.dras2").collect()
      .head.getLong(0) == 2, "no FIELD b equals 200; nothing may delete")
  }

  test("a pure DROP COLUMN keeps the fast path: MERGE/upsert/changelog " +
      "still work without compaction") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.dropfast (k INT, v STRING, c INT)") // v1
    spark.sql("INSERT INTO g2.db.dropfast VALUES (1,'a',10), (2,'b',20)") // v2
    spark.sql("ALTER TABLE g2.db.dropfast DROP COLUMN c")
    // old files carry the dropped physical column but every CURRENT
    // field maps identically — no generation-aware scan, no rejects
    spark.sql("UPDATE g2.db.dropfast SET v = 'B' WHERE k = 2")
    assert(spark.sql("SELECT v FROM g2.db.dropfast WHERE k = 2").collect()
      .head.getString(0) == "B")
    graft.catalog.Maintenance.upsert(spark, "g2.db.dropfast",
      Seq((3, "c")).toDF("k", "v"), Seq("k"))
    assert(spark.sql("SELECT count(*) FROM g2.db.dropfast").collect()
      .head.getLong(0) == 3)
    assert(graft.catalog.Changelog.read(spark, "g2.db.dropfast", 1L, 2L)
      .count() == 2)
  }

  test("a rewrite whose base predates a concurrent MOR delete aborts " +
      "instead of resurrecting the masked rows") {
    spark.sql("""CREATE TABLE g2.db.morrace (k INT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.morrace VALUES (1), (2), (3)")
    val base = snapNow("morrace")
    // the "concurrent" MOR delete commits AFTER the rewrite captured base
    spark.sql("DELETE FROM g2.db.morrace WHERE k = 2")
    val e = intercept[java.util.ConcurrentModificationException] {
      graft.catalog.Maintenance.CompactTestHook.replaceWithStaleDeletes(
        spark, "g2.db.morrace", base.dataFiles, base.deleteFiles)
    }
    assert(e.getMessage.contains("merge-on-read"))
    assert(spark.sql("SELECT k FROM g2.db.morrace ORDER BY k").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3), "the mask must survive")
    // with the sidecar in its base view, the same rewrite commits fine
    val cur = snapNow("morrace")
    graft.catalog.Maintenance.CompactTestHook.replaceWithStaleDeletes(
      spark, "g2.db.morrace", cur.dataFiles, cur.deleteFiles)
    assert(spark.sql("SELECT k FROM g2.db.morrace ORDER BY k").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("expireSnapshots refuses to reclassify live files across a " +
      "generation boundary (drop+re-add stays dead after expiry)") {
    spark.sql("CREATE TABLE g2.db.renexp (k INT, x STRING)")          // v1
    spark.sql("INSERT INTO g2.db.renexp VALUES (1,'secret')")         // v2
    spark.sql("ALTER TABLE g2.db.renexp DROP COLUMN x")
    spark.sql("ALTER TABLE g2.db.renexp ADD COLUMN x STRING")         // gen 2
    spark.sql("INSERT INTO g2.db.renexp VALUES (2,'new')")            // v3
    spark.sql("INSERT INTO g2.db.renexp VALUES (3,'new3')")           // v4
    // expiring v2 would raise the v2-file's first-seen past the
    // generation boundary and RESURRECT the dropped 'secret' bytes
    val e = intercept[IllegalStateException] {
      graft.catalog.Maintenance.expireSnapshots(spark, "g2.db.renexp", 1)
    }
    assert(e.getMessage.contains("generation boundary"))
    assert(spark.sql("SELECT x FROM g2.db.renexp WHERE k = 1").collect()
      .head.isNullAt(0), "dropped bytes must stay dead")
    // compaction migrates the file; expiry then proceeds and the
    // dropped column stays dead
    graft.catalog.Maintenance.compact(spark, "g2.db.renexp", Seq("k"), 1)
    val (dropped, _) =
      graft.catalog.Maintenance.expireSnapshots(spark, "g2.db.renexp", 1)
    assert(dropped > 0)
    assert(spark.sql("SELECT x FROM g2.db.renexp WHERE k = 1").collect()
      .head.isNullAt(0), "dropped bytes must stay dead after expiry")
  }

  test("time travel across a rename serves old snapshots under current names") {
    spark.sql("CREATE TABLE g2.db.rent (a INT)")                     // v1
    spark.sql("INSERT INTO g2.db.rent VALUES (1), (2)")              // v2
    spark.sql("ALTER TABLE g2.db.rent RENAME COLUMN a TO b")
    spark.sql("INSERT INTO g2.db.rent VALUES (3)")                   // v3
    // the pinned snapshot predates the rename; columns resolve by id
    // under the CURRENT name (one consistent view, like Iceberg reads
    // with the current schema)
    assert(spark.sql("SELECT b FROM g2.db.rent VERSION AS OF 2 ORDER BY b")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test(".files metadata table reports sidecars as position-deletes content") {
    spark.sql("""CREATE TABLE g2.db.morft (a INT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g2.db.morft VALUES (1), (2), (3)")
    spark.sql("DELETE FROM g2.db.morft WHERE a = 2")
    val rows = spark.sql(
      "SELECT content, record_count FROM g2.db.morft.files ORDER BY content")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows.map(_._1).count(_ == "data") >= 1)
    assert(rows.filter(_._1 == "position-deletes").map(_._2).sum == 1,
      s"one masked position expected, got $rows")
  }

  // --- hidden partition transforms (Iceberg spec §4, r16) --------------

  /** Number of parquet FILES the (already filter-pushed) scan reads —
    * partition-count comparisons are unstable because Spark packs small
    * files into a fixed number of FilePartitions. */
  private def scanFiles(df: org.apache.spark.sql.DataFrame): Int = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.length == 1)
    scans.head.toBatch.planInputPartitions().map {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.length
      case _ => 1
    }.sum
  }

  test("days(ts) hidden partitioning: a predicate on the SOURCE column " +
      "prunes day dirs, the derived column never surfaces") {
    spark.sql("""CREATE TABLE g2.db.evdays (ev_id BIGINT, ts TIMESTAMP, v DOUBLE)
      PARTITIONED BY (days(ts))""")
    // 4 days × 6 events
    spark.sql("""INSERT INTO g2.db.evdays
      SELECT id, timestamp_seconds(1700000000 + (id % 4) * 86400 + id),
             CAST(id AS DOUBLE)
      FROM range(0, 24)""")
    // layout: hive dirs on the DERIVED day, not a schema column
    val dataDir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "evdays", "data")
    val dirs = java.nio.file.Files.list(dataDir).iterator()
    val dayDirs = scala.jdk.CollectionConverters.IteratorHasAsScala(dirs)
      .asScala.map(_.getFileName.toString).filter(_.startsWith("ts_day="))
      .toSeq
    assert(dayDirs.size == 4, s"expected 4 day dirs, got $dayDirs")
    assert(!spark.table("g2.db.evdays").columns.contains("ts_day"))
    // correctness + pruning: one day selected via a RAW ts range
    val oneDay = spark.sql("""SELECT ev_id FROM g2.db.evdays
      WHERE ts >= timestamp_seconds(1700000000)
        AND ts < timestamp_seconds(1700086400)""")
    assert(oneDay.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 24L).filter(id => (id % 4) * 86400 + id < 86400).sorted)
    val full = spark.sql("SELECT ev_id FROM g2.db.evdays")
    assert(scanFiles(oneDay) < scanFiles(full),
      s"ts-range predicate must prune day dirs: " +
        s"${scanFiles(oneDay)} !< ${scanFiles(full)}")
    // a DELETE with a ts predicate also dir-prunes (and stays correct)
    spark.sql("""DELETE FROM g2.db.evdays
      WHERE ts >= timestamp_seconds(1700259200)""")
    assert(spark.sql("SELECT count(*) FROM g2.db.evdays").collect()
      .head.getLong(0) ==
      (0L until 24L).count(id =>
        1700000000 + (id % 4) * 86400 + id < 1700259200))
  }

  test("bucket(n, k) hidden partitioning: point lookups prune to one " +
      "bucket dir with Spark's own hash") {
    spark.sql("""CREATE TABLE g2.db.evbkt (k BIGINT, v STRING)
      PARTITIONED BY (bucket(8, k))""")
    spark.sql("""INSERT INTO g2.db.evbkt
      SELECT id, concat('v', CAST(id AS STRING)) FROM range(0, 400)""")
    val point = spark.sql("SELECT v FROM g2.db.evbkt WHERE k = 123")
    assert(point.collect().map(_.getString(0)).toSeq == Seq("v123"))
    val full = spark.sql("SELECT v FROM g2.db.evbkt")
    assert(scanFiles(point) < scanFiles(full),
      "k = 123 must prune to one bucket dir")
    // IN lists prune to the union of their buckets
    val in3 = spark.sql("SELECT v FROM g2.db.evbkt WHERE k IN (1, 2, 3)")
    assert(in3.collect().map(_.getString(0)).toSet == Set("v1", "v2", "v3"))
    assert(scanFiles(in3) <= scanFiles(full))
  }

  test("truncate(w, s) hidden partitioning: equality and prefix " +
      "predicates prune truncation dirs") {
    spark.sql("""CREATE TABLE g2.db.evtr (s STRING, v BIGINT)
      PARTITIONED BY (truncate(2, s))""")
    spark.sql("""INSERT INTO g2.db.evtr VALUES
      ('aaX', 1), ('abY', 2), ('baZ', 3), ('bbW', 4), ('ba', 5)""")
    val eq = spark.sql("SELECT v FROM g2.db.evtr WHERE s = 'baZ'")
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val full = spark.sql("SELECT v FROM g2.db.evtr")
    assert(scanFiles(eq) < scanFiles(full))
    val pre = spark.sql("SELECT v FROM g2.db.evtr WHERE s LIKE 'ba%'")
    assert(pre.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 5L))
    assert(scanFiles(pre) < scanFiles(full))
  }

  test("bucket-partitioned IS NULL finds null-key rows (Spark's " +
      "hash(NULL) is the SEED, so nulls live in an ordinary bucket dir " +
      "— the null-dir-only prune dropped them; r16 self-audit)") {
    spark.sql("""CREATE TABLE g2.db.evbn (k BIGINT, v STRING)
      PARTITIONED BY (bucket(8, k))""")
    spark.sql("""INSERT INTO g2.db.evbn VALUES
      (1, 'a'), (NULL, 'n1'), (2, 'b'), (NULL, 'n2')""")
    assert(spark.sql("SELECT v FROM g2.db.evbn WHERE k IS NULL ORDER BY v")
      .collect().map(_.getString(0)).toSeq == Seq("n1", "n2"))
    assert(spark.sql("SELECT v FROM g2.db.evbn WHERE k <=> CAST(NULL AS BIGINT) ORDER BY v")
      .collect().map(_.getString(0)).toSeq == Seq("n1", "n2"))
    assert(spark.sql("SELECT count(*) FROM g2.db.evbn WHERE k IS NOT NULL")
      .collect().head.getLong(0) == 2)
    // days/truncate route nulls to the hive null dir; IS NULL prunes to it
    spark.sql("""CREATE TABLE g2.db.evtn (s STRING, v BIGINT)
      PARTITIONED BY (truncate(2, s))""")
    spark.sql("INSERT INTO g2.db.evtn VALUES ('ab', 1), (NULL, 2)")
    assert(spark.sql("SELECT v FROM g2.db.evtn WHERE s IS NULL").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    assert(scanFiles(spark.sql("SELECT v FROM g2.db.evtn WHERE s IS NULL")) <
      scanFiles(spark.sql("SELECT v FROM g2.db.evtn")))
  }

  test("hidden-transform guardrails: the source column cannot be " +
      "renamed; upsert works") {
    import spark.implicits._
    spark.sql("""CREATE TABLE g2.db.evguard (k BIGINT, ts TIMESTAMP)
      PARTITIONED BY (days(ts))""")
    spark.sql("""INSERT INTO g2.db.evguard
      SELECT id, timestamp_seconds(1700000000 + id) FROM range(0, 5)""")
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE g2.db.evguard RENAME COLUMN ts TO t2")
    }
    assert(e2.getMessage.contains("partition column"))
    graft.catalog.Maintenance.upsert(spark, "g2.db.evguard",
      Seq((99L, java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(1700100000L)))).toDF("k", "ts"),
      Seq("k"))
    assert(spark.sql("SELECT count(*) FROM g2.db.evguard").collect()
      .head.getLong(0) == 6)
  }

  test("MERGE INTO / UPDATE on hidden-partitioned tables (r17, VERDICT " +
      "r16 #1): derived dirs recomputed per row, updates that MOVE a " +
      "row across partitions land in the right dir, runtime group " +
      "filtering prunes transform dirs") {
    // days(ts) table: 4 day dirs × 6 rows
    spark.sql("""CREATE TABLE g2.db.evmrg (k BIGINT, ts TIMESTAMP, v DOUBLE)
      PARTITIONED BY (days(ts))""")
    spark.sql("""INSERT INTO g2.db.evmrg
      SELECT id, timestamp_seconds(1700000000 + (id % 4) * 86400 + id),
             CAST(id AS DOUBLE)
      FROM range(0, 24)""")
    // matched UPDATE that MOVES row k=1 three days forward + unmatched
    // INSERT into a brand-new day
    spark.sql("""MERGE INTO g2.db.evmrg t
      USING (SELECT 1L AS k,
                    timestamp_seconds(1700000000 + 3 * 86400 + 1) AS ts,
                    100.0D AS v
             UNION ALL
             SELECT 99L, timestamp_seconds(1700000000 + 9 * 86400), 99.0D) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT count(*) FROM g2.db.evmrg").collect()
      .head.getLong(0) == 25)
    assert(spark.sql("SELECT v FROM g2.db.evmrg WHERE k = 1").collect()
      .map(_.getDouble(0)).toSeq == Seq(100.0))
    // the moved row is served from its NEW day dir: a day-3-only ts
    // range predicate (which dir-prunes) must find it
    assert(spark.sql("""SELECT k FROM g2.db.evmrg
      WHERE ts >= timestamp_seconds(1700000000 + 3 * 86400)
        AND ts <  timestamp_seconds(1700000000 + 4 * 86400)
      ORDER BY k""").collect().map(_.getLong(0)).toSeq
      .contains(1L))
    // on-disk: the new rows landed in real ts_day dirs (day 9 exists)
    val dataDir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "evmrg", "data")
    val dayDirs = scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.nio.file.Files.list(dataDir).iterator()).asScala
      .map(_.getFileName.toString).filter(_.startsWith("ts_day=")).toSet
    // base 1700000000 = 2023-11-14 22:13 UTC, so +9 days = 2023-11-23
    assert(dayDirs.contains("ts_day=2023-11-23"), s"got $dayDirs")
    // UPDATE with a ts predicate: runtime group filtering + the static
    // dir prune leave untouched days' files in place
    val filesBefore = graft.catalog.Snapshots.latest(
      java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "evmrg"))
      .get.dataFiles.toSet
    spark.sql("""UPDATE g2.db.evmrg SET v = v + 1000
      WHERE ts >= timestamp_seconds(1700000000 + 9 * 86400)""")
    val filesAfter = graft.catalog.Snapshots.latest(
      java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "evmrg"))
      .get.dataFiles.toSet
    assert(spark.sql("SELECT v FROM g2.db.evmrg WHERE k = 99").collect()
      .map(_.getDouble(0)).toSeq == Seq(1099.0))
    assert(spark.sql("SELECT sum(v) FROM g2.db.evmrg WHERE k < 99")
      .collect().head.getDouble(0) ==
      (0 until 24).map(_.toDouble).sum - 1.0 + 100.0)
    val untouched = filesBefore.intersect(filesAfter)
    assert(untouched.nonEmpty,
      s"day-pruned UPDATE must leave other days' files in place: " +
        s"$filesBefore -> $filesAfter")
    // bucket(8, k) table: MERGE a point update + an insert; the derived
    // bucket dir uses Spark's own hash, so the point lookup still prunes
    spark.sql("""CREATE TABLE g2.db.bkmrg (k BIGINT, v STRING)
      PARTITIONED BY (bucket(8, k))""")
    spark.sql("""INSERT INTO g2.db.bkmrg
      SELECT id, concat('v', CAST(id AS STRING)) FROM range(0, 100)""")
    spark.sql("""MERGE INTO g2.db.bkmrg t
      USING (SELECT 42L AS k, 'updated' AS v
             UNION ALL SELECT 555L, 'new') s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT v FROM g2.db.bkmrg WHERE k = 42").collect()
      .map(_.getString(0)).toSeq == Seq("updated"))
    assert(spark.sql("SELECT v FROM g2.db.bkmrg WHERE k = 555").collect()
      .map(_.getString(0)).toSeq == Seq("new"))
    assert(spark.sql("SELECT count(*) FROM g2.db.bkmrg").collect()
      .head.getLong(0) == 101)
    // the new row's bucket dir agrees with the prune path: the point
    // lookup above already proved it (a mislaid dir would read 0 rows);
    // double-check the dir value is Spark's hash
    val expectBucket = math.floorMod(
      org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
        555L, org.apache.spark.sql.types.LongType, 42L).toInt, 8)
    val bkDir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "bkmrg",
      "data", s"k_bucket=$expectBucket")
    assert(java.nio.file.Files.isDirectory(bkDir), s"missing $bkDir")
    // truncate(2, s) table: subquery DELETE takes the row-level path
    spark.sql("""CREATE TABLE g2.db.trmrg (s STRING, v BIGINT)
      PARTITIONED BY (truncate(2, s))""")
    spark.sql("""INSERT INTO g2.db.trmrg VALUES
      ('aaX', 1), ('abY', 2), ('baZ', 3), ('bbW', 4)""")
    spark.sql("""DELETE FROM g2.db.trmrg
      WHERE v IN (SELECT max(v) FROM g2.db.trmrg)""")
    assert(spark.sql("SELECT s FROM g2.db.trmrg ORDER BY s").collect()
      .map(_.getString(0)).toSeq == Seq("aaX", "abY", "baZ"))
  }

  // --- type promotion (Iceberg spec §4 legal widenings, r16) -----------

  test("ALTER COLUMN TYPE int→bigint: old narrow files read correct " +
      "wide values (multi-batch, vectorized), new files store wide") {
    spark.sql("CREATE TABLE g2.db.prom (k INT, v STRING)")
    // 10k rows → several vectorized batches in the promoted slice
    spark.sql("""INSERT INTO g2.db.prom
      SELECT CAST(id AS INT), concat('v', CAST(id AS STRING))
      FROM range(0, 10000)""")
    spark.sql("ALTER TABLE g2.db.prom ALTER COLUMN k TYPE BIGINT")
    assert(spark.table("g2.db.prom").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    spark.sql("INSERT INTO g2.db.prom VALUES (3000000000, 'big')")
    val agg = spark.sql(
      "SELECT count(*) AS c, sum(k) AS s FROM g2.db.prom").collect().head
    assert(agg.getLong(0) == 10001)
    assert(agg.getLong(1) == (0L until 10000L).sum + 3000000000L)
    // row identity across the generation boundary
    assert(spark.sql(
      "SELECT v FROM g2.db.prom WHERE k = 4097").collect()
      .map(_.getString(0)).toSeq == Seq("v4097"))
    assert(spark.sql(
      "SELECT v FROM g2.db.prom WHERE k = 3000000000").collect()
      .map(_.getString(0)).toSeq == Seq("big"))
    // compact migrates every file to the wide type: fast path returns
    graft.catalog.Maintenance.compact(spark, "g2.db.prom", Seq("k"), 1)
    val scans = spark.sql("SELECT k FROM g2.db.prom")
      .queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }
    assert(!scans.head.description().contains("schema generations"))
    assert(spark.sql("SELECT sum(k) FROM g2.db.prom").collect()
      .head.getLong(0) == agg.getLong(1))
  }

  test("float→double and decimal precision growth promote; narrowings " +
      "and kind changes stay rejected") {
    spark.sql(
      "CREATE TABLE g2.db.promfd (f FLOAT, d DECIMAL(10,2), s STRING)")
    spark.sql("""INSERT INTO g2.db.promfd VALUES
      (CAST(1.5 AS FLOAT), CAST(12345678.99 AS DECIMAL(10,2)), 'a')""")
    spark.sql("ALTER TABLE g2.db.promfd ALTER COLUMN f TYPE DOUBLE")
    spark.sql("ALTER TABLE g2.db.promfd ALTER COLUMN d TYPE DECIMAL(20,2)")
    spark.sql("""INSERT INTO g2.db.promfd VALUES
      (2.25, CAST(123456789012345678.11 AS DECIMAL(20,2)), 'b')""")
    val rows = spark.sql(
      "SELECT f, d FROM g2.db.promfd ORDER BY s").collect()
    assert(rows(0).getDouble(0) == 1.5)
    assert(rows(0).getDecimal(1) ==
      new java.math.BigDecimal("12345678.99"))
    assert(rows(1).getDecimal(1) ==
      new java.math.BigDecimal("123456789012345678.11"))
    // narrowings: Spark's own analyzer rejects them (canUpCast) before
    // the catalog is consulted
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE g2.db.promfd ALTER COLUMN f TYPE FLOAT")
    }
    assert(e1.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    // Spark-legal up-casts that are NOT physical-layout-safe widenings
    // (double→string, decimal scale change) reject in the CATALOG: the
    // narrow parquet bytes cannot serve the new kind
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE g2.db.promfd ALTER COLUMN f TYPE STRING")
    }
    assert(e2.getMessage.contains("widening"))
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE g2.db.promfd ALTER COLUMN d TYPE DECIMAL(22,4)")
    }
    assert(e3.getMessage.contains("widening"))
  }

  test("promotion composes with rename and time travel: pinned snapshots " +
      "read narrow files under the current wide schema") {
    spark.sql("CREATE TABLE g2.db.promtt (k INT, b DOUBLE)")          // v1
    spark.sql("INSERT INTO g2.db.promtt VALUES (1, 1.5), (2, 2.5)")   // v2
    spark.sql("ALTER TABLE g2.db.promtt ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO g2.db.promtt VALUES (3000000000, 3.5)")    // v3
    spark.sql("ALTER TABLE g2.db.promtt RENAME COLUMN b TO c")
    spark.sql("INSERT INTO g2.db.promtt VALUES (4, 4.5)")             // v4
    assert(spark.sql("SELECT k, c FROM g2.db.promtt ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.5), (2L, 2.5), (4L, 4.5), (3000000000L, 3.5)))
    // travel to v2: narrow-era files under CURRENT names and types
    assert(spark.sql(
      "SELECT k, c FROM g2.db.promtt VERSION AS OF 2 ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.5), (2L, 2.5)))
    // upsert rejects until compacted (raw reads would mis-type), then works
    import spark.implicits._
    val e = intercept[UnsupportedOperationException] {
      graft.catalog.Maintenance.upsert(spark, "g2.db.promtt",
        Seq((2L, 9.9)).toDF("k", "c"), Seq("k"))
    }
    assert(e.getMessage.contains("older schema generation"))
    graft.catalog.Maintenance.compact(spark, "g2.db.promtt", Seq("k"), 1)
    graft.catalog.Maintenance.upsert(spark, "g2.db.promtt",
      Seq((2L, 9.9)).toDF("k", "c"), Seq("k"))
    assert(spark.sql("SELECT c FROM g2.db.promtt WHERE k = 2").collect()
      .map(_.getDouble(0)).toSeq == Seq(9.9))
  }

  test("promoted tables are FIRST-CLASS without compaction (r17): " +
      "upsert, deleteByKey on the promoted column, MERGE, changelog " +
      "and pushed filters all work over narrow-era files") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.promfc (k BIGINT, q INT)")          // v1
    spark.sql("""INSERT INTO g2.db.promfc
      SELECT id, CAST(id * 3 AS INT) FROM range(0, 100)""")           // v2
    spark.sql("ALTER TABLE g2.db.promfc ALTER COLUMN q TYPE BIGINT")
    spark.sql(
      "INSERT INTO g2.db.promfc VALUES (200, 3000000000)")            // v3
    // pushed filter ON the promoted column over narrow files: exact,
    // including a value only representable in the wide type
    assert(spark.sql("SELECT k FROM g2.db.promfc WHERE q = 27").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
    assert(spark.sql(
      "SELECT k FROM g2.db.promfc WHERE q >= 3000000000").collect()
      .map(_.getLong(0)).toSeq == Seq(200L))
    val pushed = spark.sql("SELECT k FROM g2.db.promfc WHERE q = 27")
      .queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters: [IsNotNull(q), EqualTo(q,27)]"),
      pushed)
    // upsert WITHOUT compact (pre-r17: rejected until compaction)
    graft.catalog.Maintenance.upsert(spark, "g2.db.promfc",
      Seq((5L, 999L), (300L, 42L)).toDF("k", "q"), Seq("k"))          // v4
    assert(spark.sql("SELECT q FROM g2.db.promfc WHERE k IN (5, 300) " +
      "ORDER BY k").collect().map(_.getLong(0)).toSeq == Seq(999L, 42L))
    // equality delete keyed on the PROMOTED column: the scratch read of
    // a narrow file serves natively-widened values, so the wide key
    // masks the int-era row
    val n = graft.catalog.Maintenance.deleteByKey(spark, "g2.db.promfc",
      Seq(27L).toDF("q"))                                             // v5
    assert(n == 1L)
    assert(spark.sql("SELECT count(*) FROM g2.db.promfc WHERE q = 27")
      .collect().head.getLong(0) == 0L)
    // changelog across the promotion + mutation range, no compact
    val cdc = graft.catalog.Changelog.read(spark, "g2.db.promfc", 4L, 5L)
      .where($"_change_type" === "delete")
      .select("k", "q").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cdc.toSeq == Seq((9L, 27L)), cdc.toSeq)
    // MERGE INTO without compact (row-level command over mixed eras)
    spark.sql("""MERGE INTO g2.db.promfc t
      USING (SELECT 7L AS k, 70000000000L AS q) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.q = s.q
      WHEN NOT MATCHED THEN INSERT *""")                              // v6
    assert(spark.sql("SELECT q FROM g2.db.promfc WHERE k = 7").collect()
      .map(_.getLong(0)).toSeq == Seq(70000000000L))
    // the full survivor set is exact across all of it
    assert(spark.sql("SELECT count(*) AS c, sum(q) AS s FROM g2.db.promfc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head ==
      ((101L, (0L until 100L).map(_ * 3).sum - 27L - 15L + 999L + 42L +
        3000000000L - 21L + 70000000000L)))
  }

  test("footer-stats file pruning stays EXACT through a promotion " +
      "(narrow int stats vs wide bigint predicates; straddling file " +
      "fixture — VERDICT r16 #4)") {
    def versionOf(t: String): Long = graft.catalog.Snapshots.latest(
      java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", t))
      .get.version
    def filesOf(t: String): Set[String] = graft.catalog.Snapshots.latest(
      java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", t))
      .get.dataFiles.toSet
    spark.sql("CREATE TABLE g2.db.promst (q INT, v STRING)")
    // two narrow files with DISJOINT ranges: [0,10] and [100,110]
    spark.sql("INSERT INTO g2.db.promst SELECT CAST(id AS INT), 'lo' " +
      "FROM range(0, 11, 1, 1)")   // numPartitions=1: ONE file per era
    spark.sql("INSERT INTO g2.db.promst SELECT CAST(id AS INT), 'hi' " +
      "FROM range(100, 111, 1, 1)")
    spark.sql("ALTER TABLE g2.db.promst ALTER COLUMN q TYPE BIGINT")
    val before = filesOf("promst")
    val vBefore = versionOf("promst")
    // beyond-int-range predicate: PROVABLY no match in any narrow file
    // → metadata no-op, no rewrite, no new snapshot
    spark.sql("DELETE FROM g2.db.promst WHERE q > 3000000000")
    assert(versionOf("promst") == vBefore, "beyond-range DELETE must be " +
      "a provable no-op on narrow files")
    // straddling fixture: stats [100,110] straddle q >= 105 — the file
    // MUST be touched (pre-fix bypass read it as opaque; a wrong prune
    // would silently keep the matching rows)
    spark.sql("DELETE FROM g2.db.promst WHERE q >= 105")
    val after = filesOf("promst")
    assert(spark.sql("SELECT count(*) FROM g2.db.promst").collect()
      .head.getLong(0) == 16L) // 11 lo + 5 hi survivors
    // the LO file was provably unaffected: its identity is preserved
    assert(before.intersect(after).size == 1,
      s"exactly the lo file must survive untouched: $before -> $after")
  }

  test("type promotion drops the column's bloom sidecars (narrow-value " +
      "hashes would false-negative against wide probes)") {
    spark.sql("CREATE TABLE g2.db.promblm (q INT, v STRING)")
    spark.sql("INSERT INTO g2.db.promblm SELECT CAST(id AS INT), 'x' " +
      "FROM range(0, 50, 1, 1)")   // numPartitions=1: ONE file each
    spark.sql("INSERT INTO g2.db.promblm SELECT CAST(id AS INT), 'y' " +
      "FROM range(1000, 1050, 1, 1)")
    assert(graft.catalog.Maintenance.addBlooms(
      spark, "g2.db.promblm", Seq("q")) == 2)
    val bloomsDir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "promblm",
      "blooms")
    def bloomCount: Long =
      scala.util.Using.resource(java.nio.file.Files.list(bloomsDir))(
        _.filter(p => p.toString.endsWith(".q.bloom")).count())
    assert(bloomCount == 2)
    spark.sql("ALTER TABLE g2.db.promblm ALTER COLUMN q TYPE BIGINT")
    assert(bloomCount == 0, "promotion must invalidate the column's blooms")
    // point DELETE on the promoted column stays correct (stats prune
    // only; no stale narrow-hash bloom consulted)
    spark.sql("DELETE FROM g2.db.promblm WHERE q = 1025")
    assert(spark.sql("SELECT count(*) FROM g2.db.promblm").collect()
      .head.getLong(0) == 99L)
    // addBlooms REBUILDS over the mixed narrow+wide files, hashing the
    // natively-widened values
    spark.sql("INSERT INTO g2.db.promblm VALUES (9000000000, 'z')")
    assert(graft.catalog.Maintenance.addBlooms(
      spark, "g2.db.promblm", Seq("q")) >= 2)
    assert(spark.sql("SELECT v FROM g2.db.promblm WHERE q = 9000000000")
      .collect().map(_.getString(0)).toSeq == Seq("z"))
  }

  test("compact self-heals bloom sidecars from the recorded-columns " +
      "property: promote → compact → point-lookup pruning active again " +
      "with NO manual addBlooms (r18)") {
    // two one-file inserts with INTERLEAVED keys: footer min/max can't
    // separate them, so a point lookup prunes ONLY through blooms
    spark.sql("CREATE TABLE g2.db.blmheal (q INT, v STRING)")
    // q = 0,4,8..196 and 2,6,10..198: every ODD value is in-range for
    // both files' [min, max] yet absent from both
    spark.sql("INSERT INTO g2.db.blmheal SELECT CAST(id * 4 AS INT), 'e' " +
      "FROM range(0, 50, 1, 1)")
    spark.sql("INSERT INTO g2.db.blmheal SELECT CAST(id * 4 + 2 AS INT), " +
      "'o' FROM range(0, 50, 1, 1)")
    assert(graft.catalog.Maintenance.addBlooms(
      spark, "g2.db.blmheal", Seq("q")) == 2)
    assert(graft.catalog.TableMeta.readProps(tdir("blmheal"))
      .get(graft.catalog.BloomSidecars.ColumnsKey).contains("q"))
    def snapVersion: Long =
      graft.catalog.Snapshots.latest(tdir("blmheal")).get.version
    // bloom-pruned no-op: 200 is in-range for both files (stats can't
    // prune) but in neither bloom — no rewrite, no new snapshot
    val v0 = snapVersion
    spark.sql("DELETE FROM g2.db.blmheal WHERE q = 101")
    assert(snapVersion == v0, "bloom miss must make the DELETE a no-op")
    spark.sql("ALTER TABLE g2.db.blmheal ALTER COLUMN q TYPE BIGINT")
    // sidecars dropped: the same DELETE now rewrites (conservative)
    val v1 = snapVersion
    spark.sql("DELETE FROM g2.db.blmheal WHERE q = 103")
    assert(snapVersion > v1,
      "without sidecars the point DELETE must touch files")
    // compact REBUILDS the sidecars from the property — two range-
    // clustered output files, each with a q bloom, no manual addBlooms
    graft.catalog.Maintenance.compact(spark, "g2.db.blmheal", Seq("q"), 2)
    val bloomsDir = tdir("blmheal").resolve("blooms")
    val live = graft.catalog.Snapshots.latest(tdir("blmheal")).get
      .dataFiles.map(f => java.nio.file.Paths.get(f).getFileName.toString)
      .toSet
    val rebuilt = scala.util.Using.resource(
      java.nio.file.Files.list(bloomsDir)) { st =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator())
        .asScala.map(_.getFileName.toString)
        .count(n => n.endsWith(".q.bloom") &&
          live.exists(f => n.startsWith(f + ".")))
    }
    assert(rebuilt == live.size, s"rebuilt $rebuilt of ${live.size}")
    // ...but post-compact the files are range-clustered, so stats prune
    // the out-of-range key; use an IN-RANGE absent key: wide probe
    // against the rebuilt (wide-hashed) blooms is a provable no-op
    val v2 = snapVersion
    spark.sql("DELETE FROM g2.db.blmheal WHERE q = 105")
    assert(snapVersion == v2,
      "rebuilt blooms must make the wide point DELETE a no-op again")
    assert(spark.sql("SELECT count(*) FROM g2.db.blmheal").collect()
      .head.getLong(0) == 100L)
  }

  // --- equality deletes (Iceberg v2's second delete type, r16) ---------

  test("deleteByKey masks pre-existing rows only: a later re-insert of " +
      "the same key is served (strict first-seen-before-version rule)") {
    spark.sql("CREATE TABLE g2.db.eqbase (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g2.db.eqbase VALUES (1,'a'), (2,'b'), (3,'c')")
    import spark.implicits._
    val n = graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqbase",
      Seq(2L, 3L).toDF("k"))
    assert(n == 2)
    assert(spark.sql("SELECT k FROM g2.db.eqbase ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // re-insert a deleted key: the new row is NOT masked
    spark.sql("INSERT INTO g2.db.eqbase VALUES (2,'b2')")
    assert(spark.sql("SELECT k, v FROM g2.db.eqbase ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b2")))
    // no data file was rewritten; exactly one equality sidecar pends
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "eqbase")
    val snap = graft.catalog.Snapshots.latest(dir).get
    assert(snap.eqDeleteFiles.nonEmpty && snap.posDeleteFiles.isEmpty)
    assert(spark.sql("SELECT content FROM g2.db.eqbase.files").collect()
      .map(_.getString(0)).contains("equality-deletes"))
  }

  test("equality + position deletes STACK, time travel ignores both, " +
      "and compact folds both sidecar types away") {
    spark.sql("""CREATE TABLE g2.db.eqstack (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("""INSERT INTO g2.db.eqstack
      SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)""")          // v2
    spark.sql("DELETE FROM g2.db.eqstack WHERE k < 10")             // v3: pos
    import spark.implicits._
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqstack",
      Seq(50L, 51L, 5L).toDF("k"))                                  // v4: eq (5 already masked)
    val expect = (0L until 100L).filter(k => k >= 10 && k != 50 && k != 51)
    assert(spark.sql("SELECT k FROM g2.db.eqstack ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == expect)
    // travel to v2: every row served
    assert(spark.sql(
      "SELECT count(*) FROM g2.db.eqstack VERSION AS OF 2").collect()
      .head.getLong(0) == 100)
    // aggregate through the masked scan is exact
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM g2.db.eqstack")
      .collect().head.getLong(0) == expect.sum)
    // compact folds both sidecar types; the fast path returns
    graft.catalog.Maintenance.compact(spark, "g2.db.eqstack", Seq("k"), 1)
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "eqstack")
    val snap = graft.catalog.Snapshots.latest(dir).get
    assert(snap.deleteFiles.isEmpty)
    assert(spark.sql("SELECT k FROM g2.db.eqstack ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == expect)
  }

  test("COW DELETE, MOR position DELETE and equality deleteByKey agree " +
      "row-for-row on the same logical operation") {
    import spark.implicits._
    def build(name: String, mor: Boolean): Unit = {
      val p = if (mor)
        " TBLPROPERTIES ('write.delete.mode'='merge-on-read')" else ""
      spark.sql(s"CREATE TABLE g2.db.$name (k BIGINT, v STRING)$p")
      spark.sql(s"""INSERT INTO g2.db.$name
        SELECT id, concat('v', CAST(id AS STRING)) FROM range(0, 200)""")
    }
    build("par_cow", mor = false)
    build("par_mor", mor = true)
    build("par_eq", mor = false)
    spark.sql("DELETE FROM g2.db.par_cow WHERE k % 7 = 0")
    spark.sql("DELETE FROM g2.db.par_mor WHERE k % 7 = 0")
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.par_eq",
      (0L until 200L).filter(_ % 7 == 0).toDF("k"))
    val rows = Seq("par_cow", "par_mor", "par_eq").map(t =>
      spark.sql(s"SELECT k, v FROM g2.db.$t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq)
    assert(rows(0) == rows(1) && rows(1) == rows(2))
  }

  test("equality-delete changelog is row-exact: the commit emits EXACTLY " +
      "the newly-masked rows, and a rollback emits them back as inserts") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.eqcdc (k BIGINT, v STRING)")        // v1
    spark.sql("INSERT INTO g2.db.eqcdc VALUES (1,'a'), (2,'b'), (3,'c')") // v2
    spark.sql("DELETE FROM g2.db.eqcdc WHERE k = 3") // v3: COW rewrite
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqcdc",
      Seq(2L, 3L, 99L).toDF("k")) // v4: only k=2 is NEWLY masked (3 gone, 99 absent)
    val cdc = graft.catalog.Changelog.read(spark, "g2.db.eqcdc", 3L, 4L)
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(cdc == Seq((2L, "b", "delete")),
      s"expected exactly the newly-masked row, got $cdc")
    // rollback to v3: the eq sidecar leaves the current view → un-delete
    spark.sql("CALL g2.system.rollback_to_version('db.eqcdc', 3)") // v5
    val undo = graft.catalog.Changelog.read(spark, "g2.db.eqcdc", 4L, 5L)
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(undo == Seq((2L, "b", "insert")),
      s"expected exactly the un-masked row, got $undo")
    assert(spark.sql("SELECT k FROM g2.db.eqcdc ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("delete_by_key CALL surface parses values as the declared type; " +
      "deleteByKey validates columns, types and nulls loudly") {
    spark.sql("CREATE TABLE g2.db.eqval (k BIGINT, s STRING, arr ARRAY<INT>)")
    spark.sql("INSERT INTO g2.db.eqval VALUES (7, 'x', array(1)), (8, 'y', array(2))")
    val out = spark.sql(
      "CALL g2.system.delete_by_key('db.eqval', 'k', '7')").collect()
    assert(out.head.getLong(0) == 1L)
    assert(spark.sql("SELECT k FROM g2.db.eqval").collect()
      .map(_.getLong(0)).toSeq == Seq(8L))
    import spark.implicits._
    val e1 = intercept[IllegalArgumentException] {
      graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqval",
        Seq(1).toDF("nope"))
    }
    assert(e1.getMessage.contains("no column"))
    val e2 = intercept[IllegalArgumentException] {
      graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqval",
        Seq(1).toDF("k")) // INT vs declared BIGINT
    }
    assert(e2.getMessage.contains("cast the keys first"))
    val e3 = intercept[IllegalArgumentException] {
      graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqval",
        Seq(Some(1L), None).toDF("k"))
    }
    assert(e3.getMessage.contains("null key"))
    val e4 = intercept[IllegalArgumentException] {
      graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqval",
        Seq(Seq(1)).toDF("arr"))
    }
    assert(e4.getMessage.contains("unsupported key type"))
  }

  test("deleteByKey on an IDENTITY PARTITION key column masks via dir " +
      "values (readPartitionSchema routing, VERDICT r16 #2): scans, " +
      "re-insert, changelog and compact all agree") {
    import spark.implicits._
    spark.sql("""CREATE TABLE g2.db.eqpart (k BIGINT, region STRING)
      PARTITIONED BY (region)""")
    spark.sql(
      "INSERT INTO g2.db.eqpart VALUES (1, 'eu'), (2, 'us'), (3, 'eu')")
    // CDC delete keyed on the partition column itself
    val n = graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqpart",
      Seq("eu").toDF("region"))
    assert(n == 1L)
    assert(spark.sql("SELECT k FROM g2.db.eqpart").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // pruned scan that never projects the partition column still masks
    assert(spark.sql("SELECT count(*) FROM g2.db.eqpart").collect()
      .head.getLong(0) == 1L)
    // re-inserted keys are served (strict first-seen applicability)
    spark.sql("INSERT INTO g2.db.eqpart VALUES (9, 'eu')")
    assert(spark.sql("SELECT k FROM g2.db.eqpart ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 9L))
    // changelog is row-exact for the partition-keyed delete commit
    val cdc = graft.catalog.Changelog.read(spark, "g2.db.eqpart", 2L, 3L)
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(cdc.toSeq == Seq((1L, "delete"), (3L, "delete")), cdc.toSeq)
    // compact folds the mask; results unchanged after
    graft.catalog.Maintenance.compact(spark, "g2.db.eqpart",
      Seq("k"), targetFiles = 1)
    assert(spark.sql("SELECT k FROM g2.db.eqpart ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 9L))
    // multi-column key where ONE side is the partition column
    spark.sql("""CREATE TABLE g2.db.eqpart2 (k BIGINT, region STRING)
      PARTITIONED BY (region)""")
    spark.sql(
      "INSERT INTO g2.db.eqpart2 VALUES (1, 'eu'), (1, 'us'), (2, 'eu')")
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqpart2",
      Seq((1L, "eu")).toDF("k", "region"))
    assert(spark.sql("SELECT k, region FROM g2.db.eqpart2 ORDER BY k, region")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "us"), (2L, "eu")))
    // TIMESTAMP partition keys work once the zone is pinned (r18 —
    // CREATE pins it); a legacy table WITHOUT the pin still rejects
    spark.sql("""CREATE TABLE g2.db.eqpartts (k BIGINT, ts TIMESTAMP)
      PARTITIONED BY (ts)""")
    spark.sql("""INSERT INTO g2.db.eqpartts VALUES
      (1, timestamp_seconds(1700000000)), (2, timestamp_seconds(1700003600))""")
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqpartts",
      Seq(java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(1700000000L))).toDF("ts"))
    assert(spark.sql("SELECT k FROM g2.db.eqpartts").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    val p0 = graft.catalog.TableMeta.readProps(tdir("eqpartts"))
    graft.catalog.TableMeta.writeProps(tdir("eqpartts"),
      p0 - graft.catalog.PartitionTransforms.ZoneKey)
    val e = intercept[UnsupportedOperationException] {
      graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqpartts",
        Seq(java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(1700003600L))).toDF("ts"))
    }
    assert(e.getMessage.contains("pinned partition zone"), e.getMessage)
    graft.catalog.TableMeta.writeProps(tdir("eqpartts"), p0)
  }

  test("row-level commands on an identity-partitioned table whose " +
      "partition column is NOT the last schema column read aligned " +
      "ordinals (r18 — latent since r16: ParquetScan serves partition " +
      "columns last while the row-level scan reports declared order)") {
    spark.sql("""CREATE TABLE g2.db.plead (region STRING, id INT, v STRING)
      PARTITIONED BY (region)""")
    spark.sql("""INSERT INTO g2.db.plead VALUES
      ('east', 1, 'a'), ('west', 2, 'b'), ('east', 3, 'c')""")
    spark.sql("""MERGE INTO g2.db.plead t USING (
        SELECT 'east' AS region, 1 AS id, 'A' AS v
        UNION ALL SELECT 'south', 9, 'z') s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT region, id, v FROM g2.db.plead ORDER BY id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .toSeq == Seq(("east", 1, "A"), ("west", 2, "b"), ("east", 3, "c"),
        ("south", 9, "z")))
    spark.sql("UPDATE g2.db.plead SET v = upper(v) WHERE id >= 2")
    assert(spark.sql("SELECT v FROM g2.db.plead ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("A", "B", "C", "Z"))
    // and with pending MOR sidecars (the masked slice path)
    import spark.implicits._
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.plead",
      Seq(3).toDF("id"))
    spark.sql("""MERGE INTO g2.db.plead t USING (
        SELECT 'west' AS region, 2 AS id, 'bb' AS v) s
      ON t.id = s.id WHEN MATCHED THEN UPDATE SET t.v = s.v""")
    assert(spark.sql("SELECT region, id, v FROM g2.db.plead ORDER BY id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .toSeq == Seq(("east", 1, "A"), ("west", 2, "bb"), ("south", 9, "Z")))
  }

  test("multi-column equality keys match as TUPLES, not independently") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.eqmc (a BIGINT, b STRING, v INT)")
    spark.sql("""INSERT INTO g2.db.eqmc VALUES
      (1,'x',10), (1,'y',11), (2,'x',12), (2,'y',13)""")
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqmc",
      Seq((1L, "x"), (2L, "y")).toDF("a", "b"))
    val left = spark.sql("SELECT a, b FROM g2.db.eqmc ORDER BY a, b")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(left == Seq((1L, "y"), (2L, "x")))
  }

  test("ALTER RENAME/DROP rejects while equality sidecars pend, and " +
      "deleteByKey rejects old-generation tables (compact unblocks both)") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.eqren (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g2.db.eqren VALUES (1,'a'), (2,'b')")
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqren",
      Seq(1L).toDF("k"))
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE g2.db.eqren RENAME COLUMN v TO w")
    }
    assert(e.getMessage.contains("equality-delete"))
    graft.catalog.Maintenance.compact(spark, "g2.db.eqren", Seq("k"), 1)
    spark.sql("ALTER TABLE g2.db.eqren RENAME COLUMN v TO w") // unblocked
    // ...and the other direction: old-gen files reject deleteByKey
    val e2 = intercept[UnsupportedOperationException] {
      // the rename resealed a generation over the pre-rename file? no —
      // compact migrated; force the old-gen state with a fresh rename
      spark.sql("INSERT INTO g2.db.eqren VALUES (3,'c')")
      spark.sql("ALTER TABLE g2.db.eqren RENAME COLUMN w TO x")
      graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqren",
        Seq(3L).toDF("k"))
    }
    assert(e2.getMessage.contains("older schema generation"))
  }

  test("type promotion with PENDING equality sidecars: narrow sidecar " +
      "keys widen at load, the mask stays exact across the boundary " +
      "(r17 — CDC keeps flowing, no compact required)") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.eqprom (q INT, v STRING)")
    spark.sql(
      "INSERT INTO g2.db.eqprom VALUES (7, 'del'), (8, 'keep'), (9, 'del2')")
    // narrow-typed sidecar committed BEFORE the promotion
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqprom",
      Seq(7).toDF("q"))
    spark.sql("ALTER TABLE g2.db.eqprom ALTER COLUMN q TYPE BIGINT")
    // the pre-promotion mask still applies after the widening
    assert(spark.sql("SELECT v FROM g2.db.eqprom ORDER BY v").collect()
      .map(_.getString(0)).toSeq == Seq("del2", "keep"))
    // CDC continues with WIDE keys against the same table
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqprom",
      Seq(9L).toDF("q"))
    assert(spark.sql("SELECT v FROM g2.db.eqprom").collect()
      .map(_.getString(0)).toSeq == Seq("keep"))
    // rewrite path agrees (applyAll widens the same way)
    graft.catalog.Maintenance.compact(spark, "g2.db.eqprom", Seq("q"), 1)
    assert(spark.sql("SELECT v FROM g2.db.eqprom").collect()
      .map(_.getString(0)).toSeq == Seq("keep"))
  }

  test("rewrite_position_deletes drops INERT equality sidecars (no " +
      "present file predates them) but never rewrites live ones") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.eqinert (k BIGINT)")
    spark.sql("INSERT INTO g2.db.eqinert VALUES (1), (2)")
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqinert",
      Seq(1L).toDF("k"))
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "eqinert")
    // live: rewrite keeps it
    graft.catalog.Maintenance.rewritePositionDeletes(spark, "g2.db.eqinert")
    assert(graft.catalog.Snapshots.latest(dir).get.eqDeleteFiles.nonEmpty)
    assert(spark.sql("SELECT k FROM g2.db.eqinert").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // an upsert whose key envelope covers every file rewrites them all;
    // the sidecar SURVIVES the commit (unlike INSERT OVERWRITE, which
    // replaces the whole visible set, sidecars included) but no present
    // file predates it any more → inert
    graft.catalog.Maintenance.upsert(spark, "g2.db.eqinert",
      Seq(1L, 2L, 9L).toDF("k"), Seq("k"))
    assert(graft.catalog.Snapshots.latest(dir).get.eqDeleteFiles.nonEmpty,
      "upsert must keep the sidecar for this test to exercise inert-drop")
    assert(spark.sql("SELECT k FROM g2.db.eqinert ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 9L)) // new k=1 not masked
    graft.catalog.Maintenance.rewritePositionDeletes(spark, "g2.db.eqinert")
    assert(graft.catalog.Snapshots.latest(dir).get.eqDeleteFiles.isEmpty)
    assert(spark.sql("SELECT k FROM g2.db.eqinert ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 9L))
  }

  test("expireSnapshots refuses to flip the equality applicability " +
      "order (raised first-seen versions would resurrect masked rows)") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.eqexp (k BIGINT)")                 // v1
    spark.sql("INSERT INTO g2.db.eqexp VALUES (1), (2)")             // v2
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqexp",
      Seq(2L).toDF("k"))                                             // v3: eq
    spark.sql("INSERT INTO g2.db.eqexp VALUES (2)")                  // v4: re-insert
    assert(spark.sql("SELECT k FROM g2.db.eqexp ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // expiring v2 would raise the v2 file's first-seen to v3 — equal to
    // the sidecar's version, so the strict rule would STOP masking it
    val e = intercept[IllegalStateException] {
      graft.catalog.Maintenance.expireSnapshots(spark, "g2.db.eqexp",
        keepLast = 2)
    }
    assert(e.getMessage.contains("resurrect"))
    // compact folds the sidecar (v5); the guard STILL protects v4 —
    // a retained snapshot referencing the sidecar keeps the refusal
    graft.catalog.Maintenance.compact(spark, "g2.db.eqexp", Seq("k"), 1)
    val e2 = intercept[IllegalStateException] {
      graft.catalog.Maintenance.expireSnapshots(spark, "g2.db.eqexp",
        keepLast = 2) // would retain v4, which still applies the sidecar
    }
    assert(e2.getMessage.contains("resurrect"))
    // once no retained snapshot references the sidecar, expiry proceeds
    spark.sql("INSERT INTO g2.db.eqexp VALUES (3)")                  // v6
    graft.catalog.Maintenance.expireSnapshots(spark, "g2.db.eqexp",
      keepLast = 2)
    assert(spark.sql("SELECT k FROM g2.db.eqexp ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("the equality-delete key cap fails loudly, advising compaction") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.eqcap (k BIGINT)")
    spark.sql("INSERT INTO g2.db.eqcap SELECT id FROM range(0, 50)")
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqcap",
      (0L until 20L).toDF("k"))
    spark.conf.set(graft.catalog.EqualityDeletes.MaxKeysKey, "10")
    try {
      val e = intercept[IllegalStateException] {
        spark.sql("SELECT count(*) FROM g2.db.eqcap").collect()
      }
      assert(e.getMessage.contains("compact"))
    } finally spark.conf.unset(graft.catalog.EqualityDeletes.MaxKeysKey)
    // compact (maintenance handle lifts the cap) restores reads
    spark.conf.set(graft.catalog.EqualityDeletes.MaxKeysKey, "10")
    try {
      graft.catalog.Maintenance.compact(spark, "g2.db.eqcap", Seq("k"), 1)
      assert(spark.sql("SELECT count(*) FROM g2.db.eqcap").collect()
        .head.getLong(0) == 30)
    } finally spark.conf.unset(graft.catalog.EqualityDeletes.MaxKeysKey)
  }

  test("upsert over a table with pending equality deletes does not " +
      "resurrect masked rows, and eq masks apply inside MERGE scans") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.equp (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g2.db.equp VALUES (1,'a'), (2,'b'), (3,'c')")
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.equp",
      Seq(2L).toDF("k"))
    graft.catalog.Maintenance.upsert(spark, "g2.db.equp",
      Seq((3L, "c2"), (4L, "d")).toDF("k", "v"), Seq("k"))
    assert(spark.sql("SELECT k, v FROM g2.db.equp ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "c2"), (4L, "d")))
  }

  test("MOR masking stays exact across MULTIPLE columnar batches of one " +
      "file (the closeIfFreeable/vector-reuse trap only multi-batch " +
      "files hit)") {
    spark.sql("""CREATE TABLE g2.db.morbig (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    // one file, ~10k rows → 3+ vectorized batches at the default 4096
    spark.sql("""INSERT INTO g2.db.morbig
      SELECT id, CAST(id AS DOUBLE) / 2 FROM range(10000)""")
    spark.sql("DELETE FROM g2.db.morbig WHERE k % 3 = 0")
    val got = spark.sql(
      "SELECT count(*) AS c, sum(k) AS s FROM g2.db.morbig").collect().head
    val expect = (0L until 10000L).filter(_ % 3 != 0)
    assert(got.getLong(0) == expect.length)
    assert(got.getLong(1) == expect.sum)
    // row-identity check on a slice spanning batch boundaries
    val ks = spark.sql(
      "SELECT k FROM g2.db.morbig WHERE k BETWEEN 4090 AND 4102 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(ks == (4090L to 4102L).filter(_ % 3 != 0))
  }

  test("a write in flight across an ALTER aborts on the schema-epoch " +
      "check instead of misclassifying its files (ADVICE r15)") {
    spark.sql("CREATE TABLE g2.db.epoch (a INT, b INT)")
    spark.sql("INSERT INTO g2.db.epoch VALUES (1, 10), (2, 20)")
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "epoch")
    val base = graft.catalog.Snapshots.latest(dir).get
    // the "in-flight writer": a handle whose schema epoch predates...
    val handle = graft.catalog.Maintenance.CompactTestHook
      .handleNow(spark, "g2.db.epoch")
    // ...this ALTER, which seals a new schema generation
    spark.sql("ALTER TABLE g2.db.epoch RENAME COLUMN b TO c")
    val e = intercept[java.util.ConcurrentModificationException] {
      graft.catalog.Maintenance.CompactTestHook.replaceThrough(handle,
        spark.sql("SELECT a, c AS b FROM g2.db.epoch"), base.files)
    }
    assert(e.getMessage.contains("ALTER"))
    // the table is intact and the rename still reads old bytes
    assert(spark.sql("SELECT c FROM g2.db.epoch ORDER BY c").collect()
      .map(_.getInt(0)).toSeq == Seq(10, 20))
  }

  test("the absent-marker column-name namespace is reserved " +
      "(CREATE / ADD COLUMN / RENAME TO all reject it)") {
    val bad = graft.catalog.FieldIds.AbsentPrefix + "7"
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE g2.db.resv1 ($bad INT)")
    }
    assert(e1.getMessage.contains("reserved"))
    spark.sql("CREATE TABLE g2.db.resv2 (a INT)")
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE g2.db.resv2 ADD COLUMN $bad INT")
    }
    assert(e2.getMessage.contains("reserved"))
    spark.sql("INSERT INTO g2.db.resv2 VALUES (1)")
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE g2.db.resv2 RENAME COLUMN a TO $bad")
    }
    assert(e3.getMessage.contains("reserved"))
  }

  test("years/months/hours transforms (r17 — completing Iceberg's time " +
      "transform set): layout, source-predicate pruning, zone pinning, " +
      "nulls and MERGE all behave like days()") {
    // months(ts): 3 month dirs, range predicates prune
    spark.sql("""CREATE TABLE g2.db.evmon (k BIGINT, ts TIMESTAMP, v DOUBLE)
      PARTITIONED BY (months(ts))""")
    spark.sql("""INSERT INTO g2.db.evmon
      SELECT id, timestamp_seconds(1700000000 + (id % 3) * 2678400 + id),
             CAST(id AS DOUBLE)
      FROM range(0, 30)""")
    val dataDir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "evmon", "data")
    val monDirs = scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.nio.file.Files.list(dataDir).iterator()).asScala
      .map(_.getFileName.toString).filter(_.startsWith("ts_month=")).toSet
    // 1700000000 = 2023-11-14 UTC; +31d = Dec; +62d = Jan
    assert(monDirs == Set("ts_month=2023-11", "ts_month=2023-12",
      "ts_month=2024-01"), s"got $monDirs")
    val nov = spark.sql("""SELECT k FROM g2.db.evmon
      WHERE ts < timestamp_seconds(1701388800)""") // < 2023-12-01
    assert(nov.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 30L).filter(_ % 3 == 0).toSeq)
    assert(scanFiles(nov) < scanFiles(spark.table("g2.db.evmon").toDF()),
      "month-range predicate must prune month dirs")
    // MERGE recomputes the month dir (row moves months)
    spark.sql("""MERGE INTO g2.db.evmon t
      USING (SELECT 0L AS k, timestamp_seconds(1710000000) AS ts,
             99.0D AS v) s
      ON t.k = s.k WHEN MATCHED THEN UPDATE SET *""")
    assert(spark.sql("""SELECT v FROM g2.db.evmon
      WHERE ts >= timestamp_seconds(1709000000)""").collect()
      .map(_.getDouble(0)).toSeq == Seq(99.0))
    // years(d) over a DATE column (zone-free calendar value) + nulls
    spark.sql("""CREATE TABLE g2.db.evyr (d DATE, v BIGINT)
      PARTITIONED BY (years(d))""")
    spark.sql("""INSERT INTO g2.db.evyr VALUES
      (DATE '2022-06-01', 1), (DATE '2023-01-01', 2),
      (DATE '2023-12-31', 3), (NULL, 4)""")
    assert(spark.sql("SELECT v FROM g2.db.evyr WHERE d >= DATE '2023-01-01'")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(spark.sql("SELECT v FROM g2.db.evyr WHERE d IS NULL").collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
    val yr = spark.sql("SELECT v FROM g2.db.evyr WHERE d > DATE '2023-05-05'")
    assert(yr.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // hours(ts): hour dirs + point-hour pruning; rejects DATE sources
    spark.sql("""CREATE TABLE g2.db.evhr (k BIGINT, ts TIMESTAMP)
      PARTITIONED BY (hours(ts))""")
    spark.sql("""INSERT INTO g2.db.evhr
      SELECT id, timestamp_seconds(1700000000 + (id % 4) * 3600)
      FROM range(0, 16)""")
    val hr = spark.sql("""SELECT k FROM g2.db.evhr
      WHERE ts >= timestamp_seconds(1700003600)
        AND ts < timestamp_seconds(1700007200)""")
    assert(hr.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 16L).filter(_ % 4 == 1).toSeq)
    assert(scanFiles(hr) < scanFiles(spark.table("g2.db.evhr").toDF()))
    val e = intercept[Exception] {
      spark.sql("""CREATE TABLE g2.db.evhrbad (d DATE)
        PARTITIONED BY (hours(d))""")
    }
    assert(e.getMessage.contains("needs a timestamp"))
    // zone pinned for zoned-timestamp calendar transforms
    assert(spark.sql("SHOW TBLPROPERTIES g2.db.evmon").collect()
      .exists(_.getString(0) == graft.catalog.PartitionTransforms.ZoneKey))
  }

  test("hours()/days() across a DST FALL-BACK boundary: two instants " +
      "sharing one wall-clock hour dir are both found (the interval " +
      "prune uses wall-clock arithmetic, so the repeated hour's dir " +
      "covers BOTH offsets; r17 self-audit)") {
    val zoneConf = "spark.sql.session.timeZone"
    val orig = spark.conf.get(zoneConf)
    try {
      spark.conf.set(zoneConf, "America/Los_Angeles")
      // 2023-11-05: clocks fall back 02:00 PDT → 01:00 PST; wall hour
      // "01" happens twice. 1699172100 = 01:15 PDT; 1699175700 = 01:15
      // PST (one hour later in instants, same wall clock).
      spark.sql("""CREATE TABLE g2.db.evdst (k BIGINT, ts TIMESTAMP)
        PARTITIONED BY (hours(ts))""")
      spark.sql("""INSERT INTO g2.db.evdst VALUES
        (1, timestamp_seconds(1699172100)),
        (2, timestamp_seconds(1699175700)),
        (3, timestamp_seconds(1699180000))""")
      // both ambiguous-hour rows share ONE dir
      val dataDir = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "evdst",
        "data")
      val hourDirs = scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(dataDir).iterator()).asScala
        .map(_.getFileName.toString).filter(_.startsWith("ts_hour="))
        .toSet
      assert(hourDirs.contains("ts_hour=2023-11-05-01"), s"got $hourDirs")
      // point predicates on EACH occurrence must both survive the prune
      Seq(1699172100L -> 1L, 1699175700L -> 2L).foreach { case (s, k) =>
        assert(spark.sql(
          s"SELECT k FROM g2.db.evdst WHERE ts = timestamp_seconds($s)")
          .collect().map(_.getLong(0)).toSeq == Seq(k),
          s"instant $s (row $k) pruned away at the fall-back hour")
      }
      // a range inside the SECOND occurrence only
      assert(spark.sql("""SELECT k FROM g2.db.evdst
        WHERE ts >= timestamp_seconds(1699175400)
          AND ts < timestamp_seconds(1699176000)""").collect()
        .map(_.getLong(0)).toSeq == Seq(2L))
      // days() across the 25-hour day: all three rows are 2023-11-05
      spark.sql("""CREATE TABLE g2.db.evdst2 (k BIGINT, ts TIMESTAMP)
        PARTITIONED BY (days(ts))""")
      spark.sql("""INSERT INTO g2.db.evdst2 VALUES
        (1, timestamp_seconds(1699172100)),
        (2, timestamp_seconds(1699175700)),
        (3, timestamp_seconds(1699228700))""") // 16:xx PST, same local day
      assert(spark.sql("""SELECT count(*) FROM g2.db.evdst2
        WHERE ts >= timestamp_seconds(1699167600)
          AND ts < timestamp_seconds(1699257600)""").collect()
        .head.getLong(0) == 3L) // the full 25-hour local day
    } finally spark.conf.set(zoneConf, orig)
  }

  test("PROPERTY: hidden-partition pruning never changes results — " +
      "random predicates over days/bucket/truncate fixtures match an " +
      "unpartitioned twin (oracle-independence for prune(), VERDICT " +
      "r16 #5; the r16 IS-NULL bucket bug reproduces here if reverted)") {
    import spark.implicits._
    // fixtures WITH nulls and boundary-straddling values; each has an
    // unpartitioned TWIN view holding the identical rows
    spark.sql("""CREATE TABLE g2.db.prpd (k BIGINT, ts TIMESTAMP, v BIGINT)
      PARTITIONED BY (days(ts))""")
    spark.sql("""INSERT INTO g2.db.prpd
      SELECT id,
             CASE WHEN id % 11 = 10 THEN CAST(NULL AS TIMESTAMP)
                  ELSE timestamp_seconds(1700000000 - 100000 + id * 9000)
             END, id % 5
      FROM range(0, 120)""")
    spark.sql("""CREATE TABLE g2.db.prpm (k BIGINT, ts TIMESTAMP, v BIGINT)
      PARTITIONED BY (months(ts))""")
    spark.sql("""INSERT INTO g2.db.prpm
      SELECT id,
             CASE WHEN id % 11 = 10 THEN CAST(NULL AS TIMESTAMP)
                  ELSE timestamp_seconds(1700000000 - 100000 + id * 90000)
             END, id % 5
      FROM range(0, 120)""")
    spark.sql("""CREATE TABLE g2.db.prpb (k BIGINT, s STRING)
      PARTITIONED BY (bucket(4, k))""")
    spark.sql("""INSERT INTO g2.db.prpb
      SELECT CASE WHEN id % 13 = 12 THEN CAST(NULL AS BIGINT) ELSE id END,
             concat('s', CAST(id AS STRING))
      FROM range(0, 120)""")
    spark.sql("""CREATE TABLE g2.db.prpt (s STRING, v BIGINT)
      PARTITIONED BY (truncate(2, s))""")
    spark.sql("""INSERT INTO g2.db.prpt
      SELECT CASE WHEN id % 9 = 8 THEN CAST(NULL AS STRING)
                  ELSE concat(CASE WHEN id % 3 = 0 THEN 'aa'
                              WHEN id % 3 = 1 THEN 'ab' ELSE 'b' END,
                              CAST(id AS STRING)) END, id
      FROM range(0, 120)""")
    // MIXED-ERA fixture (r18): days(ts) → +hours(ts) → -days(ts), a
    // third of the rows written under each spec era — every predicate
    // must prune each file under the era that wrote its dirs
    spark.sql("""CREATE TABLE g2.db.prpe (k BIGINT, ts TIMESTAMP, v BIGINT)
      PARTITIONED BY (days(ts))""")
    def prpeInsert(lo: Int, hi: Int): Unit = spark.sql(s"""INSERT INTO g2.db.prpe
      SELECT id,
             CASE WHEN id % 11 = 10 THEN CAST(NULL AS TIMESTAMP)
                  ELSE timestamp_seconds(1700000000 - 100000 + id * 9000)
             END, id % 5
      FROM range($lo, $hi)""")
    prpeInsert(0, 40)
    spark.sql("CALL g2.system.add_partition_field('db.prpe', 'hours(ts)')")
    prpeInsert(40, 80)
    spark.sql("CALL g2.system.drop_partition_field('db.prpe', 'days(ts)')")
    prpeInsert(80, 120)
    // PROMOTED bucket-source fixture (r18): int-keyed v2 bucket table,
    // promoted to bigint mid-data — narrow-era dirs must prune exactly
    // under wide probe values (hash-width-stable derivation)
    spark.sql("""CREATE TABLE g2.db.prpv (k INT, s STRING)
      PARTITIONED BY (bucket(4, k))""")
    spark.sql("""INSERT INTO g2.db.prpv
      SELECT CASE WHEN id % 13 = 12 THEN CAST(NULL AS INT)
                  ELSE CAST(id AS INT) END,
             concat('s', CAST(id AS STRING))
      FROM range(0, 60)""")
    spark.sql("ALTER TABLE g2.db.prpv ALTER COLUMN k TYPE BIGINT")
    spark.sql("""INSERT INTO g2.db.prpv
      SELECT CASE WHEN id % 13 = 12 THEN CAST(NULL AS BIGINT)
                  WHEN id % 7 = 6 THEN 6000000000 + id ELSE id END,
             concat('s', CAST(id AS STRING))
      FROM range(60, 120)""")
    Seq("prpd", "prpm", "prpb", "prpt", "prpe", "prpv").foreach { t =>
      spark.table(s"g2.db.$t").createOrReplaceTempView(s"twin_$t")
      spark.table(s"twin_$t").cache().count() // freeze the twin's rows
    }
    val rnd = new scala.util.Random(20260816L)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    // predicate generators per table: source-column shapes the prune
    // path reasons about, with boundary-straddling literals
    def tsLit(): String = {
      val s = 1700000000L - 100000L + rnd.nextInt(1200000)
      s"timestamp_seconds(${s - s % (if (rnd.nextBoolean()) 86400 else 1)})"
    }
    def daysPred(): String = pick(Seq(
      s"ts >= ${tsLit()}", s"ts < ${tsLit()}", s"ts = ${tsLit()}",
      s"ts <=> ${tsLit()}", "ts IS NULL", "ts IS NOT NULL",
      s"ts >= ${tsLit()} AND ts < ${tsLit()}",
      s"ts < ${tsLit()} OR ts IS NULL",
      s"v = ${rnd.nextInt(5)} AND ts >= ${tsLit()}"))
    def kLit(): String = pick(Seq(rnd.nextInt(130).toString,
      "-1", "6000000000")) // present, absent, beyond-range
    def bucketPred(): String = pick(Seq(
      s"k = ${kLit()}", s"k IN (${kLit()}, ${kLit()}, ${kLit()})",
      "k IS NULL", "k IS NOT NULL", s"k <=> CAST(NULL AS BIGINT)",
      s"k <=> ${kLit()}", s"k = ${kLit()} OR k IS NULL",
      s"k > ${kLit()}")) // ranges never prune buckets: must stay exact
    def sLit(): String = pick(Seq("'aa5'", "'ab73'", "'b11'", "'aa'",
      "'zz'", "'a'", "'ba'"))
    def truncPred(): String = pick(Seq(
      s"s = ${sLit()}", s"s LIKE 'a%'", s"s LIKE 'ab%'",
      s"s LIKE 'aa1%'", "s IS NULL", "s IS NOT NULL",
      s"s >= ${sLit()}", s"s < ${sLit()}",
      s"s = ${sLit()} OR s IS NULL", s"s <=> ${sLit()}"))
    val gens = Map("prpd" -> (() => daysPred()),
      "prpm" -> (() => daysPred()), // same ts-predicate shapes
      "prpb" -> (() => bucketPred()), "prpt" -> (() => truncPred()),
      "prpe" -> (() => daysPred()), // mixed spec eras (r18)
      "prpv" -> (() => bucketPred())) // promoted v2 bucket source (r18)
    for (t <- Seq("prpd", "prpm", "prpb", "prpt", "prpe", "prpv");
        _ <- 1 to 25) {
      val p = gens(t)()
      val got = spark.sql(s"SELECT * FROM g2.db.$t WHERE $p").collect()
        .map(_.toString).sorted.toSeq
      val want = spark.sql(s"SELECT * FROM twin_$t WHERE $p").collect()
        .map(_.toString).sorted.toSeq
      assert(got == want,
        s"pruned scan of g2.db.$t diverged on [$p]: " +
          s"got ${got.size} rows, want ${want.size}")
    }
    Seq("prpd", "prpm", "prpb", "prpt", "prpe", "prpv").foreach(t =>
      spark.table(s"twin_$t").unpersist())
  }

  // --- round-17 ADVICE r16 fixes ----------------------------------------

  test("days() boundaries use the zone PINNED at CREATE: reads and " +
      "writes from a session in another zone agree with the layout") {
    val zoneConf = "spark.sql.session.timeZone"
    val orig = spark.conf.get(zoneConf)
    try {
      spark.conf.set(zoneConf, "Asia/Tokyo") // UTC+9, no DST
      spark.sql("""CREATE TABLE g2.db.evzone (ev_id BIGINT, ts TIMESTAMP)
        PARTITIONED BY (days(ts))""")
      // 23:00 UTC = 08:00 next day in Tokyo: the two zones disagree on
      // which day these rows belong to
      spark.sql("""INSERT INTO g2.db.evzone
        SELECT id, timestamp_seconds(1700000000 + 82800 + id)
        FROM range(0, 4)""")
      assert(spark.sql("SHOW TBLPROPERTIES g2.db.evzone").collect()
        .exists(r => r.getString(0) ==
          graft.catalog.PartitionTransforms.ZoneKey &&
          r.getString(1) == "Asia/Tokyo"))
      def probe(): Unit = {
        val got = spark.sql("""SELECT ev_id FROM g2.db.evzone
          WHERE ts >= timestamp_seconds(1700082800)
            AND ts < timestamp_seconds(1700082803)""")
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(got == Seq(0L, 1L, 2L), s"got $got")
      }
      probe()
      // a READER (and a second WRITER) in a different session zone must
      // see the same rows — pre-fix, prune() recomputed day intervals
      // in the read zone and silently dropped the files
      spark.conf.set(zoneConf, "America/Los_Angeles")
      probe()
      spark.sql("""INSERT INTO g2.db.evzone
        SELECT id, timestamp_seconds(1700000000 + 82800 + id)
        FROM range(4, 6)""")
      spark.conf.set(zoneConf, "UTC")
      assert(spark.sql("""SELECT count(*) FROM g2.db.evzone
        WHERE ts >= timestamp_seconds(1700082800)""").collect()
        .head.getLong(0) == 6)
      // the on-disk layout stayed consistent: ONE day dir (Tokyo's),
      // not one per writer zone
      val dataDir = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g2.warehouse"),
        "db", "evzone", "data")
      val dayDirs = scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(dataDir).iterator()).asScala
        .map(_.getFileName.toString).filter(_.startsWith("ts_day=")).toSeq
      // 1700082800 = 2023-11-15 21:13 UTC = 2023-11-16 06:13 Tokyo:
      // every writer derived TOKYO's day regardless of its session zone
      assert(dayDirs == Seq("ts_day=2023-11-16"), s"got $dayDirs")
    } finally spark.conf.set(zoneConf, orig)
  }

  test("equality deletes treat -0.0 and 0.0 as the SAME double key in " +
      "both the scan mask and the rewrite path") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.negz (d DOUBLE, v STRING)")
    spark.sql("""INSERT INTO g2.db.negz VALUES
      (cast(-0.0 as double), 'neg'), (cast(0.0 as double), 'pos'),
      (1.5, 'other')""")
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.negz",
      Seq(0.0).toDF("d"))
    // interactive scan: both zero rows masked (SQL: -0.0 = 0.0)
    assert(spark.sql("SELECT v FROM g2.db.negz").collect()
      .map(_.getString(0)).toSeq == Seq("other"))
    // rewrite path agrees (pre-fix: compact dropped rows scans served)
    graft.catalog.Maintenance.compact(spark, "g2.db.negz",
      Seq("v"), targetFiles = 1)
    assert(spark.sql("SELECT v FROM g2.db.negz").collect()
      .map(_.getString(0)).toSeq == Seq("other"))
    // and the mirror image: delete by -0.0 masks the +0.0 row too
    spark.sql("CREATE TABLE g2.db.negz2 (d DOUBLE, v STRING)")
    spark.sql("""INSERT INTO g2.db.negz2 VALUES
      (cast(0.0 as double), 'pos'), (2.5, 'other')""")
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.negz2",
      Seq(-0.0).toDF("d"))
    assert(spark.sql("SELECT v FROM g2.db.negz2").collect()
      .map(_.getString(0)).toSeq == Seq("other"))
  }

  test("ALTER TABLE on a nonexistent table leaves no stray directory " +
      "in the warehouse") {
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE g2.db.ghost_alter ADD COLUMN x INT")
    }
    assert(e.getMessage.toLowerCase.contains("table"))
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "ghost_alter")
    assert(!java.nio.file.Files.exists(dir),
      s"ALTER on a missing table created $dir")
  }

  test("delete_by_key CSV quoting: a quoted value carries a literal " +
      "comma; unquoted values keep the historical split") {
    spark.sql("CREATE TABLE g2.db.dbkq (s STRING, v INT)")
    spark.sql("""INSERT INTO g2.db.dbkq VALUES
      ('a,b', 1), ('a', 2), ('b', 3), ('say "hi"', 4), ('plain', 5)""")
    // quoted token: ONE key 'a,b' — pre-fix this split into 'a' and 'b'
    // and masked the WRONG rows
    val r1 = spark.sql(
      """CALL g2.system.delete_by_key('db.dbkq', 's', '"a,b"')""")
      .collect().head.getLong(0)
    assert(r1 == 1L)
    assert(spark.sql("SELECT s FROM g2.db.dbkq ORDER BY v").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b", "say \"hi\"", "plain"))
    // escaped quotes inside a quoted token
    spark.sql("CALL g2.system.delete_by_key('db.dbkq', 's', " +
      "'\"say \"\"hi\"\"\", plain')")
    assert(spark.sql("SELECT s FROM g2.db.dbkq ORDER BY v").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"))
    // unterminated quote fails loudly
    val e = intercept[Exception] {
      spark.sql(
        "CALL g2.system.delete_by_key('db.dbkq', 's', '\"oops')")
    }
    assert(e.getMessage.contains("unterminated"))
    // junk after a closing quote fails loudly too (r17 review: silently
    // appending it would corrupt the key); trailing spaces are fine
    val e2 = intercept[Exception] {
      spark.sql(
        "CALL g2.system.delete_by_key('db.dbkq', 's', '\"a\"junk')")
    }
    assert(e2.getMessage.contains("after a closing quote"))
    spark.sql("INSERT INTO g2.db.dbkq VALUES ('sp', 9)")
    spark.sql("CALL g2.system.delete_by_key('db.dbkq', 's', '\"sp\" ')")
    assert(spark.sql("SELECT count(*) FROM g2.db.dbkq WHERE s = 'sp'")
      .collect().head.getLong(0) == 0L)
  }

  // --- partition-spec evolution (Iceberg spec §4 versioned specs, r18) --

  test("ADD/DROP PARTITION FIELD: old files prune and read under their " +
      "own era's spec, new writes use the latest, MERGE spans eras, " +
      "compact migrates to the latest spec (r18)") {
    def ts(id: Long): Long = 1700000000L + (id % 3) * 86400 + (id % 7) * 3600
    spark.sql("""CREATE TABLE g2.db.evol (k BIGINT, ts TIMESTAMP, v DOUBLE)
      PARTITIONED BY (days(ts))""")                                  // v1
    spark.sql("""INSERT INTO g2.db.evol
      SELECT id, timestamp_seconds(1700000000 + (id % 3) * 86400 +
        (id % 7) * 3600), CAST(id AS DOUBLE)
      FROM range(0, 30)""")                                          // v2
    val r = spark.sql(
      "CALL g2.system.add_partition_field('db.evol', 'hours(ts)')")
      .collect().head
    assert(r.getString(0) == "days(ts)" &&
      r.getString(1) == "days(ts);hours(ts)", r.toString)
    spark.sql("""INSERT INTO g2.db.evol
      SELECT id, timestamp_seconds(1700000000 + (id % 3) * 86400 +
        (id % 7) * 3600), CAST(id AS DOUBLE)
      FROM range(100, 130)""")                                       // v3
    // layout: era-1 parquet directly under ts_day=*/; era-2 parquet
    // one level deeper under ts_day=*/ts_hour=*/
    val dir = tdir("evol")
    val live = graft.catalog.Snapshots.latest(dir).get.dataFiles
    val era1 = live.filter(f => f.contains("ts_day=") && !f.contains("ts_hour="))
    val era2 = live.filter(_.contains("ts_hour="))
    assert(era1.nonEmpty && era2.nonEmpty && era1.size + era2.size == live.size,
      s"mixed-era layout expected, got $live")
    // reads span both eras
    def allK(): Seq[Long] = spark.sql("SELECT k FROM g2.db.evol")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(allK() == ((0L until 30L) ++ (100L until 130L)).sorted)
    // a source-column range predicate stays EXACT across eras (era-1
    // prunes by day only, era-2 by day and hour)
    val q = spark.sql("""SELECT k FROM g2.db.evol
      WHERE ts >= timestamp_seconds(1700003600)
        AND ts < timestamp_seconds(1700090000)""")
    val want = ((0L until 30L) ++ (100L until 130L))
      .filter(id => ts(id) >= 1700003600L && ts(id) < 1700090000L)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == want.sorted)
    // MERGE across eras: matched rows in BOTH eras update, an unmatched
    // row inserts into the latest-era layout
    spark.sql("""MERGE INTO g2.db.evol t USING (
        SELECT CAST(5 AS BIGINT) AS k,
               timestamp_seconds(1700000000) AS ts, CAST(0 AS DOUBLE) AS v
        UNION ALL SELECT 105, timestamp_seconds(1700000000), 0
        UNION ALL SELECT 999, timestamp_seconds(1700300000), 9) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.v = t.v + 1000
      WHEN NOT MATCHED THEN INSERT *""")
    val vOf = spark.sql("SELECT k, v FROM g2.db.evol WHERE k IN (5, 105, 999)")
      .collect().map(r2 => r2.getLong(0) -> r2.getDouble(1)).toMap
    assert(vOf == Map(5L -> 1005.0, 105L -> 1105.0, 999L -> 9.0), vOf.toString)
    // DROP by dir-column name: era 3 stops laying out day dirs
    val r2 = spark.sql(
      "CALL g2.system.drop_partition_field('db.evol', 'ts_day')")
      .collect().head
    assert(r2.getString(0) == "days(ts);hours(ts)" &&
      r2.getString(1) == "hours(ts)", r2.toString)
    spark.sql("""INSERT INTO g2.db.evol
      SELECT id, timestamp_seconds(1700000000 + (id % 3) * 86400 +
        (id % 7) * 3600), CAST(id AS DOUBLE)
      FROM range(200, 210)""")
    val live3 = graft.catalog.Snapshots.latest(dir).get.dataFiles
    assert(live3.exists(f => f.contains("ts_hour=") && !f.contains("ts_day=")),
      s"era-3 files must carry hour dirs only: $live3")
    assert(allK() == ((0L until 30L) ++ (100L until 130L) ++
      (200L until 210L) :+ 999L).sorted)
    // predicate exactness again over THREE live eras
    val q3 = spark.sql("""SELECT k FROM g2.db.evol
      WHERE ts >= timestamp_seconds(1700003600)
        AND ts < timestamp_seconds(1700090000)""")
    val want3 = (((0L until 30L) ++ (100L until 130L) ++ (200L until 210L))
      .filter(id => ts(id) >= 1700003600L && ts(id) < 1700090000L) ++
      Seq.empty).sorted
    assert(q3.collect().map(_.getLong(0)).sorted.toSeq == want3)
    // compact migrates every live file to the LATEST spec (hour dirs
    // only); history keeps the mixed-era layout for time travel
    val preCompactV = graft.catalog.Snapshots.latest(dir).get.version
    graft.catalog.Maintenance.compact(spark, "g2.db.evol", Seq("k"), 2)
    val liveC = graft.catalog.Snapshots.latest(dir).get.dataFiles
    assert(liveC.forall(f => f.contains("ts_hour=") && !f.contains("ts_day=")),
      s"compact must migrate to the latest spec: $liveC")
    assert(allK() == ((0L until 30L) ++ (100L until 130L) ++
      (200L until 210L) :+ 999L).sorted)
    assert(spark.sql(
      s"SELECT count(*) FROM g2.db.evol VERSION AS OF $preCompactV")
      .collect().head.getLong(0) == 71L)
  }

  test("partition-spec evolution guardrails: identity fields reject, " +
      "duplicate fields reject, staged branches reject, renaming an " +
      "old-era source rejects, in-flight writes abort, expiry refuses " +
      "an era-boundary reclassify (r18)") {
    spark.sql("""CREATE TABLE g2.db.evolg (k BIGINT, ts TIMESTAMP, v DOUBLE)
      PARTITIONED BY (bucket(4, k))""")                              // v1
    spark.sql("""INSERT INTO g2.db.evolg
      SELECT id, timestamp_seconds(1700000000 + id), CAST(id AS DOUBLE)
      FROM range(0, 20)""")                                          // v2
    // identity fields are data-layout-bearing
    val e1 = intercept[Exception](spark.sql(
      "CALL g2.system.add_partition_field('db.evolg', 'v')"))
    assert(e1.getMessage.contains("identity"), e1.getMessage)
    // duplicate spec / colliding dir name
    val e2 = intercept[Exception](spark.sql(
      "CALL g2.system.add_partition_field('db.evolg', 'bucket(8,k)')"))
    assert(e2.getMessage.contains("k_bucket"), e2.getMessage)
    val e3 = intercept[Exception](spark.sql(
      "CALL g2.system.add_partition_field('db.evolg', 'bucket(4,k)')"))
    assert(e3.getMessage.contains("already partitioned"), e3.getMessage)
    // staged WAP branches reject (files outside the main log would
    // misclassify into the new era)
    spark.sql("CALL g2.system.create_branch('db.evolg', 'stage', 2)")
    val e4 = intercept[Exception](spark.sql(
      "CALL g2.system.add_partition_field('db.evolg', 'days(ts)')"))
    assert(e4.getMessage.contains("stage"), e4.getMessage)
    spark.sql("CALL g2.system.drop_branch('db.evolg', 'stage')")
    // an in-flight write planned before the evolution aborts at commit
    val handle = graft.catalog.Maintenance.CompactTestHook
      .handleNow(spark, "g2.db.evolg")
    val base = graft.catalog.Snapshots.latest(tdir("evolg")).get.files
    spark.sql("CALL g2.system.add_partition_field('db.evolg', 'days(ts)')")
    val e5 = intercept[Exception] {
      graft.catalog.Maintenance.CompactTestHook.replaceThrough(
        handle, spark.table("g2.db.evolg"), base)
    }
    assert(Iterator.iterate(e5: Throwable)(_.getCause).takeWhile(_ != null)
      .take(6).exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      e5.toString)
    // renaming / dropping / retyping an OLD-era source rejects even
    // after the field is dropped from the current spec
    spark.sql("CALL g2.system.drop_partition_field('db.evolg', 'k_bucket')")
    val e6 = intercept[Exception](spark.sql(
      "ALTER TABLE g2.db.evolg RENAME COLUMN k TO k2"))
    assert(e6.getMessage.contains("partition column"), e6.getMessage)
    // rows written before/after both evolutions all read
    spark.sql("""INSERT INTO g2.db.evolg
      SELECT id, timestamp_seconds(1700000000 + id), CAST(id AS DOUBLE)
      FROM range(100, 110)""")
    assert(spark.sql("SELECT count(*) FROM g2.db.evolg").collect()
      .head.getLong(0) == 30L)
    // bucket point-lookup on era-1 files still prunes under era-1's
    // bucket(4,k), day predicate on era-3 files under days(ts)
    assert(spark.sql("SELECT v FROM g2.db.evolg WHERE k = 7").collect()
      .map(_.getDouble(0)).toSeq == Seq(7.0))
    // expiry refuses to reclassify era-1 files across the era boundary
    val e7 = intercept[IllegalStateException] {
      graft.catalog.Maintenance.expireSnapshots(spark, "g2.db.evolg", 1)
    }
    assert(e7.getMessage.contains("era"), e7.getMessage)
    // compact migrates; expiry then unblocks
    graft.catalog.Maintenance.compact(spark, "g2.db.evolg", Seq("k"), 1)
    val (dropped, _) =
      graft.catalog.Maintenance.expireSnapshots(spark, "g2.db.evolg", 1)
    assert(dropped > 0)
    assert(spark.sql("SELECT count(*) FROM g2.db.evolg").collect()
      .head.getLong(0) == 30L)
  }

  test("bucket v2 hash derivation: promoting the bucket SOURCE " +
      "int→bigint is dir-stable — prune, deleteByKey and MERGE stay " +
      "exact over narrow-era dirs (r18)") {
    import spark.implicits._
    spark.sql("""CREATE TABLE g2.db.bktv2 (k INT, v STRING)
      PARTITIONED BY (bucket(8, k))""")
    assert(graft.catalog.TableMeta.readProps(tdir("bktv2"))
      .get("graft.bucket.derivation").contains("v2"))
    spark.sql("""INSERT INTO g2.db.bktv2
      SELECT CAST(id AS INT),
             CASE WHEN id % 9 = 8 THEN CAST(NULL AS STRING)
                  ELSE concat('v', CAST(id AS STRING)) END
      FROM range(0, 64)""")
    // narrow-era point lookup prunes to one bucket dir and stays exact
    val one = spark.sql("SELECT v FROM g2.db.bktv2 WHERE k = 7")
    assert(one.collect().map(_.getString(0)).toSeq == Seq("v7"))
    assert(scanFiles(one) < scanFiles(spark.table("g2.db.bktv2")))
    // the promotion is ALLOWED on a v2 table (v1 tables reject — the
    // narrow-era dirs hold hash(cast(k AS BIGINT)) values, so the wide
    // probe hashes identically)
    spark.sql("ALTER TABLE g2.db.bktv2 ALTER COLUMN k TYPE BIGINT")
    spark.sql("""INSERT INTO g2.db.bktv2
      VALUES (6000000000, 'wide'), (64, 'v64'), (CAST(NULL AS BIGINT), 'nul')""")
    // narrow keys written pre-promotion still prune + serve exactly
    val narrow = spark.sql("SELECT v FROM g2.db.bktv2 WHERE k = 7")
    assert(narrow.collect().map(_.getString(0)).toSeq == Seq("v7"))
    assert(scanFiles(narrow) < scanFiles(spark.table("g2.db.bktv2")))
    // beyond-int keys land and serve
    assert(spark.sql("SELECT v FROM g2.db.bktv2 WHERE k = 6000000000")
      .collect().map(_.getString(0)).toSeq == Seq("wide"))
    // IS NULL routes to the seed bucket under the same derivation
    assert(spark.sql("SELECT count(*) FROM g2.db.bktv2 WHERE k IS NULL")
      .collect().head.getLong(0) == 1L)
    // deleteByKey ON the promoted bucket source
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.bktv2",
      Seq(7L, 6000000000L).toDF("k"))
    assert(spark.sql(
      "SELECT count(*) FROM g2.db.bktv2 WHERE k IN (7, 6000000000)")
      .collect().head.getLong(0) == 0L)
    // MERGE through the V2 row-level writer derives wide-hash dirs
    spark.sql("""MERGE INTO g2.db.bktv2 t USING (
        SELECT CAST(12 AS BIGINT) AS k, 'upd' AS v
        UNION ALL SELECT 7000000000, 'new') s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql(
      "SELECT v FROM g2.db.bktv2 WHERE k IN (12, 7000000000) ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("upd", "new"))
    // everything above survives a compact byte-for-byte
    val pre = spark.sql("SELECT k, v FROM g2.db.bktv2").collect()
      .map(_.toString).sorted.toSeq
    graft.catalog.Maintenance.compact(spark, "g2.db.bktv2", Seq("v"), 2)
    assert(spark.sql("SELECT k, v FROM g2.db.bktv2").collect()
      .map(_.toString).sorted.toSeq == pre)
  }

  test("pre-r18 bucket tables (no derivation property) keep the v1 " +
      "hash: prune stays exact and the source promotion stays rejected") {
    val dir = tdir("bktv1")
    spark.sql("""CREATE TABLE g2.db.bktv1 (k INT, v STRING)
      PARTITIONED BY (bucket(8, k))""")
    // simulate a pre-r18 table: strip the derivation property
    val p0 = graft.catalog.TableMeta.readProps(dir)
    graft.catalog.TableMeta.writeProps(dir, p0 - "graft.bucket.derivation")
    spark.sql("""INSERT INTO g2.db.bktv1
      SELECT CAST(id AS INT), concat('v', CAST(id AS STRING))
      FROM range(0, 32)""")
    val one = spark.sql("SELECT v FROM g2.db.bktv1 WHERE k = 5")
    assert(one.collect().map(_.getString(0)).toSeq == Seq("v5"))
    assert(scanFiles(one) < scanFiles(spark.table("g2.db.bktv1")))
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE g2.db.bktv1 ALTER COLUMN k TYPE BIGINT"))
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }

  test("TIMESTAMP identity partitioning: dir values render AND parse " +
      "under the pinned zone — a Tokyo writer, an LA reader and an " +
      "equality-delete mask all agree on the instants (r18)") {
    import spark.implicits._
    val zoneConf = "spark.sql.session.timeZone"
    val orig = spark.conf.get(zoneConf)
    try {
      spark.conf.set(zoneConf, "Asia/Tokyo")
      spark.sql("""CREATE TABLE g2.db.tsid (ts TIMESTAMP, v STRING)
        PARTITIONED BY (ts)""")
      assert(graft.catalog.TableMeta.readProps(tdir("tsid"))
        .get(graft.catalog.PartitionTransforms.ZoneKey)
        .contains("Asia/Tokyo"))
      spark.sql("""INSERT INTO g2.db.tsid
        SELECT timestamp_seconds(1700000000 + id * 3600),
               concat('v', CAST(id AS STRING))
        FROM range(0, 4)""")
      def instants(): Seq[Long] = spark.sql(
        "SELECT CAST(ts AS BIGINT) FROM g2.db.tsid")
        .collect().map(_.getLong(0)).sorted.toSeq
      val tokyoView = instants()
      assert(tokyoView == (0 until 4).map(1700000000L + _ * 3600L))
      // an LA reader parses the SAME instants from the dirs (pre-fix:
      // session-zone parse shifted them by the zone offset)
      spark.conf.set(zoneConf, "America/Los_Angeles")
      assert(instants() == tokyoView)
      // equality-delete mask keyed ON the partition column, committed
      // from the LA session, masks exactly the written instant
      graft.catalog.Maintenance.deleteByKey(spark, "g2.db.tsid",
        Seq(java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(1700003600L))).toDF("ts"))
      assert(instants() == Seq(1700000000L, 1700007200L, 1700010800L))
      // the V2 row-level writer renders ts dirs under the SAME pinned
      // zone (MERGE moves a row to a new instant partition)
      spark.sql("""MERGE INTO g2.db.tsid t USING (
          SELECT timestamp_seconds(1700000000) AS ts, 'upd' AS v
          UNION ALL SELECT timestamp_seconds(1700020000), 'new') s
        ON t.ts = s.ts
        WHEN MATCHED THEN UPDATE SET t.v = s.v
        WHEN NOT MATCHED THEN INSERT *""")
      assert(spark.sql(
        "SELECT v FROM g2.db.tsid WHERE ts = timestamp_seconds(1700000000)")
        .collect().map(_.getString(0)).toSeq == Seq("upd"))
      assert(instants() ==
        Seq(1700000000L, 1700007200L, 1700010800L, 1700020000L))
      // ONE dir per distinct instant ever written (4 inserts + the
      // MERGE's new row; the masked row's dir stays for time travel),
      // every one rendered in TOKYO regardless of the writer's zone
      val dirs = scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(tdir("tsid").resolve("data")).iterator())
        .asScala.map(_.getFileName.toString).filter(_.startsWith("ts="))
        .toSeq
      assert(dirs.size == 5 && dirs.contains("ts=2023-11-15 07%3A13%3A20"),
        s"got $dirs")
      // a UTC third session agrees too, and compact round-trips
      spark.conf.set(zoneConf, "UTC")
      graft.catalog.Maintenance.compact(spark, "g2.db.tsid", Seq("v"), 1)
      assert(instants() ==
        Seq(1700000000L, 1700007200L, 1700010800L, 1700020000L))
    } finally spark.conf.set(zoneConf, orig)
  }

  test("declared write sort order (graft.write.ordered-by): inserts " +
      "land range-disjoint sorted files, a key-range DELETE rewrites " +
      "O(overlapping files) with NO compact, and the row-level write " +
      "plans the sort (r18)") {
    spark.sql("""CREATE TABLE g2.db.ordk (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('graft.write.ordered-by'='k')""")
    spark.sql("CREATE TABLE g2.db.unordk (k BIGINT, v DOUBLE)")
    // scrambled inserts: 48271 is coprime to 20000, so each insert is a
    // permutation — without the declared order every task's file spans
    // the whole key range and footer stats prune nothing
    for (lo <- Seq(0, 20000)) {
      val ins = s"SELECT (id * 48271) % 20000 + $lo, CAST(id AS DOUBLE) " +
        "FROM range(0, 20000)"
      spark.sql(s"INSERT INTO g2.db.ordk $ins")
      spark.sql(s"INSERT INTO g2.db.unordk $ins")
    }
    def replaced(table: String)(op: => Unit): Int = {
      val dir = tdir(table)
      val before = graft.catalog.Snapshots.latest(dir).get.dataFiles.toSet
      op
      val after = graft.catalog.Snapshots.latest(dir).get.dataFiles.toSet
      (before -- after).size
    }
    val repOrd = replaced("ordk")(spark.sql(
      "DELETE FROM g2.db.ordk WHERE k >= 100 AND k < 300"))
    val repUn = replaced("unordk")(spark.sql(
      "DELETE FROM g2.db.unordk WHERE k >= 100 AND k < 300"))
    assert(repOrd > 0 && repUn > 0, s"$repOrd / $repUn")
    assert(repOrd < repUn,
      s"ordered table rewrote $repOrd files, unordered $repUn — the " +
        "declared order should bound the rewrite to overlapping files")
    // contents agree with the unordered twin after the DELETE
    assert(spark.sql("SELECT sum(k), count(*) FROM g2.db.ordk").collect()
      .head.toString ==
      spark.sql("SELECT sum(k), count(*) FROM g2.db.unordk").collect()
        .head.toString)
    // the V2 row-level write declares the ordering: the MERGE plan
    // carries a range exchange / sort on k before ReplaceData
    val mergeSql = """MERGE INTO g2.db.ordk t USING (
        SELECT CAST(5000 AS BIGINT) AS k, CAST(-1 AS DOUBLE) AS v) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.v = s.v"""
    val plan = spark.sql(s"EXPLAIN FORMATTED $mergeSql")
      .collect().head.getString(0)
    assert(plan.contains("+- Sort (") && plan.contains("Exchange"),
      plan.takeRight(2000))
    val repMerge = replaced("ordk")(spark.sql(mergeSql))
    assert(repMerge <= repOrd + 1,
      s"narrow MERGE rewrote $repMerge files on the ordered table")
    assert(spark.sql("SELECT v FROM g2.db.ordk WHERE k = 5000").collect()
      .map(_.getDouble(0)).toSeq == Seq(-1.0))
  }

  test("evolved v2 bucket tables prune era groups with the WIDE hash: " +
      "a MERGE point lookup after ADD PARTITION FIELD matches rows in " +
      "int-keyed era files (soak seed 101 regression, r18)") {
    spark.sql("""CREATE TABLE g2.db.evbktr (k INT, v STRING)
      PARTITIONED BY (bucket(4, k))""")
    spark.sql("""INSERT INTO g2.db.evbktr
      SELECT CAST(id AS INT), concat('v', CAST(id AS STRING))
      FROM range(0, 40)""")
    // evolution makes the prune path ERA-GROUPED — pre-fix the era
    // specs lost the v2 tag and hashed int literals narrow, pruning
    // away the very files the MERGE had to match (duplicate rows)
    spark.sql("CALL g2.system.add_partition_field('db.evbktr', " +
      "'truncate(2, v)')")
    spark.sql("""MERGE INTO g2.db.evbktr t USING (
        SELECT 7 AS k, 'UPD' AS v) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT v FROM g2.db.evbktr WHERE k = 7").collect()
      .map(_.getString(0)).toSeq == Seq("UPD"))
    assert(spark.sql("SELECT count(*) FROM g2.db.evbktr").collect()
      .head.getLong(0) == 40L, "a missed match would have inserted a dup")
    // interactive point lookup over the mixed eras stays exact too
    assert(spark.sql("SELECT v FROM g2.db.evbktr WHERE k = 13").collect()
      .map(_.getString(0)).toSeq == Seq("v13"))
  }

  test("legacy zoned days() tables (no ZoneKey) get the zone PINNED on " +
      "their first write — the drift window closes instead of " +
      "persisting (ADVICE r17)") {
    val zoneConf = "spark.sql.session.timeZone"
    val orig = spark.conf.get(zoneConf)
    val zk = graft.catalog.PartitionTransforms.ZoneKey
    try {
      spark.conf.set(zoneConf, "Asia/Tokyo")
      spark.sql("""CREATE TABLE g2.db.evzbf (ev_id BIGINT, ts TIMESTAMP)
        PARTITIONED BY (days(ts))""")
      // simulate a pre-r17 table: strip the CREATE-time pin from props
      val dir = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g2.warehouse"), "db", "evzbf")
      val props0 = graft.catalog.TableMeta.readProps(dir)
      assert(props0.contains(zk))
      graft.catalog.TableMeta.writeProps(dir, props0 - zk)
      // first write through the legacy table pins the WRITER's zone
      spark.sql("""INSERT INTO g2.db.evzbf
        SELECT id, timestamp_seconds(1700000000 + 82800 + id)
        FROM range(0, 4)""")
      assert(graft.catalog.TableMeta.readProps(dir).get(zk)
        .contains("Asia/Tokyo"))
      // a reader AND a second writer in another zone now agree with the
      // layout (pre-fix both would re-derive in their own session zone)
      spark.conf.set(zoneConf, "America/Los_Angeles")
      val got = spark.sql("""SELECT ev_id FROM g2.db.evzbf
        WHERE ts >= timestamp_seconds(1700082800)
          AND ts < timestamp_seconds(1700082803)""")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(0L, 1L, 2L), s"got $got")
      spark.sql("""INSERT INTO g2.db.evzbf
        SELECT id, timestamp_seconds(1700000000 + 82800 + id)
        FROM range(4, 6)""")
      val dayDirs = scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(dir.resolve("data")).iterator()).asScala
        .map(_.getFileName.toString).filter(_.startsWith("ts_day=")).toSeq
      assert(dayDirs == Seq("ts_day=2023-11-16"), s"got $dayDirs")
    } finally spark.conf.set(zoneConf, orig)
  }

  // --- stats-planned reads ----------------------------------------------

  /** File names the (already filter-pushed) scan of `df` plans. */
  private def scanFileNames(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.length == 1, df.queryExecution.executedPlan)
    scans.head.toBatch.planInputPartitions().toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.toSeq.map(_.toPath.getName)
    }.toSet
  }

  test("a point lookup's scan lists only the files whose recorded " +
      "[min, max] covers the key, and answers like the unpushable form " +
      "over random keys, NULLs, strings and dates") {
    import org.apache.spark.sql.functions.{max, min}
    spark.sql("CREATE TABLE g2.db.ptl (id BIGINT, s STRING, d DATE)")
    (0 until 6).foreach { c =>
      spark.sql(s"""INSERT INTO g2.db.ptl
        SELECT id, concat('s', lpad(CAST(id AS STRING), 4, '0')),
               date_add(DATE'2024-01-01', CAST(id AS INT))
        FROM range(${c * 40}, ${c * 40 + 40})""")
    }
    spark.sql("INSERT INTO g2.db.ptl VALUES (NULL, NULL, NULL)")
    val dir = tdir("ptl")
    val nullFile = java.nio.file.Paths.get(
      graft.catalog.Snapshots.latest(dir).get.dataFiles.last).getFileName.toString
    spark.sql("INSERT INTO g2.db.ptl VALUES (500, NULL, DATE'2030-06-01')")
    val live = graft.catalog.Snapshots.latest(dir).get.dataFiles
    // each file's real [min, max] per column, read from its rows
    val ranges: Map[String, Seq[(Any, Any)]] = live.map { f =>
      val r = spark.read.parquet(dir.resolve(f).toString)
        .agg(min("id"), max("id"), min("s"), max("s"), min("d"), max("d"))
        .collect().head
      java.nio.file.Paths.get(f).getFileName.toString ->
        (0 until 3).map(i => (r.get(2 * i), r.get(2 * i + 1)))
    }.toMap
    // a file whose column is all NULL holds no value to compare: pruned
    def covering(col: Int, key: Any)(lte: (Any, Any) => Boolean): Set[String] =
      ranges.collect { case (f, rs) if rs(col)._1 != null &&
          lte(rs(col)._1, key) && lte(key, rs(col)._2) => f }.toSet
    def same(pushable: String, unpushable: String): Set[String] = {
      val q = "SELECT id, s, d FROM g2.db.ptl WHERE "
      val pushed = spark.sql(q + pushable)
      val got = pushed.collect().map(_.toString).sorted.toSeq
      assert(got == spark.sql(q + unpushable).collect().map(_.toString)
        .sorted.toSeq, pushable)
      scanFileNames(pushed)
    }
    val rnd = new scala.util.Random(12)
    val keys = Seq(0L, 39L, 40L, 239L, 500L, -3L, 777L) ++
      Seq.fill(12)(rnd.nextInt(520).toLong - 10)
    keys.foreach { k =>
      val scanned = same(s"id = $k", s"id + 0 = $k")
      val expected = covering(0, k) { (a, b) =>
        a.asInstanceOf[Long] <= b.asInstanceOf[Long] }
      assert(scanned == expected && !scanned.contains(nullFile),
        s"id = $k: $scanned vs $expected")
      if (k >= 0 && k < 240)
        assert(scanned.size <= 2 && scanned.size < live.size, s"id = $k")
    }
    Seq("s0007", "s0123", "s0239", "zzz", "s").foreach { v =>
      val scanned = same(s"s = '$v'", s"concat(s, '') = '$v'")
      assert(scanned == covering(1, v) { (a, b) =>
        a.toString <= b.toString } && !scanned.contains(nullFile), v)
    }
    Seq("2024-01-01", "2024-03-15", "2030-06-01", "1999-12-31").foreach { v =>
      val scanned = same(s"d = DATE'$v'", s"date_add(d, 0) = DATE'$v'")
      val day = java.sql.Date.valueOf(v)
      assert(scanned == covering(2, day) { (a, b) =>
        !a.asInstanceOf[java.sql.Date].after(b.asInstanceOf[java.sql.Date])
      } && !scanned.contains(nullFile), v)
    }
    // a NULL key matches nothing; IS NULL keeps only files holding NULLs
    assert(spark.sql("SELECT id FROM g2.db.ptl WHERE id = NULL").collect()
      .isEmpty)
    val nullFiles = same("id IS NULL", "id + 0 IS NULL")
    assert(nullFiles == Set(nullFile), nullFiles)
    assert(same("s = 's0007' OR s IS NOT NULL",
      "concat(s, '') = 's0007' OR concat(s, '') IS NOT NULL").size ==
      live.size - 2) // both files whose s is all NULL leave
    same("s IS NULL AND d IS NOT NULL", "concat(s, '') IS NULL AND " +
      "date_add(d, 0) IS NOT NULL")
  }

  test("old-generation files after a RENAME are never stats-pruned") {
    spark.sql("CREATE TABLE g2.db.genswap (a INT, c INT)")
    spark.sql("INSERT INTO g2.db.genswap VALUES (1, 100), (2, 200)")  // v2
    // the old file's physical `a` now holds the field renamed to x, and
    // current `a` is its physical `c`: its `a` stats ([1, 2]) describe
    // another field
    spark.sql("ALTER TABLE g2.db.genswap RENAME COLUMN a TO x")
    spark.sql("ALTER TABLE g2.db.genswap RENAME COLUMN c TO a")
    spark.sql("INSERT INTO g2.db.genswap VALUES (3, 300)")            // v3
    val q = spark.sql("SELECT x FROM g2.db.genswap WHERE a = 100")
    assert(q.collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(spark.sql("SELECT x FROM g2.db.genswap WHERE a = 1")
      .collect().isEmpty)
    assert(spark.sql("SELECT a FROM g2.db.genswap WHERE x = 3")
      .collect().map(_.getInt(0)).toSeq == Seq(300))
    assert(spark.sql("SELECT count(*) FROM g2.db.genswap WHERE a >= 100")
      .collect().head.getLong(0) == 3L)
  }

  test("Snapshots.latest and byVersion agree with list over expired " +
      "(gapped) versions and a stray commit temp file") {
    import graft.catalog.Snapshots
    spark.sql("CREATE TABLE g2.db.snapgap (a INT)")                   // v1
    (1 to 5).foreach(i => spark.sql(s"INSERT INTO g2.db.snapgap VALUES ($i)"))
    spark.sql("CALL g2.system.create_tag('db.snapgap', 'keep', 3)")
    spark.sql("CALL g2.system.expire_snapshots('db.snapgap', 2)").collect()
    val dir = tdir("snapgap")
    java.nio.file.Files.writeString(dir.resolve("_graft_snapshots")
      .resolve(".v00000009.snap.0b1c.tmp"), "not a snapshot")
    val all = Snapshots.list(dir)
    assert(all.map(_.version) == Seq(3L, 5L, 6L), all.map(_.version))
    assert(Snapshots.latest(dir) == all.lastOption)
    (0L to 10L).foreach { v =>
      assert(Snapshots.byVersion(dir, v) == all.find(_.version == v), v)
    }
  }

  test("equality-delete keys widen under the schema the handle planned " +
      "with, not under one an ALTER committed later") {
    import spark.implicits._
    spark.sql("CREATE TABLE g2.db.eqhandle (k INT, v STRING)")
    spark.sql("INSERT INTO g2.db.eqhandle VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    graft.catalog.Maintenance.deleteByKey(spark, "g2.db.eqhandle",
      Seq(2).toDF("k"))
    val catalog = org.apache.spark.sql.graftaccess.Internals
      .catalogPlugin(spark, "g2")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("db"), "eqhandle")
    val handle = catalog.loadTable(ident)
    spark.sql("ALTER TABLE g2.db.eqhandle ALTER COLUMN k TYPE BIGINT")
    val viaHandle = org.apache.spark.sql.graftaccess.Internals
      .tableDf(spark, handle).orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(viaHandle == Seq((1, "a"), (3, "c")), viaHandle)
    assert(spark.sql("SELECT k FROM g2.db.eqhandle ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }
}
