package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{FileStatsCache, Maintenance, ParquetStats, Snapshots}

/** The commit-time footer-stats cache (`_graft_filestats/`): every
  * snapshot commit records its new parquet files' column min/max/null
  * stats in a TSV sidecar, and the prune paths (runtime group filter,
  * deleteWhere, upsert envelope, `.files` metadata) read O(commits)
  * sidecars instead of opening O(table-files) parquet footers on the
  * driver. The cache must be a pure ACCELERATOR: cached verdicts agree
  * with the live footer pass (or keep strictly more files), any file
  * without a record falls back to a live footer read, and snapshot
  * expiry folds the log without changing a single verdict. */
class FileStatsCacheSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    val wh = Files.createTempDirectory("graft_fsc").toString
    s.conf.set("spark.sql.catalog.fsc", "graft.catalog.MetaCatalog")
    s.conf.set("spark.sql.catalog.fsc.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS fsc.db")
    s
  }

  private def tdir(name: String): Path =
    Paths.get(spark.conf.get("spark.sql.catalog.fsc.warehouse"), "db", name)

  private def dataFiles(name: String): Seq[String] =
    Snapshots.latest(tdir(name)).get.dataFiles

  private def statsFiles(name: String): Seq[String] = {
    val d = tdir(name).resolve("_graft_filestats")
    if (!Files.isDirectory(d)) Seq.empty
    else scala.util.Using.resource(Files.list(d)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".tsv")).toList.sorted
    }
  }

  // A battery of filters spanning every type/shape the evaluator
  // reasons about (plus shapes it must stay conservative on).
  private def filterBattery: Seq[Seq[Filter]] = {
    val d0 = java.sql.Date.valueOf("2024-03-05")
    val t0 = java.sql.Timestamp.valueOf("2024-03-05 10:30:00.123456")
    Seq(
      Seq(EqualTo("k", 7)),
      Seq(EqualTo("k", 9999)),
      Seq(GreaterThan("k", 40), LessThan("k", 60)),
      Seq(GreaterThanOrEqual("k", 100)),
      Seq(LessThanOrEqual("k", -1)),
      Seq(In("k", Array[Any](3, 55, 77))),
      Seq(EqualTo("s", "name_0042")),
      Seq(GreaterThan("s", "name_0090")),
      Seq(LessThan("s", "aaa")),
      Seq(EqualTo("x", 12.5d)),
      Seq(GreaterThan("x", 1e9)),
      Seq(EqualTo("x", 0.0d)), // -0.0/0.0 normalization
      Seq(EqualTo("d", d0)),
      Seq(GreaterThan("d", java.sql.Date.valueOf("2030-01-01"))),
      Seq(EqualTo("ts", t0)),
      Seq(LessThan("ts", java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))),
      Seq(EqualTo("dec", new java.math.BigDecimal("12.34"))),
      Seq(GreaterThan("dec", new java.math.BigDecimal("99999.99"))),
      Seq(IsNull("maybe")),
      Seq(IsNull("k")),
      Seq(Or(EqualTo("k", 5), EqualTo("k", 95))),
      Seq(And(GreaterThan("k", 10), IsNull("maybe"))),
      Seq(StringStartsWith("s", "name")), // unsupported shape → both keep
      Seq(AlwaysFalse()))
  }

  private def mkWide(name: String): Unit = {
    spark.sql(s"""CREATE TABLE fsc.db.$name (
      k INT, s STRING, x DOUBLE, d DATE, ts TIMESTAMP,
      dec DECIMAL(7,2), maybe STRING)""")
    // three commits with disjoint k-ranges so stats genuinely prune;
    // one commit carries nulls, one carries -0.0
    def ins(lo: Int, hi: Int, nulls: Boolean): Unit = {
      val rows = (lo until hi).map { i =>
        val maybe = if (nulls && i % 3 == 0) "NULL" else s"'m$i'"
        val x = if (i == lo) "-0.0" else s"$i.5"
        f"($i, 'name_$i%04d', $x, date'2024-03-05' + $i, " +
          f"timestamp'2024-03-05 10:30:00.123456' + interval $i hours, " +
          f"${i}.34, $maybe)"
      }
      spark.sql(s"INSERT INTO fsc.db.$name VALUES ${rows.mkString(", ")}")
    }
    ins(0, 40, nulls = false)
    ins(40, 80, nulls = true)
    ins(80, 120, nulls = false)
  }

  test("every commit records stats; cached verdicts agree with live footers") {
    mkWide("agree")
    val dir = tdir("agree")
    assert(statsFiles("agree").nonEmpty, "no stats sidecar written at commit")
    val cached = FileStatsCache.load(dir)
    val files = dataFiles("agree")
    assert(files.nonEmpty && files.forall(cached.contains),
      s"every data file needs a record: ${files.filterNot(cached.contains)}")

    val conf = spark.sparkContext.hadoopConfiguration
    val ts = FileStatsCache.forTable(dir, conf)
    for (fs <- filterBattery; f <- files) {
      val live = ParquetStats.mayMatchAll(dir.resolve(f).toString, fs, conf)
      val viaCache = ts.mayMatchAll(f, fs, openFooter = true)
      // single-row-group test files: per-file aggregation == per-block,
      // so the verdicts must be IDENTICAL (and in general cached may
      // only ever keep MORE files, never fewer)
      assert(viaCache == live, s"verdict drift on $f for $fs")
    }
    // rows/bytes served from the cache match footer truth
    for (f <- files) {
      val (rows, bytes) = ts.rowsBytes(f).get
      assert(rows == ParquetStats.rowCount(dir.resolve(f).toString, conf))
      assert(bytes == Files.size(dir.resolve(f)))
    }
  }

  test("a complete cache prunes with ZERO live footer opens") {
    mkWide("nofooter")
    val dir = tdir("nofooter")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles("nofooter")
    val ts = FileStatsCache.forTable(dir, conf)
    val before = ParquetStats.footerOpens.get()
    for (fs <- filterBattery; f <- files) ts.mayMatchAll(f, fs, openFooter = true)
    for (f <- files) ts.rowCount(f)
    assert(ParquetStats.footerOpens.get() == before,
      "cached prune must not open parquet footers")
  }

  test("files without a record fall back to live footer reads") {
    mkWide("fallback")
    val dir = tdir("fallback")
    val conf = spark.sparkContext.hadoopConfiguration
    // simulate a pre-cache table: drop the sidecar log
    val d = dir.resolve("_graft_filestats")
    scala.util.Using.resource(Files.walk(d)) { st =>
      import scala.jdk.CollectionConverters._
      st.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
    }
    val ts = FileStatsCache.forTable(dir, conf)
    val files = dataFiles("fallback")
    val before = ParquetStats.footerOpens.get()
    for (f <- files) {
      assert(ts.mayMatchAll(f, Seq(GreaterThanOrEqual("k", 0)), openFooter = true),
        "k >= 0 matches every file")
      assert(!ts.mayMatchAll(f, Seq(EqualTo("k", -5)), openFooter = true), "k = -5 matches none")
    }
    assert(ParquetStats.footerOpens.get() > before, "fallback must hit footers")
    // the NEXT commit records only its own files; old ones keep falling back
    spark.sql("INSERT INTO fsc.db.fallback VALUES " +
      "(500, 'name_0500', 1.0, date'2024-03-05', timestamp'2024-03-05 10:30:00', 1.00, 'x')")
    val cached = FileStatsCache.load(dir)
    val now = dataFiles("fallback")
    assert(now.count(cached.contains) == 1, "exactly the new file has a record")
    // DELETE still computes correct results through the mixed path
    spark.sql("DELETE FROM fsc.db.fallback WHERE k >= 100 AND k < 500")
    assert(spark.sql("SELECT count(*) FROM fsc.db.fallback")
      .collect().head.getLong(0) == 101) // 0..99 plus the 500 row
  }

  test("snapshot expiry folds the log to one file; verdicts unchanged") {
    mkWide("fold")
    val dir = tdir("fold")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(statsFiles("fold").size >= 3, "one record file per commit")
    val liveFiles = dataFiles("fold")
    val liveVerdicts = {
      val ts = FileStatsCache.forTable(dir, conf)
      for (fs <- filterBattery; f <- liveFiles) yield ts.mayMatchAll(f, fs, openFooter = true)
    }
    val (dropped, _) = Maintenance.expireSnapshots(spark, "fsc.db.fold", 1)
    assert(dropped > 0)
    val folded = statsFiles("fold")
    assert(folded.size == 1 && folded.head.startsWith("m_"),
      s"expiry must fold the stats log, got $folded")
    // only live files' records survive, and every verdict is identical
    val cached = FileStatsCache.load(dir)
    assert(cached.keySet == liveFiles.toSet,
      s"folded log must hold exactly the live files, got ${cached.keySet}")
    val ts2 = FileStatsCache.forTable(dir, conf)
    val after = for (fs <- filterBattery; f <- liveFiles) yield ts2.mayMatchAll(f, fs, openFooter = true)
    assert(after == liveVerdicts, "fold must not change any verdict")
    // and the folded records still serve with zero footer opens
    val before = ParquetStats.footerOpens.get()
    for (fs <- filterBattery; f <- liveFiles) ts2.mayMatchAll(f, fs, openFooter = true)
    assert(ParquetStats.footerOpens.get() == before)
  }

  test("WAP branch staging records once; fast-forward adds no duplicates") {
    spark.sql("CREATE TABLE fsc.db.wap (k INT, v STRING)")
    spark.sql("INSERT INTO fsc.db.wap VALUES (1, 'a')")
    val dir = tdir("wap")
    Snapshots.createBranch(dir, "audit",
      Snapshots.latest(dir).get.version)
    spark.sql("INSERT INTO fsc.db.wap.branch_audit VALUES (2, 'b')")
    val stagedRecords = FileStatsCache.load(dir)
    Snapshots.fastForward(dir, "audit")
    assert(spark.sql("SELECT count(*) FROM fsc.db.wap")
      .collect().head.getLong(0) == 2)
    // each data file appears in exactly ONE stats record file
    val d = dir.resolve("_graft_filestats")
    import scala.jdk.CollectionConverters._
    val perFileCounts = statsFiles("wap").flatMap { n =>
      Files.readAllLines(d.resolve(n)).asScala
        .filter(_.startsWith("F\t")).map(_.split("\t")(1))
    }.groupBy(identity).map { case (k, v) => (k, v.size) }
    assert(perFileCounts.values.forall(_ == 1),
      s"duplicate stats records after fast-forward: $perFileCounts")
    assert(FileStatsCache.load(dir).keySet == stagedRecords.keySet,
      "fast-forward must not add records (branch commit already did)")
  }

  test("stats survive value-fidelity hazards: unicode, -0.0, all-null columns") {
    spark.sql("CREATE TABLE fsc.db.fid (s STRING, x DOUBLE, allnull STRING)")
    // Two SINGLE-ROW inserts, one file each, identified by commit order:
    // the old 2-row insert could legally write one file per task and
    // `dataFiles.head` then flaked on whichever file listed first (seen
    // in-round: the 'héllo' equality probe read false against the file
    // that held only the 'züri' row).
    spark.sql("INSERT INTO fsc.db.fid VALUES " +
      "('héllo\\tworld', -0.0, NULL)")
    val dir = tdir("fid")
    val conf = spark.sparkContext.hadoopConfiguration
    val fHello = dataFiles("fid") match {
      case Seq(only) => only
      case fs => fail(s"one-row insert wrote ${fs.size} files")
    }
    spark.sql("INSERT INTO fsc.db.fid VALUES ('züri — ß', 0.0, NULL)")
    val fZuri = (dataFiles("fid").toSet - fHello).toSeq match {
      case Seq(only) => only
      case fs => fail(s"one-row insert wrote ${fs.size} files")
    }
    val ts = FileStatsCache.forTable(dir, conf)
    val before = ParquetStats.footerOpens.get()
    // string stats carry the unicode values exactly (TSV-escaped tab,
    // multibyte codepoints): equality inside the range keeps, outside
    // prunes — on BOTH files, under UTF8 binary order ('zzz' < 'zü…'
    // because 0xC3 > 0x7A byte-wise, so it only prunes on the ASCII file)
    assert(ts.mayMatchAll(fHello, Seq(EqualTo("s", "héllo\tworld")), openFooter = true))
    assert(!ts.mayMatchAll(fHello, Seq(EqualTo("s", "zzz")), openFooter = true))
    assert(ts.mayMatchAll(fZuri, Seq(EqualTo("s", "züri — ß")), openFooter = true))
    assert(!ts.mayMatchAll(fZuri, Seq(EqualTo("s", "héllo\tworld")), openFooter = true))
    // Spark semantics: -0.0 == 0.0 — a 0.0 probe must keep the file
    assert(ts.mayMatchAll(fHello, Seq(EqualTo("x", 0.0d)), openFooter = true))
    assert(!ts.mayMatchAll(fHello, Seq(EqualTo("x", 1.0d)), openFooter = true))
    // all-null column: IsNull keeps, equality prunes nothing (no min/max
    // stats → conservative keep, same as the footer path)
    assert(ts.mayMatchAll(fHello, Seq(IsNull("allnull")), openFooter = true))
    assert(!ts.mayMatchAll(fHello, Seq(IsNull("x")), openFooter = true))
    assert(ParquetStats.footerOpens.get() == before, "all served from cache")
  }
}
