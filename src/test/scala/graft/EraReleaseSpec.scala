package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** ERA-SOURCE RELEASE (round-18 watchlist): a column that is a
  * partition-transform source only in OLD spec eras (DROP PARTITION
  * FIELD removed it from the current spec) becomes an ordinary column
  * — droppable, renameable, retypeable — once no file referenced by
  * any surviving snapshot or branch belongs to a referencing era:
  * compact() migrates the live files to the latest era, then
  * expire_snapshots() drops the history that still listed the old-era
  * files (time travel to those snapshots would era-prune under the old
  * spec again). Until BOTH have run, the guard stays loud. */
class EraReleaseSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    val wh = Files.createTempDirectory("graft_erel").toString
    s.conf.set("spark.sql.catalog.erel", "graft.catalog.MetaCatalog")
    s.conf.set("spark.sql.catalog.erel.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS erel.db")
    s
  }

  private def tdir(name: String) = java.nio.file.Paths.get(
    spark.conf.get("spark.sql.catalog.erel.warehouse"), "db", name)

  test("RENAME of an old-era source unblocks after compact + expire") {
    spark.sql("""CREATE TABLE erel.db.rel (k BIGINT, ts TIMESTAMP, v STRING)
      PARTITIONED BY (days(ts))""")                                  // v1
    spark.sql("""INSERT INTO erel.db.rel
      SELECT id, timestamp_seconds(1700000000 + id * 86400),
             concat('v', CAST(id AS STRING))
      FROM range(0, 6)""")                                           // v2, days era
    spark.sql("CALL erel.system.drop_partition_field('db.rel', 'days(ts)')")
    spark.sql("""INSERT INTO erel.db.rel
      SELECT id, timestamp_seconds(1700000000 + id * 86400),
             concat('v', CAST(id AS STRING))
      FROM range(6, 9)""")                                           // v3, bare era

    // live old-era files → still rejected, with the migration hint
    val e1 = intercept[Exception](spark.sql(
      "ALTER TABLE erel.db.rel RENAME COLUMN ts TO event_ts"))
    assert(e1.getMessage.contains("expire_snapshots"), e1.getMessage)

    // compact migrates live files to the latest (bare) era — but the
    // HISTORY still lists the day-dir files, so time travel could still
    // era-prune under the old spec: still rejected
    graft.catalog.Maintenance.compact(spark, "erel.db.rel", Seq("k"), 2)
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE erel.db.rel RENAME COLUMN ts TO event_ts"))
    assert(e2.getMessage.contains("expire_snapshots"), e2.getMessage)

    spark.sql("CALL erel.system.expire_snapshots('db.rel', 1)")
    spark.sql("ALTER TABLE erel.db.rel RENAME COLUMN ts TO event_ts")
    // renamed column serves the old files' values through the usual
    // field-id generation translation
    assert(spark.sql(
      "SELECT count(*) FROM erel.db.rel WHERE event_ts IS NOT NULL")
      .collect().head.getLong(0) == 9)
    // writes + reads keep working on the released layout
    spark.sql("""INSERT INTO erel.db.rel
      VALUES (100, timestamp_seconds(1800000000), 'new')""")
    assert(spark.sql("SELECT v FROM erel.db.rel WHERE k = 100")
      .collect().map(_.getString(0)).toSeq == Seq("new"))
    // re-ADDing a column under the released SOURCE name is legal (it
    // was never a derived dir name) and reads NULL for old rows
    spark.sql("ALTER TABLE erel.db.rel ADD COLUMN ts TIMESTAMP")
    assert(spark.sql("SELECT count(*) FROM erel.db.rel WHERE ts IS NULL")
      .collect().head.getLong(0) == 10)
  }

  test("retype of an old-era v1-bucket source unblocks after release") {
    val dir = tdir("relb")
    spark.sql("""CREATE TABLE erel.db.relb (k INT, v STRING)
      PARTITIONED BY (bucket(4, k))""")
    // simulate a pre-r18 table: v1 hash derivation (promotion-unstable)
    val p0 = graft.catalog.TableMeta.readProps(dir)
    graft.catalog.TableMeta.writeProps(dir, p0 - "graft.bucket.derivation")
    spark.sql("""INSERT INTO erel.db.relb
      SELECT CAST(id AS INT), concat('v', CAST(id AS STRING))
      FROM range(0, 16)""")
    val e1 = intercept[Exception](spark.sql(
      "ALTER TABLE erel.db.relb ALTER COLUMN k TYPE BIGINT"))
    assert(e1.getMessage.contains("partition column"), e1.getMessage)

    spark.sql("CALL erel.system.drop_partition_field('db.relb', 'bucket(4,k)')")
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE erel.db.relb ALTER COLUMN k TYPE BIGINT"))
    assert(e2.getMessage.contains("partition column"), e2.getMessage)

    graft.catalog.Maintenance.compact(spark, "erel.db.relb", Seq("k"), 2)
    spark.sql("CALL erel.system.expire_snapshots('db.relb', 1)")
    spark.sql("ALTER TABLE erel.db.relb ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO erel.db.relb VALUES (5000000000, 'wide')")
    assert(spark.sql("SELECT v FROM erel.db.relb WHERE k = 5000000000")
      .collect().map(_.getString(0)).toSeq == Seq("wide"))
    assert(spark.sql("SELECT count(*) FROM erel.db.relb")
      .collect().head.getLong(0) == 17)
  }

  test("DROP of an old-era source unblocks after release; a derived dir " +
      "name stays reserved in every state") {
    spark.sql("""CREATE TABLE erel.db.reld (k BIGINT, ts TIMESTAMP, v STRING)
      PARTITIONED BY (days(ts))""")
    spark.sql("""INSERT INTO erel.db.reld
      SELECT id, timestamp_seconds(1700000000 + id * 86400),
             concat('v', CAST(id AS STRING))
      FROM range(0, 4)""")
    spark.sql("CALL erel.system.drop_partition_field('db.reld', 'ts_day')")
    // the old era's DERIVED dir column name is reserved: old-era files
    // still carry ts_day=... dirs, and a data column with that name
    // would be served from DIR VALUES by partition inference
    val eAdd = intercept[Exception](spark.sql(
      "ALTER TABLE erel.db.reld ADD COLUMN ts_day INT"))
    assert(eAdd.getMessage.contains("derived"), eAdd.getMessage)
    val eDrop = intercept[Exception](spark.sql(
      "ALTER TABLE erel.db.reld DROP COLUMN ts"))
    assert(eDrop.getMessage.contains("expire_snapshots"), eDrop.getMessage)

    graft.catalog.Maintenance.compact(spark, "erel.db.reld", Seq("k"), 1)
    spark.sql("CALL erel.system.expire_snapshots('db.reld', 1)")
    spark.sql("ALTER TABLE erel.db.reld DROP COLUMN ts")
    assert(spark.sql("SELECT k, v FROM erel.db.reld WHERE k = 2")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "v2")))
    // the dir-name reservation is structural (the era log keeps the
    // old spec) — still rejected even with zero old-era files
    val eAdd2 = intercept[Exception](spark.sql(
      "ALTER TABLE erel.db.reld ADD COLUMN ts_day INT"))
    assert(eAdd2.getMessage.contains("derived"), eAdd2.getMessage)
  }
}
