package graft

import org.apache.spark.sql.SparkSession

/** Multi-PROCESS catalog contention driver.
  * The in-JVM concurrency pins (CatalogV2Spec) share one lock object by
  * construction; what a real deployment exercises is two separate JVMs
  * racing the file-lock CAS on one warehouse. `tools/contend.sh` runs
  * this main as two concurrent processes against the same table:
  *
  *   - role `init <wh>`: create the namespace + table
  *   - role `writer <wh> <n>`: n committed INSERTs tagged 'w', with an
  *     expire_snapshots(keep_last=100) thrown in mid-stream (the
  *     metadata-mutation verb racing data commits)
  *   - role `brancher <wh> <n>`: n WAP cycles — fork a branch at the
  *     CURRENT main version, stage one 'b' row, fast_forward. A publish
  *     that loses the race (main moved past the fork) fails LOUDLY; the
  *     cycle drops the branch and re-forks, so every staged row is
  *     eventually published exactly once.
  *   - role `check <wh> <wRows> <bRows>`: assert no commit was lost or
  *     duplicated and the snapshot log is a serializable history —
  *     versions strictly increasing and CONTIGUOUS (modulo the expired
  *     prefix), every version readable.
  *
  * Exit code 0 = role completed; check prints `CONTEND OK`.
  */
object ContendMain {

  private def session(wh: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.gcont", "graft.catalog.MetaCatalog")
      .config("spark.sql.catalog.gcont.warehouse", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val role = args(0)
    val wh = args(1)
    val spark = session(wh)
    role match {
      case "init" =>
        spark.sql("CREATE NAMESPACE gcont.s")
        spark.sql("CREATE TABLE gcont.s.t (a INT, tag STRING)")

      case "writer" =>
        val n = args(2).toInt
        (1 to n).foreach { i =>
          spark.sql(s"INSERT INTO gcont.s.t VALUES ($i, 'w')")
          if (i == n / 2)
            spark.sql(
              "CALL gcont.system.expire_snapshots('s.t', 100)").collect()
        }
        println(s"writer done n=$n")

      case "brancher" =>
        val n = args(2).toInt
        var published = 0
        var attempts = 0
        while (published < n) {
          attempts += 1
          require(attempts <= 40 * n, s"gave up after $attempts attempts")
          val name = s"wap_${published}_$attempts"
          try {
            val v = spark.sql("SELECT max(version) FROM gcont.s.t.snapshots")
              .collect().head.getLong(0)
            spark.sql(
              s"CALL gcont.system.create_branch('s.t', '$name', $v)").collect()
            spark.sql(
              s"INSERT INTO gcont.s.t.branch_$name VALUES (${1000 + published}, 'b')")
            spark.sql(
              s"CALL gcont.system.fast_forward('s.t', '$name')").collect()
            published += 1
          } catch {
            case e: Exception =>
              // losing the publish race is the EXPECTED path under
              // contention — drop the stale branch and re-fork at the
              // new main; anything staged on it is abandoned, never
              // half-published
              try spark.sql(
                s"CALL gcont.system.drop_branch('s.t', '$name')").collect()
              catch { case _: Exception => () }
              System.err.println(
                s"[contend] publish retry (${e.getClass.getSimpleName}: " +
                  e.getMessage.take(120) + ")")
          }
        }
        println(s"brancher done published=$published attempts=$attempts")

      case "check" =>
        val wRows = args(2).toInt
        val bRows = args(3).toInt
        val byTag = spark.sql(
            "SELECT tag, count(*) AS n FROM gcont.s.t GROUP BY tag")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(byTag.getOrElse("w", 0L) == wRows,
          s"writer rows lost/duplicated: ${byTag.get("w")} != $wRows")
        require(byTag.getOrElse("b", 0L) == bRows,
          s"published branch rows lost/duplicated: ${byTag.get("b")} != $bRows")
        assertNoDupRows(spark)
        val versions = assertHistory(spark)
        println(s"CONTEND OK rows=${wRows + bRows} " +
          s"versions=${versions.head}..${versions.last}")

      // crash-kill recovery gate ------------------------------------------
      case "victim" =>
        // committed INSERTs until SIGKILLed from outside; each success is
        // acknowledged on stdout AFTER the commit returns, so the killer
        // knows a lower bound on what must be visible afterwards. Every
        // 5th round also runs expire_snapshots, which HOLDS the refs
        // lock — a kill landing inside it proves the lock is an OS
        // advisory lock (kernel-released on death), not a lock-file
        // protocol a dead holder would strand: checkkill's own
        // drop_branch/orphan sweep take the same lock and would hang
        // forever on a stranded one.
        val n = args(2).toInt
        (1 to n).foreach { i =>
          spark.sql(s"INSERT INTO gcont.s.t VALUES (${2000 + i}, 'v')")
          if (i % 5 == 0)
            spark.sql(
              "CALL gcont.system.expire_snapshots('s.t', 100)").collect()
          println(s"victim committed $i")
          Console.out.flush()
        }
        println(s"victim done n=$n")

      // merge-on-read contention ------------------------------------------
      case "morinit" =>
        spark.sql("CREATE NAMESPACE IF NOT EXISTS gcont.s")
        spark.sql("""CREATE TABLE gcont.s.m (a INT, tag STRING)
          TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
        spark.sql("INSERT INTO gcont.s.m " +
          "SELECT CAST(id AS INT), 'seed' FROM range(1, 201)")
        spark.sql("INSERT INTO gcont.s.m " +
          "SELECT CAST(1000 + id AS INT), 'eqseed' FROM range(1, 201)")

      case "mordeleter" =>
        // n rounds: a MOR DELETE of one process-owned seed row each
        // round (sidecar commits from two JVMs race the snapshot CAS),
        // an INSERT every 3rd round (appends race sidecar commits),
        // and a rewrite_position_deletes every 4th round (a SURGICAL
        // sidecar replace racing concurrent sidecar adds — losing that
        // race aborts loudly and is retried, never half-applied).
        val n = args(2).toInt
        val base = args(3).toInt // 0 or 100: disjoint seed slices
        (1 to n).foreach { i =>
          spark.sql(s"DELETE FROM gcont.s.m WHERE a = ${base + i}")
          // EQUALITY delete racing position deletes, inserts and
          // sidecar rewrites from the other JVM
          spark.sql("CALL gcont.system.delete_by_key" +
            s"('s.m', 'a', '${1000 + base + i}')").collect()
          if (i % 3 == 0)
            spark.sql(s"INSERT INTO gcont.s.m VALUES (${5000 + base + i}, 'ins$base')")
          if (i % 4 == 0) {
            var attempts = 0
            var done = false
            while (!done) {
              attempts += 1
              require(attempts <= 20, "sidecar rewrite starved")
              try {
                spark.sql("CALL gcont.system.rewrite_position_deletes" +
                  "('s.m', 1)").collect()
                done = true
              } catch {
                case e: Exception if attempts < 20 =>
                  System.err.println(s"[contend] sidecar-rewrite retry " +
                    s"(${e.getClass.getSimpleName})")
              }
            }
          }
          println(s"mordeleter $base committed $i")
          Console.out.flush()
        }
        println(s"mordeleter done base=$base n=$n")

      case "checkmor" =>
        // after two racing MOR deleters: every deleted seed row is gone
        // exactly once, every surviving seed row present exactly once,
        // inserts exactly-once, history contiguous/readable — and the
        // whole state is STABLE under compaction (sidecars fold to the
        // identical row set, then no sidecars remain).
        val n = args(2).toInt
        def rows(): Map[String, Long] = spark.sql(
            "SELECT tag, count(*) AS n FROM gcont.s.m GROUP BY tag")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val byTag = rows()
        require(byTag.getOrElse("seed", 0L) == 200L - 2L * n,
          s"seed rows after 2x$n MOR deletes: ${byTag.get("seed")} != ${200 - 2 * n}")
        require(byTag.getOrElse("eqseed", 0L) == 200L - 2L * n,
          s"eqseed rows after 2x$n equality deletes: " +
            s"${byTag.get("eqseed")} != ${200 - 2 * n}")
        require(byTag.getOrElse("ins0", 0L) == n / 3 &&
          byTag.getOrElse("ins100", 0L) == n / 3,
          s"racing inserts lost/duplicated: $byTag")
        val deletedVisible = spark.sql(
          s"""SELECT count(*) FROM gcont.s.m
              WHERE tag = 'seed' AND ((a >= 1 AND a <= $n) OR
                                      (a >= 101 AND a <= ${100 + n}))""")
          .collect().head.getLong(0)
        require(deletedVisible == 0L,
          s"$deletedVisible MOR-deleted rows still visible")
        val eqVisible = spark.sql(
          s"""SELECT count(*) FROM gcont.s.m
              WHERE tag = 'eqseed' AND ((a >= 1001 AND a <= ${1000 + n}) OR
                                        (a >= 1101 AND a <= ${1100 + n}))""")
          .collect().head.getLong(0)
        require(eqVisible == 0L,
          s"$eqVisible equality-deleted rows still visible")
        assertNoDupRows(spark, "gcont.s.m")
        val versions = assertHistory(spark, "gcont.s.m")
        val before = spark.sql("SELECT a, tag FROM gcont.s.m ORDER BY a")
          .collect().toSeq
        graft.catalog.Maintenance.compact(spark, "gcont.s.m", Seq("a"), 2)
        val after = spark.sql("SELECT a, tag FROM gcont.s.m ORDER BY a")
          .collect().toSeq
        require(before == after, "compaction changed the visible rows")
        val tdir = java.nio.file.Paths.get(wh, "s", "m")
        require(graft.catalog.Snapshots.latest(tdir).get.deleteFiles.isEmpty,
          "sidecars survive compaction")
        println(s"CONTEND MOR OK rows=${before.size} " +
          s"versions=${versions.head}..${versions.last}")

      case "checkkill" =>
        // after a kill -9 mid-commit: (1) the warehouse still accepts
        // commits; (2) every ACKED victim insert is visible exactly once,
        // plus at most ONE unacked in-flight commit (killed between
        // createLink and the ack); (3) history is contiguous and every
        // version readable (no partial commit surfaced); (4) the orphan
        // sweep reclaims the dead writer's unreferenced data files and
        // stranded .tmp metadata, after which data/ holds ONLY referenced
        // files.
        val acked = args(2).toInt
        spark.sql("INSERT INTO gcont.s.t VALUES (9001, 'postkill')")
        spark.sql("INSERT INTO gcont.s.t VALUES (9002, 'postkill')")
        val byTag = spark.sql(
            "SELECT tag, count(*) AS n FROM gcont.s.t GROUP BY tag")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val v = byTag.getOrElse("v", 0L)
        require(v == acked || v == acked + 1,
          s"victim rows $v outside [$acked, ${acked + 1}]: lost or partial commit")
        require(byTag.getOrElse("postkill", 0L) == 2L,
          s"post-kill commits not accepted: ${byTag.get("postkill")}")
        assertNoDupRows(spark)
        val versions = assertHistory(spark)
        // the sweep: cutoff 0 is safe here — the victim is dead and this
        // is the only process writing. Published/stale branches are
        // dropped first so "referenced" below is exactly the main log
        // (branch-staged files would otherwise read as strays).
        val tdir = java.nio.file.Paths.get(wh, "s", "t")
        graft.catalog.Snapshots.branches(tdir).foreach { ref =>
          spark.sql(
            s"CALL gcont.system.drop_branch('s.t', '${ref.name}')").collect()
        }
        val swept = graft.catalog.Maintenance
          .removeOrphanFiles(spark, "gcont.s.t", olderThanMillis = 0L)
        val referenced = graft.catalog.Snapshots.list(tdir)
          .flatMap(_.files).toSet
        val onDisk = scala.util.Using.resource(
            java.nio.file.Files.walk(tdir.resolve("data"))) { st =>
          import scala.jdk.CollectionConverters._
          st.iterator().asScala
            .filter(p => java.nio.file.Files.isRegularFile(p) &&
              p.toString.endsWith(".parquet"))
            .map(p => tdir.relativize(p).toString).toList
        }
        val strays = onDisk.filterNot(referenced.contains)
        require(strays.isEmpty,
          s"unreferenced data files survive the sweep: $strays")
        println(s"CONTEND KILL OK v=$v acked=$acked swept=$swept " +
          s"versions=${versions.head}..${versions.last}")

      case "hpinit" =>
        // stage 4 (the pairwise-feature matrix):
        // ONE days()-partitioned table that two JVMs will hit with
        // hidden-partition MERGEs, equality deletes AND a mid-race type
        // promotion: every pairwise feature interaction on one table.
        spark.sql("CREATE NAMESPACE IF NOT EXISTS gcont.s")
        spark.sql("""CREATE TABLE gcont.s.h
          (k BIGINT, ts TIMESTAMP, q INT, tag STRING)
          PARTITIONED BY (days(ts))""")
        spark.sql("""INSERT INTO gcont.s.h
          SELECT id, timestamp_seconds(1700000000 + (id % 4) * 86400),
                 CAST(id AS INT), 'seed'
          FROM range(1, 201)""")

      case "hpwriter" =>
        // n rounds per process (base 0 / 100, disjoint effect slices):
        //  - MERGE INTO: one FIXED matched key incremented (+1 per
        //    round — exactly-once measurable) + one unmatched insert
        //    into a derived day dir (the hidden-partition V2 write
        //    under cross-JVM contention);
        //  - delete_by_key of one owned seed row (eq sidecars racing);
        //  - base=0 PROMOTES q int→bigint at the halfway round, while
        //    the other JVM's in-flight writes epoch-abort and retry;
        //  - an INSERT every 3rd round.
        // Every op retries on abort (schema-epoch, lost CAS): an abort
        // means nothing committed, so retry keeps exactly-once. ONLY
        // the known abort types retry: an exception thrown
        // AFTER a successful commit (post-commit read failure,
        // transient I/O) would re-run the op and double-apply the MERGE
        // increment, tripping checkhp as a false alarm — and a blind
        // catch-all would mask real non-abort failures. Aborts surface
        // as ConcurrentModificationException (schema-epoch flip, stale
        // rewrite base, concurrent sidecar) or the casCommit give-up
        // IllegalStateException, possibly wrapped by Spark — walk the
        // cause chain.
        val n = args(2).toInt
        val base = args(3).toInt
        // the stage's exactly-once arithmetic owns seed slices
        // base+1..base+n and fixed keys 181/182: n outside [2, 40]
        // would overlap them (or skip the promotion round) and raise
        // FALSE alarms
        require(n >= 2 && n <= 40, s"hpwriter: n=$n outside [2, 40]")
        require(base == 0 || base == 100, s"hpwriter: base=$base")
        val fixedKey = if (base == 0) 181 else 182
        def isAbort(e: Throwable): Boolean =
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
            .exists {
              case _: java.util.ConcurrentModificationException => true
              case ise: IllegalStateException =>
                Option(ise.getMessage).exists(_.contains("lost the CAS race"))
              case _ => false
            }
        def retry[A](what: String)(body: => A): A = {
          var attempts = 0
          while (true) {
            attempts += 1
            try return body
            catch {
              case e: Exception if attempts < 30 && isAbort(e) =>
                System.err.println(s"[contend] $what retry " +
                  s"(${e.getClass.getSimpleName}: " +
                  s"${Option(e.getMessage).getOrElse("").take(80)})")
            }
          }
          sys.error("unreachable")
        }
        (1 to n).foreach { i =>
          retry(s"merge $i")(spark.sql(s"""MERGE INTO gcont.s.h t
            USING (
              SELECT CAST($fixedKey AS BIGINT) AS k,
                     timestamp_seconds(1700000000) AS ts,
                     0 AS q, 'x' AS tag
              UNION ALL
              SELECT CAST(${5000 + base + i} AS BIGINT),
                     timestamp_seconds(${1700000000L + (i % 6) * 86400}),
                     ${base + i}, 'mrg$base') s
            ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET t.q = t.q + 1
            WHEN NOT MATCHED THEN INSERT *"""))
          retry(s"eqdel $i")(spark.sql("CALL gcont.system.delete_by_key" +
            s"('s.h', 'k', '${base + i}')").collect())
          if (base == 0 && i == n / 2)
            retry("promote")(spark.sql(
              "ALTER TABLE gcont.s.h ALTER COLUMN q TYPE BIGINT"))
          // base=100 EVOLVES the partition spec mid-race: the
          // other JVM's in-flight writes (planned under the days-only
          // spec) epoch-abort and retry; later writes land nested
          // day/hour dirs while old files keep pruning under their era
          if (base == 100 && i == n / 2)
            spark.sql(
              "CALL gcont.system.add_partition_field('s.h', 'hours(ts)')")
          // ...and REPLACES the whole spec on its LAST round with an
          // IDENTITY field (repartition_table's two halves):
          // the seal is a locked metadata write; the migrating compact
          // retries on a stale base when the other JVM commits between
          // its read and its publish. In-flight ops planned under the
          // old spec keep epoch-aborting and retrying throughout.
          if (base == 100 && i == n) {
            val hdir = graft.catalog.Maintenance.tableDir(spark, "gcont.s.h")
            retry("repart-seal")(graft.catalog.SpecEras.repartitionSpec(
              hdir, "gcont.s.h", Seq("tag")))
            retry("repart-migrate")(graft.catalog.Maintenance.compact(
              spark, "gcont.s.h", Seq("k"), 2))
          }
          if (i % 3 == 0)
            retry(s"insert $i")(spark.sql(
              s"INSERT INTO gcont.s.h VALUES (${7000 + base + i}, " +
                s"timestamp_seconds(1700000000), 1, 'ins$base')"))
          println(s"hpwriter $base committed $i")
          Console.out.flush()
        }
        println(s"hpwriter done base=$base n=$n")

      case "checkhp" =>
        // exactly-once effects after the two racing hpwriters: eq
        // deletes masked each owned seed row once; the fixed MERGE keys
        // carry EXACTLY n increments each (a lost or double-applied
        // rewrite shows up here); unmatched merge inserts and plain
        // inserts exactly once; the promotion landed (wide values
        // readable; narrow-era rows exact); history contiguous; the
        // whole state stable under compaction; day-dir pruning exact.
        val n = args(2).toInt
        require(n >= 2 && n <= 40, s"checkhp: n=$n outside [2, 40]")
        val byTag = spark.sql(
            "SELECT tag, count(*) AS n FROM gcont.s.h GROUP BY tag")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(byTag.getOrElse("seed", 0L) == 200L - 2L * n,
          s"seed rows after 2x$n eq deletes: ${byTag.get("seed")}")
        require(byTag.getOrElse("mrg0", 0L) == n &&
          byTag.getOrElse("mrg100", 0L) == n,
          s"merge inserts lost/duplicated: $byTag")
        require(byTag.getOrElse("ins0", 0L) == n / 3 &&
          byTag.getOrElse("ins100", 0L) == n / 3,
          s"racing inserts lost/duplicated: $byTag")
        val q181 = spark.sql("SELECT q FROM gcont.s.h WHERE k = 181")
          .collect().head.getLong(0)
        val q182 = spark.sql("SELECT q FROM gcont.s.h WHERE k = 182")
          .collect().head.getLong(0)
        require(q181 == 181L + n && q182 == 182L + n,
          s"fixed-key MERGE increments not exactly-once: " +
            s"q181=$q181 (want ${181 + n}), q182=$q182 (want ${182 + n})")
        // the promotion landed: schema wide + a beyond-int write works
        require(spark.table("gcont.s.h").schema("q").dataType ==
          org.apache.spark.sql.types.LongType, "promotion lost")
        // the mid-race spec evolution AND the end-of-race identity
        // repartition both landed: the era log holds the
        // days+hours era historically, and the CURRENT spec is the
        // identity 'tag' layout; the day-prune twin check below must
        // stay exact across all three eras
        val hdir = graft.catalog.Maintenance.tableDir(spark, "gcont.s.h")
        val eras = graft.catalog.SpecEras.read(hdir).getOrElse(Seq.empty)
        require(eras.exists(_.spec.map(_.spec) ==
          Seq("days(ts)", "hours(ts)")),
          s"mid-race evolution era lost: ${eras.map(_.spec.map(_.spec))}")
        val spec = graft.catalog.TableMeta.read(hdir).partitionCols
        require(spec == Seq("tag"),
          s"end-of-race identity repartition lost: $spec")
        // idempotent under check re-runs (a failed check may have
        // inserted the probe row already)
        spark.sql("DELETE FROM gcont.s.h WHERE k = 9999")
        spark.sql("INSERT INTO gcont.s.h VALUES (9999, " +
          "timestamp_seconds(1700000000), 3000000000, 'wide')")
        require(spark.sql("SELECT q FROM gcont.s.h WHERE k = 9999")
          .collect().head.getLong(0) == 3000000000L, "wide write lost")
        assertNoDupRows(spark, "gcont.s.h", "k")
        val versions = assertHistory(spark, "gcont.s.h")
        // day-dir pruning correct after all of it (ts range == tag calc)
        val day0 = spark.sql("""SELECT count(*) FROM gcont.s.h
          WHERE ts >= timestamp_seconds(1700000000)
            AND ts < timestamp_seconds(1700086400)""").collect()
          .head.getLong(0)
        val day0Twin = spark.sql("""SELECT count(*) FROM (
          SELECT * FROM gcont.s.h) WHERE unix_timestamp(ts) >= 1700000000
            AND unix_timestamp(ts) < 1700086400""").collect()
          .head.getLong(0)
        require(day0 == day0Twin, s"day prune diverged: $day0 != $day0Twin")
        val before = spark.sql("SELECT k, q, tag FROM gcont.s.h ORDER BY k")
          .collect().toSeq
        graft.catalog.Maintenance.compact(spark, "gcont.s.h", Seq("k"), 2)
        val after = spark.sql("SELECT k, q, tag FROM gcont.s.h ORDER BY k")
          .collect().toSeq
        require(before == after, "compaction changed the visible rows")
        // after the final compact every live file sits under the
        // identity layout the repartition declared
        val liveFinal = graft.catalog.Snapshots.latest(hdir).get.dataFiles
        require(liveFinal.nonEmpty && liveFinal.forall(_.contains("tag=")),
          s"live files not on the identity layout: $liveFinal")
        println(s"CONTEND HP OK rows=${before.size} " +
          s"versions=${versions.head}..${versions.last}")
    }
    spark.stop()
  }

  /** Per-row exactly-once: every key value distinct. */
  private def assertNoDupRows(spark: SparkSession,
      table: String = "gcont.s.t", key: String = "a"): Unit = {
    val dup = spark.sql(
        s"SELECT $key FROM $table GROUP BY $key HAVING count(*) > 1")
      .collect()
    require(dup.isEmpty, s"duplicated rows: ${dup.mkString(",")}")
  }

  /** Serializable snapshot history: strictly increasing, contiguous
    * tail (expire may have dropped a prefix), every version readable. */
  private def assertHistory(spark: SparkSession,
      table: String = "gcont.s.t"): Seq[Long] = {
    val versions = spark.sql(
        s"SELECT version FROM $table.snapshots ORDER BY version")
      .collect().map(_.getLong(0)).toSeq
    require(versions.nonEmpty, "no snapshots")
    require(versions.distinct == versions, "duplicate snapshot versions")
    require(versions.zip(versions.tail).forall { case (a, b) => b == a + 1 },
      s"snapshot log has gaps: $versions")
    versions.foreach { v =>
      spark.sql(s"SELECT count(*) FROM $table VERSION AS OF $v")
        .collect()
    }
    versions
  }
}
