package graft.catalog

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Append-only snapshot log for a MetaCatalog table — the rebuild of the
  * Iceberg table-metadata/manifest chain the reference relies on
  * (`datafusion_iceberg` TableProvider, Cargo.lock:1341; snapshot reads are
  * Iceberg's core semantics). Each commit writes an immutable
  * `_graft_snapshots/v%08d.snap` whose body is the complete list of data
  * files visible at that version:
  *
  * {{{
  *   line 1:  commit timestamp (epoch millis)
  *   line 2+: data-file paths relative to the table dir
  * }}}
  *
  * Readers resolve a version (or a timestamp) to its file list and scan
  * exactly those files; files dropped by DELETE/OVERWRITE stay on disk so
  * older snapshots remain readable (time travel). At 100 TB the file list
  * per snapshot is the same O(num-files) metadata Iceberg keeps in
  * manifests; the log itself is tiny and the planning cost is one metadata
  * read, never a data scan.
  */
object Snapshots {
  /** The table directory vanished under [[withRefsLock]] — the one
    * failure mode callers may legitimately map to "no such table"
    * (ALTER racing a concurrent DROP). A plain IllegalStateException
    * from a guard INSIDE the lock (e.g. the pending-eq-sidecar ALTER
    * rejection) must never be mistaken for it (ADVICE r17). */
  final class TableDirMissingException(dir: Path) extends IllegalStateException(
    s"table directory $dir does not exist (dropped concurrently?)")

  /** `files` is the COMPLETE visible file list, data files and
    * position-delete sidecars alike; delete files are distinguished by
    * their `deletes/` path prefix (data files live under `data/`), so
    * the on-disk snapshot format is unchanged by merge-on-read support
    * and every path-shaped consumer (expiry liveness, orphan
    * accounting, CAS diffs) keeps working on the full list. Consumers
    * that READ file contents must pick the right subset. */
  final case class Snap(version: Long, tsMillis: Long, files: Seq[String]) {
    /** Parquet data files (relative paths under `data/`). */
    def dataFiles: Seq[String] = files.filterNot(isDeleteFile)
    /** ALL delete sidecars (position + equality), `deletes/` prefix. */
    def deleteFiles: Seq[String] = files.filter(isDeleteFile)
    /** Position-delete sidecars: `(file, pos)` parquet under `deletes/`
      * but outside the `deletes/eq_*` namespace. */
    def posDeleteFiles: Seq[String] =
      files.filter(f => isDeleteFile(f) && !isEqualityDeleteFile(f))
    /** Equality-delete sidecars (`deletes/eq_<uuid>/...`): key-valued
      * parquet whose columns name the equality fields (Iceberg v2's
      * second delete-file type); each masks rows of data files FIRST
      * COMMITTED STRICTLY BEFORE the sidecar's own commit version. */
    def eqDeleteFiles: Seq[String] = files.filter(isEqualityDeleteFile)
  }

  /** Whether a snapshot-relative path names a delete sidecar (either
    * type — both live under `deletes/`, so every path-shaped consumer
    * (expiry liveness, orphan accounting, CAS diffs) treats them
    * uniformly). */
  def isDeleteFile(rel: String): Boolean = rel.startsWith("deletes/")

  /** Whether the path names an EQUALITY-delete sidecar specifically. */
  def isEqualityDeleteFile(rel: String): Boolean =
    rel.startsWith("deletes/eq_")

  private def dir(tableDir: Path): Path = tableDir.resolve("_graft_snapshots")

  private def parse(v: Long, p: Path): Snap = {
    val lines = Files.readAllLines(p).asScala.toSeq
    Snap(v, lines.head.toLong, lines.tail.filter(_.nonEmpty))
  }

  /** The log's snapshot files by version, read from their names alone
    * (a stray `.v….tmp` of a crashed writer is not a `.snap`). */
  private def logFiles(d: Path): Seq[(Long, Path)] =
    if (!Files.isDirectory(d)) Seq.empty
    else scala.util.Using.resource(Files.list(d)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".snap"))
        .map(p => p.getFileName.toString.stripPrefix("v")
          .stripSuffix(".snap").toLong -> p)
        .toSeq.sortBy(_._1)
    }

  private def listLog(d: Path): Seq[Snap] = logFiles(d).map((parse _).tupled)

  /** The log's newest snapshot, parsing only its file. */
  private def lastOfLog(d: Path): Option[Snap] =
    logFiles(d).lastOption.map((parse _).tupled)

  def list(tableDir: Path): Seq[Snap] = listLog(dir(tableDir))

  def latest(tableDir: Path): Option[Snap] = lastOfLog(dir(tableDir))

  /** All parquet data files under `tableDir/data`, RELATIVE to the
    * table dir — the pre-snapshot (v1-era) visibility fallback, shared
    * by [[GraftTable]]'s scan and [[Maintenance.addBlooms]] so the two
    * can never disagree about what a snapshot-less table contains. */
  private[catalog] def walkDataParquet(tableDir: Path): Seq[String] = {
    val dataDir = tableDir.resolve("data")
    if (!Files.isDirectory(dataDir)) Seq.empty
    else scala.util.Using.resource(Files.walk(dataDir)) { st =>
      st.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => tableDir.relativize(p).toString).toSeq
    }
  }

  /** Snapshot `version`, parsing only its file; None when absent (or
    * expired between the listing and the read). */
  def byVersion(tableDir: Path, version: Long): Option[Snap] =
    logFiles(dir(tableDir)).find(_._1 == version).flatMap { case (v, p) =>
      try Some(parse(v, p))
      catch { case _: java.nio.file.NoSuchFileException => None }
    }

  /** Latest snapshot whose commit time is <= tsMillis. filter, not
    * takeWhile: wall clocks step backwards (NTP), so timestamps aren't
    * guaranteed monotone in version order. */
  def byTimestamp(tableDir: Path, tsMillis: Long): Option[Snap] =
    list(tableDir).filter(_.tsMillis <= tsMillis).lastOption

  // --- named refs (tags) -------------------------------------------------
  // Iceberg-style immutable tags: a human name pinned to one snapshot
  // version, resolvable via `VERSION AS OF '<name>'`. The
  // training-data use case is reproducibility — tag the exact corpus
  // snapshot a model was trained on, and the tag keeps that snapshot
  // alive through expireSnapshots. A tag file is
  // `_graft_refs/<name>.ref` holding "version\ncreated-at-millis".

  private def refsDir(tableDir: Path): Path = tableDir.resolve("_graft_refs")

  /** One named ref: tag name, pinned version, creation time. */
  final case class Ref(name: String, version: Long, tsMillis: Long)

  /** CROSS-PROCESS critical section per table: an OS file lock under
    * the table dir, held by [[createTag]] (around check + link), by
    * expiry's metadata phase (tags-read + .snap unlink), by EVERY
    * snapshot commit ([[casCommit]] — so schema-changing ALTERs
    * serialize against in-flight writers, ADVICE r15), and by
    * [[graft.catalog.MetaCatalog]]'s ALTER metadata transaction. A
    * JVM-side monitor alone leaves this window: process A computes its
    * expiry drop set (tag absent), process B links a tag and re-checks
    * the .snap (still there — A hasn't deleted yet), A deletes it → a
    * dangling tag over a destroyed snapshot. File locking matches the
    * commit CAS's local-FS assumptions (`createLink`).
    *
    * Reentrant per thread+table (rollbackTo/fastForward commit INSIDE
    * their refs critical section, and casCommit now locks too):
    * re-acquiring the OS lock in one JVM would throw
    * OverlappingFileLockException, so a thread that already holds a
    * table's lock runs the body directly. Distinct threads are
    * serialized by a PER-TABLE monitor before they reach the OS lock —
    * per-table, not object-global, so blocking on another process's
    * lock for one table never stalls unrelated tables in this JVM. */
  private val heldLocks = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty
  }

  /** PER-TABLE JVM monitors: the in-JVM serialization must be scoped to
    * the table, not this object — a global monitor held while BLOCKING
    * on another process's OS lock would stall every unrelated table's
    * commits in this JVM (round-16 review). */
  private val tableMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[catalog] def withRefsLock[A](tableDir: Path)(body: => A): A = {
    val key = tableDir.toAbsolutePath.normalize.toString
    if (heldLocks.get.contains(key)) body
    else tableMonitors.computeIfAbsent(key, _ => new Object).synchronized {
      // REQUIRE the table dir (never create it): every legitimate caller
      // locks an existing table, and creating it here would leave a
      // stray warehouse directory when the caller then fails its
      // existence check — e.g. ALTER racing a concurrent DROP TABLE
      // (ADVICE r16 + the r17 review's race refinement). The DEDICATED
      // exception type lets ALTER's drop-race handler catch exactly
      // this failure instead of every IllegalStateException a guard
      // inside the lock might raise (ADVICE r17).
      if (!Files.isDirectory(tableDir))
        throw new TableDirMissingException(tableDir)
      val lockPath = tableDir.resolve("_graft_refs.lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        heldLocks.get += key
        try body finally {
          heldLocks.get -= key
          lock.release()
        }
      } finally ch.close()
    }
  }

  /** Create an immutable tag for an EXISTING snapshot version. Fails
    * loudly when the tag exists (same `createLink` CAS as commits — a
    * tag can never be silently repointed; drop it first), when the
    * version doesn't, or when the name could be confused with a
    * numeric version / escape the refs dir. */
  def createTag(tableDir: Path, name: String, version: Long): Ref =
    withRefsLock(tableDir) { // expiry's metadata phase holds the same
      // lock, so the snapshot cannot be mid-deletion while we pin it
      validateRefName(tableDir, name)
      byVersion(tableDir, version).getOrElse(throw new IllegalArgumentException(
        s"cannot tag: no snapshot v$version (have " +
          list(tableDir).map(_.version).mkString("[", ",", "]") + ")"))
      linkRef(tableDir, s"$name.ref", version)
    }

  /** Shared tag/branch name rules. Tags and branches live in ONE
    * namespace — both resolve through `VERSION AS OF '<name>'`, so a
    * tag and a branch with the same name would be ambiguous. */
  private def validateRefName(tableDir: Path, name: String): Unit = {
    require(name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || "-_.".contains(c)) &&
      !name.startsWith("."),
      s"ref name must be [A-Za-z0-9._-]+ not starting with '.', got '$name'")
    require(name.toLongOption.isEmpty,
      s"ref name '$name' would be ambiguous with a numeric version")
    require(!tags(tableDir).exists(_.name == name),
      s"a tag named '$name' already exists")
    require(!branches(tableDir).exists(_.name == name),
      s"a branch named '$name' already exists")
  }

  /** Write-and-link a ref file (`<name>.ref` / `<name>.branch`) with the
    * same createLink CAS as commits — a ref can never be silently
    * repointed by a concurrent creator. */
  private def linkRef(tableDir: Path, fileName: String, version: Long): Ref = {
    val d = refsDir(tableDir)
    Files.createDirectories(d)
    val name = fileName.substring(0, fileName.lastIndexOf('.'))
    val ref = Ref(name, version, System.currentTimeMillis())
    val tmp = d.resolve(s".$fileName.${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, s"$version\n${ref.tsMillis}")
    try {
      Files.createLink(d.resolve(fileName), tmp)
      Files.delete(tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.delete(tmp)
        throw new IllegalArgumentException(
          s"ref '$name' already exists (refs are never silently " +
            "repointed; drop it first)")
    }
    ref
  }

  /** Remove a tag; returns whether it existed. The snapshot itself is
    * untouched (it just loses expiry protection). */
  def dropTag(tableDir: Path, name: String): Boolean =
    Files.deleteIfExists(refsDir(tableDir).resolve(s"$name.ref"))

  /** All tags, sorted by name. A ref dropped between the directory
    * listing and its read (drop_tag is a public SQL verb — ordinary
    * concurrency, not corruption) is simply omitted. A ref that EXISTS
    * but doesn't parse (truncated/empty — a torn copy, a disk-full
    * write) fails with a named 'corrupted ref' error instead of leaking
    * a raw NoSuchElementException/NumberFormatException from every
    * metadata path that reads tags (ADVICE r11); it must NOT be
    * silently skipped — a skipped tag would lose its snapshot's expiry
    * protection and expireSnapshots would delete pinned files. */
  def tags(tableDir: Path): Seq[Ref] = refsOf(tableDir, ".ref")

  private def refsOf(tableDir: Path, suffix: String): Seq[Ref] = {
    val d = refsDir(tableDir)
    if (!Files.isDirectory(d)) Seq.empty
    else scala.util.Using.resource(Files.list(d)) { st =>
      st.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(suffix) &&
          !p.getFileName.toString.startsWith("."))
        .flatMap { p =>
          try {
            val lines = Files.readAllLines(p).asScala
            Some(Ref(p.getFileName.toString.stripSuffix(suffix),
              lines.head.toLong, lines(1).toLong))
          } catch {
            case _: java.nio.file.NoSuchFileException => None
            case e @ (_: NumberFormatException |
                      _: NoSuchElementException |
                      _: IndexOutOfBoundsException) =>
              throw new IllegalStateException(
                s"corrupted ref $p: expected '<version>\\n<tsMillis>' " +
                  "(delete or restore the file to recover)", e)
          }
        }.toSeq.sortBy(_.name)
    }
  }

  /** Resolve a tag to its pinned snapshot. */
  def byTag(tableDir: Path, name: String): Option[Snap] =
    tags(tableDir).find(_.name == name)
      .flatMap(r => byVersion(tableDir, r.version))

  /** Append the next snapshot; `files` is the COMPLETE visible file list. */
  def commit(tableDir: Path, files: Seq[String]): Snap =
    commitWith(tableDir)(_ => files)

  /** Read-compute-commit under ONE lock: `compute` receives the latest
    * snapshot and returns the next complete file list. Two concurrent
    * INSERTs that each read `latest` outside the lock would otherwise
    * both base v(N+1)/v(N+2) on vN and the first writer's files would
    * vanish from the current view (lost update). Serialization is the
    * per-table [[withRefsLock]] (in-JVM via the object monitor, cross-
    * process via the OS file lock — which also serializes commits
    * against ALTER's schema-metadata transaction, ADVICE r15); the
    * `createLink` CAS stays as belt-and-braces: it FAILS with
    * FileAlreadyExistsException when the version file exists (unlike
    * POSIX ATOMIC_MOVE, which silently replaces an existing target), so
    * even a lock-bypassing writer cannot clobber a committed version.
    * `known`: footer stats the writer already read for files it adds,
    * recorded without a second read ([[FileStatsCache.record]]). */
  def commitWith(tableDir: Path,
      known: Map[String, FileStatsCache.FileStat] = Map.empty)(
      compute: Option[Snap] => Seq[String]): Snap =
    casCommit(tableDir, dir(tableDir), () => latest(tableDir), known)(compute)

  /** The shared CAS append loop: `head` re-reads the current tip of the
    * target log each attempt (main log, or a branch log falling back to
    * its fork snapshot), `compute` builds the next complete file list on
    * top of it. Runs under the table's refs lock (reentrant for the
    * rollback/fast-forward callers that already hold it). */
  private def casCommit(tableDir: Path, logDir: Path,
      head: () => Option[Snap], known: Map[String, FileStatsCache.FileStat])(
      compute: Option[Snap] => Seq[String]): Snap =
    withRefsLock(tableDir) {
      Files.createDirectories(logDir)
      var attempts = 0
      while (attempts < 10) {
        val prev = head()
        val files = compute(prev)
        val next = prev.map(_.version + 1).getOrElse(1L)
        val snap = Snap(next, System.currentTimeMillis(), files)
        val body = (snap.tsMillis.toString +: files).mkString("\n")
        val tmp = logDir.resolve(
          f".v$next%08d.snap.${java.util.UUID.randomUUID()}.tmp")
        Files.writeString(tmp, body)
        try {
          Files.createLink(logDir.resolve(f"v$next%08d.snap"), tmp)
          Files.delete(tmp)
          // Record footer stats for the commit's NEW parquet files in
          // the _graft_filestats sidecar log (still under the refs
          // lock, so records serialize with the expiry-time log fold).
          // Never fails the already-durable commit; a skipped file just
          // falls back to live footer reads at prune time. Branch
          // commits record too — fast-forward then publishes files
          // whose records already exist (record() skips them).
          try {
            val prevSet = prev.map(_.files.toSet).getOrElse(Set.empty)
            FileStatsCache.record(tableDir, next,
              files.filterNot(prevSet.contains), known)
          } catch {
            case scala.util.control.NonFatal(_) => ()
            case _: InterruptedException =>
              // the snapshot is already durable — an interrupt while
              // waiting on footer I/O must not surface as a failed
              // commit (the caller would retry and double-apply);
              // re-assert the flag and return the committed snapshot
              Thread.currentThread().interrupt()
          }
          return snap
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            // another process committed this version first: recompute on
            // top of the winner's snapshot and try the next version
            Files.delete(tmp)
            attempts += 1
        }
      }
      throw new IllegalStateException(
        s"snapshot commit on $logDir lost the CAS race 10 times; giving up")
    }

  // --- branches (write-audit-publish) ------------------------------------
  // Iceberg-style MUTABLE branch refs, scoped to the WAP workflow: stage
  // writes on an isolated branch, audit them (`VERSION AS OF '<branch>'`
  // or `INSERT INTO t.branch_<name>`), then publish atomically with
  // [[fastForward]]. A branch is `_graft_refs/<name>.branch` holding the
  // MAIN version it forked from, plus a private snapshot log
  // `_graft_branches/<name>/v%08d.snap` (same format and CAS as the main
  // log, versions continuing from the fork). Main readers never consult
  // branch logs, so staged commits are invisible until published —
  // branch data files live under data/ but no main snapshot lists them.

  private def branchesDir(tableDir: Path): Path =
    tableDir.resolve("_graft_branches")

  private def branchLog(tableDir: Path, name: String): Path =
    branchesDir(tableDir).resolve(name)

  /** Stale commit/ref TEMP files left by CRASHED writers (`.*.tmp`
    * under the main log, refs dir, and every branch log) older than the
    * cutoff — a SIGKILL between `Files.writeString(tmp, ...)` and the
    * createLink CAS strands exactly one such file per dead writer, and
    * nothing else ever reads or reclaims it. The age cutoff is the same
    * in-flight guard [[Maintenance.removeOrphanFiles]] applies to data
    * files: a LIVE writer's tmp is milliseconds old. */
  private[catalog] def staleTmpFiles(tableDir: Path,
      cutoffMillis: Long): Seq[Path] = {
    // a LIVE writer's tmp lives milliseconds: it can vanish between the
    // list and the stat (the same list-then-read race refsOf tolerates)
    // — a file that disappeared is simply not stale
    def staleAt(p: Path): Boolean =
      try Files.isRegularFile(p) &&
        Files.getLastModifiedTime(p).toMillis <= cutoffMillis
      catch { case _: java.io.IOException => false }
    // whole DIRECTORIES race too: this sweep runs outside the refs
    // lock, so a concurrent drop_branch can delete a branch log between
    // the isDirectory check and the list — a vanished dir has no stale
    // tmps, same stance as the per-file race below
    def tmpsIn(d: Path): Seq[Path] =
      try {
        if (!Files.isDirectory(d)) Nil
        else scala.util.Using.resource(Files.list(d)) { st =>
          st.iterator().asScala.filter(p =>
            p.getFileName.toString.endsWith(".tmp") && staleAt(p)).toList
        }
      } catch { case _: java.io.IOException => Nil }
    val branchLogs =
      try {
        if (!Files.isDirectory(branchesDir(tableDir))) Nil
        else scala.util.Using.resource(Files.list(branchesDir(tableDir))) {
          st => st.iterator().asScala.filter(Files.isDirectory(_)).toList
        }
      } catch { case _: java.io.IOException => Nil }
    (dir(tableDir) +: refsDir(tableDir) +: branchLogs).flatMap(tmpsIn)
  }

  /** All branch refs (name, FORK version, creation time), sorted. */
  def branches(tableDir: Path): Seq[Ref] = refsOf(tableDir, ".branch")

  /** Create a branch forking main at `version`. Same CAS + validation
    * discipline as [[createTag]]; tag and branch names share one
    * namespace (both resolve through `VERSION AS OF '<name>'`). */
  def createBranch(tableDir: Path, name: String, version: Long): Ref =
    withRefsLock(tableDir) {
      validateRefName(tableDir, name)
      byVersion(tableDir, version).getOrElse(throw new IllegalArgumentException(
        s"cannot branch: no snapshot v$version (have " +
          list(tableDir).map(_.version).mkString("[", ",", "]") + ")"))
      linkRef(tableDir, s"$name.branch", version)
    }

  /** Remove a branch ref AND its private snapshot log; staged data files
    * under data/ become orphans (no snapshot references them — orphan
    * file GC is a separate maintenance sweep, as in Iceberg). */
  def dropBranch(tableDir: Path, name: String): Boolean =
    withRefsLock(tableDir) {
      val existed =
        Files.deleteIfExists(refsDir(tableDir).resolve(s"$name.branch"))
      deleteBranchLog(tableDir, name)
      existed
    }

  private def deleteBranchLog(tableDir: Path, name: String): Unit = {
    val log = branchLog(tableDir, name)
    if (Files.isDirectory(log)) {
      scala.util.Using.resource(Files.walk(log)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** The branch's current snapshot: the tip of its private log, or the
    * main snapshot it forked from when nothing was staged yet. None when
    * no such branch exists. */
  def branchHead(tableDir: Path, name: String): Option[Snap] =
    branches(tableDir).find(_.name == name).flatMap { ref =>
      lastOfLog(branchLog(tableDir, name))
        .orElse(byVersion(tableDir, ref.version))
    }

  /** Stage a commit on a branch: same read-compute-CAS as [[commitWith]]
    * but against the branch's private log; main is untouched. */
  def commitToBranch(tableDir: Path, name: String,
      known: Map[String, FileStatsCache.FileStat] = Map.empty)(
      compute: Option[Snap] => Seq[String]): Snap = {
    val ref = branches(tableDir).find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"no branch '$name' (have " +
          branches(tableDir).map(_.name).mkString("[", ",", "]") + ")"))
    casCommit(tableDir, branchLog(tableDir, name), () =>
      lastOfLog(branchLog(tableDir, name))
        .orElse(byVersion(tableDir, ref.version)), known)(compute)
  }

  /** Publish a branch: append its head's file list as the next MAIN
    * snapshot. True fast-forward semantics — fails when main has moved
    * past the fork point (the staged commits were not audited against
    * main's current state; re-branch and re-stage). On success the
    * branch ref repoints at the published version and its private log is
    * cleared, so the branch continues from the published state —
    * Iceberg's fast_forward leaves branch and main at the same snapshot
    * the same way. */
  def fastForward(tableDir: Path, name: String): Snap =
    withRefsLock(tableDir) {
      val ref = branches(tableDir).find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"no branch '$name' (have " +
            branches(tableDir).map(_.name).mkString("[", ",", "]") + ")"))
      val head = branchHead(tableDir, name).getOrElse(
        throw new IllegalStateException(
          s"branch '$name' forked at v${ref.version} but that snapshot " +
            "is gone (expired?)"))
      // the fork-point check must live INSIDE the commit's compute so a
      // CAS retry re-validates it: a concurrent plain commitWith from
      // another process does NOT hold this refs lock, and blindly
      // publishing head.files on the retry would drop that writer's
      // files from the current view
      def requireAtFork(mainV: Long): Unit =
        if (mainV != ref.version) throw new IllegalStateException(
          s"branch '$name' forked at v${ref.version} but main is at " +
            s"v$mainV; not fast-forwardable (re-branch from the current " +
            "snapshot and re-stage)")
      requireAtFork(latest(tableDir).map(_.version).getOrElse(0L))
      val snap = commitWith(tableDir) { prev =>
        requireAtFork(prev.map(_.version).getOrElse(0L))
        head.files
      }
      // repoint the branch at the published snapshot; clear the log
      Files.deleteIfExists(refsDir(tableDir).resolve(s"$name.branch"))
      deleteBranchLog(tableDir, name)
      linkRef(tableDir, s"$name.branch", snap.version)
      snap
    }

  /** Roll the table back to an older snapshot's content: appends a NEW
    * main snapshot with version `v`'s file list (the log stays append-
    * only and fully auditable — Iceberg's rollback_to_snapshot moves the
    * main ref the same way; history is never rewritten). Runs under the
    * refs lock so a concurrent expiry sweep cannot decide to delete the
    * files this rollback is about to re-reference: either the target
    * snapshot survived the sweep (its files are live) or it was dropped
    * and this fails loudly. */
  def rollbackTo(tableDir: Path, version: Long): Snap =
    withRefsLock(tableDir) {
      val target = byVersion(tableDir, version).getOrElse(
        throw new IllegalArgumentException(
          s"cannot roll back: no snapshot v$version (have " +
            list(tableDir).map(_.version).mkString("[", ",", "]") + ")"))
      commitWith(tableDir)(_ => target.files)
    }

  /** Every data file referenced by any branch-log snapshot — kept LIVE
    * by expireSnapshots so staged-but-unpublished work can't be
    * destroyed by a maintenance sweep (fork-point main snapshots are
    * protected separately, like tagged versions). */
  private[catalog] def branchReferencedFiles(tableDir: Path): Set[String] =
    branches(tableDir).iterator.flatMap(r =>
      listLog(branchLog(tableDir, r.name)).flatMap(_.files)).toSet
}
