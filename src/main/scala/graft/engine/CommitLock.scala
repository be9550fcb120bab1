package graft.engine

import org.apache.hadoop.fs.Path

/** The commit-coordination seam of every manifest publish (snapshot table
  * commits, catalog transactions): put-if-absent of one small, fully
  * written metadata file. This is the Delta Lake `LogStore` pattern — the
  * table format's correctness reduces to exactly this primitive, so making
  * it pluggable is what lets the same protocol run on filesystems with
  * very different atomicity guarantees:
  *
  *   - HDFS: rename-with-fail-if-exists is one atomic namenode op —
  *     [[HadoopRenameCommitLock]] (the default) uses it directly.
  *   - Object stores (s3a): "rename" is copy-then-delete with NO
  *     fail-if-exists — racing through it loses commits silently.
  *     [[ObjectStoreCommitLock]] never calls rename at all: it builds
  *     put-if-absent from existence-check + atomic PUT under an exclusive
  *     [[CommitCoordinator]] lease.
  *
  * Contract (all implementations): returns true iff `src`'s content became
  * `dst` AND no other committer owned `dst` first; on false, `dst` is some
  * other committer's content and `src` is left in place for the caller to
  * clean up. `src` must be a fully written metadata-sized FILE.
  */
trait CommitLock {
  def publishOntoAbsent(src: Path, dst: Path): Boolean
}

/** Default: delegate to [[Dfs.renameOntoAbsent]] (FileContext rename with
  * `Options.Rename.NONE`) — atomic on HDFS, striped-JVM-lock-assisted on
  * the local filesystem. See that method's scaladoc for the per-filesystem
  * atomicity grading.
  */
object HadoopRenameCommitLock extends CommitLock {
  override def publishOntoAbsent(src: Path, dst: Path): Boolean =
    Dfs.renameOntoAbsent(src, dst)
}

/** Mutual exclusion for commit slots whose filesystem cannot provide it —
  * the seam a MULTI-driver object-store deployment fills with an external
  * service (a DynamoDB-style lock table, ZooKeeper, a database row lock).
  * `withExclusive` must guarantee at most one holder per key at a time
  * across every process that can commit to the same table.
  */
trait CommitCoordinator {
  def withExclusive[A](key: String)(f: => A): A
}

/** Single-driver coordination: a JVM-wide striped mutex. Exactly the
  * guarantee of Delta's `S3SingleDriverLogStore` — correct whenever all
  * committers of a table share one JVM (one streaming driver, tests),
  * which is the common deployment; concurrent drivers on the SAME table
  * need an external [[CommitCoordinator]] instead.
  */
object InJvmCoordinator extends CommitCoordinator {
  private val stripes = Array.fill(64)(new Object)
  override def withExclusive[A](key: String)(f: => A): A =
    stripes(math.floorMod(key.hashCode, stripes.length)).synchronized(f)
}

/** Cross-PROCESS coordination on a shared POSIX filesystem: an exclusive
  * `java.nio.channels.FileLock` on a per-key lock file under `lockDir` —
  * the OS arbitrates between processes, which closes the cross-process
  * check-then-act window the in-JVM coordinator cannot (the `file:`/NFS
  * caveat in [[Dfs.renameOntoAbsent]]'s scaladoc). Same-JVM overlap is
  * prevented by an inner striped mutex BEFORE the file lock is taken
  * (the JVM throws OverlappingFileLockException otherwise). Lock files are
  * tiny and reused per key hash; they are never deleted (deleting a lock
  * file another process holds open reintroduces the race).
  *
  * Use when several PROCESSES on one host (or an NFS mount with working
  * locks) commit to the same table; clusters use HDFS rename or an
  * external service instead.
  */
final class FileLockCoordinator(lockDir: String) extends CommitCoordinator {
  private val stripes = Array.fill(64)(new Object)
  new java.io.File(lockDir).mkdirs()
  override def withExclusive[A](key: String)(f: => A): A = {
    val stripe = math.floorMod(key.hashCode, stripes.length)
    stripes(stripe).synchronized {
      val lockFile = new java.io.File(lockDir, f"k$stripe%02d.lock")
      val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until the other PROCESS releases
        try f finally { lock.release(); () }
      } finally ch.close()
    }
  }
}

/** Put-if-absent for filesystems WITHOUT atomic fail-if-exists rename
  * (s3a and friends, where rename is copy-then-delete): under the
  * coordinator's exclusive lease on the destination, check absence, then
  * publish with a plain create — a single PUT, which object stores make
  * atomic (all-or-nothing visibility) even though their rename is not —
  * then drop the scratch source. Rename atomicity is never relied on
  * anywhere in the path.
  *
  * Refuses loudly instead of corrupting: a directory or oversized source
  * is a protocol violation (the commit protocol only ever publishes small
  * manifest files), not a lost race.
  */
final class ObjectStoreCommitLock(
    coordinator: CommitCoordinator = InJvmCoordinator) extends CommitLock {
  override def publishOntoAbsent(src: Path, dst: Path): Boolean = {
    val fsrc = Dfs.fs(src)
    require(fsrc.exists(src) && fsrc.getFileStatus(src).isFile,
      s"commit publish source $src must be an existing FILE — the manifest " +
        "protocol never publishes directories through the commit lock")
    coordinator.withExclusive(dst.toString) {
      if (Dfs.exists(dst)) false // lost: dst is another committer's manifest
      else {
        val body = Dfs.readUtf8(src) // metadata-sized by readUtf8's own guard
        // a real store's PUT is atomically visible; the local-FS emulation
        // must be too — a direct create+write let concurrent readers (who
        // take no lock) observe a PARTIAL manifest body (seen as a
        // "manifest lacks nBuckets" flake in the racing-writers spec), a
        // failure mode the emulated store cannot actually produce. The
        // stage name keeps the sink's `.tmp-` prefix so a crash between
        // write and rename leaves a file vacuum's aged-out sweep collects
        val staged = new Path(dst.getParent,
          s".tmp-put-${java.util.UUID.randomUUID()}")
        Dfs.writeUtf8(staged, body)
        Dfs.rename(staged, dst)
        // scratch cleanup is best-effort; the slot is already won
        try Dfs.delete(src) catch { case _: java.io.IOException => () }
        true
      }
    }
  }
}

object CommitLock {
  @volatile private var impl: CommitLock = HadoopRenameCommitLock

  /** Deployment-conf selection: `spark.graft.commit.lock` = `rename`
    * (default, HDFS-style) or `objectstore` (put-if-absent under the in-JVM
    * coordinator — the s3a single-driver deployment). Called by
    * [[GraftSession.configure]]/`getOrCreate`, so the same conf that points
    * tables at an object store can also pick the matching commit protocol.
    */
  def fromConf(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.conf.getOption("spark.graft.commit.lock").foreach {
      case "rename"      => set(HadoopRenameCommitLock); ()
      case "objectstore" => set(new ObjectStoreCommitLock()); ()
      case other => sys.error(
        s"spark.graft.commit.lock must be rename|objectstore, got '$other'")
    }

  /** The active lock implementation for manifest publishes. */
  def current: CommitLock = impl

  /** Losses an optimistic commit absorbs before [[retry]] gives up. */
  private val MaxAttempts = 10

  /** The publish step of every commit: creates `dst`'s parent, stages
    * `body` under a unique `.tmp-<uuid>` name beside `dst` and publishes it
    * through the [[current]] lock. True = this committer owns `dst` (a
    * manifest body is installed in the [[readPublished]] cache, which also
    * refreshes a stale entry left by a delete-and-recreate of the same
    * path); false = another committer did first, and the staged file is
    * deleted. The stage name is unique per call, so concurrent committers
    * of one slot never overwrite each other's staged body — the winner
    * publishes exactly what it wrote. `dbg` times the two steps as `write`
    * and `publish`.
    */
  def publishFile(dst: Path, body: String, dbg: Option[Dbg] = None): Boolean = {
    def timed[A](tag: String)(f: => A): A = dbg.fold(f)(_(tag)(f))
    Dfs.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    timed("write")(Dfs.writeUtf8(tmp, body))
    val won = timed("publish")(current.publishOntoAbsent(tmp, dst))
    val lines = body.split('\n').toSeq
    if (!won) Dfs.delete(tmp)
    else if (complete(lines)) published.put(dst.toString, lines)
    won
  }

  /** Deletes the `.tmp-*` stages in `dir` older than `minAgeMs` — what a
    * crash between [[publishFile]]'s stage and publish leaves behind
    * (a lost race cleans its own stage at once).
    */
  def sweepStaged(dir: Path, minAgeMs: Long): Unit = {
    val now = System.currentTimeMillis()
    Dfs.list(dir)
      .filter(st => st.getPath.getName.startsWith(".tmp-"))
      .filter(st => now - st.getModificationTime >= minAgeMs)
      .foreach(st => Dfs.delete(st.getPath))
  }

  /** Bounded path → lines cache of published manifests (table versions,
    * catalog cuts). A published manifest is IMMUTABLE (publish is
    * put-if-absent), so a hit can never be stale within a log's lifetime;
    * the two mutation edges are handled explicitly — [[publishFile]]
    * installs the body it won with, and vacuums [[evictPublished]] what
    * they drop. Commits re-read the SAME manifest ~a dozen times (layout
    * guard, keys, seqcol, schema, maxseq, stats, blooms, skip-cols,
    * entries); locally that is parse churn, on an object store it is a
    * dozen GETs per commit.
    */
  private val published =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[String]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[String]]): Boolean =
          size() > 512
      })

  /** A manifest body is complete once it carries its `version=` line. */
  private def complete(lines: Seq[String]): Boolean =
    lines.exists(_.startsWith("version="))

  /** The lines of the published manifest at `p`, through the cache. */
  def readPublished(p: Path): Seq[String] = {
    val hit = published.get(p.toString)
    if (hit != null) hit
    else {
      val lines = Dfs.readUtf8(p).split('\n').toSeq
      // cache only a COMPLETE body: under a put-style commit lock a racing
      // reader can observe the file before its content — that read must
      // stay transient (the caller fails/retries as before), never become
      // a pinned empty manifest
      if (complete(lines)) published.put(p.toString, lines)
      lines
    }
  }

  /** Drops `p` from the published-manifest cache (its file was deleted). */
  def evictPublished(p: Path): Unit = { published.remove(p.toString); () }

  /** The retry policy of every optimistic commit: runs `attempt(n)` for
    * n = 1, 2, … until it returns Some (it published), and fails with
    * "`what` lost the race N times at `dir`" on the [[MaxAttempts]]th
    * loss. After any other loss `rebased()` decides how to go on: true =
    * the loss was absorbed without recomputing (merge republishing the
    * same files over a disjoint winner), so the next attempt runs at once;
    * false = sleep a jittered 10..100·n ms first — two writers in lockstep
    * (each commit takes about as long as the other's) can otherwise starve
    * one side for many consecutive versions.
    */
  def retry[A](what: String, dir: String, rebased: () => Boolean = () => false)(
      attempt: Int => Option[A]): A = {
    var attempts = 0
    var out = Option.empty[A]
    while (out.isEmpty) {
      attempts += 1
      out = attempt(attempts)
      if (out.isEmpty) {
        if (attempts >= MaxAttempts)
          sys.error(s"$what lost the race $attempts times at $dir")
        if (!rebased())
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(10L, 100L * attempts))
      }
    }
    out.get
  }

  /** Swap the publish implementation process-wide (a deployment choice,
    * made once at startup next to the filesystem configuration — e.g.
    * `ObjectStoreCommitLock` when tables live on s3a). Returns the
    * previous implementation so tests can restore it.
    */
  def set(lock: CommitLock): CommitLock = {
    val prev = impl
    impl = lock
    prev
  }

  /** Run `f` under `lock`, restoring the previous implementation after —
    * the test-matrix hook.
    */
  def withLock[A](lock: CommitLock)(f: => A): A = {
    val prev = set(lock)
    try f finally { set(prev); () }
  }
}
