package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem access for STORE directories (batch-partial stores,
  * retention, anything whose `dir` may one day be `hdfs://` or `s3a://`)
  * through the Hadoop FileSystem API instead of `java.io.File`. A path's
  * scheme picks its filesystem via the active Spark session's Hadoop
  * configuration, so the same store code runs against local disk in tests
  * and object storage on a cluster — the `fs.s3a.*` / `fs.defaultFS`
  * settings the session carries apply unchanged.
  *
  * [[Fs]] (the `java.io.File` twin) stays for genuinely driver-local
  * scratch (bench/verify temp dirs); anything that stores DATA a cluster
  * job reads back goes through here.
  */
object Dfs {

  /** The active session's Hadoop configuration when one exists (its
    * `fs.*` credentials and scheme registrations apply), else a fresh
    * default configuration — path resolution still works for `file:` and
    * scheme-less local paths.
    */
  def conf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def fs(p: Path): FileSystem = p.getFileSystem(conf)

  def exists(p: Path): Boolean = fs(p).exists(p)

  /** Immediate children of `dir` (empty if it does not exist — a store
    * that was never appended to is empty, not an error).
    */
  def list(dir: Path): Seq[FileStatus] = {
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty else f.listStatus(dir).toSeq
  }

  /** Recursive delete that refuses to lie — the [[Fs.deleteTreeStrict]]
    * contract on any filesystem: throws if bytes a caller is about to
    * report gone still exist afterwards.
    */
  def deleteTreeStrict(p: Path): Unit = {
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
    if (f.exists(p))
      sys.error(s"failed to delete $p — data reported dropped is still on disk")
  }

  /** (file count, total bytes) under `p` — one namenode/listing call via
    * ContentSummary, never a client-side tree walk over data files.
    */
  def contentSummary(p: Path): (Long, Long) = {
    val s = fs(p).getContentSummary(p)
    (s.getFileCount, s.getLength)
  }

  /** Rename that refuses to lie: the Hadoop API signals failure by
    * returning false (target exists, cross-filesystem move, permissions) —
    * callers doing a directory swap must know it did not happen.
    */
  def rename(src: Path, dst: Path): Unit =
    if (!fs(src).rename(src, dst))
      sys.error(s"rename $src -> $dst failed")

  def mkdirs(p: Path): Unit = { fs(p).mkdirs(p); () }

  /** Non-recursive delete; absent path is a no-op. */
  def delete(p: Path): Unit = {
    val f = fs(p)
    if (f.exists(p)) f.delete(p, false)
    ()
  }

  /** Whole small file as UTF-8 — manifest/metadata reads only (buffers the
    * full length in one array; never point this at a data file).
    */
  def readUtf8(p: Path): String = {
    val f = fs(p)
    val len = f.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"$p is not a metadata-sized file ($len bytes)")
    val buf = new Array[Byte](len.toInt)
    val in = f.open(p)
    try in.readFully(0L, buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Writes `body` to `p`, replacing any previous content. Used for TEMP
    * files that are then published via [[renameOntoAbsent]] — the write
    * itself carries no atomicity contract.
    */
  def writeUtf8(p: Path, body: String): Unit = {
    val out = fs(p).create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Whole small BINARY file — index-sidecar reads only (bloom filters are
    * ≤128 KiB by construction; the size guard keeps a mispointed path from
    * buffering a data file).
    */
  def readBytes(p: Path, maxLen: Int = 1 << 21): Array[Byte] = {
    val f = fs(p)
    val len = f.getFileStatus(p).getLen
    require(len <= maxLen, s"$p is not an index-sidecar-sized file ($len bytes)")
    val buf = new Array[Byte](len.toInt)
    val in = f.open(p)
    try in.readFully(0L, buf) finally in.close()
    buf
  }

  /** Binary twin of [[writeUtf8]] — sidecars written under a commit's data
    * root BEFORE its manifest publishes, so like data files they need no
    * atomicity of their own (unreferenced until the commit wins).
    */
  def writeBytes(p: Path, body: Array[Byte]): Unit = {
    val out = fs(p).create(p, true)
    try out.write(body)
    finally out.close()
  }

  // Striped in-process locks for renameOntoAbsent: bounded (no per-path map
  // growth), and two in-JVM committers of the same target serialize even on
  // filesystems whose fail-if-exists rename is check-then-act (local fs).
  private val renameStripes = Array.fill(64)(new Object)

  // FileContext has no equivalent of FileSystem.CACHE — getFileContext
  // instantiates a fresh AbstractFileSystem per call, which was measured
  // at most of a catalog publish's ~35 ms. One context per filesystem URI,
  // refreshed when the ACTIVE session's Configuration instance changes: a
  // context pins the conf (and UGI) it was built with, so caching on URI
  // alone would keep publishing through a stopped session's credentials
  // after a new session with different fs.* settings takes over. The conf
  // reference is the freshness token (sessions never mutate the identity
  // of sparkContext.hadoopConfiguration); `null` (no session) matches
  // `null` — default-conf contexts are interchangeable. FileContext is
  // documented thread-safe (immutable config + UGI).
  private val fileContexts = new java.util.concurrent.ConcurrentHashMap[
    java.net.URI, (Configuration, FileContext)]()
  private def fileContext(dst: Path): FileContext = {
    val c = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).orNull
    fileContexts.compute(fs(dst).getUri, (uri, prev) =>
      if (prev != null && (prev._1 eq c)) prev
      else (c, FileContext.getFileContext(uri,
        if (c != null) c else new Configuration()))
    )._2
  }

  /** The optimistic-lock publish primitive for commit protocols:
    * rename-onto-absent. Returns true iff `src` became `dst` AND `dst` did
    * not already exist; false means another committer won the slot (and
    * `src` is left in place for the caller to clean up).
    *
    * Uses `FileContext.rename(…, Options.Rename.NONE)`. Atomicity is
    * filesystem-graded, stated honestly: on HDFS the
    * fail-if-destination-exists check is a single atomic namenode op; on
    * the local filesystem the check precedes the rename (in-process racers
    * are additionally serialized through a striped JVM lock; the residual
    * CROSS-PROCESS window on `file:`/NFS is inherent to POSIX rename and
    * documented — the hard-link lock this replaced closed it but exists
    * only on POSIX, not on any cluster filesystem). Object stores whose
    * rename is copy-then-delete (s3a) have the same check-then-act window;
    * a production deployment there fronts the manifest directory with a
    * coordination layer (the Delta LogStore pattern) or keeps metadata on
    * HDFS.
    *
    * Failure disambiguation: a copy-then-delete bridge can throw AFTER the
    * copy landed — `dst` then holds OUR bytes, and reporting "lost race"
    * would make the caller delete a data root its own published manifest
    * references. On an IOException with `dst` present, the destination's
    * content is compared to the source's: identical ⇒ this writer WON
    * (the temp is cleaned up best-effort); different ⇒ genuine lost race.
    * The comparison applies to FILES only — a directory rename reports
    * lost race whenever `dst` exists, since reading a directory as UTF-8
    * is undefined. Known
    * ambiguity: two racers publishing BYTE-IDENTICAL bodies can both take
    * the identical-content branch and both report "won"; `dst` holds
    * exactly those bytes either way so state stays consistent — a caller
    * that needs a unique winner must embed a writer nonce in the body.
    */
  def renameOntoAbsent(src: Path, dst: Path): Boolean = {
    val stripe = renameStripes(math.floorMod(dst.toString.hashCode, renameStripes.length))
    stripe.synchronized {
      val fc = fileContext(dst)
      try { fc.rename(src, dst, Options.Rename.NONE); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException =>
          val fd = fs(dst)
          if (!fd.exists(dst)) throw e
          else {
            val fsrc = fs(src)
            val bothFiles = fsrc.exists(src) &&
              fsrc.getFileStatus(src).isFile && fd.getFileStatus(dst).isFile
            if (bothFiles && readUtf8(dst) == readUtf8(src)) {
              // our copy landed before the failure — we own the slot
              try delete(src) catch { case _: java.io.IOException => () }
              true
            } else false
          }
      }
    }
  }

  /** Non-recursive delete that refuses to lie: absent is success, but a
    * present path that remains present afterwards is an error — for
    * retention paths whose RETURN VALUE claims the deletion happened.
    */
  def deleteStrict(p: Path): Unit = {
    val f = fs(p)
    if (f.exists(p)) f.delete(p, false)
    if (f.exists(p))
      sys.error(s"failed to delete $p — a file reported expired is still present")
  }

  /** Recursive delete, best-effort — for SCRATCH data only (a lost commit
    * race's orphaned attempt): a transient failure here must not abort the
    * caller's retry, and an aged orphan is collected by the next vacuum.
    */
  def deleteTreeQuiet(p: Path): Unit =
    try {
      val f = fs(p)
      if (f.exists(p)) f.delete(p, true)
      ()
    } catch { case _: java.io.IOException => () }
}
