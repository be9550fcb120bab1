package graft.sink

import java.util.UUID
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import graft.engine.Dfs

/** Delete handling at the sink, per the reference's two modes
  * (add_output.py:138-150): hard = remove the row, logical = keep it with a
  * boolean `is_deleted` column (README.md:61).
  */
sealed trait DeleteMode
object DeleteMode {
  case object Hard extends DeleteMode
  case object Logical extends DeleteMode
}

/** Manifest-format and bucket-routing primitives, shared between the Scala
  * sink API and the DSv2 read path ([[graft.sources.SnapshotTableProvider]])
  * so neither re-learns the layout.
  */
object SnapshotParquetSink {

  /** One dimension of a write-time clustering spec: rows route to buckets
    * by the Z-order (Morton) position of their clamped, `[lo, hi]`-scaled
    * value instead of by key hash — so each bucket covers a TIGHT rectangle
    * in cluster space and the manifest's per-bucket min/max stats prune
    * range predicates on EITHER column (the Delta `OPTIMIZE ZORDER` idea
    * applied at write time, composed from [[graft.engine.ZOrder]]).
    *
    * Bounds are declared once at table create and are part of the table's
    * committed layout (like `nBuckets`): routing must be a PURE function of
    * the column values forever, or a key would migrate between buckets
    * across merges. Out-of-bounds values clamp — they route to an edge
    * bucket, and pruning stays correct because stats always record the
    * bucket's ACTUAL content ranges.
    */
  final case class ClusterCol(name: String, lo: Long, hi: Long) {
    require(lo < hi, s"cluster bounds for '$name' need lo < hi (got $lo, $hi)")
  }

  /** Bits per dimension of the Z-code — fixed so the routing function is
    * part of the format: 20 bits/col keeps a 2-D code in 40 bits and
    * resolves any `nBuckets ≤ 2^20` per dimension.
    */
  private[sink] val ClusterBits = 20

  /** Skew threshold for the fused (below-shuffle) commit dedup/fold: an
    * affected bucket storing more than this runs its whole sort/fold in
    * ONE task under the fused shape, so the commit falls back to the
    * two-exchange key-granularity shape instead. 256 MB = AQE's own
    * `skewedPartitionThresholdInBytes` default — the same "one partition
    * this big is a straggler" judgment. A var only so specs can force the
    * fallback shape.
    */
  @volatile private[graft] var fusedMaxBucketBytes: Long = 256L * 1024 * 1024

  /** The cluster spec recorded at `version`; empty = hash-routed table. */
  def manifestCluster(dir: String, version: Long): Seq[ClusterCol] =
    clusterOf(manifestLines(dir, version))

  private def clusterOf(lines: Seq[String]): Seq[ClusterCol] =
    lines
      .filter(_.startsWith("c "))
      .map { line =>
        val Array(_, n, lo, hi) = line.split(" ", 4)
        ClusterCol(n, lo.toLong, hi.toLong)
      }

  /** Column names land verbatim in the line-oriented manifest (`keys=a,b`
    * splits on commas; `s <b> <col> <mn> <mx>` splits on spaces), so a name
    * containing a space/comma/newline would shift every later field and
    * brick reads of the committed version (the [[SnapshotCatalog]]
    * `validName` mirror). Spark allows such column names; this format does
    * not — reject at commit time, before any data is written.
    */
  def validManifestName(kind: String)(n: String): Unit =
    require(n.nonEmpty && !n.exists(ch => ch.isWhitespace || ch == ','),
      s"$kind column '$n' contains whitespace/comma/newline — it would " +
        "corrupt the line-oriented manifest format; rename the column " +
        "before committing")

  /** Opens an EXISTING table with the layout its latest manifest records —
    * nBuckets, stats columns and cluster spec all adopted from the
    * committed state rather than re-declared by the caller. This is the
    * handle long-lived writers should construct per merge (a streaming
    * foreachBatch, an orchestrator worker): a concurrent [[rebucket]]
    * changes the committed bucket count, and a handle pinned to the old
    * count refuses its next merge by design — re-opening through this
    * factory self-aligns instead, so partition-count evolution never
    * wedges the pipeline. Errors when the table has no committed version
    * (creation declares the layout, so it goes through the constructor).
    */
  def forTable(dir: String): SnapshotParquetSink = {
    val v = versions(dir).lastOption.getOrElse(
      sys.error(s"no committed version at $dir — declare the layout via " +
        "the constructor for a new table"))
    new SnapshotParquetSink(dir, nBuckets = manifest(dir, v)._1,
      statsCols = declaredStatsCols(dir, v), clusterBy = manifestCluster(dir, v),
      bloomCols = declaredBloomCols(dir, v))
  }

  /** The table's DECLARED data-skipping columns at `version` (`statscols=`)
    * — recorded even when no bucket holds an `s` line (every bucket
    * all-null), so [[forTable]] writers never drop the table's skipping
    * configuration.
    */
  def declaredStatsCols(dir: String, version: Long): Seq[String] =
    csvOf(required(manifestLines(dir, version), "statscols=", dir, version))

  /** Bloom twin of [[declaredStatsCols]] (`bloomcols=`; recorded even when
    * every bucket is over [[BloomIndex.MaxDistinct]] and holds no `f` line).
    */
  def declaredBloomCols(dir: String, version: Long): Seq[String] =
    csvOf(required(manifestLines(dir, version), "bloomcols=", dir, version))

  /** The value of the first `<key>` header line (`key` ends in `=`). */
  private def header(lines: Seq[String], key: String): Option[String] =
    lines.collectFirst { case l if l.startsWith(key) => l.stripPrefix(key) }

  /** [[header]] for a line the format makes mandatory. */
  private def required(lines: Seq[String], key: String, dir: String,
      version: Long): String =
    header(lines, key).getOrElse(sys.error(s"manifest v$version at $dir lacks $key"))

  private def csvOf(v: String): Seq[String] =
    v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** Absorbs the caller's delete-flag column into the internal
    * `__is_deleted` (null → false). When the flag column is literally named
    * `is_deleted` it is DROPPED from the data: that name is reserved by
    * Logical-mode reads (which rename `__is_deleted` back to `is_deleted`),
    * so persisting a literal copy would make every Logical read of the
    * table carry two `is_deleted` columns and break the next hop of a
    * [[graft.streaming.TableFollower]] chain with an ambiguous-reference
    * error. Any other flag name (`is_delete`, `__del`, …) stays in the data
    * unchanged — round-tripping it is harmless and callers may project it.
    */
  private[sink] def foldDeleteFlag(batch: DataFrame, isDeleteCol: String): DataFrame = {
    // loud, at WRITE time: a NON-flag data column named `is_deleted` would
    // collide with the tombstone flag every Logical-mode read resurfaces
    // under that name — rename it or declare it as the flag.
    require(isDeleteCol == "is_deleted" || !batch.columns.contains("is_deleted"),
      s"column name 'is_deleted' is reserved by Logical-mode reads: a data " +
        s"column of that name (the declared flag is '$isDeleteCol') would " +
        "collide with the flag on every Logical read — rename it before writing, or " +
        "declare it as the table's delete-flag column")
    val folded = batch.withColumn("__is_deleted",
      coalesce(col(isDeleteCol).cast("boolean"), lit(false)))
    if (isDeleteCol == "is_deleted") folded.drop("is_deleted") else folded
  }

  /** The rows of a DRIVER-LOCAL frame: one whose logical plan, as built, is
    * a `LocalRelation` (`createDataFrame` over a collection, [[localFrame]]).
    * Read off `queryExecution.logical`, so the check costs no analysis or
    * optimizer pass — merge asks it of every batch.
    */
  private[sink] def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.logical match {
      case l: LocalRelation => Some(l.data)
      case _                => None
    }

  /** The most changed-bucket bytes (both versions' files, compressed)
    * [[SnapshotParquetSink#keyedDiff]] diffs on the driver; −1 turns that
    * arm off. Set below the arms' measured crossover (`KeyedDiffCrossover`
    * in the test sources, 4 vCPU, 3 GB driver heap): a bare diff was
    * faster on the driver up to ~4.6 MB and slower at 9 MB (1.15 s
    * against 0.74 s); join-view and rollup refreshes over it were still
    * faster at 9 MB and slower at 17.5 MB. The crossover moves with the
    * table's shape and the cores, so this is a bound, not an optimum.
    * A var only so specs can run one history through both arms.
    */
  @volatile private[graft] var localDiffMaxBytes: Long = 4L << 20

  /** A driver-local frame over internal-format `rows`. */
  private[graft] def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    Bridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Types whose UnsafeRow encoding is equal exactly when two values are
    * equal under `<=>` — what a driver-side keyed comparison may rely on.
    * Floating point is out (`<=>` equates -0.0 and 0.0, the bytes do not),
    * and so are non-binary collations.
    */
  private[sink] def byteComparable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | BinaryType | _: DecimalType => true
    case s: StringType => s.collationId == StringType.collationId
    case _             => false
  }

  /** Driver-side identity of the given (ordinal, type) fields of internal
    * rows: their UnsafeRow projection, null-safe and exact for
    * [[byteComparable]] types.
    */
  private[sink] def rowIdentity(fields: Seq[(Int, DataType)]): InternalRow => UnsafeRow = {
    val proj = UnsafeProjection.create(
      fields.map { case (i, dt) => BoundReference(i, dt, nullable = true): Expression })
    r => proj(r).copy()
  }

  /** Outcome of the last successful [[SnapshotParquetSink.merge]] on a
    * handle: the published version, publish attempts, how many of those
    * attempts REBASED (reused the already-written data files onto a newer
    * manifest after losing the commit race to a writer of DISJOINT
    * buckets), and how many times the merge result was actually computed
    * and written (1 = no conflicting overlap ever forced a recompute).
    */
  final case class CommitInfo(version: Long, attempts: Int, rebases: Int,
      dataWrites: Int)

  /** Shared driver-side FS-op pool for [[inParallel]]: bounded daemon
    * threads created ONCE — a per-call `newFixedThreadPool` paid thread
    * creation on every invocation, which at the catalog's ~40 ms commit
    * budget was a measured ~20 ms regression per commit.
    */
  private val fsIoPoolName = "graft-fs-io"
  private lazy val fsIoPool = java.util.concurrent.Executors.newFixedThreadPool(
    32,
    (r: Runnable) => {
      val t = new Thread(r, fsIoPoolName)
      t.setDaemon(true)
      t
    })

  /** Order-preserving parallel map over driver-side FS round-trips
    * (sidecar writes/copies, catalog member metadata): each item is a
    * tiny-file/metadata operation whose latency, not bandwidth, dominates
    * — sequentially they scale O(buckets)/O(members). Exceptions propagate
    * to the caller (a failed sidecar write must abort the commit, same as
    * sequentially). A call issued FROM a pool task runs inline on the
    * caller's thread: a bounded shared pool must never wait on itself
    * (outer tasks holding every thread while their inner futures sit
    * queued behind them is a deadlock, not a slowdown), and no current
    * call site nests anyway — the guard makes the helper safe for future
    * call sites rather than relying on a doc-only contract.
    */
  private[graft] def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.size <= 1 || Thread.currentThread().getName == fsIoPoolName)
      return items.map(f)
    // propagate the CALLER's active session into each task: pool threads
    // are created once and inherit the session thread-local of whichever
    // thread first populated the pool — without the per-task set, FS ops
    // on reused pool threads would resolve a long-stopped session's
    // Hadoop conf (Dfs.conf reads the active-session thread-local)
    val sess = org.apache.spark.sql.SparkSession.getActiveSession
    try {
      items.map(a => fsIoPool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = {
          sess match {
            case Some(s) => org.apache.spark.sql.SparkSession.setActiveSession(s)
            case None => org.apache.spark.sql.SparkSession.clearActiveSession()
          }
          f(a)
        }
      })).map(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  def manifestsDir(dir: String): HPath = new HPath(dir, "manifests")
  def manifestPath(dir: String, v: Long): HPath =
    new HPath(manifestsDir(dir), f"v$v%08d.manifest")

  /** All published versions at `dir`, ascending; empty before any commit. */
  def versions(dir: String): Seq[Long] = versionTimes(dir).map(_._1)

  /** (version, manifest modification time) for every published version at
    * `dir`, ascending — one listing.
    */
  private[sink] def versionTimes(dir: String): Seq[(Long, Long)] =
    Dfs.list(manifestsDir(dir))
      .map(st => st.getPath.getName -> st.getModificationTime)
      .collect { case (n, t) if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong -> t }
      .sortBy(_._1)

  /** First line of every manifest body: the format the lines below follow. */
  private[sink] val ManifestFormat = "format=2"

  /** `version`'s manifest lines, through the published-manifest cache — the
    * one read path behind every accessor. A complete body (one with its
    * `version=` line) must start with [[ManifestFormat]]; a body without a
    * `version=` line is a put-style lock's not-yet-visible content, which
    * the accessors fail on transiently and the cache never keeps.
    */
  private def manifestLines(dir: String, version: Long): Seq[String] = {
    val lines = graft.engine.CommitLock.readPublished(manifestPath(dir, version))
    if (!lines.headOption.contains(ManifestFormat) && lines.exists(_.startsWith("version=")))
      sys.error(s"manifest v$version at $dir has no $ManifestFormat header: the " +
        "table was written by a pre-format build and must be re-created")
    lines
  }

  /** (declared nBuckets, bucket → path relative to `dir`) at `version`. */
  def manifest(dir: String, version: Long): (Int, Map[Int, String]) =
    manifestOf(dir, version, manifestLines(dir, version))

  /** Buckets whose manifest entry differs between versions `a` and `b` of
    * the table at `dir`: listed at one version only, or naming another
    * file. Buckets sharing a file hold byte-identical rows, and a key routes
    * to one bucket under one layout, so every key-level change between the
    * two versions lives in these buckets — change feeds, IVM refreshes and
    * followers scan them instead of the table. A layout change (rebucket,
    * compaction, replaceAll) makes every entry differ: correct, unpruned.
    */
  private[graft] def changedBuckets(dir: String, a: Long, b: Long): Set[Int] = {
    val ea = manifest(dir, a)._2
    val eb = manifest(dir, b)._2
    (ea.keySet ++ eb.keySet).filter(k => ea.get(k) != eb.get(k))
  }

  private def manifestOf(dir: String, version: Long,
      lines: Seq[String]): (Int, Map[Int, String]) = {
    val n = required(lines, "nBuckets=", dir, version).toInt
    val entries = lines.iterator.filter(_.startsWith("b ")).map { line =>
      val Array(_, b, rel) = line.split(" ", 3)
      b.toInt -> rel
    }.toMap
    (n, entries)
  }

  /** Bloom sidecar references recorded at `version`:
    * bucket → column → (stored-type DDL, sidecar path relative to `dir`).
    * The type is the column's type IN THE FILES the sidecar covers — a
    * reader casts its literal to it before hashing (xxhash64 hashes the
    * same logical value differently per type), so a BIGINT literal finds a
    * row stored as INT. Within one readable version the types cannot
    * actually diverge across buckets (the recorded schema refuses a
    * same-name type change — widening goes through the replaceAll
    * migration, which recomputes every sidecar), but recording the type per
    * line makes the hash contract explicit and keeps readers correct across
    * versions with different types. Absence of a line means "unknown,
    * cannot prune" (all-null bucket, distinct count over
    * [[BloomIndex.MaxDistinct]], or a table written without bloomCols).
    */
  def manifestBlooms(dir: String,
      version: Long): Map[Int, Map[String, (String, String)]] =
    perBucketLines(manifestLines(dir, version), "f ")((ty, rel) => (ty, rel))

  /** `<tag> <bucket> <col> <x> <y>` lines as bucket → column → (x, y). */
  private def perBucketLines[V](lines: Seq[String], tag: String)(
      value: (String, String) => V): Map[Int, Map[String, V]] =
    lines.filter(_.startsWith(tag))
      .map { line =>
        val Array(_, b, c, x, y) = line.split(" ", 5)
        (b.toInt, c, value(x, y))
      }
      .groupBy(_._1)
      .map { case (b, rows) => b -> rows.map(r => r._2 -> r._3).toMap }

  /** The table's FILE schema union recorded at `version` (`schema=`, JSON
    * StructType; includes `__gen` and the delete flag, excludes the
    * `__bucket` partition directory) — what `mergeSchema` over every bucket
    * file would reconstruct, recorded at commit time so READERS NEVER PAY A
    * FOOTER SCAN TO RESOLVE THE SCHEMA: at 100 TB, "open every bucket's
    * footer before planning" is a real planning-latency tax this line
    * removes (the Delta metaData-action idea).
    */
  def manifestSchema(dir: String,
      version: Long): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      required(manifestLines(dir, version), "schema=", dir, version))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** The merge-key columns recorded at `version` (`keys=`, the columns the
    * bucket hash routes on).
    */
  def manifestKeys(dir: String, version: Long): Seq[String] =
    keysOf(dir, version, manifestLines(dir, version))

  private def keysOf(dir: String, version: Long, lines: Seq[String]): Seq[String] =
    csvOf(required(lines, "keys=", dir, version))

  /** The last-write-wins ORDER COLUMN recorded at `version` (`seqcol=`).
    * Written by merge/replaceAll from the caller's declared `seqCol` and
    * carried verbatim through full rewrites (compact/rebucket/purge), so
    * downstream consumers — `changesBetween`, the change-feed stream
    * source — resolve the table's real order column instead of assuming a
    * column literally named `seq`. A table whose order column is `ts` but
    * that also happens to carry an unrelated `seq` data column would
    * otherwise get a silently wrong diff (updates not touching that column
    * vanish).
    */
  def manifestSeqCol(dir: String, version: Long): String =
    required(manifestLines(dir, version), "seqcol=", dir, version)

  /** The applied-head seq recorded at `version` (`maxseq=`): the max
    * `seqCol` this table has merged up to and including that commit
    * (monotone across versions). None while every merge carried only null
    * seqs — such a table has no head yet. This is the metadata
    * [[SnapshotCatalog.commitAligned]] reads to build seq-consistent
    * cross-table cuts without scanning data files.
    */
  def manifestMaxSeq(dir: String, version: Long): Option[Long] =
    maxSeqOf(manifestLines(dir, version))

  private def maxSeqOf(lines: Seq[String]): Option[Long] =
    header(lines, "maxseq=").map(_.toLong)

  /** Per-bucket column statistics recorded at `version`:
    * bucket → column → (min, max) as decimal strings (timestamps as epoch
    * micros). Only buckets/columns with a recorded `s` line appear —
    * consumers must treat absence as "unknown, cannot prune". Stats follow
    * the entries' carry-forward rule: untouched buckets keep the stats of
    * the commit that last wrote them, so a bucket's recorded `seq` max is
    * the last time its content changed — which is what makes
    * `WHERE seq > X` incremental reads skip cold buckets. TIMESTAMP_NTZ
    * stats are pure wall-clock micros.
    */
  def manifestStats(dir: String,
      version: Long): Map[Int, Map[String, (BigDecimal, BigDecimal)]] =
    perBucketLines(manifestLines(dir, version), "s ")((mn, mx) =>
      (BigDecimal(mn), BigDecimal(mx)))

  /** Per-column shift that maps a `[0, hi-lo]` offset onto the FULL
    * [[ClusterBits]]-bit code range — exact integer arithmetic, no
    * division: positive = shift right (span wider than the code), negative
    * = shift left (narrow span scaled up so the top-bits bucket selector
    * still discriminates).
    */
  private[sink] def clusterShift(c: ClusterCol): Int = {
    val spanBits = 64 - java.lang.Long.numberOfLeadingZeros(c.hi - c.lo)
    spanBits - ClusterBits
  }

  private[sink] def applyShift(x: Long, shift: Int): Long =
    if (shift >= 0) x >> shift else x << -shift

  /** Cluster routing, bit-identical to the write expression:
    * clamp to bounds (null ⇒ lo), subtract lo, shift to [[ClusterBits]]
    * bits, Morton-interleave, keep the top log2(nBuckets) bits — so
    * adjacent buckets are adjacent Z-tiles and a rectangle predicate
    * touches few of them.
    */
  private[graft] def clusterBucketFor(values: Seq[Option[Long]],
      spec: Seq[ClusterCol], nBuckets: Int): Int = {
    val codes = values.zip(spec).map { case (v, c) =>
      val clamped = math.min(math.max(v.getOrElse(c.lo), c.lo), c.hi)
      applyShift(clamped - c.lo, clusterShift(c))
    }
    val log2n = java.lang.Long.numberOfTrailingZeros(nBuckets.toLong)
    val z = codes match {
      case Seq(a) => a
      case Seq(a, b) =>
        (0 until ClusterBits).map { j =>
          (((a >> j) & 1L) << (2 * j)) + (((b >> j) & 1L) << (2 * j + 1))
        }.sum
      case _ => sys.error("clusterBy supports 1 or 2 columns")
    }
    val zBits = ClusterBits * spec.length
    (z >> (zBits - log2n)).toInt
  }

  /** A guarded merge lost its optimistic base check (`requireBaseSeq` of
    * [[SnapshotParquetSink.merge]]): the table's applied head moved while
    * the batch was in flight. The batch is NOT applied; recompute it
    * against the current head and retry.
    */
  final case class FoldBaseConflict(tableDir: String, expected: Long,
      found: Option[Long]) extends RuntimeException(
    s"fold-merge base conflict at $tableDir: delta computed against applied " +
      s"head $expected but the table records $found — recompute against the " +
      "current head and retry")

  /** A staged rewrite: the commit root `data/<commitId>` written against
    * `base`, the buckets it holds, the written frame's schema and the
    * manifest lines derived from its files — computed once and republished
    * unchanged across rebase attempts.
    */
  private final case class Written(base: Option[Long], commitId: String,
      buckets: Array[Int], schema: StructType, stats: Seq[String],
      blooms: Seq[String]) {
    def entries: Seq[(Int, String)] =
      buckets.toSeq.map(b => b -> s"data/$commitId/__bucket=$b")
  }

  /** A hinted merge wrote a bucket dir its hint never declared — the
    * caller's affected-bucket precomputation is wrong (publishing would
    * orphan the extra bucket's rows). The staged write is already deleted;
    * nothing was published, so retrying UNHINTED is always safe.
    */
  final case class ProbeHintMismatch(msg: String)
    extends IllegalArgumentException(msg)

  /** The one driver-side key router: the bucket a row holding `values`
    * (column → value) routes to at `version`, decided from that version's
    * manifest alone — its committed nBuckets, cluster spec and recorded
    * key types, never a handle's — and bit-identical to the write path's
    * `bucketExpr`. A hash-routed table hashes every recorded merge key
    * ([[bucketFor]]); a clustered one routes by the Z-tile of its cluster
    * columns alone ([[clusterBucketFor]]; hashing there would pick the
    * wrong bucket), whose values must be integral (null routes as `lo`,
    * like the write path's coalesce). None when `values` do not pin the
    * routing: a routing column missing, or a non-integral cluster value.
    */
  private[graft] def routerAt(dir: String, version: Long): Map[String, Any] => Option[Int] = {
    val lines = manifestLines(dir, version)
    val n = manifestOf(dir, version, lines)._1
    val cluster = clusterOf(lines)
    if (cluster.nonEmpty) values => {
      val longs = cluster.map(c => values.get(c.name).flatMap {
        case null     => Some(None)
        case l: Long  => Some(Some(l))
        case i: Int   => Some(Some(i.toLong))
        case s: Short => Some(Some(s.toLong))
        case b: Byte  => Some(Some(b.toLong))
        case _        => None
      })
      if (longs.forall(_.isDefined)) Some(clusterBucketFor(longs.flatten, cluster, n))
      else None
    }
    else {
      val keys = keysOf(dir, version, lines)
      lazy val types = {
        val schema = manifestSchema(dir, version)
        keys.map(k => schema(k).dataType)
      }
      values =>
        if (keys.forall(values.contains)) Some(bucketFor(keys.map(values), types, n))
        else None
    }
  }

  /** Hash routing, bit-identical to the write path's
    * `pmod(xxhash64(keys...), nBuckets)`: literals cast to the STORED key
    * types, XxHash64 evaluated without a Spark job.
    */
  def bucketFor(keyValues: Seq[Any],
      keyTypes: Seq[org.apache.spark.sql.types.DataType], nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    val castLits = keyValues.zip(keyTypes).map { case (v, t) =>
      Cast(Literal(v), t, Some("UTC")): org.apache.spark.sql.catalyst.expressions.Expression
    }
    val h = new XxHash64(castLits.toIndexedSeq).eval(null).asInstanceOf[Long]
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }
}

/** Snapshot-isolated MERGE sink over immutable parquet files — the
  * table-format layer (the pattern Delta Lake / Apache Iceberg use): data
  * files are written once and never modified; a commit is the ATOMIC
  * publication of a new manifest that lists, per hash bucket, the file
  * holding that bucket's current state. Readers resolve the highest
  * published manifest, so they always see a complete committed snapshot:
  *
  *   - NO crash window: a crash anywhere before the manifest publish leaves
  *     orphan data files and an intact table at the previous version — no
  *     backup/restore protocol needed;
  *   - incremental merges: unaffected buckets carry their manifest entries
  *     forward untouched — merge cost is O(affected fraction of the table);
  *     `nBuckets = 1` makes every merge a whole-table rewrite;
  *   - time travel for free: every previous manifest remains readable
  *     (`readAt`) until `vacuum` expires it;
  *   - concurrent-writer safety: the manifest publish is the optimistic
  *     lock — publishing version N+1 fails if another writer got there
  *     first, and the merge recomputes against the new state and retries.
  *
  * All metadata and deletes go through the Hadoop `FileSystem` API
  * ([[graft.engine.Dfs]]), so the same table runs on local disk in tests
  * and HDFS/object storage on a cluster; the commit lock is
  * [[Dfs.renameOntoAbsent]] (rename with `Options.Rename.NONE` — atomic
  * fail-if-exists on HDFS, conditional-put on stores that support it),
  * not a POSIX hard link.
  *
  * Layout under `dir`:
  * {{{
  *   data/<commit-uuid>/__bucket=<b>/part-*.parquet   immutable
  *   manifests/v<%08d>.manifest                       text, atomic publish
  * }}}
  *
  * Manifest format 2 (line-oriented, no parser dependency), written only
  * by [[manifestBody]] and read only through the companion's
  * `manifestLines`, which refuses a complete body whose first line is not
  * `format=2`. Header lines, in this order:
  *   - `format=2` — mandatory, first;
  *   - `version=N` — mandatory; a body without it is not yet complete;
  *   - `nBuckets=B` — mandatory, the routing width;
  *   - `keys=k1,k2` — mandatory, the merge keys the bucket hash routes on;
  *   - `seqcol=c` — mandatory, the last-write-wins order column;
  *   - `maxseq=S` — optional, the applied head seq (monotone; what
  *     [[SnapshotCatalog.commitAligned]] reads), absent while every merge
  *     carried only null seqs;
  *   - `schema=<json>` — mandatory, the file schema union;
  *   - `statscols=a,b` and `bloomcols=c` — mandatory (the value may be
  *     empty), the declared data-skipping columns.
  * Then the per-line records, each optional:
  *   - `c <col> <lo> <hi>` — the Z-order cluster spec, one per column
  *     (none = hash-routed);
  *   - `b <bucket> <relative-path>` — one per bucket present;
  *   - `s <bucket> <col> <min> <max>` — per-bucket stats (none = unknown);
  *   - `f <bucket> <col> <type> <relative-path>` — bloom sidecars.
  *
  * Merge semantics (last-write-wins by seq, `__gen` tie-break = the
  * committing version, tombstoned deletes) are the warehouse MERGE the
  * reference pipeline runs ([[SnowflakeSqlGen]] generates its SQL);
  * `__gen` strictly increases per commit, so replaying a batch is
  * idempotent and out-of-order-safe — what makes `foreachBatch`
  * exactly-once on restart.
  *
  * `statsCols`: numeric/timestamp columns to record per-bucket min/max for
  * in each commit's manifest — MANIFEST-LEVEL DATA SKIPPING (the Delta
  * data-skipping idea adapted to the incremental bucket layout): the DSv2
  * scan drops whole buckets whose recorded range excludes a pushed range/
  * equality predicate before any file is opened. On a hash-bucketed table
  * value ranges scatter, so the payoff is on columns CORRELATED WITH
  * COMMIT TIME — above all `seq`: untouched buckets keep the stats of the
  * commit that last rewrote them, so an incremental consumer's
  * `WHERE seq > X` plans only buckets that actually changed since X.
  * Stats cost one column-pruned read-back of the just-written files per
  * commit; tables written without stats read unchanged (absence = no
  * pruning).
  *
  * `bloomCols`: columns to build per-bucket BLOOM SIDECARS for
  * ([[BloomIndex]]) — equality file-skipping on non-key columns whose
  * values hash-scatter (where min/max stats prune nothing), plus
  * parquet-native row-group bloom filters inside every data file written.
  * `WHERE ext_id = 'X'` then plans only the buckets whose filter admits X.
  * The filters accumulate inside the data-write job (`observeBlooms`), so
  * the cost is per-row hashing plus one small sidecar file per written
  * bucket — no re-read of the new files; absence = no pruning.
  */
final class SnapshotParquetSink(val dir: String, nBuckets: Int = 16,
    statsCols: Seq[String] = Nil,
    clusterBy: Seq[SnapshotParquetSink.ClusterCol] = Nil,
    bloomCols: Seq[String] = Nil) {
  import SnapshotParquetSink.Written

  statsCols.foreach(SnapshotParquetSink.validManifestName("stats"))
  bloomCols.foreach(SnapshotParquetSink.validManifestName("bloom"))
  clusterBy.foreach(c => SnapshotParquetSink.validManifestName("cluster")(c.name))
  require(clusterBy.size <= 2, "clusterBy supports 1 or 2 columns (Z-order is 2-D here)")
  require(clusterBy.map(_.name).distinct.size == clusterBy.size,
    "clusterBy columns must be distinct")
  requireClusterable(nBuckets)

  /** A clustered table's bucket count (at create and at [[rebucket]]) must
    * be a power of two — the top Z-code bits are the bucket — within the
    * Z-code resolution.
    */
  private def requireClusterable(n: Int): Unit = if (clusterBy.nonEmpty) {
    require(n > 0 && (n & (n - 1)) == 0, s"a clustered table needs a " +
      s"power-of-two bucket count (top Z-code bits are the bucket), got $n")
    require(java.lang.Long.numberOfTrailingZeros(n.toLong)
        <= SnapshotParquetSink.ClusterBits * clusterBy.length,
      s"$n buckets exceed the Z-code resolution for ${clusterBy.length} column(s)")
  }

  private def manifestsDir: HPath = SnapshotParquetSink.manifestsDir(dir)

  private val dbg = new graft.engine.Dbg("graft.commit.debug", "[commit]")

  /** One commit phase: timed under `graft.commit.debug`, its jobs tagged
    * `commit:<tag>`.
    */
  private def phase[A](spark: SparkSession, tag: String)(f: => A): A =
    dbg(tag)(graft.engine.JobTag(spark, s"commit:$tag")(f))
  private def manifestPath(v: Long): HPath = SnapshotParquetSink.manifestPath(dir, v)

  /** `s <bucket> <col> <min> <max>` lines for the freshly-written commit
    * root: one column-pruned scan of the new files (never the whole
    * table), timestamps normalized to epoch micros so the manifest is a
    * plain decimal string. All-null buckets record no line (unknown).
    */
  private def statsLinesFor(spark: SparkSession, commitId: String,
      cols: Seq[String] = statsCols): Seq[String] = {
    if (cols.isEmpty) return Nil
    val written = spark.read
      .option("basePath", s"$dir/data/$commitId").parquet(s"$dir/data/$commitId")
    val schema = written.schema
    cols.foreach { c =>
      require(schema.fieldNames.contains(c), s"stats column '$c' absent from the batch")
      val ok = schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      }
      require(ok, s"stats column '$c' must be numeric/timestamp/date " +
        s"(got ${schema(c).dataType}) — string ranges don't order portably")
    }
    def norm(c: String) = schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(col(c))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // pure wall-clock micros — casting NTZ through TIMESTAMP would
        // shift by the session zone and mismatch the pushed NTZ literal
        // (whose Catalyst value is the unshifted wall-clock micros)
        expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', `$c`)")
      case org.apache.spark.sql.types.DateType => datediff(col(c), lit("1970-01-01"))
      case _ => col(c)
    }
    // a non-finite value (NaN/±Inf) has no decimal manifest form and no
    // orderable range: a bucket containing one records NO line for that
    // column (unknown → never pruned) — dropping just the value would
    // let a range predicate wrongly prune the bucket holding it
    def nonFinite(c: String) = schema(c).dataType match {
      case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
        max(when(isnan(col(c)) || abs(col(c)) === lit(Double.PositiveInfinity), 1)
          .otherwise(0))
      case _ => max(lit(0))
    }
    val aggs = cols.flatMap(c =>
      Seq(min(norm(c)).as(s"__mn_$c"), max(norm(c)).as(s"__mx_$c"),
        nonFinite(c).as(s"__nf_$c")))
    written.groupBy(col("__bucket")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.flatMap { row =>
        val b = row.getInt(0)
        cols.flatMap { c =>
          val mn = row.get(row.fieldIndex(s"__mn_$c"))
          val mx = row.get(row.fieldIndex(s"__mx_$c"))
          val nf = row.getInt(row.fieldIndex(s"__nf_$c"))
          if (mn == null || mx == null || nf == 1) None else Some(s"s $b $c $mn $mx")
        }
      }
  }

  /** Parquet-native bloom writing is EVIDENCE-GATED per commit: the
    * sidecar layer exactly covers buckets up to [[BloomIndex.MaxDistinct]]
    * distinct values, so the in-file row-group filters only ever prune
    * where a bucket has OUTGROWN the sidecar — and writing them
    * unconditionally was measured at ~0.21× bulk-commit overhead
    * (2M rows / 80 buckets, the whole gap between the fused sidecar
    * build's 0.08× and the 0.29× total) protecting nothing under the
    * recommended ≤25k-row bucket layout. A commit therefore writes the
    * native filters iff the PRIOR manifest shows a bloom-declared bucket
    * without a sidecar line (the build's saturation marker — also set by
    * all-null buckets, an acceptable conservative over-trigger): the
    * first oversized commit goes native-less (a missing filter prunes
    * nothing, never wrongly) and every later commit carries the native
    * layer. [[rebucket]] judges the NEW geometry instead (its `saturates`).
    * `graft.bloom.forceNative` forces the layer on (bench/test pin of the
    * native-write cost).
    */
  private def parquetBloomOptsFor(prior: Option[Long],
      cols: Seq[String]): Map[String, String] =
    nativeBloomOpts(cols, prior.exists { v =>
      val blooms = SnapshotParquetSink.manifestBlooms(dir, v)
      readManifest(v).keys.exists(b =>
        cols.exists(c => !blooms.get(b).exists(_.contains(c))))
    })

  /** [[parquetBloomOpts]] for `cols` when `saturates` (or
    * `graft.bloom.forceNative` is set), else none.
    */
  private def nativeBloomOpts(cols: Seq[String],
      saturates: => Boolean): Map[String, String] =
    if (cols.nonEmpty && (sys.props.contains("graft.bloom.forceNative") || saturates))
      parquetBloomOpts(cols)
    else Map.empty

  /** Writer options enabling PARQUET-NATIVE bloom filters for `cols` on a
    * data write — row-group-level equality skipping INSIDE the files, the
    * layer that still pays off when a bucket's distinct count exceeds what
    * the manifest-level sidecar will cover ([[BloomIndex]]'s scaladoc).
    */
  private def parquetBloomOpts(cols: Seq[String]): Map[String, String] =
    cols.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      // size for the recommended layout (~25k-row buckets, one row group
      // per bucket file): parquet's default assumes 1M NDV and allocates
      // ~1.2 MB of filter per chunk — measured to double the commit's
      // write cost while the sidecar layer already covers ≤64k-distinct
      // buckets exactly
      s"parquet.bloom.filter.expected.ndv#$c" -> BloomIndex.MaxDistinct.toString))
      .toMap

  /** `statscols=` / `bloomcols=` header lines recording the commit's
    * EFFECTIVE skipping declaration: this handle's when it declares any,
    * else carried from `carryFrom`'s manifest — so a maintenance or
    * config-less writer never strips the table's declaration, and
    * [[SnapshotParquetSink.forTable]] recovers it even when no bucket
    * recorded a per-bucket data line. An empty value means "declared none".
    */
  private def skipColsLines(carryFrom: Option[Long]): Seq[String] = {
    val st = if (statsCols.nonEmpty) statsCols
      else carryFrom.map(SnapshotParquetSink.declaredStatsCols(dir, _)).getOrElse(Nil)
    val bl = if (bloomCols.nonEmpty) bloomCols
      else carryFrom.map(SnapshotParquetSink.declaredBloomCols(dir, _)).getOrElse(Nil)
    Seq(s"statscols=${st.mkString(",")}", s"bloomcols=${bl.mkString(",")}")
  }

  /** Bloom sidecars fused INTO the data-write job: the write frame gets an
    * `observe` with one [[graft.functions.BloomWordsAgg]] per bloom column,
    * so the per-bucket filter words accumulate while the parquet writer
    * streams the same rows — no re-read of fresh files, no extra jobs (the
    * pre-fusion build cost 1.5–2.1× of the plain commit; the bar is ≤1.2×).
    * The driver then only decodes the observed map and writes the sidecar
    * files (concurrent, I/O-bound — same publication as before). Returns
    * the write frame and the sidecar writer: call it with the commit id
    * AFTER the write action completed (the observation resolves then); it
    * returns the sidecars' `f` manifest lines.
    *
    * The one sidecar builder, attached by [[writeStage]]: merge and
    * replaceAll observe this handle's `bloomCols`, compact's backfill and
    * rebucket the columns they index. Every write frame is hash-partitioned
    * by `__bucket`, so each bucket's words come from one task and the
    * filters equal a re-read of the written files. compact (without a
    * backfill) and purge copy the prior sidecars instead
    * ([[copyBloomsInto]]).
    */
  private def observeBlooms(spark: SparkSession, toWrite: DataFrame,
      cols: Seq[String]): (DataFrame, String => Seq[String]) =
    if (cols.isEmpty) (toWrite, _ => Nil)
    else {
      graft.functions.GraftFunctions.register(spark)
      val aggs = cols.map { c =>
        require(toWrite.columns.contains(c),
          s"bloom column '$c' absent from the batch")
        val ddl = toWrite.schema(c).dataType.catalogString
        require(!ddl.exists(_.isWhitespace),
          s"bloom column '$c' has a non-atomic type ($ddl) — bloom skipping " +
            "covers atomic columns (equality on them is what gets pushed down)")
        // null-gated: xxhash64(null) would hash the seed — a null must set
        // no bits (an equality probe never matches null). The hash itself
        // is PRECOMPUTED as a codegen'd projection column below: the
        // CollectMetrics accumulator evaluates its children INTERPRETED
        // per written row, and an interpreted xxhash64-over-string per row
        // was a measured slice of the fused build's overhead — as a bound
        // attribute it's one slot read
        call_function("graft_bloom_words", col("__bucket"),
          col(s"__graft_bfh_$c")).as(s"__bf_$c")
      }
      val obs = org.apache.spark.sql.Observation(
        s"graft-blooms-${UUID.randomUUID()}")
      val hashed = cols.foldLeft(toWrite)((df, c) =>
        df.withColumn(s"__graft_bfh_$c",
          when(col(c).isNotNull, xxhash64(col(c)))))
      // the drop ABOVE the observe keeps the helper out of the written
      // files while CollectMetrics still sees it
      (hashed.observe(obs, aggs.head, aggs.tail: _*)
        .drop(cols.map(c => s"__graft_bfh_$c"): _*), commitId => {
        val row = obs.get
        cols.flatMap { c =>
          val ddl = toWrite.schema(c).dataType.catalogString
          val ents = (row(s"__bf_$c") match {
            case null => Seq.empty[(Any, Any)]
            case m: scala.collection.Map[_, _] => m.toSeq
          }).map { case (bk, v) =>
            val r = v.asInstanceOf[org.apache.spark.sql.Row]
            (bk.asInstanceOf[Int], r.getAs[Array[Byte]]("bf"))
          }.sortBy(_._1)
          SnapshotParquetSink.inParallel(ents) { case (b, bytes) =>
            val rel = s"data/$commitId/__bloom/$c/$b.bf"
            Dfs.writeBytes(new HPath(s"$dir/$rel"), bytes)
            s"f $b $c $ddl $rel"
          }
        }
      })
    }

  /** Carried/copied bloom lines for a maintenance rewrite (compact, purge):
    * per-bucket content is preserved (compact) or only shrinks (purge), so
    * the existing filters stay correct — purge's are merely conservative
    * over-approximations. The sidecar FILES are copied under the new commit
    * root so the invariant "an `f` line references the same root as its
    * bucket's `b` entry" (what makes vacuum's entry-derived root
    * reachability cover sidecars) survives the rewrite.
    */
  private def copyBloomsInto(base: Long, commitId: String,
      keptBuckets: Set[Int]): Seq[String] = {
    val toCopy = SnapshotParquetSink.manifestBlooms(dir, base).toSeq.sortBy(_._1)
      .filter { case (b, _) => keptBuckets(b) }
      .flatMap { case (b, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, (ty, rel)) => (b, c, ty, rel) }
      }
    SnapshotParquetSink.inParallel(toCopy) { case (b, c, ty, rel) =>
      val newRel = s"data/$commitId/__bloom/$c/$b.bf"
      Dfs.writeBytes(new HPath(s"$dir/$newRel"),
        Dfs.readBytes(new HPath(s"$dir/$rel")))
      s"f $b $c $ty $newRel"
    }
  }

  /** The `schema=` JSON for a commit writing frames shaped `written` (the
    * `__bucket` partition column is stripped — it never lands in the
    * files), unioned with the carry source's RECORDED schema: untouched
    * buckets may hold evolution-era columns this commit's affected set
    * never read, and dropping them from the line would misdeclare the
    * table. A same-name type conflict cannot arise through the supported
    * evolution paths (merge only ADDS columns; widening rewrites the whole
    * table) and fails loudly if it ever appears.
    */
  private def schemaJson(written: org.apache.spark.sql.types.StructType,
      carryFrom: Option[Long]): String = {
    import org.apache.spark.sql.types.StructType
    val fileSchema = StructType(written.fields.filterNot(_.name == "__bucket"))
    val out = carryFrom.map(SnapshotParquetSink.manifestSchema(dir, _)) match {
      case None => fileSchema
      case Some(p) =>
        val byName = fileSchema.fields.map(f => f.name -> f).toMap
        p.fields.foreach(f => byName.get(f.name).foreach(n =>
          require(n.dataType == f.dataType,
            s"schema conflict on '${f.name}' at $dir: batch ${n.dataType} vs " +
              s"recorded ${f.dataType} — type changes go through replaceAll")))
        StructType(fileSchema.fields ++ p.fields.filterNot(f => byName.contains(f.name)))
    }
    out.json
  }

  /** Routing: key hash by default; on a clustered table, the top
    * log2(nBuckets) bits of the Morton code over the cluster columns —
    * Z-tiles instead of hash scatter, so per-bucket stats envelopes are
    * tight rectangles and range predicates prune. Cluster columns must be
    * MERGE KEYS: key values are the row's identity and never change, which
    * is exactly the stability routing needs (a value column could move a
    * key between buckets on update, leaving a stale live copy behind).
    */
  private def bucketOf(keys: Seq[String]) = bucketExpr(keys, nBuckets)

  private def bucketExpr(keys: Seq[String], n: Int) =
    if (clusterBy.isEmpty)
      pmod(xxhash64(keys.map(col): _*), lit(n)).cast("int")
    else {
      clusterBy.foreach(c => require(keys.contains(c.name),
        s"cluster column '${c.name}' must be one of the merge keys " +
          s"${keys.mkString(",")} — routing must be stable per key"))
      val codes = clusterBy.map { c =>
        val clamped = greatest(least(coalesce(col(c.name).cast("long"),
          lit(c.lo)), lit(c.hi)), lit(c.lo))
        val off = clamped - lit(c.lo)
        val sh = SnapshotParquetSink.clusterShift(c)
        if (sh >= 0) shiftright(off, sh) else shiftleft(off, -sh)
      }
      val z = codes match {
        case Seq(a) => a
        case Seq(a, b) =>
          graft.engine.ZOrder.interleave2(a, b, SnapshotParquetSink.ClusterBits)
      }
      val zBits = SnapshotParquetSink.ClusterBits * clusterBy.length
      val log2n = java.lang.Long.numberOfTrailingZeros(n.toLong)
      shiftright(z, zBits - log2n).cast("int")
    }

  /** A clustered table written by a hash-routing handle (or with different
    * bounds) would scatter keys across incompatible bucket routings — the
    * same silent corruption the nBuckets guard exists for.
    */
  private def requireClusterMatch(v: Long): Unit = {
    val committed = SnapshotParquetSink.manifestCluster(dir, v)
    require(committed == clusterBy,
      s"sink clusterBy=$clusterBy but the table at $dir was committed with " +
        s"clusterBy=$committed — construct the sink with the table's spec")
  }

  /** This handle's bucket-layout width — cost models divide table bytes by
    * it to price a bucket-pruned read.
    */
  def bucketCount: Int = nBuckets

  /** Whether the table at `otherDir`, as of its `version`, routes rows
    * exactly as this handle routes a batch merged by `keys`: hash routing on
    * both sides (a Z-order spec routes by tile, which a metadata-derived
    * hint cannot reproduce), the same bucket count and the same recorded
    * keys. Then a row keeps its bucket across the two tables — provided
    * the batch stores the key types that table stores — so that table's
    * manifest bucket sets can serve as this sink's `probeHint`
    * ([[merge]]). The one routing-transfer check of hinting callers.
    */
  def sharesRouting(otherDir: String, version: Long, keys: Seq[String]): Boolean = {
    val lines = SnapshotParquetSink.manifestLines(otherDir, version)
    clusterBy.isEmpty && SnapshotParquetSink.clusterOf(lines).isEmpty &&
      SnapshotParquetSink.manifestOf(otherDir, version, lines)._1 == nBuckets &&
      SnapshotParquetSink.keysOf(otherDir, version, lines) == keys
  }

  /** All published versions, ascending; empty before the first commit. */
  def versions: Seq[Long] = SnapshotParquetSink.versions(dir)

  def currentVersion: Option[Long] = versions.lastOption

  /** bucket → path relative to `dir`. */
  private def readManifest(v: Long): Map[Int, String] =
    SnapshotParquetSink.manifest(dir, v)._2

  /** Publishes a manifest body at `version` through the pluggable commit
    * lock ([[graft.engine.CommitLock.publishFile]] — the LogStore seam;
    * rename-onto-absent by default, put-if-absent under a coordinator on
    * object stores). True = this writer owns the version; false = lost the
    * race (data root left for the caller to delete).
    */
  private def publish(version: Long, body: String): Boolean =
    graft.engine.CommitLock.publishFile(manifestPath(version), body)

  /** The one writer of a manifest body (the format is the class scaladoc's
    * list). Each rewrite passes its own carry rules in as values: the
    * header fields (`maxSeq` None = no head yet; `schema` = the
    * [[schemaJson]]; `skipFrom` = the manifest [[skipColsLines]] carries
    * the skipping declaration from), the cluster spec, the bucket entries
    * and the per-bucket `s` (stats) and `f` (bloom) lines.
    */
  private def manifestBody(version: Long, buckets: Int, keys: Seq[String],
      seqCol: String, maxSeq: Option[Long], schema: String,
      skipFrom: Option[Long], cluster: Seq[SnapshotParquetSink.ClusterCol],
      entries: Iterable[(Int, String)], stats: Seq[String],
      blooms: Seq[String]): String =
    (Seq(SnapshotParquetSink.ManifestFormat, s"version=$version", s"nBuckets=$buckets",
      s"keys=${keys.mkString(",")}", s"seqcol=$seqCol") ++
      maxSeq.map(m => s"maxseq=$m") ++ Seq(s"schema=$schema") ++
      skipColsLines(skipFrom) ++
      cluster.map(c => s"c ${c.name} ${c.lo} ${c.hi}") ++
      entries.toSeq.sortBy(_._1).map { case (b, rel) => s"b $b $rel" } ++
      stats ++ blooms).mkString("", "\n", "\n")

  /** `tag` (`s` stats / `f` bloom) lines re-emitted from a parsed manifest
    * for the buckets `keep` admits, sorted by bucket then column — the
    * carry rule of commits that leave those buckets' files (or a superset
    * of their content) in place.
    */
  private def carriedLines(tag: String, perBucket: Map[Int, Map[String, (Any, Any)]],
      keep: Int => Boolean): Seq[String] =
    perBucket.toSeq.sortBy(_._1).filter { case (b, _) => keep(b) }
      .flatMap { case (b, cols) => cols.toSeq.sortBy(_._1).map {
        case (c, (x, y)) => s"$tag $b $c $x $y" } }

  private def carriedStats(v: Long, keep: Int => Boolean): Seq[String] =
    carriedLines("s", SnapshotParquetSink.manifestStats(dir, v), keep)

  /** Writes `df` (already one partition per bucket) as the commit root
    * `data/<commitId>`, one `__bucket=<b>` directory per bucket.
    */
  private def writeBuckets(df: DataFrame, commitId: String,
      opts: Map[String, String]): Unit =
    df.write.mode("overwrite").partitionBy("__bucket").options(opts)
      .parquet(s"$dir/data/$commitId")

  /** Last-write-wins per key: the row with the highest `seqCol`, ties to
    * the newest `__gen` (the committing version), over `by`'s groups.
    */
  private def lastWritePerKey(df: DataFrame, by: Seq[String],
      seqCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(by.map(col): _*)
      .orderBy(col(seqCol).desc, col("__gen").desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Bloom columns a whole-table rewrite of `base` covers: this handle's
    * declaration, else the declaration `base`'s manifest records.
    */
  private def effectiveBloomCols(base: Long): Seq[String] =
    if (bloomCols.nonEmpty) bloomCols
    else SnapshotParquetSink.declaredBloomCols(dir, base)

  /** Layout guard against the manifest at `v`: a writer with a different
    * bucket count or key set would scatter keys across incompatible bucket
    * routings — the corruption would be SILENT (wrong rows per bucket
    * file), so mismatches fail loudly. The order column is part of the
    * contract too: two writers under different last-write-wins columns
    * produce an undefined winner. `op` names the caller in the key error.
    */
  private def guardLayout(v: Long, op: String, keys: Seq[String],
      seqCol: String): Unit = {
    val declared = SnapshotParquetSink.manifest(dir, v)._1
    require(declared == nBuckets,
      s"sink nBuckets=$nBuckets but the table at $dir was committed with " +
        s"nBuckets=$declared — construct the sink with the table's value")
    val priorKeys = SnapshotParquetSink.manifestKeys(dir, v)
    require(priorKeys == keys,
      s"$op keys ${keys.mkString(",")} do not match the table's committed " +
        s"keys ${priorKeys.mkString(",")} at $dir")
    val priorSeq = SnapshotParquetSink.manifestSeqCol(dir, v)
    require(priorSeq == seqCol,
      s"seqCol '$seqCol' does not match the table's committed order " +
        s"column '$priorSeq' at $dir")
    requireClusterMatch(v)
  }

  @volatile private var lastCommitInfo: Option[SnapshotParquetSink.CommitInfo] = None

  /** Outcome telemetry of this handle's last successful [[merge]] —
    * concurrency tests and operators assert the DISJOINT-writer fast path
    * (rebases ≥ 1, dataWrites == 1) actually engaged.
    */
  def lastCommit: Option[SnapshotParquetSink.CommitInfo] = lastCommitInfo

  @volatile private var lastFused: Option[Boolean] = None

  /** Whether the last [[merge]]'s dedup/fold ran in the FUSED one-exchange
    * shape (below the bucket-layout shuffle) or fell back to the
    * key-granularity two-exchange shape because an affected bucket
    * exceeded the skew threshold — telemetry for the skew-guard specs.
    */
  def lastCommitFusedShape: Option[Boolean] = lastFused

  /** Applies a batch of CDC events (any order, any mix of inserts, updates
    * and deletes flagged by `isDeleteCol`) as ONE commit, last-write-wins
    * by `seqCol` per `keys` — the warehouse MERGE, and the sink's one merge
    * entry point. The trailing parameters adapt that commit; their
    * defaults give the plain merge.
    *
    * `fold`: matching keys COMBINE through a caller-provided aggregation
    * instead of last-write-wins replacement — the LSM "merge operator" idea
    * (RocksDB mergeOp, Druid/Pinot ingestion rollup) on the
    * manifest-committed bucket layout: the batch carries DELTAS, and the
    * fold happens INSIDE the affected-bucket rewrite the commit already
    * pays, so advancing an aggregate costs zero extra reads of the table
    * ([[MaterializedAgg]]'s pure-delta refresh rides this). The reduce
    * receives the union of the affected buckets' current rows and the batch
    * (columns: the stored schema plus `__bucket`, `__gen`, `__is_deleted`)
    * and must return EXACTLY ONE row per key, preserving `__bucket`,
    * `__gen`, `__is_deleted` and `seqCol`. LAYOUT CONTRACT: under the fused
    * (non-skewed) shape the input is hash-partitioned by `__bucket` into
    * one partition per affected bucket, and the reduce must GROUP BY a
    * column set containing `__bucket` (grouping by `(__bucket +: keys)`
    * rides that shuffle exchange-free and keeps the one-file-per-bucket
    * write layout; a keys-only reduce would re-shuffle to default
    * partitions and scatter each bucket's rows across many small output
    * files). Under the skew fallback the layout shuffle is re-asserted
    * above the reduce, so any grouping is layout-safe there. UNLIKE
    * last-write-wins, a fold is NOT replay-idempotent: applying the same
    * delta twice double-counts — folds run under `requireBaseSeq`.
    *
    * `requireBaseSeq`: the optimistic applied-head guard, atomic with the
    * commit. The publish aborts with [[SnapshotParquetSink
    * .FoldBaseConflict]] unless the table's recorded head (`maxseq`) still
    * equals the head the batch was computed against — checked before the
    * write and on every carry source (a rebase re-carries from winners
    * that may hold another refresher's commit) — so a concurrent refresher
    * (or a crashed-then-raced replay) can never double-apply; it
    * recomputes against the new head and retries. Maintenance rewrites
    * that keep the head (compact) pass the guard. Without a fold, a
    * guarded batch carries ABSOLUTE values computed FROM the stored state
    * at that head and stamped at-or-above it, so it is AUTHORITATIVE for
    * its keys: the dedup is replace-by-key, a broadcast anti-join instead
    * of the plain merge's whole-bucket window sort. Such batches must be
    * key-unique.
    *
    * `probeHint`: the probe PRECOMPUTED — the batch's affected buckets and
    * applied head, for callers that know both already (the IVM fold from
    * its own dirty-group probe; followers and join views from upstream
    * manifests, gated on [[sharesRouting]]) — skips the probe job. The
    * hint may be a SUPERSET of the buckets the batch writes: the manifest
    * takes entries for exactly the bucket dirs the write produced (one
    * driver-side listing), so a hinted bucket with no rows keeps its
    * carried entry. A WRITTEN bucket missing from the hint would orphan its
    * rows, so the commit fails loudly with [[SnapshotParquetSink
    * .ProbeHintMismatch]]: the write is deleted and nothing is published,
    * so an unhinted retry is always safe. The head must be AT OR ABOVE the
    * batch's true max (and at or below the head the table semantically
    * reaches after this merge): understating it corrupts seq-aligned cuts.
    */
  def merge(batch: DataFrame, keys: Seq[String], seqCol: String,
      isDeleteCol: String, fold: Option[DataFrame => DataFrame] = None,
      requireBaseSeq: Option[Long] = None,
      probeHint: Option[(Array[Int], Long)] = None): Unit = synchronized {
    probeStage(batch, keys, seqCol, isDeleteCol, probeHint) {
      (incoming0, affected, batchMaxSeq) =>
        if (affected.nonEmpty) {
          // the entries the staged computation read, and the telemetry
          var read = Map.empty[Int, String]
          var dataWrites = 0
          var rebases = 0
          val (version, attempts) = publishStage("snapshot commit", () => {
            val (entries, w) = computeStage(incoming0, keys, seqCol, fold,
              requireBaseSeq, affected, hinted = probeHint.isDefined)
            read = entries
            dataWrites += 1
            w
          }, rebase = _ => {
            val cur = currentVersion.getOrElse(
              sys.error(s"lost the commit race at $dir but no version is " +
                "published — another writer's manifest vanished mid-race"))
            // a lost race against writers of DISJOINT buckets rebases: the
            // winners changed NEITHER the layout (bucket count / keys /
            // cluster spec — guardLayout) NOR any bucket this computation
            // read, so the merged files remain the correct next state of
            // exactly those buckets; an overlapping winner invalidates it
            guardLayout(cur, "merge", keys, seqCol)
            val curEntries = readManifest(cur)
            if (affected.exists(b => curEntries.get(b) != read.get(b))) None
            else { rebases += 1; Some(cur) }
          }) { (w, carryFrom, version) =>
            // hinted probes are trusted into the manifest: a written bucket
            // dir outside the hint fails the commit (see the scaladoc)
            if (!w.buckets.toSet.subsetOf(affected.toSet))
              throw SnapshotParquetSink.ProbeHintMismatch(
                s"probe hint mismatch at $dir: hinted buckets " +
                  s"${affected.mkString(",")} but the write produced " +
                  s"${w.buckets.mkString(",")} — the caller's " +
                  "affected-bucket precomputation is wrong")
            val priorMaxSeq = carryFrom.flatMap(SnapshotParquetSink.manifestMaxSeq(dir, _))
            requireBaseSeq.foreach { rb =>
              if (!priorMaxSeq.contains(rb))
                throw SnapshotParquetSink.FoldBaseConflict(dir, rb, priorMaxSeq)
            }
            // entries, stats and bloom lines carry forward alike: untouched
            // buckets keep those of the commit that last wrote them
            val written = w.buckets.toSet
            manifestBody(version, nBuckets, keys, seqCol,
              (batchMaxSeq.toSeq ++ priorMaxSeq).reduceOption(_ max _),
              schemaJson(w.schema, carryFrom), carryFrom, clusterBy,
              carryFrom.map(readManifest).getOrElse(Map.empty) ++ w.entries,
              carryFrom.toSeq.flatMap(carriedStats(_, b => !written(b))) ++ w.stats,
              carryFrom.toSeq.flatMap(v => carriedLines("f",
                SnapshotParquetSink.manifestBlooms(dir, v), b => !written(b))) ++ w.blooms)
          }
          lastCommitInfo = Some(SnapshotParquetSink.CommitInfo(
            version, attempts, rebases, dataWrites))
        }
    }
  }

  /** The commit probe — the batch's affected-bucket list and applied head
    * — as ONE single-stage job, no shuffle: a per-partition fold over the
    * two probe columns, combined on the driver (≤ nPartitions tiny
    * triples). The former groupBy().agg() shape paid an exchange plus one
    * AQE stage-job per exchange — measured 3 driver-job round trips per
    * micro-commit for a 2-value answer. This action is also what
    * materializes the incoming persist, exactly as before.
    */
  private def probeBucketsAndHead(incoming0: DataFrame,
      seqCol: String): (Array[Int], Option[Long]) = {
    val probeRdd = dbg("probe.plan")(
      incoming0.select(col("__bucket"), col(seqCol).cast("long"))
        .queryExecution.toRdd)
    val parts = probeRdd.mapPartitions { it =>
        val seen = new scala.collection.mutable.BitSet()
        var mx = Long.MinValue
        var any = false
        while (it.hasNext) {
          val r = it.next()
          seen += r.getInt(0)
          if (!r.isNullAt(1)) {
            val v = r.getLong(1)
            if (v > mx) mx = v
            any = true
          }
        }
        Iterator.single((seen, any, mx))
      }
    val parts2 = dbg("probe.job")(parts.collect())
    val bs = parts2.iterator.map(_._1)
      .foldLeft(new scala.collection.mutable.BitSet())(_ |= _)
    val mxs = parts2.iterator.filter(_._2).map(_._3)
    (bs.toArray, if (mxs.isEmpty) None else Some(mxs.max))
  }

  /** The probe stage of [[merge]] and [[replaceAll]]: runs `f` over the
    * batch (delete flag folded, `__bucket` routed), its affected buckets,
    * ascending — the driver-side list that limits the read and rewrite to
    * affected buckets only — and its applied head (recorded in the
    * manifest, monotone across commits, so catalog seq-aligned cuts read
    * metadata, not data; all-null seq contributes no head). The probe is
    * the caller's hint; for a driver-local batch (a LocalRelation as built
    * — never the optimized plan, which would cost every ingest batch an
    * optimizer pass) a driver-side evaluation, no persist and no job; else
    * ONE `commit:probe` job ([[probeBucketsAndHead]] — separate jobs for
    * the two answers doubled the fixed per-job latency of every
    * micro-commit), which also materializes the persist a planned batch
    * stays under while `f` runs.
    */
  private def probeStage[A](batch: DataFrame, keys: Seq[String], seqCol: String,
      isDeleteCol: String, hint: Option[(Array[Int], Long)])(
      f: (DataFrame, Array[Int], Option[Long]) => A): A = {
    keys.foreach(SnapshotParquetSink.validManifestName("key"))
    val local = SnapshotParquetSink.localRows(batch).isDefined
    val incoming0 = SnapshotParquetSink.foldDeleteFlag(batch, isDeleteCol)
      .withColumn("__bucket", bucketOf(keys))
    if (!local) incoming0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (affected, head) = hint match {
        case Some((bs, mx)) => (bs.sorted, Some(mx))
        case None if local =>
          // the projection folds into the local relation: a driver-side
          // evaluation, not a job
          val probed = incoming0.select(col("__bucket"), col(seqCol).cast("long")).collect()
          (probed.map(_.getInt(0)).distinct.sorted,
            probed.filterNot(_.isNullAt(1)).map(_.getLong(1)).reduceOption(_ max _))
        case None =>
          phase(batch.sparkSession, "probe")(probeBucketsAndHead(incoming0, seqCol))
      }
      f(incoming0, affected, head)
    } finally { incoming0.unpersist(); () }
  }

  /** The compute stage of [[merge]]: against the current version, reads
    * the affected buckets, dedups (or folds) them with the batch in the
    * shape the skew guard picks, and writes the result ([[writeStage]]).
    * Returns the bucket entries it read with the staged write.
    */
  private def computeStage(incoming0: DataFrame, keys: Seq[String],
      seqCol: String, fold: Option[DataFrame => DataFrame],
      requireBaseSeq: Option[Long], affected: Array[Int],
      hinted: Boolean): (Map[Int, String], Written) = {
    val spark = incoming0.sparkSession
    val base = currentVersion
    // the optimistic base check before any work: a moved head means some
    // other writer advanced the state (folding now would double-apply)
    requireBaseSeq.foreach { rb =>
      val prior = base.flatMap(v => SnapshotParquetSink.manifestMaxSeq(dir, v))
      if (!prior.contains(rb))
        throw SnapshotParquetSink.FoldBaseConflict(dir, rb, prior)
    }
    val entries = base.map(readManifest).getOrElse(Map.empty)
    // re-run per computation and per lost publish: a concurrent
    // rebucket/recluster between attempts changes the answer
    base.foreach(guardLayout(_, "merge", keys, seqCol))

    // existing state of the affected buckets, read under the manifest's
    // RECORDED schema (zero footer IO — the readAt rule; explicit-schema
    // reads null-fill evolution-era files exactly like mergeSchema
    // resolved them, and __bucket comes back as the appended partition
    // column)
    val current = base.flatMap(v => readByRoot(spark,
      affected.toSeq.flatMap(b => entries.get(b).map(rel => (b, rel))),
      SnapshotParquetSink.manifestSchema(dir, v)))

    // __gen = the version this computation TARGETS. A rebase publishes
    // these files at a HIGHER version with the gen left as-is — safe
    // because rebase requires every affected bucket untouched by the
    // winners: a key lives in exactly one bucket, so the stale gen can
    // only ever tie-break against gens from commits at or below `base`,
    // which are strictly smaller.
    val targetVersion = base.map(_ + 1L).getOrElse(0L)
    val incoming = incoming0.withColumn("__gen", lit(targetVersion))
    // the one-file-per-bucket layout shuffle, applied BELOW the dedup/
    // fold instead of above the write: __bucket is a function of the
    // merge keys, so hash-partitioning by __bucket alone already
    // clusters every key's rows into one partition — a window over
    // (__bucket +: keys) and the fold's groupBy(__bucket +: groups)
    // are then exchange-free on top of it (ClusteredDistribution is
    // satisfied by a subset partitioning), where the old shape paid a
    // second full exchange: keys-window-shuffle THEN bucket-repartition
    // (one exchange per micro-commit saved, plus its AQE stage-job).
    // Parallelism note: the dedup now runs at affected-bucket
    // granularity, the same granularity the per-bucket file write
    // always ran at — bounded by the recommended small-bucket layout.
    //
    // SKEW GUARD on that trade: a HOT bucket under the fused shape is
    // one straggler task sorting/folding the whole bucket. The shape
    // is therefore picked per commit from the manifest's own entries:
    // when any affected bucket's stored bytes exceed
    // `fusedMaxBucketBytes` (256 MB — the AQE skew threshold), the
    // dedup/fold runs at KEY granularity on the default shuffle
    // partitioning and the one-file-per-bucket
    // repartition moves ABOVE it (the pre-r15 two-exchange shape:
    // more driver round trips, but the sort/fold parallelizes across
    // keys instead of serializing on the hot bucket). Cost: one
    // ContentSummary per affected bucket with a stored entry, on the
    // shared FS pool — micro-commits touch few buckets, bulk commits
    // amortize it against the rewrite itself.
    val fusedShape = dbg("fusedchk") {
      val cap = SnapshotParquetSink.fusedMaxBucketBytes
      val stored = affected.toSeq.flatMap(b => entries.get(b).map(rel => s"$dir/$rel"))
      stored.isEmpty || SnapshotParquetSink.inParallel(stored) { p =>
        try Dfs.contentSummary(new HPath(p))._2
        catch { case _: java.io.IOException => 0L }
      }.max <= cap
    }
    lastFused = Some(fusedShape)
    def bucketLayout(df: DataFrame): DataFrame =
      df.repartition(affected.length, col("__bucket"))
    val all0 = current match {
      case Some(c) => c.unionByName(incoming, allowMissingColumns = true)
      case None    => incoming
    }
    lazy val all = if (fusedShape) bucketLayout(all0) else all0
    // one output file per bucket: every branch is partitioned by __bucket
    // into affected.length partitions
    val merged = (fold, requireBaseSeq) match {
      case (Some(reduce), _) =>
        // the reduce's own groupBy(__bucket, groups) rides the layout
        // shuffle when fused; under the skew fallback it plans its own
        // key-granularity exchange and the layout shuffle moves above
        if (fusedShape) reduce(all) else bucketLayout(reduce(all0))
      case (None, Some(_)) =>
        // guarded absolutes replace by key: a broadcast anti-join of the
        // carried state against the (small-by-design: dirty groups)
        // incoming keys replaces the window dedup, which shuffled AND
        // sorted the entire affected-bucket content on every fold refresh
        bucketLayout(current match {
          case None => incoming
          case Some(c) =>
            val inKeys = broadcast(incoming.select(keys.map(col): _*).distinct())
            c.join(inKeys, keys.map(k => c(k) <=> inKeys(k)).reduce(_ && _), "left_anti")
              .unionByName(incoming, allowMissingColumns = true)
        })
      case (None, None) =>
        // fused: the (__bucket +: keys) window is exchange-free on top
        // of the bucket layout (subset partitioning). Skew fallback:
        // window at key granularity first — the sort parallelizes
        // across keys — then the layout shuffle on the survivors.
        if (fusedShape) lastWritePerKey(all, "__bucket" +: keys, seqCol)
        else bucketLayout(lastWritePerKey(all0, keys, seqCol))
    }
    // an unhinted batch writes every affected bucket; a hint may
    // over-approximate, so the written dirs are listed
    (entries, writeStage(spark, base, merged, parquetBloomOptsFor(base, bloomCols),
      bloomCols, statsCols, if (hinted) None else Some(affected)))
  }

  /** The write stage of every rewrite: writes `frame` (one partition per
    * bucket) under a fresh commit root with the writer options `opts`.
    * Bloom sidecars for the `observe` columns build INSIDE the write job
    * ([[observeBlooms]]); with `copyBlooms`, `base`'s sidecars are copied
    * for the written buckets instead ([[copyBloomsInto]]). The stats lines
    * of `statCols` come from one read-back ([[statsLinesFor]]). The written
    * buckets are `buckets` when the caller knows them, else one listing of
    * the root (a bucket whose rows all vanished writes no dir).
    */
  private def writeStage(spark: SparkSession, base: Option[Long], frame: DataFrame,
      opts: Map[String, String], observe: Seq[String], statCols: Seq[String],
      buckets: Option[Array[Int]] = None, copyBlooms: Boolean = false): Written = {
    val commitId = UUID.randomUUID().toString
    val (toWrite, sidecars) = observeBlooms(spark, frame, observe)
    phase(spark, "write")(writeBuckets(toWrite, commitId, opts))
    val written = buckets.getOrElse(
      Dfs.list(new HPath(s"$dir/data/$commitId")).map(_.getPath.getName)
        .collect { case n if n.startsWith("__bucket=") => n.stripPrefix("__bucket=").toInt }
        .toArray.sorted)
    val stats = if (written.isEmpty) Nil
      else phase(spark, "stats")(statsLinesFor(spark, commitId, statCols))
    val blooms = if (copyBlooms) copyBloomsInto(base.get, commitId, written.toSet)
      else phase(spark, "blooms")(sidecars(commitId))
    Written(base, commitId, written, frame.schema, stats, blooms)
  }

  /** The publish stage of every rewrite: the [[graft.engine.CommitLock
    * .retry]] loop around one staged write. An attempt stages the write
    * when none is held (`compute`), builds the manifest body carried from
    * `carryFrom` — the write's base, or the winner it rebased onto — and
    * publishes it at the next version. After a lost publish, `rebase`
    * names a winner to republish the SAME files over (no recompute, no
    * rewrite), or None: the write is dropped and recomputed after the
    * backoff. The one place a staged write is dropped: on that lost
    * publish, and when anything but the publish itself throws (a check in
    * `body`, a failed `rebase`, the last lost race) — nothing was
    * published, so a retrying caller leaks no commit root. Returns the
    * published version and the attempt count.
    */
  private def publishStage(what: String, compute: () => Written,
      rebase: Written => Option[Long] = _ => None)(
      body: (Written, Option[Long], Long) => String): (Long, Int) = {
    var staged: Option[Written] = None
    var carryFrom: Option[Long] = None
    var publishing = false
    // best-effort: the orphan is unreferenced scratch — a transient delete
    // failure must not abort the retry (vacuum collects it)
    def drop(): Unit = {
      staged.foreach(w => Dfs.deleteTreeQuiet(new HPath(s"$dir/data/${w.commitId}")))
      staged = None
    }
    try graft.engine.CommitLock.retry(what, dir, () => rebase(staged.get) match {
      case Some(winner) => carryFrom = Some(winner); true
      case None => drop(); false
    }) { attempts =>
      val w = staged.getOrElse {
        val fresh = compute()
        staged = Some(fresh)
        carryFrom = fresh.base
        fresh
      }
      val version = carryFrom.map(_ + 1L).getOrElse(0L)
      val manifest = body(w, carryFrom, version)
      publishing = true
      val won = publish(version, manifest)
      publishing = false
      if (won) Some((version, attempts)) else None
    } catch {
      case scala.util.control.NonFatal(e) if !publishing => drop(); throw e
    }
  }

  /** Truncate-and-load as ONE fresh commit: the published manifest lists
    * only this load's buckets — prior entries are dropped, not carried
    * forward — so the new version's state and column TYPES come from the
    * batch alone (the type-widening contract: a widening replay must not
    * union with the stored narrow columns, where ANSI union coercion would
    * resolve a string-widened column back to the stored type), while every
    * older version stays time-travel-readable under its own types. Probes
    * and publishes through the same stages and layout guard as [[merge]]
    * (bucket count, keys, order column, cluster spec). A lost race drops
    * the write and rewrites the batch for the next version: the rows carry
    * the target version as their `__gen`, so the files cannot be
    * republished under another one.
    */
  def replaceAll(batch: DataFrame, keys: Seq[String], seqCol: String,
      isDeleteCol: String): Unit = synchronized {
    probeStage(batch, keys, seqCol, isDeleteCol, None) { (incoming0, affected, batchMaxSeq) =>
      require(affected.nonEmpty,
        s"replaceAll with an empty batch would publish an unreadable empty table at $dir")
      require(batchMaxSeq.isDefined,
        s"replaceAll batch carries no orderable $seqCol values — the rebuilt " +
          "table would record no applied head, and a later commitAligned " +
          "would silently pin the superseded pre-replace version")
      publishStage("replaceAll", () => {
        val base = currentVersion
        base.foreach(guardLayout(_, "replaceAll", keys, seqCol))
        val incoming = incoming0.withColumn("__gen", lit(base.map(_ + 1L).getOrElse(0L)))
        writeStage(batch.sparkSession, base,
          lastWritePerKey(incoming, keys, seqCol).repartition(affected.length, col("__bucket")),
          parquetBloomOptsFor(base, bloomCols), bloomCols, statsCols, Some(affected))
      }) { (w, _, version) =>
        manifestBody(version, nBuckets, keys, seqCol, batchMaxSeq,
          schemaJson(w.schema, None), w.base, clusterBy, w.entries, w.stats, w.blooms)
      }
      ()
    }
  }

  /** The current committed state under `mode`. */
  def read(spark: SparkSession, mode: DeleteMode): DataFrame =
    readAt(spark, currentVersion.getOrElse(sys.error(s"no snapshot published at $dir")), mode)

  /** The committed state AS OF `version` — time travel. Fails loudly if the
    * manifest was vacuumed or never existed.
    */
  def readAt(spark: SparkSession, version: Long, mode: DeleteMode): DataFrame = {
    require(Dfs.exists(manifestPath(version)),
      s"snapshot v$version does not exist at $dir (vacuumed or never published)")
    val paths = readManifest(version).toSeq.sortBy(_._1).map { case (_, rel) => s"$dir/$rel" }
    shape(readWithKnownSchema(spark, version, paths), mode)
  }

  /** Bucket-routing column for rows keyed by this handle's layout —
    * bit-identical to the write path's routing ([[bucketOf]]), exposed so
    * a reader joining against a BOUNDED key set can compute which buckets
    * those keys live in and prune its own read to them (the IVM fold
    * regime's stored-view read rides this: ~20 dirty groups → ≤20 bucket
    * files instead of the whole view).
    */
  def bucketRouting(keys: Seq[String]): org.apache.spark.sql.Column = bucketOf(keys)

  /** [[readAt]] restricted to the listed buckets — the manifest turns a
    * dirty-bucket set into a file list, so the scan is |buckets|/nBuckets
    * of the table. Callers own the correctness argument that every row
    * they need routes into `buckets` under [[bucketRouting]].
    */
  def readAtBuckets(spark: SparkSession, version: Long, buckets: Set[Int],
      mode: DeleteMode): DataFrame = {
    require(Dfs.exists(manifestPath(version)),
      s"snapshot v$version does not exist at $dir (vacuumed or never published)")
    val paths = readManifest(version).toSeq.sortBy(_._1)
      .collect { case (b, rel) if buckets(b) => s"$dir/$rel" }
    if (paths.isEmpty) readAt(spark, version, mode).filter(lit(false))
    else shape(readWithKnownSchema(spark, version, paths), mode)
  }

  /** Total bytes of `version`'s manifest-listed bucket entries — the cheap
    * driver-side size proxy cost-based refresh decisions run on (FS
    * metadata only, no data IO, no footer reads). Entries are bucket
    * DIRECTORIES, so this is a content summary per entry, not a flat
    * status (a directory's own status length is ~0 and would undercount
    * the table by 1000×).
    */
  def bytesAt(version: Long): Long =
    readManifest(version).valuesIterator.map { rel =>
      try Dfs.contentSummary(new HPath(s"$dir/$rel"))._2
      catch { case _: java.io.IOException => 0L }
    }.sum

  /** Plan a read of `paths` (files of `version`'s manifest) under the
    * version's RECORDED schema — no mergeSchema footer scan: at scale,
    * schema resolution must be O(1) metadata, not O(files) footer reads
    * (and locally each skipped footer job shaves fixed latency off every
    * readAt/readChangedAt of the merge-heavy lifecycle paths). The recorded
    * schema is the union across commits with per-column type conflicts
    * refused at write time, so an explicit-schema read null-fills
    * evolution-era files exactly like mergeSchema resolved them.
    */
  private def readWithKnownSchema(spark: SparkSession, version: Long,
      paths: Seq[String]): DataFrame =
    spark.read.schema(SnapshotParquetSink.manifestSchema(dir, version)).parquet(paths: _*)

  /** Drops the bookkeeping columns; `is_deleted` is reserved for Logical
    * mode's flag ([[SnapshotParquetSink.foldDeleteFlag]] keeps it out of
    * the files).
    */
  private def shape(t0: DataFrame, mode: DeleteMode): DataFrame = {
    val t = t0.drop("__gen", "__bucket")
    mode match {
      case DeleteMode.Hard    => t.filter(!col("__is_deleted")).drop("__is_deleted")
      case DeleteMode.Logical => t.withColumnRenamed("__is_deleted", "is_deleted")
    }
  }

  /** Version `version`'s bucket files that DIFFER from version `other`'s
    * manifest entry for the same bucket ([[SnapshotParquetSink.changedBuckets]]
    * listed at `version`), in bucket order.
    */
  def changedEntriesAt(version: Long, other: Long): Seq[String] = {
    val entries = readManifest(version)
    SnapshotParquetSink.changedBuckets(dir, version, other).toSeq.sorted
      .flatMap(b => entries.get(b).map(rel => s"$dir/$rel"))
  }

  /** A zero-row frame shaped like `version`'s Hard read, built from the
    * recorded schema (no file listing).
    */
  private[sink] def emptyAt(spark: SparkSession, version: Long): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(SnapshotParquetSink.manifestSchema(dir, version).fields.filterNot(f =>
        f.name == "__gen" || f.name == "__bucket" || f.name == "__is_deleted")))

  /** The keys whose LIVE row (Hard mode) differs between versions `fromV`
    * and `toV`: live at one version only (a presence diff), or live at both
    * under null-safe-unequal `seqCol` — the sink stores each key's winning
    * seq, so a row cannot change without it. The one change rule behind
    * [[changesBetween]] and the IVM refreshes.
    *
    * One row per changed key: the `keys` columns, then per side (`a` =
    * `fromV`, `b` = `toV`) a non-null flag `__a_present` / `__b_present`
    * and the caller's `project` columns evaluated on that side's row, named
    * `__a_<name>` / `__b_<name>` (null where the side is absent).
    *
    * Both sides read only the buckets whose file differs between the two
    * manifests ([[SnapshotParquetSink.changedBuckets]]). The arm is picked
    * from manifests and FS metadata alone:
    *   - SMALL, when those files of both versions total at most
    *     [[SnapshotParquetSink.localDiffMaxBytes]] and the keys and
    *     `seqCol` are
    *     [[SnapshotParquetSink.byteComparable]]: both projected slices are
    *     read in ONE job and diffed on the driver, and the result is a
    *     driver-local frame ([[SnapshotParquetSink.localRows]]) — later
    *     plans over it and merges of batches built from it start no
    *     bookkeeping jobs of their own;
    *   - DISTRIBUTED otherwise: a key-level full outer join of the two
    *     slices, shuffled on the merge keys.
    * At 100 TB a micro commit's changed buckets are GB-sized, so the byte
    * gate keeps the distributed arm there: it is the only arm whose memory
    * does not grow with the slice on the driver.
    */
  private[sink] def keyedDiff(spark: SparkSession, fromV: Long, toV: Long,
      keys: Seq[String], seqCol: String, project: Seq[Column]): DataFrame = {
    val nk = keys.length
    def side(v: Long, other: Long): DataFrame =
      readChangedAt(spark, v, other, DeleteMode.Hard).getOrElse(emptyAt(spark, v))
        .select(keys.map(col) ++ Seq(col(seqCol)) ++ project: _*)
    val a = side(fromV, toV)
    val b = side(toV, fromV)
    val projected = b.schema.fields.drop(nk + 1).toSeq
    require(!projected.exists(_.name == "present"),
      "keyedDiff projections must not be named 'present' (the presence flags)")
    val outSchema = StructType(
      keys.indices.map(i => StructField(keys(i), b.schema(i).dataType)) ++
        Seq("a", "b").flatMap(t =>
          StructField(s"__${t}_present", BooleanType, nullable = false) +:
            projected.map(f => StructField(s"__${t}_${f.name}", f.dataType))))
    val paths = changedEntriesAt(fromV, toV) ++ changedEntriesAt(toV, fromV)
    val limit = SnapshotParquetSink.localDiffMaxBytes
    lazy val bytes = SnapshotParquetSink.inParallel(paths) { p =>
      try Dfs.contentSummary(new HPath(p))._2
      catch { case _: java.io.IOException => 0L }
    }.sum
    def small: Boolean =
      limit >= 0 &&
        a.schema.map(_.dataType) == b.schema.map(_.dataType) &&
        b.schema.fields.take(nk + 1).forall(f => SnapshotParquetSink.byteComparable(f.dataType)) &&
        bytes <= limit
    val dbg = new graft.engine.Dbg("graft.ivm.debug", "[diff]")
    if (paths.isEmpty) SnapshotParquetSink.localFrame(spark, outSchema, Nil)
    else if (small) dbg(s"local ${bytes}B")(localKeyedDiff(spark, a, b, nk, outSchema))
    else dbg("distributed") {
      def named(df: DataFrame, t: String): DataFrame =
        df.toDF((keys.indices.map(i => s"__k$t$i") :+ s"__s$t") ++
            projected.map(f => s"__${t}_${f.name}"): _*)
          .withColumn(s"__${t}_present", lit(true))
      named(a, "a").join(named(b, "b"),
          keys.indices.map(i => col(s"__ka$i") <=> col(s"__kb$i")).reduce(_ && _), "full_outer")
        .filter(col("__a_present").isNull || col("__b_present").isNull ||
          !(col("__sa") <=> col("__sb")))
        .select(keys.indices.map(i => coalesce(col(s"__ka$i"), col(s"__kb$i")).as(keys(i))) ++
          Seq("a", "b").flatMap(t =>
            coalesce(col(s"__${t}_present"), lit(false)).as(s"__${t}_present") +:
              projected.map(f => col(s"__${t}_${f.name}"))): _*)
    }
  }

  /** [[keyedDiff]]'s small arm: both projected slices (keys, seq, then the
    * projections) in one job, diffed on the driver by the bytes of their
    * keys and seq.
    */
  private def localKeyedDiff(spark: SparkSession, a: DataFrame, b: DataFrame,
      nk: Int, outSchema: StructType): DataFrame = {
    val types = b.schema.fields.map(_.dataType)
    val rows = a.withColumn("__side", lit(0)).union(b.withColumn("__side", lit(1)))
      .queryExecution.toRdd.map(_.copy()).collect()
    val keyId = SnapshotParquetSink.rowIdentity((0 until nk).map(i => i -> types(i)))
    val seqId = SnapshotParquetSink.rowIdentity(Seq(nk -> types(nk)))
    val sides = Array.fill(2)(scala.collection.mutable.LinkedHashMap.empty[UnsafeRow, InternalRow])
    rows.foreach(r => sides(r.getInt(types.length)).update(keyId(r), r))
    val Array(at, bt) = sides
    def values(r: Option[InternalRow]): Seq[Any] =
      r.isDefined +: (nk + 1 until types.length).map(i => r.map(_.get(i, types(i))).orNull)
    val out = (at.keysIterator ++ bt.keysIterator.filterNot(at.contains)).flatMap { k =>
      (at.get(k), bt.get(k)) match {
        case (Some(x), Some(y)) if seqId(x) == seqId(y) => None
        case (ra, rb) =>
          val r = rb.orElse(ra).get
          Some(new GenericInternalRow(
            ((0 until nk).map(i => r.get(i, types(i))) ++ values(ra) ++ values(rb)).toArray))
      }
    }.toSeq
    SnapshotParquetSink.localFrame(spark, outSchema, out)
  }

  /** The state at `version` restricted to buckets that differ from `other`
    * (see [[changedEntriesAt]]) — the diff-side read for change feeds and
    * IVM refreshes. None when the versions share every file (no possible
    * change). Schema = the version's RECORDED schema (zero footer IO; the
    * slice carries every table column, with evolution-era files
    * null-filled).
    */
  def readChangedAt(spark: SparkSession, version: Long, other: Long,
      mode: DeleteMode): Option[DataFrame] =
    changedEntriesAt(version, other) match {
      case Nil => None
      case paths =>
        Some(shape(readWithKnownSchema(spark, version, paths), mode))
    }

  /** Point lookup against the LATEST snapshot, reading only the key's
    * bucket file — manifest + hash layout turn a key probe into one
    * 1/nBuckets-of-the-table read. The bucket comes from
    * [[SnapshotParquetSink.routerAt]] (the committed manifest's routing,
    * not this handle's constructor arguments), driver-side, no Spark job
    * for the routing decision. A never-merged sink yields an empty
    * zero-column frame.
    *
    * Contract (shared with the write path): key columns must keep a STABLE
    * type across merges. xxhash64 hashes the same logical value differently
    * per data type, so a retyped key column would scatter one logical key
    * across buckets at WRITE time already — schema evolution is supported
    * for value columns only, never the merge keys.
    */
  def lookup(spark: SparkSession, keys: Seq[String], keyValues: Seq[Any],
      mode: DeleteMode = DeleteMode.Hard): DataFrame = {
    require(keys.length == keyValues.length, "one value per key column")
    currentVersion match {
      case None => spark.emptyDataFrame
      case Some(v) =>
        val bucket = SnapshotParquetSink.routerAt(dir, v)(keys.zip(keyValues).toMap)
          .getOrElse(sys.error(s"lookup on ${keys.mkString(",")} = " +
            s"${keyValues.mkString(",")} does not pin the routing of the table at " +
            s"$dir: give every merge key (every cluster column, as integral values)"))
        val schema = SnapshotParquetSink.manifestSchema(dir, v)
        readManifest(v).get(bucket) match {
          case None => shape(spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema), mode)
          case Some(rel) =>
            val t = readWithKnownSchema(spark, v, Seq(s"$dir/$rel"))
            shape(keys.zip(keyValues).foldLeft(t) { case (df, (k, kv)) => df.filter(col(k) === kv) }, mode)
        }
    }
  }

  /** Change data feed between two committed versions — "what changed since
    * I last read" for downstream consumers (the Delta CDF / Iceberg
    * incremental-read analog), derived from the two snapshots themselves so
    * it works on ANY pair of retained versions, including across
    * compactions: per merge key, `insert` (live in v2 only), `delete`
    * (live in v1, gone or tombstoned in v2), `update` (live in both with a
    * different last-write `seqCol` — the sink stores the winning seq per
    * key, so value-equality never needs column-wise comparison). Output:
    * the key columns, `change`, `seq_from` (null for insert), `seq_to`
    * (null for delete).
    *
    * One [[keyedDiff]] over the two versions' changed buckets, projected to
    * the seq; presence comes from its explicit flags, never from seq
    * nullability (the sink accepts all-null seq, so a key live on both
    * sides with a NULL seq is no insert/delete, and NULL⇄value transitions
    * are updates). A small change is computed on the driver when the frame
    * is built.
    */
  def changesBetween(spark: SparkSession, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetween needs fromVersion < toVersion, got $fromVersion >= $toVersion")
    val keys = SnapshotParquetSink.manifestKeys(dir, toVersion)
    // the RECORDED order column governs (the manifest is the contract a
    // table with an unrelated data column named `seq` relies on)
    val seqCol = SnapshotParquetSink.manifestSeqCol(dir, toVersion)
    val change = when(!col("__a_present"), lit("insert"))
      .when(!col("__b_present"), lit("delete"))
      .otherwise(lit("update"))
    keyedDiff(spark, fromVersion, toVersion, keys, seqCol, Seq(col(seqCol).as("seq")))
      .select(keys.map(col) ++
        Seq(change.as("change"), col("__a_seq").as("seq_from"), col("__b_seq").as("seq_to")): _*)
  }

  /** The whole committed state at `base` — the shared read for
    * whole-table rewrites (compact, rebucket, tombstone purge).
    */
  private def readFullState(spark: SparkSession, base: Long): DataFrame =
    readByRoot(spark, readManifest(base).toSeq.sortBy(_._1),
      SnapshotParquetSink.manifestSchema(dir, base)).get

  /** The commit root (`data/<commit-uuid>`) of a manifest entry. */
  private def rootOf(rel: String): String = rel.substring(0, rel.indexOf("/__bucket="))

  /** `entries`' bucket files grouped per commit root: each root was written
    * with partitionBy("__bucket"), so reading with basePath=root recovers
    * the bucket column; every root reads under the recorded `schema`, so
    * evolution-era files null-fill. None when `entries` is empty.
    */
  private def readByRoot(spark: SparkSession, entries: Seq[(Int, String)],
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] =
    entries.groupBy { case (_, rel) => rootOf(rel) }.toSeq.sortBy(_._1)
      .map { case (root, group) =>
        spark.read.schema(schema).option("basePath", s"$dir/$root")
          .parquet(group.map { case (_, rel) => s"$dir/$rel" }: _*)
      }.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))

  /** Publishes a whole-table maintenance rewrite of the current version
    * (compact, rebucket, purge) through the publish stage: `write(base)`
    * stages it, and `layout(w, base)` gives the new version's bucket count
    * and stats lines. Everything else carries from `base` — maintenance
    * rewrites data files, never the key contract, the order column, the
    * applied head or the cluster spec (this handle's own layout plays no
    * part) — and the schema is derived fresh from the rewrite. A lost race
    * (someone merged concurrently) recomputes from the winner's state.
    * Returns the published version.
    */
  private def maintain(what: String)(write: Long => Written)(
      layout: (Written, Long) => (Int, Seq[String])): Long =
    publishStage(what,
      () => write(currentVersion.getOrElse(sys.error(s"nothing to $what at $dir")))) {
      (w, _, version) =>
        val base = w.base.get
        val (buckets, stats) = layout(w, base)
        manifestBody(version, buckets, SnapshotParquetSink.manifestKeys(dir, base),
          SnapshotParquetSink.manifestSeqCol(dir, base),
          SnapshotParquetSink.manifestMaxSeq(dir, base), schemaJson(w.schema, None),
          w.base, SnapshotParquetSink.manifestCluster(dir, base), w.entries, stats,
          w.blooms)
    }._1

  /** Rewrites the whole current state as ONE fresh commit: every bucket's
    * file moves under a single new root, so after history expires
    * (`vacuum`) the table holds exactly nBuckets files regardless of how
    * many incremental commits built it — the periodic maintenance step of
    * any log-structured table format (small-file and manifest-spread
    * control). Returns the published version.
    */
  def compact(spark: SparkSession): Long = synchronized {
    maintain("compact") { base =>
      val entries = readManifest(base)
      // per-bucket content is preserved exactly, so stats ranges carry
      // verbatim and so do the bloom sidecars (files copied under the new
      // root — the same-root-as-entry invariant vacuum reachability relies
      // on). EXCEPT when this handle declares bloomCols: then compaction is
      // also the index BACKFILL path — the write observes fresh filters for
      // every bucket, which is how a table bulk-loaded without blooms (the
      // fast initial load) gains them afterwards in one maintenance pass.
      // The rewrite keeps the parquet-native row-group blooms where the
      // base manifest evidences saturated buckets (parquetBloomOptsFor).
      writeStage(spark, Some(base),
        readFullState(spark, base).repartition(entries.size, col("__bucket")),
        parquetBloomOptsFor(Some(base), effectiveBloomCols(base)), bloomCols, Nil,
        Some(entries.keys.toArray), copyBlooms = bloomCols.isEmpty)
    } { (_, base) => (SnapshotParquetSink.manifest(dir, base)._1, carriedStats(base, _ => true)) }
  }

  /** Re-buckets the whole table to `newBuckets` as ONE fresh commit — the
    * PARTITION-COUNT EVOLUTION a hash/Z layout eventually needs: a table
    * sized at 16 buckets at launch drowns under 100× growth (GB-scale
    * bucket files make every touched-bucket rewrite GB-scale too), and a
    * shrunk table wastes opens on near-empty files. Content is preserved
    * exactly; every key re-routes under the new count (same hash / Z
    * formula, new selector width), stats are RECOMPUTED for the columns
    * the base manifest recorded (carried ranges describe the OLD bucket
    * partition — wrong for the new one), and the cluster spec carries
    * (bounds are value-space, independent of bucket count). Older versions
    * stay time-travel-readable under their own recorded nBuckets — which
    * is why readers resolve nBuckets per manifest, never from a handle.
    * Writer handles constructed with the old count refuse on their next
    * merge (the nBuckets guard) — construct new ones. Returns the
    * published version.
    */
  def rebucket(spark: SparkSession, newBuckets: Int): Long = synchronized {
    require(newBuckets > 0, "newBuckets must be positive")
    requireClusterable(newBuckets)
    maintain("rebucket") { base =>
      requireClusterMatch(base)
      val full = readFullState(spark, base).drop("__bucket").withColumn("__bucket",
        bucketExpr(SnapshotParquetSink.manifestKeys(dir, base), newBuckets))
      // bloom sidecars must be RECOMPUTED (values re-partition across the
      // new bucket set — carried filters would describe the old partition)
      val effBloomCols = effectiveBloomCols(base)
      // native blooms for the rewrite are decided by the NEW geometry, not
      // the prior manifest: rebucket re-partitions values, so prior
      // saturation evidence describes buckets that no longer exist (a
      // shrink can saturate every new bucket of a previously all-healthy
      // table, which would otherwise ship sidecar-less AND native-less).
      // A bucket whose ROW count stays ≤ MaxDistinct cannot saturate any
      // column's sidecar (distinct ≤ rows) — one column-pruned count job
      // over the re-routed state decides, exact in the skip direction and
      // conservatively over-triggering only on heavily duplicated columns.
      val nativeOpts = nativeBloomOpts(effBloomCols,
        Option(full.groupBy(col("__bucket")).count().agg(max("count")).head().get(0))
          .exists(_.asInstanceOf[Long] > BloomIndex.MaxDistinct))
      // stats recomputed for whatever the base declared (this maintenance
      // handle may not declare statsCols; the table's skipping metadata
      // must survive regardless)
      writeStage(spark, Some(base), full.repartition(newBuckets, col("__bucket")),
        nativeOpts, effBloomCols,
        if (statsCols.nonEmpty) statsCols else SnapshotParquetSink.declaredStatsCols(dir, base))
    } { (w, _) => (newBuckets, w.stats) }
  }

  /** Drops tombstones whose delete event is at or below `horizonSeq`, as
    * ONE fresh commit — the delete-retention compaction every
    * infinite-retention upsert store eventually needs (Kafka log
    * compaction's `delete.retention.ms` analog): tombstones exist to beat
    * replayed/out-of-order pre-delete events by seq, so one is safely
    * droppable exactly when no event with a smaller seq can still arrive —
    * `horizonSeq` is that replay horizon (a committed checkpoint offset, a
    * source retention bound). Purging above the horizon would let a
    * replayed stale update resurrect a deleted row; this keeps those.
    * Live rows are untouched. Returns the published version.
    *
    * Stats/keys handling mirrors [[compact]], except stats are RECOMPUTED
    * (content shrank; carried ranges would stay conservative-safe but
    * recomputing keeps pruning tight).
    */
  def purgeTombstones(spark: SparkSession, horizonSeq: Long): Long = synchronized {
    maintain("purge") { base =>
      // the recorded order column governs the horizon comparison.
      // coalesce(true): a NULL-seq tombstone makes the predicate NULL and a
      // plain filter would DROP it regardless of horizon — unknown seq
      // must conservatively survive the purge
      val seqCol = SnapshotParquetSink.manifestSeqCol(dir, base)
      val purged = readFullState(spark, base).filter(
        coalesce(!(col("__is_deleted") && col(seqCol) <= horizonSeq), lit(true)))
      // a bucket whose every row was a purged tombstone writes no dir — the
      // stage lists what landed; bloom sidecars COPY for surviving buckets
      // (content only shrank, so the existing filters stay safe
      // over-approximations of what remains)
      writeStage(spark, Some(base),
        purged.repartition(readManifest(base).size, col("__bucket")),
        parquetBloomOptsFor(Some(base), effectiveBloomCols(base)), Nil, statsCols,
        copyBlooms = true)
    } { (w, base) =>
      // the whole table was horizon-old tombstones: publishing a
      // zero-entry manifest would leave an UNREADABLE head (the
      // replaceAll guard's condition) — refuse; drop the table instead
      if (w.buckets.isEmpty)
        sys.error(s"purge at $dir would empty the table entirely " +
          "(every row is a horizon-old tombstone) — delete the table " +
          "instead of publishing an unreadable empty version")
      // stats: recomputed when this handle records them; otherwise the
      // base's lines CARRY for surviving buckets — purge only removes rows,
      // so prior ranges stay valid over-approximations, and a maintenance
      // handle constructed without statsCols must not silently strip the
      // table's data-skipping metadata
      (SnapshotParquetSink.manifest(dir, base)._1,
        if (statsCols.nonEmpty) w.stats else carriedStats(base, w.buckets.toSet))
    }
  }

  /** Version history as a DataFrame — the DESCRIBE HISTORY analog, read
    * from manifests alone (one small-file read per retained version, never
    * a data scan): version, publish time, bucket count, live entry count,
    * applied-head seq, merge keys, cluster spec, and how many bucket
    * entries each commit actually REWROTE vs carried forward (rewritten ≈
    * the commit's write amplification; a long run of 1-entry commits is
    * the signal to compact).
    */
  def history(spark: SparkSession): DataFrame = {
    // one listing for versions and publish times, one parse per manifest;
    // each version diffs against its predecessor's already-parsed entries
    val parsed = SnapshotParquetSink.versionTimes(dir).map { case (v, published) =>
      val lines = SnapshotParquetSink.manifestLines(dir, v)
      (v, published, lines, SnapshotParquetSink.manifestOf(dir, v, lines))
    }
    val prevEntries = Map.empty[Int, String] +: parsed.map(_._4._2)
    val rows = parsed.zip(prevEntries).map {
      case ((v, published, lines, (n, entries)), before) =>
        val rewritten = entries.count { case (b, rel) => before.get(b) != Some(rel) }
        val cluster = SnapshotParquetSink.clusterOf(lines)
          .map(c => s"${c.name}[${c.lo},${c.hi}]").mkString(",")
        org.apache.spark.sql.Row(
          v,
          new java.sql.Timestamp(published),
          n,
          entries.size,
          rewritten,
          SnapshotParquetSink.maxSeqOf(lines).map(Long.box).orNull,
          SnapshotParquetSink.keysOf(dir, v, lines).mkString(","),
          cluster)
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("published", TimestampType, nullable = false),
        StructField("n_buckets", IntegerType, nullable = false),
        StructField("entries", IntegerType, nullable = false),
        StructField("rewritten", IntegerType, nullable = false),
        StructField("maxseq", LongType, nullable = true),
        StructField("keys", StringType, nullable = false),
        StructField("cluster", StringType, nullable = false))))
  }

  /** Versions the last vacuum WANTED to drop but withheld under the
    * manifest age floor — lets operators distinguish "nothing to drop"
    * from "too young to drop" ((0, 0) from [[vacuum]] is ambiguous).
    */
  @volatile var lastVacuumWithheld: Int = 0

  /** Expires history: keeps the newest `keepLast` manifests, deletes older
    * ones plus every data directory no kept manifest references. Unreferenced
    * roots are deleted only when older than `minOrphanAgeMs` — an
    * unreferenced NEW directory may be another writer's in-flight commit
    * (fully written, manifest not yet published); deleting it would corrupt
    * the commit the moment it publishes. The default hour dwarfs any real
    * write-to-publish window; crashed-commit orphans (data roots AND
    * `.tmp-*` manifest leftovers) are collected on the next vacuum after
    * aging out. Returns (manifests deleted, data roots deleted).
    */
  def vacuum(keepLast: Int = 1, minOrphanAgeMs: Long = 3600000L): (Int, Int) = synchronized {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val vs = versions
    vacuumDropping(vs.dropRight(keepLast).toSet, minOrphanAgeMs)
  }

  /** Pin-aware vacuum: keeps `pinned` versions (the ones catalog history
    * still references — [[SnapshotCatalog.retainedVersions]] feeds this
    * directly) PLUS the current version, drops everything else. The
    * catalog/table vacuum handshake: expire catalog history first, then
    * vacuum each member with its retained set.
    */
  def vacuumKeeping(pinned: Set[Long],
      minOrphanAgeMs: Long = 3600000L): (Int, Int) = synchronized {
    val vs = versions
    val keep = pinned ++ currentVersion
    val missing = pinned.diff(vs.toSet)
    require(missing.isEmpty,
      s"cannot pin absent versions ${missing.toSeq.sorted.mkString(",")} at $dir")
    vacuumDropping(vs.toSet.diff(keep), minOrphanAgeMs)
  }

  private def vacuumDropping(dropSet: Set[Long], minOrphanAgeMs: Long): (Int, Int) = {
    val vs = versions
    val nowForFloor = System.currentTimeMillis()
    // MANIFEST AGE FLOOR (same window as the data-root orphan guard): a
    // version younger than `minOrphanAgeMs` is never dropped even when the
    // caller's keep-set excludes it — it may be a concurrent writer's
    // commit, pinned by a catalog cut published AFTER the caller listed
    // pins (the vacuumAll expire → per-table TOCTOU seam). The hour that
    // protects in-flight data roots protects fresh history for the same
    // reason; a version missing from the re-listing is likewise left alone.
    val manifestAge: Map[Long, Long] = SnapshotParquetSink.versionTimes(dir).toMap
    val drop = vs.filter(dropSet).filter(v =>
      manifestAge.get(v).exists(m => nowForFloor - m >= minOrphanAgeMs))
    // the floor intervening is a DIFFERENT outcome than "nothing to drop"
    // (an explicit vacuum(keepLast=1) on a young table reclaims nothing
    // and should say why) — recorded for callers/SQL faces to surface
    lastVacuumWithheld = vs.count(dropSet) - drop.size
    val keep = vs.filterNot(drop.toSet)
    val referencedRoots = keep.flatMap(v => readManifest(v).values)
      .map(rootOf).toSet
    val dataDir = new HPath(dir, "data")
    val now = System.currentTimeMillis()
    val orphans = Dfs.list(dataDir)
      .filterNot(st => referencedRoots.contains(s"data/${st.getPath.getName}"))
      .filter(st => now - st.getModificationTime >= minOrphanAgeMs)
    orphans.foreach(st => Dfs.deleteTreeStrict(st.getPath))
    // strict: the RETURN VALUE reports these as expired
    drop.foreach { v =>
      Dfs.deleteStrict(manifestPath(v))
      graft.engine.CommitLock.evictPublished(manifestPath(v))
    }
    // aged-out temp manifests from crashed commits (lost races clean their
    // own temp synchronously; a crash between write and publish does not)
    graft.engine.CommitLock.sweepStaged(manifestsDir, minOrphanAgeMs)
    (drop.size, orphans.size)
  }
}
