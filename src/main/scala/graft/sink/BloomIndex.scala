package graft.sink

import org.apache.hadoop.fs.{Path => HPath}
import graft.engine.Dfs

/** Per-bucket bloom-filter SIDECARS for equality file-skipping on NON-KEY
  * columns — the data-skipping dimension manifest min/max stats cannot
  * cover: on a hash-bucketed table a secondary identifier (an `ext_id`, a
  * URL, a document hash) scatters value-uniformly across buckets, so every
  * bucket's [min, max] spans the whole domain and range stats prune
  * nothing. A bloom over the column's xxhash64 values answers "is value v
  * POSSIBLY in bucket b" — `WHERE ext_id = 'X'` then plans only the
  * buckets whose bloom admits X (one or two of n, false positives
  * permitting), the Delta/Iceberg bloom-index idea adapted to the
  * manifest-committed bucket layout.
  *
  * Placement: blooms live as small binary files under the COMMIT's data
  * root (`data/<commit>/__bloom/<col>/<bucket>.bf`), referenced from the
  * manifest by `f <bucket> <col> <relative-path>` lines. The manifest
  * stays metadata-sized; sidecars are loaded lazily — only when a query
  * actually pushes an equality on a bloom column — and cached process-wide
  * (a sidecar's content is immutable: it lives inside an immutable commit
  * root). An `f` line always references the SAME commit root as its
  * bucket's `b` entry, so vacuum's root-reachability (derived from entries)
  * covers sidecars with no extra bookkeeping.
  *
  * Honest sizing: m = [[BitsPerKey]] × the bucket's distinct count
  * rounded up to a power of two (clamped to [[MinBits]]..[[MaxBits]]),
  * k = [[K]] probes — ≈0.1% false positives at full load. The distinct
  * count is ESTIMATED from the full-size filter's own fill (the standard
  * bloom inversion n̂ = −(m/k)·ln(1−X/m)) so the build is one pass; the
  * BITS are exact regardless — a power-of-two filter folds down without
  * re-hashing, so estimation error can only nudge m (FP rate), never
  * drop an inserted value. A bucket whose estimate exceeds
  * [[MaxDistinct]] records NO sidecar (a saturated bloom admits
  * everything — writing it would cost IO to prune nothing): absence means
  * "unknown, cannot prune", never a wrong skip. At 100 TB the very large
  * buckets therefore fall back to the parquet-NATIVE bloom filters the
  * sink also writes for bloom columns (`parquet.bloom.filter.enabled#col`),
  * which skip at row-group granularity inside the files this layer could
  * not drop. The native layer is EVIDENCE-GATED per commit — written only
  * once the prior manifest shows a saturated (sidecar-less) bloom bucket;
  * see `SnapshotParquetSink.parquetBloomOptsFor` for the measurement.
  *
  * Hash contract: positions derive from `xxhash64(col)` (seed 42 — the
  * same function the bucket routing uses), with the query-side literal
  * CAST to the stored column type first, mirroring
  * [[SnapshotParquetSink.bucketFor]]'s bit-identity contract.
  */
object BloomIndex {

  /** Probes per value. */
  val K = 6

  /** Target bits per distinct value (16 ⇒ ≈0.09% FP with k=6). */
  val BitsPerKey = 16

  val MinBits: Int = 1 << 10

  /** 2^20 bits = 128 KiB per sidecar — the metadata-read ceiling. */
  val MaxBits: Int = 1 << 20

  /** Above this per-bucket distinct count, no sidecar is written: MaxBits
    * would hold it at under 16 bits/key and saturate toward uselessness.
    */
  val MaxDistinct: Long = MaxBits.toLong / BitsPerKey

  /** m for a bucket with `distinct` values; None = too big, skip. */
  def sizeFor(distinct: Long): Option[Int] =
    if (distinct > MaxDistinct) None
    else {
      val want = math.max(MinBits.toLong, distinct * BitsPerKey)
      Some(java.lang.Long.highestOneBit(want * 2 - 1).toInt.max(MinBits).min(MaxBits))
    }

  /** Probe position i for 64-bit hash `h` in an m-bit filter — classic
    * double hashing over the two 31-bit halves. MUST stay bit-identical to
    * the write side's inlined copy in
    * [[graft.functions.BloomWordsAgg.Ent.add]]: h1 = h & 0x7fffffff,
    * h2 = (h >>> 32) | 1 masked to 31 bits, p_i = (h1 + i·h2) mod m.
    * All operands stay well under 2^34, so the sum never overflows a Long.
    */
  def position(h: Long, i: Int, m: Int): Int = {
    val h1 = h & 0x7fffffffL
    val h2 = ((h >>> 32) | 1L) & 0x7fffffffL
    // m is always a power of two (sizeFor/MaxBits): the mask is exactly
    // the nonneg %, and this runs K times per written row in the fused
    // sidecar build — keep it off the integer-division unit
    ((h1 + i.toLong * h2) & (m - 1)).toInt
  }

  final case class Bloom(m: Int, words: Array[Long]) {
    def mightContain(h: Long): Boolean = {
      var i = 0
      while (i < K) {
        val p = position(h, i, m)
        if ((words(p >>> 6) & (1L << (p & 63))) == 0L) return false
        i += 1
      }
      true
    }
  }

  private val Magic = 0x47424631 // "GBF1"

  /** Serialize: magic, m, k, then m/64 big-endian longs. */
  def encode(m: Int, words: Array[Long]): Array[Byte] = {
    require(words.length == m / 64, s"bloom words ${words.length} != m/64 (${m / 64})")
    val buf = java.nio.ByteBuffer.allocate(12 + words.length * 8)
    buf.putInt(Magic).putInt(m).putInt(K)
    words.foreach(buf.putLong)
    buf.array()
  }

  def decode(bytes: Array[Byte]): Bloom = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    require(buf.getInt() == Magic, "not a graft bloom sidecar (bad magic)")
    val m = buf.getInt()
    val k = buf.getInt()
    require(k == K, s"bloom sidecar written with k=$k, this build probes K=$K")
    val words = Array.fill(m / 64)(buf.getLong())
    Bloom(m, words)
  }

  // Sidecar content is immutable (lives inside an immutable commit root),
  // so a loaded filter never invalidates — bounded LRU keyed by full path.
  private val MaxCached = 512
  private val cache =
    new java.util.LinkedHashMap[String, Bloom](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Bloom]): Boolean = size() > MaxCached
    }

  /** Load (and cache) the sidecar at `path`; None if absent — a reader
    * racing a vacuum of an already-superseded version treats the lost
    * sidecar as "cannot prune", never as an error.
    */
  def load(path: HPath): Option[Bloom] = {
    val key = path.toString
    cache.synchronized(Option(cache.get(key))) match {
      case some @ Some(_) => some
      case None =>
        if (!Dfs.exists(path)) None
        else {
          // exists→read is not atomic: a vacuum deleting a superseded commit
          // root between the two calls must degrade to "cannot prune" like
          // the exists-false path, never throw out of the query
          try {
            val b = decode(Dfs.readBytes(path))
            cache.synchronized(cache.put(key, b))
            Some(b)
          } catch { case _: java.io.FileNotFoundException => None }
        }
    }
  }
}
