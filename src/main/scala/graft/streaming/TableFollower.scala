package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{CommitLock, Dfs}
import graft.sink.{DeleteMode, SnapshotParquetSink}

/** Incremental TABLE-TO-TABLE pipeline: follow an upstream snapshot table's
  * commit log and keep a downstream snapshot table equal to
  * `transform(upstream state)` — the bronze→silver chaining a multi-hop
  * deployment needs without a message bus between hops (the Delta
  * streaming-source idea expressed over the manifest log). Each [[catchUp]]
  * reads only the buckets whose FILES changed since the last applied
  * upstream version ([[SnapshotParquetSink.readChangedAt]]), applies the
  * transform, and merges — cost O(changed fraction), never O(table).
  *
  * Exactly-once by idempotence (the CdcStream contract): the downstream
  * merge is last-write-wins keyed replay, so re-applying a slice after a
  * crash between merge and checkpoint converges bit-identically; the
  * applied-version checkpoint is a monotone set of marker files published
  * through the commit-lock seam.
  *
  * Transform contract: ROW-WISE on the value columns — it must pass the
  * merge keys, `seqCol` and the logical-delete flag `is_deleted` through
  * unchanged, and must not drop rows (to filter, set `is_deleted` instead:
  * a dropped row would leave the downstream copy stale forever, while a
  * tombstoned one deletes it). Aggregations/joins belong to
  * [[graft.sink.MaterializedAgg]]/[[graft.sink.MaterializedJoin]] — this
  * operator is the per-row enrichment hop.
  *
  * Retention handshake: if the upstream vacuumed past the last applied
  * version, [[catchUp]] SELF-HEALS with one full-state resync (upstream
  * tombstones are rows, so deletes still forward) — but an upstream
  * `purgeTombstones` horizon must not outrun lagging followers, exactly
  * like it must not outrun its own seq-replay horizon.
  */
final class TableFollower(upstreamDir: String,
    downstream: SnapshotParquetSink, name: String) {

  require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
    s"follower name '$name' must be [A-Za-z0-9_-]+ (it becomes a directory name)")

  private def markerDir: HPath =
    new HPath(downstream.dir, s"_follower/$name")

  /** The highest upstream version this follower has fully applied. */
  def appliedVersion: Option[Long] = {
    Dfs.list(markerDir).map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".applied") =>
        s.stripPrefix("v").stripSuffix(".applied").toLong }
      .maxOption
  }

  private def publishMarker(v: Long): Unit = {
    // losing means another follower instance applied the same version —
    // the merge below it was idempotent replay, nothing to repair
    CommitLock.publishFile(new HPath(markerDir, f"v$v%08d.applied"), s"applied=$v\n")
    // keep the checkpoint bounded: only the max matters
    Dfs.list(markerDir)
      .filter(st => st.getPath.getName.startsWith("v") &&
        st.getPath.getName.endsWith(".applied"))
      .map(st => st.getPath)
      .sortBy(_.getName).dropRight(2)
      .foreach(p => Dfs.delete(p))
  }

  /** Apply everything committed upstream since the last catch-up: ONE
    * downstream merge over the changed slice (or the full state on first
    * run / vacuum self-heal), then advance the checkpoint. Returns the
    * newly applied upstream version, or None when already current.
    */
  def catchUp(spark: SparkSession, keys: Seq[String], seqCol: String = "seq")(
      transform: DataFrame => DataFrame): Option[Long] = synchronized {
    val upstream = SnapshotParquetSink.forTable(upstreamDir)
    val latest = upstream.currentVersion.getOrElse(
      sys.error(s"no committed version at $upstreamDir to follow"))
    val applied = appliedVersion
    if (applied.contains(latest)) return None
    TableFollower.sliceFor(spark, upstream, name, applied, latest)
      .foreach { case (df, hint) => applySlice(df, keys, seqCol, transform, hint) }
    publishMarker(latest)
    Some(latest)
  }

  private[streaming] def applySlice(df: DataFrame, keys: Seq[String],
      seqCol: String, transform: DataFrame => DataFrame,
      hint: Option[TableFollower.SliceHint] = None): Unit = {
    val out = transform(df)
    keys.foreach(k => require(out.columns.contains(k),
      s"transform dropped merge key '$k' — keys must pass through"))
    require(out.columns.contains(seqCol),
      s"transform dropped seq column '$seqCol' — it must pass through")
    require(out.columns.contains("is_deleted"),
      "transform dropped 'is_deleted' — tombstones must pass through " +
        "(filter by SETTING it, not by dropping rows)")
    // the upstream-derived probe hint transfers to the downstream merge
    // only when the two tables share the bucket routing function: hash
    // routing (no Z-order spec) on the SAME key columns in the same order,
    // the same bucket count, and key types the transform left untouched
    // (xxhash64 hashes the same logical value differently per type). Then
    // every slice row lands downstream in the bucket it occupied upstream,
    // so the upstream manifest's changed-bucket set IS the batch's
    // affected set and the merge skips its probe scan — the steady-state
    // follower commit drops to one data action plus manifest FS.
    val usable = hint.filter { h =>
      downstream.isHashRouted &&
        h.upNBuckets == downstream.bucketCount &&
        h.upKeys == keys &&
        keys.forall(k => out.schema(k).dataType == df.schema(k).dataType)
    }
    usable match {
      case Some(h) =>
        try downstream.mergeHinted(out, keys, seqCol, "is_deleted",
          h.buckets, Some(h.maxSeq))
        catch {
          case _: SnapshotParquetSink.ProbeHintMismatch =>
            // the staged write is already deleted and nothing was
            // published, so unhinted replay is plain idempotent LWW
            downstream.merge(out, keys, seqCol, "is_deleted")
        }
      case None => downstream.merge(out, keys, seqCol, "is_deleted")
    }
  }

  private[streaming] def markerFor(v: Long): Unit = publishMarker(v)
}

object TableFollower {

  /** One downstream hop of a [[fanOut]]: its own table, checkpoint name,
    * merge keys and row-wise transform (the [[TableFollower]] contract).
    */
  final case class Hop(downstream: SnapshotParquetSink, name: String,
      keys: Seq[String], transform: DataFrame => DataFrame,
      seqCol: String = "seq")

  /** Upstream-manifest metadata a hop MAY convert into a downstream probe
    * hint ([[SnapshotParquetSink.mergeHinted]]): the slice's bucket set
    * under the UPSTREAM routing, the upstream applied head, and the layout
    * facts ([[applySlice]] gates on them per hop) that decide whether that
    * routing transfers. Only built when the upstream is hash-routed and
    * records a head — a clustered upstream routes by
    * Z-order, which key-hash downstream merges cannot reproduce.
    */
  private[streaming] final case class SliceHint(buckets: Array[Int],
      maxSeq: Long, upNBuckets: Int, upKeys: Seq[String])

  /** The slice a follower at `applied` must merge to reach `latest`:
    * changed buckets only on the incremental path, the full state on first
    * run / vacuum self-heal, None when the manifests share
    * every file (advance the marker, nothing to merge). The second element
    * is the metadata-derived probe hint for that slice, when derivable.
    */
  private[streaming] def sliceFor(spark: SparkSession,
      upstream: SnapshotParquetSink, name: String,
      applied: Option[Long], latest: Long): Option[(DataFrame, Option[SliceHint])] = {
    applied.foreach(a => require(a <= latest,
      s"follower '$name' applied v$a but upstream head is v$latest — the " +
        "upstream table was rebuilt under the same path; delete the " +
        "follower checkpoint to restart from scratch"))
    val (upN, upEntries) = SnapshotParquetSink.manifest(upstream.dir, latest)
    val upClustered =
      SnapshotParquetSink.manifestCluster(upstream.dir, latest).nonEmpty
    val upKeys = SnapshotParquetSink.manifestKeys(upstream.dir, latest)
    val upMax = SnapshotParquetSink.manifestMaxSeq(upstream.dir, latest)
    def hintOver(buckets: Iterable[Int]): Option[SliceHint] =
      if (upClustered || upMax.isEmpty || buckets.isEmpty) None
      else Some(SliceHint(buckets.toArray.sorted, upMax.get, upN, upKeys))
    // the full state routes to exactly the buckets the manifest records
    def full: (DataFrame, Option[SliceHint]) =
      (upstream.readAt(spark, latest, DeleteMode.Logical),
        hintOver(upEntries.keySet))
    val retained = upstream.versions.toSet
    applied match {
      case Some(prev) if retained.contains(prev) =>
        upstream.readChangedAt(spark, latest, prev, DeleteMode.Logical) match {
          case None => None // manifests share every file — nothing to apply
          case Some(changed) =>
            // the slice carries every column (recorded-schema read). Hint:
            // the changed buckets listed at `latest` — the slice holds
            // every row of exactly these
            Some((changed, hintOver(SnapshotParquetSink.changedBuckets(
              upstream.dir, latest, prev).filter(upEntries.contains))))
        }
      case Some(_) => // diff base vacuumed: one full resync, then incremental
        Some(full)
      case None => // first run: full initial load
        Some(full)
    }
  }

  /** FAN-OUT catch-up: one upstream serving N downstream hops — the
    * one-bronze-many-silvers shape. Hops standing at the SAME applied
    * version share ONE slice, computed once and persisted across their
    * transforms and merges (N hops pay one upstream read instead of N);
    * hops at different versions (a newly added hop's initial full load, a
    * straggler's self-heal) group separately and get the slice their
    * position requires. Each hop checkpoints independently, so a crash
    * between two hops' merges replays idempotently per hop — exactly the
    * single-hop contract, N times. Returns hop name → newly applied
    * version (None = that hop was already current).
    */
  def fanOut(spark: SparkSession, upstreamDir: String,
      hops: Seq[Hop]): Map[String, Option[Long]] = {
    require(hops.nonEmpty, "fanOut needs at least one hop")
    require(hops.map(_.name).distinct.size == hops.size,
      "fanOut hop names must be distinct (each is a checkpoint identity)")
    val upstream = SnapshotParquetSink.forTable(upstreamDir)
    val latest = upstream.currentVersion.getOrElse(
      sys.error(s"no committed version at $upstreamDir to follow"))
    val withFollowers = hops.map(h =>
      (h, new TableFollower(upstreamDir, h.downstream, h.name)))
    val results = scala.collection.mutable.Map.empty[String, Option[Long]]
    withFollowers.groupBy { case (_, f) => f.appliedVersion }.foreach {
      case (applied, group) =>
        if (applied.contains(latest)) {
          group.foreach { case (h, _) => results(h.name) = None }
        } else {
          val slice = sliceFor(spark, upstream,
            group.map(_._1.name).mkString("+"), applied, latest)
          slice match {
            case None =>
              group.foreach { case (h, f) =>
                f.markerFor(latest); results(h.name) = Some(latest) }
            case Some((df0, hint)) =>
              val df = df0.persist(
                org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              try group.foreach { case (h, f) =>
                f.applySlice(df, h.keys, h.seqCol, h.transform, hint)
                f.markerFor(latest)
                results(h.name) = Some(latest)
              } finally {
                df.unpersist()
                ()
              }
          }
        }
    }
    results.toMap
  }
}
