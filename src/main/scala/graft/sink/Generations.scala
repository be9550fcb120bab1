package graft.sink

import org.apache.hadoop.fs.{Path => HPath}
import graft.engine.Dfs

/** Shared generation machinery for the batch-partial store family
  * (vector index, text index, HLL sketches, heavy hitters): maintenance
  * rewrites (compaction, reclustering) build a complete NEW state under a
  * not-yet-live `gen=<g+1>/` prefix and flip readers with ONE manifest
  * publish through the commit-lock seam — no rename swap, no reader
  * window, partials invisible until the flip. Generation 0 is each
  * store's original flat layout, so pre-generation stores read unchanged.
  *
  * Fold watermarks (round 10) lift the append side of the single-writer
  * contract for the COMPACTION stores: a compaction publishes its
  * manifest with `watermark=W` = the largest batch id folded into the
  * merged partials. Under the store family's append contract — batch ids
  * are strictly increasing across appends (streaming epochs are; dated
  * batch ids are) and a replayed id rewrites identical content — the
  * watermark makes appends safe CONCURRENT with compaction:
  *
  *   - an append that committed into the superseded generation after the
  *     compaction snapshotted its input has `id > W` (it wasn't committed
  *     at snapshot time, and ids only grow), so [[visibleBatches]] keeps
  *     serving it from the old generation after the flip — the batch that
  *     previously "vanished from the new generation" is exactly this one;
  *   - a replay of an already-folded id (`id <= W`) that lands AFTER the
  *     flip must not re-add rows the merge already contains — the stores
  *     turn that append into a no-op;
  *   - an id that landed twice (pre-flip into the old generation AND as a
  *     post-flip replay into the new) is read ONCE — highest generation
  *     wins.
  *
  * The vector index participates with recluster-migration watermarks:
  * the re-homed ids are "folded", and a straggler's stale cell layout is
  * re-derived under the live centroids at read time
  * ([[VectorIndexStore.search]]). A manifest WITHOUT a watermark line
  * (any pre-watermark manifest) keeps the legacy semantics: the live
  * generation's dirs are the whole store, and the straggler walk stops —
  * everything below such a manifest is fully folded by construction.
  */
private[graft] object Generations {

  /** The generation readers and appenders of `dir` currently bind to. */
  def liveGen(dir: String): Long =
    manifestGens(dir).lastOption.getOrElse(0L)

  private def manifestGens(dir: String): Seq[Long] =
    Dfs.list(new HPath(s"$dir/gens"))
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toLong }
      .sorted

  /** Generation `g`'s fold watermark: Some(w) ⇒ every batch with id <= w
    * is folded into its merged partials; None ⇒ legacy fold-everything
    * semantics (gen 0 has no manifest and always reads None).
    */
  def genWatermark(dir: String, g: Long): Option[Long] =
    manifestLine(dir, g, "watermark=")

  /** Generation `g`'s straggler floor: Some(f) ⇒ no generation BELOW f can
    * hold an unfolded batch — the maintenance that published `g` folded (or
    * retention-dropped under the watermark) every id visible below f, so a
    * straggler can only live in [f, g). The reader walk stops there, which
    * is what keeps reads O(1) manifest/listing probes after years of
    * compactions instead of O(total flips). None (pre-floor manifests) ⇒
    * unbounded legacy walk.
    */
  def genFloor(dir: String, g: Long): Option[Long] =
    manifestLine(dir, g, "floor=")

  private def manifestLine(dir: String, g: Long, key: String): Option[Long] =
    if (g == 0L) None
    else {
      val p = new HPath(s"$dir/gens", f"v$g%08d.manifest")
      if (!Dfs.exists(p)) None
      else Dfs.readUtf8(p).split('\n')
        .find(_.startsWith(key))
        .map(_.stripPrefix(key).trim.toLong)
    }

  /** (live generation, its fold watermark) in one resolution. */
  def liveGenInfo(dir: String): (Long, Option[Long]) = {
    val g = liveGen(dir)
    (g, genWatermark(dir, g))
  }

  /** Clears a crashed prior attempt at generation `ng` (invisible garbage
    * — it never published).
    */
  def clearPartial(dir: String, ng: Long): Unit =
    Dfs.deleteTreeQuiet(new HPath(s"$dir/gen=$ng"))

  /** The atomic flip: publish generation `ng`'s manifest, carrying the
    * fold watermark when the rewrite has one (compactions do; recluster
    * migrations re-home every id and publish without) and the straggler
    * floor ([[genFloor]] — the lowest generation that can still hold an
    * unfolded batch; maintenance passes the generation that was live while
    * it ran, lower only when it left known-unfolded ids deeper down).
    * Errors on a lost race — maintenance is single-writer per store; a
    * concurrent maintainer's result should be re-examined, not
    * overwritten.
    */
  def publish(dir: String, ng: Long, what: String,
      watermark: Option[Long] = None, floor: Option[Long] = None): Unit = {
    val body = s"gen=$ng\n" + watermark.map(w => s"watermark=$w\n").getOrElse("") +
      floor.map(f => s"floor=$f\n").getOrElse("")
    if (!graft.engine.CommitLock.publishFile(
        new HPath(s"$dir/gens", f"v$ng%08d.manifest"), body))
      sys.error(s"$what lost the generation-$ng publish race at $dir — " +
        "another maintainer ran concurrently; re-run against its result")
  }

  /** The committed batch dirs a reader (or the next compaction) of one
    * sub-store must see, grouped per generation base dir so each group can
    * be read under its own `basePath` (`subBase(g)` — the base the
    * `batch=` partition column resolves against). Live generation first.
    *
    * Without a live watermark this is exactly the live generation's
    * committed dirs (legacy). With one, superseded generations are walked
    * highest-first for stragglers — committed ids `> watermark` not
    * already seen in a higher generation — and the walk stops below the
    * first superseded generation whose own manifest carries no watermark
    * (a legacy fold-everything flip: nothing under it can be unfolded).
    */
  def visibleBatches(dir: String,
      subBase: Long => String): Seq[(String, Seq[String])] =
    visibleBatchesAt(dir, liveGenInfo(dir), subBase)

  /** [[visibleBatches]] against an already-resolved (live, watermark) —
    * multi-sub-store readers (text index: postings + doclens) resolve ONCE
    * so the two sub-reads can't straddle a concurrent flip.
    */
  def visibleBatchesAt(dir: String, info: (Long, Option[Long]),
      subBase: Long => String): Seq[(String, Seq[String])] =
    visibleBatchesByGen(dir, info, subBase).map { case (_, b, ps) => b -> ps }

  /** [[visibleBatchesAt]] with each group's generation — callers that must
    * know WHERE an unfolded id lives (the text index derives its published
    * floor from the torn ids' generations) read this form.
    */
  def visibleBatchesByGen(dir: String, info: (Long, Option[Long]),
      subBase: Long => String): Seq[(Long, String, Seq[String])] = {
    val (live, wm) = info
    val liveBase = subBase(live)
    val liveDirs = BatchStore.committedBatchDirs(liveBase)
    val head = (live, liveBase, liveDirs.map(_._2))
    wm match {
      case None => Seq(head)
      case Some(w) =>
        // the straggler walk is floor-bounded: the live manifest's floor is
        // the lowest generation that can still hold an unfolded id, so in
        // steady state (every flip publishes one) a read probes exactly one
        // superseded generation — not one per historical compaction
        val stop = genFloor(dir, live).getOrElse(0L)
        var seen = liveDirs.map(_._1).toSet
        val groups = Seq.newBuilder[(Long, String, Seq[String])]
        var p = live - 1
        var open = true
        while (p >= stop && open) {
          val b = subBase(p)
          val strag = BatchStore.committedBatchDirs(b)
            .filter { case (id, _) => id > w && !seen.contains(id) }
          if (strag.nonEmpty) {
            seen ++= strag.map(_._1)
            groups += ((p, b, strag.map(_._2)))
          }
          // a watermark-less superseded manifest folded everything below it
          open = p == 0L || genWatermark(dir, p).isDefined
          p -= 1
        }
        head +: groups.result()
    }
  }

  /** Reclaims superseded (non-live) generations older than `minAgeMs`:
    * `flatSubs` are the store's gen-0 flat directories (collected once a
    * migration superseded them), plus every `gen=<g>` root below the live
    * generation. The age guard covers in-flight readers around a flip.
    *
    * `batchSubs` names the sub dirs holding `batch=` dirs ("" = the
    * generation base itself): when the live manifest carries a fold
    * watermark, a superseded generation still holding committed stragglers
    * (ids above the watermark — load-bearing via [[visibleBatches]]) is
    * NOT reclaimed; the next compaction folds them and lifts the
    * watermark past, after which reclaim proceeds. Returns the number of
    * generations reclaimed.
    */
  def vacuum(dir: String, flatSubs: Seq[String], minAgeMs: Long,
      batchSubs: Seq[String] = Seq("")): Int = {
    val (live, wm) = liveGenInfo(dir)
    val now = System.currentTimeMillis()
    // absent = vacuously cold (a half-reclaimed flat layout must not block
    // the rest forever)
    def cold(p: HPath): Boolean =
      !Dfs.exists(p) || Dfs.list(p).forall(st =>
        now - st.getModificationTime >= minAgeMs)
    def holdsStragglers(genBase: String): Boolean = wm.exists { w =>
      batchSubs.exists { sub =>
        val b = if (sub.isEmpty) genBase else s"$genBase/$sub"
        BatchStore.committedBatchDirs(b).exists(_._1 > w)
      }
    }
    var n = 0
    if (live > 0L && flatSubs.exists(s => Dfs.exists(new HPath(s"$dir/$s")))) {
      if (flatSubs.forall(s => cold(new HPath(s"$dir/$s"))) &&
          !holdsStragglers(dir)) {
        flatSubs.foreach(s => Dfs.deleteTreeQuiet(new HPath(s"$dir/$s")))
        n += 1
      }
    }
    Dfs.list(new HPath(dir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen="))
      .filter(st => st.getPath.getName.stripPrefix("gen=").toLong < live)
      .filter(st => now - st.getModificationTime >= minAgeMs)
      .filterNot(st => holdsStragglers(st.getPath.toString))
      .foreach { st => Dfs.deleteTreeQuiet(st.getPath); n += 1 }
    n
  }

  /** The compact scaffold shared by the single-sub batch-partial stores
    * (counts, HLL, Misra–Gries): resolve the live generation ONCE, pin one
    * directory listing for BOTH the fold-set computation and the merge read
    * (a batch committed between two listings would otherwise be folded yet
    * left above the watermark — double-counted forever), apply the
    * `dropBelow` retention horizon, write `merge(raw)` as the new
    * generation's single `batch=` dir and flip with a watermarked,
    * floor-carrying manifest publish. The merged dir lands at −1 for a
    * full fold (outside Spark's non-negative epoch space, so no replayed
    * append can overwrite it) and at the window's max id for a retention
    * fold (so later horizons can judge the merged window by id). Callers
    * hold their own instance lock — maintenance is single-writer per
    * store.
    */
  private[sink] def foldCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String, base: Long => String, what: String, dropBelow: Long)
      (merge: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val info @ (g, wm) = liveGenInfo(dir)
    val ng = g + 1
    clearPartial(dir, ng)
    val groups = visibleBatchesAt(dir, info, base)
      .map { case (b, paths) =>
        b -> paths.filter(p => BatchStore.idOf(p) >= dropBelow) }
    val kept = groups.flatMap(_._2)
    require(kept.nonEmpty,
      s"nothing to compact at $dir (retention dropBelow=$dropBelow left no partials)")
    val foldedMax = kept.map(BatchStore.idOf).max
    val raw = groups.filter(_._2.nonEmpty).map { case (b, paths) =>
      spark.read.option("basePath", b).parquet(paths: _*)
    }.reduce(_ unionByName _)
    val mergedId = if (dropBelow == Long.MinValue) -1L else foldedMax
    merge(raw).write.mode("overwrite").parquet(s"${base(ng)}/batch=$mergedId")
    // the watermark also covers retention-DROPPED ids (they sit below the
    // kept ones by the monotone-id contract), so their replays no-op; the
    // floor is the generation that was live while this fold ran — the only
    // place a concurrent append can have landed
    publish(dir, ng, what,
      watermark = Some(Seq(wm.getOrElse(Long.MinValue), foldedMax).max),
      floor = Some(g))
  }
}
