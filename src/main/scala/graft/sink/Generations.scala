package graft.sink

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Dfs

/** The generation protocol of the batch-partial store family (counts, HLL
  * sketches, heavy hitters, text index, vector index) — the one place that
  * knows their layout, append guard, visible read, fold compaction,
  * publish and vacuum. A store declares its sub-stores once: `batchSubs`
  * hold `_SUCCESS`-gated `batch=<id>` dirs ("" = the generation base
  * itself), `stateSubs` hold per-generation state (the vector index's
  * centroids).
  *
  * Layout: generation 0 is the flat layout (`<dir>/<sub>/batch=<id>`);
  * generation g ≥ 1 lives under `<dir>/gen=<g>/`. Maintenance (fold
  * compaction, reclustering) builds a complete new generation under the
  * not-yet-live prefix and flips readers with ONE manifest publish
  * (`gens/v<g>.manifest`) through the commit-lock seam: readers always
  * have a live generation, and partials stay invisible until the flip. A
  * batch dir exists once its write committed (Spark's `_SUCCESS` marker
  * landed); a crash mid-append leaves a dir without the marker, which
  * readers skip (replaying the append overwrites and commits it).
  *
  * Every manifest carries the fold `watermark=` (the largest batch id the
  * maintenance folded or re-homed) and the straggler `floor=` (the lowest
  * generation that can still hold an unfolded batch); a manifest missing
  * either is refused. Under the append contract — batch ids strictly
  * increase across appends and a replayed id rewrites identical content —
  * the watermark makes appends safe CONCURRENT with maintenance:
  *
  *   - an append that committed into the superseded generation after the
  *     maintenance snapshotted its input has `id > watermark`, so
  *     [[visible]] keeps serving it from there (a straggler) until the next
  *     fold adopts it;
  *   - a replay of an id at or below the watermark that lands after the
  *     flip must not re-add rows the merge already holds — [[append]] turns
  *     it into a no-op;
  *   - an id that landed twice (pre-flip into the old generation AND as a
  *     post-flip append into the new) is read ONCE — highest generation
  *     wins.
  */
private[graft] final class Generations(dir: String, batchSubs: Seq[String],
    stateSubs: Seq[String] = Nil) {
  import Generations._

  /** The directory of sub-store `sub` in generation `g`. */
  def path(g: Long, sub: String): String = {
    val base = if (g == 0L) dir else s"$dir/gen=$g"
    if (sub.isEmpty) base else s"$base/$sub"
  }

  /** Where an append (or a fold) of batch `id` into generation `g` writes. */
  def batchPath(g: Long, sub: String, id: Long): String = s"${path(g, sub)}/batch=$id"

  /** The generation readers and appenders currently bind to. */
  def liveGen: Long =
    Dfs.list(new HPath(s"$dir/gens")).map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toLong }
      .foldLeft(0L)(math.max)

  /** The live generation with its watermark and floor, resolved once —
    * callers that touch several sub-stores pass this to every call so the
    * reads can't straddle a concurrent flip.
    */
  def live: Live = {
    val g = liveGen
    if (g == 0L) Live(0L, Long.MinValue, 0L) else manifest(dir, g)
  }

  /** Runs `write(liveGen)` unless `batchId` is at or below the live fold
    * watermark — a checkpoint replay of a batch the merged partials
    * already hold, which must not count twice.
    */
  def append(batchId: Long)(write: Long => Unit): Unit = {
    val at = live
    if (batchId > at.watermark) write(at.gen)
  }

  /** Committed batch dirs of `base`, id-ascending. */
  private def committed(base: String): Seq[(Long, String)] = {
    val d = new HPath(base)
    if (!Dfs.exists(d)) Seq.empty
    else Dfs.list(d)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .filter(s => Dfs.exists(new HPath(s.getPath, "_SUCCESS")))
      .map(s => s.getPath.getName.stripPrefix("batch=").toLong -> s.getPath.toString)
      .sortBy(_._1)
  }

  /** The committed batch dirs a reader (or the next fold) of `sub` must
    * see, one [[Group]] per generation, live generation first (present even
    * when empty). Superseded generations from `live - 1` down to the live
    * floor contribute their stragglers — committed ids above the live
    * watermark not already seen in a higher generation. The floor keeps a
    * read at O(1) listings after years of flips instead of O(flips).
    */
  def visible(sub: String, at: Live = live): Seq[Group] = {
    val head = Group(at.gen, path(at.gen, sub), committed(path(at.gen, sub)))
    var seen = head.batches.map(_._1).toSet
    val stragglers = (at.gen - 1 to at.floor by -1).flatMap { p =>
      val strag = committed(path(p, sub))
        .filter { case (id, _) => id > at.watermark && !seen(id) }
      seen ++= strag.map(_._1)
      if (strag.isEmpty) None else Some(Group(p, path(p, sub), strag))
    }
    head +: stragglers
  }

  /** Every visible partial of `sub` as one frame (each group under its own
    * `basePath`, so the `batch` partition column resolves).
    */
  def read(spark: SparkSession, sub: String, at: Live = live): DataFrame = {
    val groups = visible(sub, at).filter(_.batches.nonEmpty)
    require(groups.nonEmpty, s"no committed ${if (sub.isEmpty) "" else s"$sub "}batches at $dir")
    groups.map(_.read(spark)).reduce(_ unionByName _)
  }

  /** The next generation for a maintenance pass that resolved `at`, with a
    * crashed prior attempt at it cleared (it never published — garbage).
    */
  def next(at: Live): Long = {
    Dfs.deleteTreeQuiet(new HPath(path(at.gen + 1, "")))
    at.gen + 1
  }

  /** Fold compaction: merges every visible partial of each batch sub into
    * ONE partial per sub (`merge(sub, raw)`), written as the next
    * generation and published with the fold watermark and floor. One
    * listing per sub is pinned for both the fold set and the merge read (a
    * batch committed between two listings would otherwise be folded yet
    * left above the watermark — double-counted forever).
    *
    * Only ids committed in EVERY sub fold: an append commits its subs one
    * after another, so a concurrent append can be TORN here (one sub live,
    * the next still writing); folding it would cover the id with the
    * watermark and orphan its remaining sub forever. A torn id stays a
    * straggler and the published floor reaches down to its deepest
    * generation. With one sub no id can be torn.
    *
    * `dropBelow` is the retention horizon: partials below it are dropped,
    * not folded, and sit under the watermark, so their replays no-op. The
    * merged dir lands at −1 for a full fold (outside Spark's non-negative
    * epoch space, so no replayed append can overwrite it) and at the
    * window's max id for a retention fold (so later horizons can judge the
    * merged window by id). Callers hold their own instance lock —
    * maintenance is single-writer per store.
    */
  def fold(spark: SparkSession, what: String, dropBelow: Long)
      (merge: (String, DataFrame) => DataFrame): Unit = {
    val at = live
    val ng = next(at)
    val groups = batchSubs.map(sub => sub -> visible(sub, at)).toMap
    // id → the generation serving it, per sub
    val ids = groups.map { case (sub, gs) =>
      sub -> gs.flatMap(g => g.batches.map(_._1 -> g.gen)).toMap }
    val folded = ids.values.map(_.keySet).reduce(_ intersect _).filter(_ >= dropBelow)
    require(folded.nonEmpty,
      s"nothing to compact at $dir (retention dropBelow=$dropBelow left no partials)")
    val foldedMax = folded.max
    val torn = ids.values.flatMap(_.keySet).toSet.filter(id => id >= dropBelow && !folded(id))
    // a torn id below a fully-committed one breaks the strictly-increasing
    // append contract (the watermark would swallow it) — refuse loudly
    require(torn.forall(_ > foldedMax),
      s"half-committed batches ${torn.filter(_ <= foldedMax).toSeq.sorted} below " +
        s"folded id $foldedMax at $dir — append contract violation, not compacting")
    val mergedId = if (dropBelow == Long.MinValue) -1L else foldedMax
    for (sub <- batchSubs) {
      val raw = groups(sub).map(g => g.copy(batches = g.batches.filter(b => folded(b._1))))
        .filter(_.batches.nonEmpty).map(_.read(spark)).reduce(_ unionByName _)
      merge(sub, raw).write.mode("overwrite").parquet(batchPath(ng, sub, mergedId))
    }
    // the floor is the generation live while this fold ran — the only place
    // a concurrent append can have landed — or a torn id's deeper one
    val tornGens = torn.toSeq.flatMap(id => ids.values.flatMap(_.get(id)))
    publish(ng, what, math.max(at.watermark, foldedMax), (at.gen +: tornGens).min)
  }

  /** The atomic flip: publishes generation `ng`'s manifest. Errors on a
    * lost race — maintenance is single-writer per store; a concurrent
    * maintainer's result should be re-examined, not overwritten.
    */
  def publish(ng: Long, what: String, watermark: Long, floor: Long): Unit =
    if (!graft.engine.CommitLock.publishFile(manifestPath(dir, ng),
        s"gen=$ng\nwatermark=$watermark\nfloor=$floor\n"))
      sys.error(s"$what lost the generation-$ng publish race at $dir — " +
        "another maintainer ran concurrently; re-run against its result")

  /** Reclaims superseded generations whose superseding flip (the publish
    * of `gens/v<g+1>.manifest`) is at least `minAgeMs` old — the window
    * in-flight readers that resolved `g` just before the flip may still be
    * scanning it. Gen 0's flat dirs are one generation. A generation the
    * visible read still serves stragglers from is kept; the next fold
    * adopts them, after which it goes. Manifest stages in `gens/` that a
    * crash between [[graft.engine.CommitLock.publishFile]]'s stage write
    * and its publish left behind go once `minAgeMs` old. Returns the
    * number of generations reclaimed.
    */
  def vacuum(minAgeMs: Long): Int = {
    val at = live
    val now = System.currentTimeMillis()
    val serving = batchSubs.flatMap(visible(_, at).map(_.gen)).toSet
    def reclaimable(g: Long): Boolean = g < at.gen && !serving(g) && {
      val flip = manifestPath(dir, g + 1)
      Dfs.exists(flip) &&
        now - Dfs.fs(flip).getFileStatus(flip).getModificationTime >= minAgeMs
    }
    val flat = (batchSubs ++ stateSubs).flatMap { sub =>
      if (sub.nonEmpty) Seq(new HPath(s"$dir/$sub")).filter(Dfs.exists)
      else Dfs.list(new HPath(dir)).map(_.getPath).filter(_.getName.startsWith("batch="))
    }
    val flatGone = if (flat.nonEmpty && reclaimable(0L)) {
      flat.foreach(Dfs.deleteTreeQuiet); 1
    } else 0
    val gens = Dfs.list(new HPath(dir)).map(_.getPath)
      .filter(p => p.getName.startsWith("gen=") &&
        reclaimable(p.getName.stripPrefix("gen=").toLong))
    gens.foreach(Dfs.deleteTreeQuiet)
    graft.engine.CommitLock.sweepStaged(new HPath(s"$dir/gens"), minAgeMs)
    flatGone + gens.size
  }
}

private[graft] object Generations {

  /** A resolved generation: its number, fold watermark and straggler floor
    * (gen 0 has no manifest: nothing folded, nothing below it).
    */
  final case class Live(gen: Long, watermark: Long, floor: Long)

  /** One generation's visible committed batch dirs `(id, path)` under its
    * sub-store dir `base`.
    */
  final case class Group(gen: Long, base: String, batches: Seq[(Long, String)]) {
    def paths: Seq[String] = batches.map(_._2)
    def read(spark: SparkSession): DataFrame =
      spark.read.option("basePath", base).parquet(paths: _*)
  }

  private def manifestPath(dir: String, g: Long) = new HPath(s"$dir/gens", f"v$g%08d.manifest")

  /** Generation `g`'s manifest (g ≥ 1); one missing its watermark or floor
    * line is refused.
    */
  private def manifest(dir: String, g: Long): Live = {
    val lines = Dfs.readUtf8(manifestPath(dir, g)).split('\n')
    def value(key: String): Long = lines.find(_.startsWith(key))
      .getOrElse(sys.error(s"generation $g manifest at $dir has no '$key' line — " +
        "every generation manifest carries watermark= and floor="))
      .stripPrefix(key).trim.toLong
    Live(g, value("watermark="), value("floor="))
  }

  /** Generation `g`'s fold watermark (None for gen 0). */
  def genWatermark(dir: String, g: Long): Option[Long] =
    Option.when(g > 0L)(manifest(dir, g).watermark)

  /** Generation `g`'s straggler floor (None for gen 0). */
  def genFloor(dir: String, g: Long): Option[Long] =
    Option.when(g > 0L)(manifest(dir, g).floor)
}
