package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent incremental text index — the SEARCH leg of the incremental-
  * analytics store family (bands = similarity, HLL = cardinality, MG =
  * frequency, this = retrieval): each ingested document batch commits its
  * inverted-index postings `(tok, doc_id, tf)` and doc lengths `(doc_id,
  * dl)` under `_SUCCESS`-gated `batch=<id>` dirs, and BM25 queries run
  * against the STORED postings only — the accumulated corpus text is never
  * re-tokenized, which is the property that keeps "search everything ever
  * ingested" affordable after a year of crawl batches. Scoring is
  * [[graft.llm.TextAnalysis.bm25Score]] verbatim (shared code), so a
  * store-backed search returns bit-identical scores to a one-shot
  * [[graft.llm.TextAnalysis.bm25Search]] over the union corpus
  * (test-pinned).
  *
  * Same commit contract as the sketch stores: idempotent per-batch
  * overwrite (a replayed batch rewrites its own dirs with identical
  * content), appends never touch history, uncommitted partials are
  * invisible. Documents are append-only across batches (a doc_id lives in
  * exactly one batch; re-ingesting a doc means re-appending its batch).
  *
  * Scale shape: postings are written sorted by token, so a query's
  * `tok IN (...)` predicate prunes parquet row groups via min/max stats —
  * the columnar stand-in for an index seek; per query only the matching
  * posting rows and the doc-count-sized length table are read. At 10⁹+
  * docs the postings dir gains a `tok`-hash subpartitioning (same layout,
  * one more dir level) so pruning happens at the directory level first.
  */
final class TextIndexStore(val dir: String) {

  // ---- generation layer (the [[VectorIndexStore]] pattern): gen 0 is the
  // original flat layout; compact() publishes gen manifests
  // (gens/v%08d.manifest via the commit-lock seam) whose maximum is the
  // LIVE generation. Readers resolve postings AND doclens through ONE
  // generation per query, so a compaction flip can neither tear the pair
  // nor leave a no-live-dir window — the two-rename swap this replaces
  // had both hazards (documented away as a single-writer contract; now
  // readers are safe DURING compaction too).

  /** The generation readers and appenders currently bind to. */
  def liveGen: Long = Generations.liveGen(dir)

  private[graft] def subPath(g: Long, sub: String): String =
    if (g == 0L) s"$dir/$sub" else s"$dir/gen=$g/$sub"

  /** Tokenize one batch and commit its postings + doc-length partials.
    * Postings are POSITIONAL — `(tok, doc_id, tf, pos ARRAY<INT>)` with
    * the token's 0-based in-document positions sorted — so the same store
    * serves both bag-of-words scoring (BM25 reads tf) and adjacency
    * queries (phrase search intersects shifted position lists).
    */
  def append(batch: DataFrame, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    // NOT synchronized: an append writes only its own batch dirs, so
    // serializing the whole (minutes-long) Spark write against every
    // concurrent search would turn safe read/ingest concurrency into full
    // serialization
    // one generation for both sub-stores: resolving twice could straddle a
    // concurrent compaction flip and split the batch across generations
    val (g, wm) = Generations.liveGenInfo(dir)
    // batch ids are strictly increasing across appends (streaming epochs)
    // — the concurrent-compaction contract: an id at or below the live
    // fold watermark is a checkpoint replay of an already-folded batch and
    // no-ops (the merged partials already contain it)
    if (wm.exists(batchId <= _)) return
    appendAt(g, batch, batchId, idCol, textCol)
  }

  /** [[append]] bound to an explicit generation (straggler test seam —
    * [[HllSketchStore.appendAt]]).
    */
  private[graft] def appendAt(g: Long, batch: DataFrame, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val toks = batch.select(col(idCol).as("doc_id"),
      posexplode(graft.llm.TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    toks.groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("pos"))
      .repartition(1).sortWithinPartitions("tok")
      .write.mode("overwrite").parquet(s"${subPath(g, "postings")}/batch=$batchId")
    toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"${subPath(g, "doclens")}/batch=$batchId")
  }

  /** BM25 top-k over everything ever committed — reads only the query
    * terms' posting rows plus the length table; scores are bit-identical
    * to a one-shot scan of the union corpus.
    */
  def search(spark: SparkSession, queryTokens: Seq[String], k: Int,
      scale: Long = 1000L): DataFrame = {
    require(queryTokens.nonEmpty, "search needs at least one query token")
    // resolve the generation ONCE for both sub-stores — two liveGen reads
    // could pair one generation's postings with another's doc lengths if
    // a compaction flips between them
    val info = Generations.liveGenInfo(dir)
    val posts = committedAt(spark, info, "postings")
    val dls = committedAt(spark, info, "doclens")
    val q = queryTokens.distinct
    // a doc lives in one batch, but summing keeps a re-appended batch's
    // overwrite semantics exact even mid-recommit
    val tf = posts.filter(col("tok").isin(q: _*))
      .groupBy("doc_id", "tok").agg(sum(col("tf")).as("tf"))
    val dl = dls.groupBy("doc_id").agg(sum(col("dl")).as("dl"))
    graft.llm.TextAnalysis.bm25Score(tf, dl, k, scale)
  }

  /** Index-accelerated exact phrase search: reads ONLY the phrase terms'
    * posting rows (never the corpus), and counts occurrences as
    * `|∩_j (positions(tok_j) − j)|` — the classic positional-index
    * intersection, which handles repeated-token phrases for free and
    * returns counts identical to the scan-side
    * [[graft.llm.TextAnalysis.phraseSearch]] (test-pinned). Per-term
    * position lists merge across batches defensively (a doc lives in one
    * batch; flatten + distinct keeps a mid-recommit state exact). Output
    * (doc_id, occ), top-k by (occ DESC, doc_id).
    */
  def phraseSearch(spark: SparkSession, phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs a non-empty phrase")
    val posts = committed(spark, "postings")
    val per = phrase.zipWithIndex.map { case (t, j) =>
      posts.filter(col("tok") === t)
        .groupBy("doc_id")
        .agg(array_sort(array_distinct(flatten(collect_list(col("pos"))))).as("p"))
        .select(col("doc_id"), transform(col("p"), x => x - j).as(s"s$j"))
    }
    val joined = per.reduce((a, b) => a.join(b, "doc_id"))
    val inter = (1 until phrase.length)
      .foldLeft(col("s0"))((acc, j) => array_intersect(acc, col(s"s$j")))
    joined.select(col("doc_id"), size(inter).cast("long").as("occ"))
      .filter(col("occ") > 0)
      .orderBy(col("occ").desc, col("doc_id"))
      .limit(k)
  }

  /** Index-accelerated ordered proximity search ("`first` followed by
    * `second` within `slop` tokens"): reads ONLY the two terms' posting
    * rows, pairs their per-doc position lists (occurrences = ordered pairs
    * with 0 < p₂ − p₁ ≤ slop), never touches the corpus. Counts are
    * identical to the scan-side
    * [[graft.llm.TextAnalysis.proximitySearch]] (test-pinned); batch
    * merging is the same defensive flatten + distinct as [[phraseSearch]].
    */
  def proximitySearch(spark: SparkSession, first: String, second: String,
      slop: Int, k: Int): DataFrame = {
    require(slop >= 1, "slop must be >= 1")
    val posts = committed(spark, "postings")
    def positions(t: String, out: String) =
      posts.filter(col("tok") === t)
        .groupBy("doc_id")
        .agg(array_sort(array_distinct(flatten(collect_list(col("pos"))))).as(out))
    positions(first, "pa").join(positions(second, "pb"), "doc_id")
      .select(col("doc_id"),
        aggregate(col("pa"), lit(0L), (acc, i) =>
          acc + size(filter(col("pb"), j => j > i && j <= i + slop)).cast("long"))
          .as("occ"))
      .filter(col("occ") > 0)
      .orderBy(col("occ").desc, col("doc_id"))
      .limit(k)
  }

  /** Index maintenance: merge every committed batch into ONE batch dir
    * (`batch=<compactId>`) per sub-store — the store-side twin of
    * [[Compaction]]: a year of crawl appends leaves thousands of small
    * batch dirs whose per-file open/footer costs eventually dominate the
    * posting reads themselves. Content is preserved exactly (a doc lives
    * in one batch; tf sums and position merges are the same defensive
    * folds every reader already applies), so search / phrase / proximity
    * results are identical before and after (test-pinned).
    *
    * Crash safety is the GENERATION flip (round 10 — this replaced the
    * two-rename swap, whose inter-rename window had no live dir and made
    * concurrent searches unsafe): both merged sub-stores are fully written
    * under the not-yet-live `gen=<g+1>/` first, then ONE manifest publish
    * through the commit lock flips readers — a crash anywhere earlier
    * leaves the old generation serving and the partial invisible (cleaned
    * by the next compact attempt). Readers are safe DURING compaction; the
    * superseded generation stays for in-flight readers until
    * [[vacuumGenerations]].
    *
    * The published manifest carries the fold WATERMARK (the largest batch
    * id merged), so APPENDS may run concurrent with compaction too
    * ([[HllSketchStore.compact]]): a batch committed into the superseded
    * generation after the merge read its input has a higher id (strictly
    * increasing — the append contract) and stays visible as a straggler
    * until the next compact folds it; a post-flip replay of a folded id
    * no-ops ([[append]]). The remaining single-writer contract is
    * maintenance-vs-maintenance only.
    *
    * `compactId` names the merged batch dir; the default −1 sits OUTSIDE
    * Spark's non-negative epoch space, so no checkpoint-replayed append
    * can ever collide with (and overwrite) the merged dir.
    *
    * `dropBelow` is the retention horizon ([[HllSketchStore.compact]]):
    * batches below it are dropped, not folded — the index forgets
    * documents ingested before the horizon (a crawl store keeping the
    * last N refresh cycles). A retention fold lands at
    * `batch=<max folded id>` so later horizons can judge the merged
    * window by id; dropped ids sit under the watermark, so their replays
    * no-op.
    */
  def compact(spark: SparkSession, compactId: Long = -1L,
      dropBelow: Long = Long.MinValue): Unit = synchronized {
    val info @ (g, wm) = Generations.liveGenInfo(dir)
    val ng = g + 1
    // a prior crashed compaction at ng is invisible garbage — restart it
    Generations.clearPartial(dir, ng)
    // ONE listing per sub, pinned: the fold-set computation and the merge
    // read below share it, so a batch committed between two listings can't
    // be merged yet left above the watermark (double-counted forever)
    val postGroups = Generations.visibleBatchesByGen(dir, info, subPath(_, "postings"))
    val dlGroups = Generations.visibleBatchesByGen(dir, info, subPath(_, "doclens"))
    def visibleIds(gs: Seq[(Long, String, Seq[String])]): Map[Long, Long] =
      gs.flatMap { case (gen, _, ps) => ps.map(p => BatchStore.idOf(p) -> gen) }
        .groupBy(_._1).map { case (id, hits) => id -> hits.map(_._2).min }
    val postIds = visibleIds(postGroups)
    val dlIds = visibleIds(dlGroups)
    // fold only ids committed in BOTH subs: an append commits postings
    // before doclens, so a concurrent append can be TORN here (postings
    // live, doclens still writing) — folding its postings would cover the
    // id with the watermark and orphan the doclens forever (docs with tf
    // rows but no dl row vanish from every BM25 result)
    val folded = (postIds.keySet intersect dlIds.keySet).filter(_ >= dropBelow)
    require(folded.nonEmpty,
      s"nothing to compact at $dir (retention dropBelow=$dropBelow left no batches)")
    val foldedMax = folded.max
    val torn = ((postIds.keySet ++ dlIds.keySet) -- folded).filter(_ >= dropBelow)
    // a torn id below a fully-committed one breaks the strictly-increasing
    // append contract (the watermark would swallow it) — refuse loudly
    require(torn.forall(_ > foldedMax),
      s"half-committed batches ${torn.filter(_ <= foldedMax).toSeq.sorted} below " +
        s"folded id $foldedMax at $dir — append contract violation, not compacting")
    val mergedId = if (dropBelow == Long.MinValue) compactId else foldedMax
    def retained(gs: Seq[(Long, String, Seq[String])]): DataFrame =
      gs.map { case (_, b, ps) => b -> ps.filter(p => folded(BatchStore.idOf(p))) }
        .filter(_._2.nonEmpty)
        .map { case (b, ps) => spark.read.option("basePath", b).parquet(ps: _*) }
        .reduce(_ unionByName _)
    retained(postGroups).groupBy("doc_id", "tok")
      .agg(sum(col("tf")).as("tf"),
        array_sort(array_distinct(flatten(collect_list(col("pos"))))).as("pos"))
      .repartition(1).sortWithinPartitions("tok")
      .write.mode("overwrite")
      .parquet(s"${subPath(ng, "postings")}/batch=$mergedId")
    retained(dlGroups).groupBy("doc_id")
      .agg(sum(col("dl")).as("dl"))
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"${subPath(ng, "doclens")}/batch=$mergedId")
    // floor: torn ids stay unfolded in their generation — the straggler
    // walk must keep reaching the deepest one until a later compact folds
    // it; with none, only the generation live during this fold can hold a
    // concurrent append
    val tornGens = torn.toSeq.flatMap(id => postIds.get(id) ++ dlIds.get(id))
    Generations.publish(dir, ng, "text-index compaction",
      watermark = Some(Seq(wm.getOrElse(Long.MinValue), foldedMax).max),
      floor = Some((g +: tornGens).min))
  }

  private def committed(spark: SparkSession, sub: String): DataFrame =
    committedAt(spark, Generations.liveGenInfo(dir), sub)

  /** The sub-store's visible batches under an already-resolved
    * (generation, watermark) — the live generation's committed dirs plus
    * unfolded stragglers a concurrent appender committed into a superseded
    * generation ([[Generations.visibleBatchesAt]]; callers that read
    * several subs resolve ONE info first so the pair can't straddle a
    * flip).
    */
  private def committedAt(spark: SparkSession, info: (Long, Option[Long]),
      sub: String): DataFrame = {
    val groups = Generations.visibleBatchesAt(dir, info, subPath(_, sub))
    require(groups.head._2.nonEmpty, s"no committed $sub batches at $dir")
    groups.filter(_._2.nonEmpty).map { case (b, paths) =>
      spark.read.option("basePath", b).parquet(paths: _*)
    }.reduce(_ unionByName _)
  }

  /** Reclaims superseded (non-live) generations older than `minAgeMs` —
    * covers the in-flight-reader window around a compaction's manifest
    * flip, like [[VectorIndexStore.vacuumGenerations]]. Returns the number
    * of generations reclaimed.
    */
  def vacuumGenerations(minAgeMs: Long = 3600000L): Int = synchronized {
    Generations.vacuum(dir, Seq("postings", "doclens"), minAgeMs,
      batchSubs = Seq("postings", "doclens"))
  }
}
