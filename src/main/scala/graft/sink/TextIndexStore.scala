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

  // postings and doclens live in one generation ([[Generations]]): readers
  // resolve it once per query, so a compaction flip can't tear the pair
  private val gens = new Generations(dir, Seq("postings", "doclens"))

  /** The generation readers and appenders currently bind to. */
  def liveGen: Long = gens.liveGen

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
    // serialization. One generation for both sub-stores; an id at or below
    // the live fold watermark is a replay of a folded batch and no-ops.
    gens.append(batchId)(appendAt(_, batch, batchId, idCol, textCol))
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
      .write.mode("overwrite").parquet(gens.batchPath(g, "postings", batchId))
    toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .coalesce(1)
      .write.mode("overwrite").parquet(gens.batchPath(g, "doclens", batchId))
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
    val at = gens.live
    val posts = gens.read(spark, "postings", at)
    val dls = gens.read(spark, "doclens", at)
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
    val posts = gens.read(spark, "postings")
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
    val posts = gens.read(spark, "postings")
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
    * per sub-store — the store-side twin of [[Compaction]]: a year of
    * crawl appends leaves thousands of small batch dirs whose per-file
    * open/footer costs eventually dominate the posting reads themselves.
    * Content is preserved exactly (a doc lives in one batch; tf sums and
    * position merges are the same defensive folds every reader already
    * applies), so search / phrase / proximity results are identical before
    * and after (test-pinned).
    *
    * Both merged sub-stores are written under the next generation and
    * flipped in with one manifest publish ([[Generations.fold]]): a crash
    * anywhere earlier leaves the old generation serving, and readers are
    * safe DURING compaction. The fold watermark lets appends run
    * concurrent with it; an append torn between its postings and doclens
    * writes stays unfolded until the next compact. The remaining
    * single-writer contract is maintenance-vs-maintenance only.
    *
    * `dropBelow` is the retention horizon ([[HllSketchStore.compact]]):
    * batches below it are dropped, not folded — the index forgets
    * documents ingested before the horizon (a crawl store keeping the
    * last N refresh cycles).
    */
  def compact(spark: SparkSession, dropBelow: Long = Long.MinValue): Unit = synchronized {
    gens.fold(spark, "text-index compaction", dropBelow) {
      case ("postings", raw) =>
        raw.groupBy("doc_id", "tok")
          .agg(sum(col("tf")).as("tf"),
            array_sort(array_distinct(flatten(collect_list(col("pos"))))).as("pos"))
          .repartition(1).sortWithinPartitions("tok")
      case (_, raw) =>
        raw.groupBy("doc_id").agg(sum(col("dl")).as("dl")).coalesce(1)
    }
  }

  /** The visible batch dirs of `sub` (postings or doclens), one group per
    * generation — the file list of the `graft-textindex` SQL reader.
    */
  private[graft] def visibleBatches(sub: String): Seq[Generations.Group] = gens.visible(sub)

  /** Age-guarded reclaim of superseded generations ([[Generations.vacuum]]). */
  def vacuumGenerations(minAgeMs: Long = 3600000L): Int = synchronized(gens.vacuum(minAgeMs))
}
