package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sink.SnapshotParquetSink

/** Deduplication operators for training-data pipelines (north star):
  * exact, token-set Jaccard, MinHash+LSH, SimHash, n-gram shingles.
  *
  * Scale design: exact dedup is one hash shuffle on the dedup key.
  * Pairwise Jaccard is O(n²) and exists as the small-n oracle-checked
  * baseline; the 100 TB path is MinHash signatures (one pass, 16 hashes per
  * token) + LSH banding, which turns near-dup search into an equi-join on
  * (band, bandKey) — only colliding candidates get exact verification.
  */
object Dedup {

  /** Exact dedup — hash-groupBy on the key columns. */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame = df.dropDuplicates(cols)

  /** Distinct (id, token) pairs from whitespace-tokenized text. */
  def tokenSets(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(split(col(textCol), " "))).as("tok"))

  /** Pairwise token-set Jaccard ≥ threshold (Q81). Token-level self-join +
    * count of shared tokens; |A∪B| = |A|+|B|−|A∩B|.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = tokenSets(docs, idCol, textCol)
    val sizes = t.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = t.as("a").join(t.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))
    shared
      .join(sizes.select(col("doc_id").as("i"), col("n").as("ni")), "i")
      .join(sizes.select(col("doc_id").as("j"), col("n").as("nj")), "j")
      .withColumn("jaccard", col("c") / (col("ni") + col("nj") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))
  }

  // ------------------------------------------------------------- MinHash
  /** Universal-hash family over token codes: h_i(c) = (a_i·c + b_i) mod P.
    * Constants are fixed so engine and oracle agree; see Llm queries for the
    * generated oracle SQL using the same values.
    */
  val P = 2147483647L
  val NumHashes = 16
  val RowsPerBand = 4
  def hashA(i: Int): Long = (2L * i + 1) * 104729L % P
  def hashB(i: Int): Long = 7919L * i + 13L
  /** In-band position weights for the order-sensitive band key. */
  val BandPow: Seq[Long] = Seq(1L, 31L, 961L, 29791L)

  /** Cross-engine-deterministic token codes: 1-based rank in the sorted
    * distinct vocabulary — the same value as
    * `dense_rank() OVER (ORDER BY tok)` (the DuckDB oracle keeps that
    * form), computed WITHOUT a global single-partition window: the distinct
    * vocabulary is range-repartitioned by token (Spark's RangePartitioner
    * SAMPLES real boundaries, so a natural-language vocabulary whose mass
    * concentrates in a few prefixes still splits evenly — the earlier
    * fixed 2-char-prefix buckets inherited that skew), sorted within
    * partitions, and per-partition positions become global ranks through
    * zipWithIndex's partition-size offsets (one long per partition on the
    * driver). Distributed at 100 TB vocabularies; when cross-engine
    * determinism isn't needed, [[hashCodes]] skips the vocabulary pass
    * entirely.
    */
  def dictionaryCodes(tokens: DataFrame): DataFrame =
    withDictionaryCodes(tokens)(identity)

  /** Managed persist for SMALL derived frames (signatures, fingerprints —
    * O(docs) rows) whose lineage is a full corpus pass: self-joins and
    * band joins consume them 2-3×, and without the cache each side re-runs
    * the scan+tokenize+code-join lineage. NOT for corpus-sized frames —
    * persisting the exploded token set was measured slower (see
    * [[lshCalibration]]). Results that must outlive the scope have to be
    * materialized inside it.
    */
  private[graft] def withCachedSmall[T](df: DataFrame)(consume: DataFrame => T): T = {
    val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try consume(c)
    finally {
      c.unpersist()
      ()
    }
  }

  /** Managed-scope variant: the ranked vocabulary — the dominant shuffle at
    * large corpora — is persisted for the rank join and released when
    * `consume` returns; results that must outlive the scope have to be
    * materialized inside it.
    */
  def withDictionaryCodes[T](tokens: DataFrame)(consume: DataFrame => T): T = {
    val vocab = tokens.select("tok").distinct()
    graft.engine.Ranking.withGlobalIndex(vocab, Seq(col("tok"))) { indexed =>
      val coded = indexed.select(col("tok"), (col("__idx") + 1L).as("code"))
      consume(tokens.join(coded, "tok").select(col("doc_id"), col("code")))
    }
  }

  /** Scale-path token codes: 64-bit murmur folded into [0, P). */
  def hashCodes(tokens: DataFrame): DataFrame =
    tokens.select(col("doc_id"), pmod(xxhash64(col("tok")), lit(P)).as("code"))

  /** MinHash signatures: (doc_id, hi, mh) — min of each hash function over
    * the doc's token codes. One explode of NumHashes per token, one groupBy.
    */
  def minhashSignatures(tokenCodes: DataFrame): DataFrame = {
    val hs = (0 until NumHashes).map(i =>
      struct(lit(i).as("hi"), ((lit(hashA(i)) * col("code") + lit(hashB(i))) % P).as("hv")))
    tokenCodes
      .select(col("doc_id"), explode(array(hs: _*)).as("h"))
      .groupBy(col("doc_id"), col("h.hi").as("hi"))
      .agg(min(col("h.hv")).as("mh"))
  }

  /** LSH band keys: NumHashes/RowsPerBand bands; the band key is an
    * order-weighted sum of the band's minhashes (deterministic, no
    * collect_list ordering hazards).
    */
  def bandKeys(sig: DataFrame): DataFrame = {
    val weight = element_at(array(BandPow.map(lit): _*), (col("hi") % RowsPerBand).cast("int") + 1)
    sig.groupBy(col("doc_id"), (col("hi") / RowsPerBand).cast("int").as("band"))
      .agg(sum(col("mh") * weight).as("bkey"))
  }

  /** Candidate pairs = docs sharing any band key (the LSH equi-join). */
  def lshCandidates(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j")).distinct()

  // ------------------------------------------------- hot-bucket guard
  /** What a [[capBuckets]] excision removed — surfaced to the caller so a
    * capped run can never silently pass as a complete one.
    */
  final case class CapReport(droppedBuckets: Long, droppedRows: Long, cap: Int) {
    def clean: Boolean = droppedBuckets == 0
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Drops bucket-join groups with more than `cap` members before candidate
    * generation. Every LSH candidate path (minhash bands, simhash bands,
    * hyperplane buckets) is an equi-join on the bucket key: a degenerate
    * corpus slice — millions of empty or boilerplate documents sharing one
    * fingerprint — turns ONE bucket quadratic and with it the whole join.
    * Real pipelines pre-filter such slices; the operator still enforces the
    * bound, and follows the no-silent-caps contract: the excision is
    * counted eagerly, logged, and returned — never swallowed. (A bucket
    * past `cap` contributes candidates quadratically while its duplicate
    * mass is better handled by exact dedup first, so dropping it loses
    * little recall and bounds the join at cap²/2 pairs per bucket.)
    */
  def capBuckets(bucketed: DataFrame, keyCols: Seq[String], cap: Int): (DataFrame, CapReport) = {
    require(cap > 1, s"bucket cap must be > 1; got $cap")
    val keys = keyCols.map(col)
    // eager localCheckpoint: the grouped count over `bucketed` (whose
    // lineage is the whole tokenize/sign/band pipeline) runs ONCE and the
    // bounded result (≤ rows/cap buckets) serves both the report agg and
    // the caller's anti-join — without it the corpus-sized agg re-executes
    // per action. Blocks are ContextCleaner-managed (released on GC), so
    // no managed scope is needed (the Bpe.learn pattern).
    val hot = bucketed.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > cap)
      .localCheckpoint(true)
    val s = hot.agg(count(lit(1)), coalesce(sum(col("__n")), lit(0L))).head
    val report = CapReport(s.getLong(0), s.getLong(1), cap)
    if (!report.clean) {
      log.warn(s"capBuckets: dropped ${report.droppedBuckets} hot buckets " +
        s"(${report.droppedRows} rows) over cap=$cap on (${keyCols.mkString(", ")})")
    }
    (bucketed.join(hot.select(keys: _*), keyCols, "left_anti"), report)
  }

  /** [[lshCandidates]] with the hot-bucket guard: candidate volume is
    * bounded by buckets·cap²/2 regardless of how degenerate the corpus is.
    */
  def lshCandidatesCapped(bands: DataFrame, cap: Int): (DataFrame, CapReport) = {
    val (kept, report) = capBuckets(bands, Seq("band", "bkey"), cap)
    (lshCandidates(kept), report)
  }

  /** Incremental LSH admission — the crawl-ingest path: candidate pairs
    * involving at least one NEW document, from (a) the new batch's bands
    * equi-joined against a MATERIALIZED band store (the (doc_id, band,
    * bkey) table an ingest pipeline maintains — the existing corpus is
    * never re-tokenized, re-signed or re-scanned) and (b) pairs within the
    * batch itself. Work is O(|batch|·bands + bucket fan-out), independent
    * of corpus size; at 100 TB the store is written bucketed on
    * (band, bkey) so (a) is a co-located join. Candidates that survive
    * verification append their bands to the store — signatures never
    * recompute because MinHash is per-document.
    */
  def incrementalLshCandidates(newBands: DataFrame, storeBands: DataFrame): DataFrame = {
    val vsStore = newBands.as("a").join(storeBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("i"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("j"))
    vsStore.union(lshCandidates(newBands)).distinct()
  }

  /** [[incrementalLshCandidates]] with the [[capBuckets]] guard on BOTH
    * sides: the batch's hot buckets are excised as in [[lshCandidatesCapped]],
    * and — the case unique to the incremental path — STORE buckets past the
    * cap are excised too. A boilerplate fingerprint the standing corpus has
    * accumulated for months would otherwise fan every new batch's matching
    * band out against a million-row store bucket, making ingest cost grow
    * with corpus degeneracy rather than batch size. The store-side count is
    * one grouped agg over a table bucketed on (band, bkey) at scale — no
    * corpus rescan, and the combined report keeps the excision loud.
    */
  def incrementalLshCandidatesCapped(newBands: DataFrame, storeBands: DataFrame,
      cap: Int): (DataFrame, CapReport) = {
    val (batchKept, batchReport) = capBuckets(newBands, Seq("band", "bkey"), cap)
    // only buckets the BATCH touches can produce candidates, so the
    // store-side count runs over the touched slice (a semi-join that
    // co-locates on a (band, bkey)-bucketed store) — counting the whole
    // accumulated store per micro-batch would make ingest cost O(store),
    // the exact dependence the incremental path exists to avoid. Bucket
    // membership within a touched bucket is unchanged by the semi-join,
    // so the capping decision is identical to a full-store count.
    val touched = newBands.select(col("band"), col("bkey")).distinct()
    val (storeKept, storeReport) = capBuckets(
      storeBands.join(touched, Seq("band", "bkey"), "left_semi"),
      Seq("band", "bkey"), cap)
    (incrementalLshCandidates(batchKept, storeKept),
      CapReport(batchReport.droppedBuckets + storeReport.droppedBuckets,
        batchReport.droppedRows + storeReport.droppedRows, cap))
  }

  /** Jaccard estimate for candidate pairs: fraction of agreeing minhashes. */
  def minhashEstimates(sig: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(sig.select(col("doc_id").as("i"), col("hi"), col("mh").as("mi")), Seq("i"))
      .join(sig.select(col("doc_id").as("j"), col("hi"), col("mh").as("mj")), Seq("j", "hi"))
      .groupBy(col("i"), col("j"))
      .agg((sum(when(col("mi") === col("mj"), 1).otherwise(0)) / NumHashes.toDouble).as("est"))

  /** Full MinHash-LSH near-dup pipeline over raw docs. Signatures come from
    * the single-pass [[MinHashAggregator]] (same hash family — identical
    * output to [[minhashSignatures]], O(docs) shuffle instead of
    * O(tokens×hashes)). Managed scope: the dictionary path's vocabulary
    * cache is released when `consume` returns — materialize inside.
    */
  def minhashLsh[T](docs: DataFrame, dictionary: Boolean,
      idCol: String = "doc_id", textCol: String = "text")(consume: DataFrame => T): T = {
    val toks = tokenSets(docs, idCol, textCol)
    // sig is O(docs×NumHashes) rows but its lineage is the full corpus
    // pass; band keys + both estimate join sides consume it 3× — cache the
    // small frame, not the token set (guide §5: cache only when recompute
    // outweighs the memory pressure; here recompute is 3 corpus scans)
    def pipeline[U](codes: DataFrame)(k: DataFrame => U): U =
      withCachedSmall(MinHashAggregator.signatures(codes)) { sig =>
        k(minhashEstimates(sig, lshCandidates(bandKeys(sig))))
      }
    if (dictionary) withDictionaryCodes(toks)(codes => pipeline(codes)(consume))
    else pipeline(hashCodes(toks))(consume)
  }

  /** EXACT Jaccard-threshold similarity join via prefix filtering (the
    * PPJoin family — Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW'08): the zero-recall-loss alternative to
    * MinHash LSH. With every document's tokens ordered by one GLOBAL
    * canonical order, two docs with Jaccard ≥ num/den must share a token
    * within each doc's first `n − ceil(n·num/den) + 1` tokens (the prefix
    * lemma: J ≥ θ ⇒ |A∩B| ≥ ⌈θ|A|⌉, so the intersection cannot hide
    * entirely in the suffix). Candidates = the prefix-token equi-join;
    * each is verified by the exact intersection and kept iff
    * inter·den ≥ num·union. Output (i, j, inter, un) — all integers, both
    * engines replay it bit-for-bit.
    *
    * The canonical order is ascending global document frequency (ties by
    * token): rare-first makes the hottest prefix bucket the RAREST tokens,
    * which is what keeps the candidate join's fan-out small. Scale shape:
    * one grouped df count, a per-doc window (partitioned by doc — never
    * global), a bucket-controlled equi-join, and verification on
    * candidates only. Nothing all-pairs, nothing approximate.
    */
  def prefixJaccardJoin(docs: DataFrame, num: Long, den: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(num > 0 && den > 0 && num <= den, "threshold num/den must be in (0, 1]")
    val t = tokenSets(docs, idCol, textCol)
    val dfc = t.groupBy("tok").agg(count(lit(1)).as("df"))
    val sizes = t.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("tok"))
    val pref = t.join(dfc, "tok")
      .withColumn("rnk", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("rnk") <= col("n") - expr(s"(n * $num + $den - 1) DIV $den") + 1)
      .select("doc_id", "tok")
    val cand = pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j")).distinct()
    val inter = cand
      .join(t.select(col("doc_id").as("i"), col("tok")), "i")
      .join(t.select(col("doc_id").as("j"), col("tok")), Seq("j", "tok"))
      .groupBy("i", "j").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("i"), col("n").as("ni")), "i")
      .join(sizes.select(col("doc_id").as("j"), col("n").as("nj")), "j")
      .withColumn("un", col("ni") + col("nj") - col("inter"))
      .filter(col("inter") * den >= lit(num) * col("un"))
      .select(col("i"), col("j"),
        col("inter").cast("bigint").as("inter"), col("un").cast("bigint").as("un"))
  }

  /** LSH estimator calibration audit — "can I trust my sketch at this
    * threshold": every LSH candidate pair's integer minhash agreement count
    * (0..NumHashes) next to its EXACT token-set intersection/union, rolled
    * up per agreement bucket as (agree, n_pairs, sum_inter, sum_union).
    * All integer arithmetic (agree = est·NumHashes is exact — est is
    * k/64 in binary), so both engines replay the curve bit-for-bit. The
    * operational read: sum_inter/sum_union per bucket is the mean TRUE
    * Jaccard the estimator maps to agree/NumHashes — a pipeline picks its
    * dedup threshold off this measured curve instead of folklore, and a
    * drifting curve (tokenizer change, adversarial content) is a
    * data-quality alarm.
    *
    * Shape: the same banded candidate join as [[minhashLsh]] (never
    * all-pairs) + the exact-intersection token equi-join restricted to the
    * CANDIDATE pairs only — the exact computation is paid on the sketch's
    * survivors, not the corpus square.
    */
  def lshCalibration[T](docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text")(consume: DataFrame => T): T = {
    // one DEFINITION of the token frame feeds both the sketch side
    // (signatures via dictionary codes) and the exact side (intersection/
    // sizes). Deliberately NOT persisted: the exploded token frame is
    // LARGER than the corpus, so caching it trades a cheap projection
    // recompute for a corpus-plus-sized materialization (measured: the
    // persist variant was never faster at the bench scale)
    val t = tokenSets(docs, idCol, textCol)
    withDictionaryCodes(t) { codes =>
      withCachedSmall(MinHashAggregator.signatures(codes)) { sig =>
      val est = minhashEstimates(sig, lshCandidates(bandKeys(sig)))
      // the candidate-pair frame is consumed twice (the exact-intersection
      // probe and the final assembly); its lineage is the whole sketch
      // pipeline — cache the handful of pairs, not the pipeline
      withCachedSmall(est.select(col("i"), col("j"),
        (col("est") * NumHashes).cast("long").as("agree"))) { pairs =>
      val sizes = t.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = pairs.select("i", "j")
        .join(t.select(col("doc_id").as("i"), col("tok")), "i")
        .join(t.select(col("doc_id").as("j"), col("tok")), Seq("j", "tok"))
        .groupBy("i", "j").agg(count(lit(1)).as("inter"))
      // left join: a band collision without a single shared token is
      // possible (different codes, same universal-hash min) — inter = 0
      val full = pairs
        .join(inter, Seq("i", "j"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .join(sizes.select(col("doc_id").as("i"), col("n").as("ni")), "i")
        .join(sizes.select(col("doc_id").as("j"), col("n").as("nj")), "j")
        .withColumn("un", col("ni") + col("nj") - col("inter"))
      consume(full.groupBy("agree")
        .agg(count(lit(1)).cast("bigint").as("n_pairs"),
          sum(col("inter")).cast("bigint").as("sum_inter"),
          sum(col("un")).cast("bigint").as("sum_union")))
    }}}
  }

  // ------------------------------------------- near-dup cluster resolution
  /** Connected components over a near-dup pair graph — the step that turns
    * pairwise matches into "keep one document per duplicate cluster". Each
    * node's cluster id is the minimum doc_id reachable from it over the
    * edges whose endpoints are both in `nodes` (the subgraph `nodes`
    * induces; an edge with a null or absent endpoint links nothing).
    * Output: `nodes`' rows (duplicates and a null `doc_id` included) as
    * (doc_id, cluster), both of `doc_id`'s type and nullability.
    *
    * Two arms, picked before any job runs:
    *
    *   - DRIVER-LOCAL, when the edges already sit on the driver:
    *     `pairs.select(i, j)` optimizes to a `LocalRelation` (a collected
    *     list, `Seq.toDF`, a local frame — renames and casts fold into it)
    *     of at most [[localComponentsMaxEdges]] edges, and the ids are
    *     integral. One job filters `nodes` to the edge endpoints (none
    *     when `nodes` is local too); a union-find over the surviving edges,
    *     rooted at each component's minimum id, resolves the clusters; the
    *     labels are `nodes` left-joined to a broadcast local relation of
    *     (member, root) for the non-root members. Nothing is persisted.
    *   - DISTRIBUTED otherwise, a two-phase hybrid, each phase optimal for
    *     its regime:
    *
    *   1. BSP min-label propagation for up to `shallowRounds` rounds — ONE
    *     cheap job per round (equi-join + grouped min). Real near-dup
    *     components are shallow blobs (a cluster of mutual duplicates has
    *     diameter 1–3), so this phase usually finishes the whole job at
    *     diameter+1 rounds and nothing else runs.
    *   2. If labels are still moving, the graph has deep components (the
    *     chain-shaped candidate graphs [[sortedNeighborhood]] emits: rank
    *     adjacency makes diameter ≈ component size, where min-label would
    *     need one round PER HOP). The label quotient graph then switches to
    *     alternating large-star / small-star (Kiveris et al., "Connected
    *     Components in MapReduce and Beyond", SoCC 2014) — the same
    *     join + grouped-min primitives, but each round re-wires edges
    *     toward the component minimum, converging in O(log n) rounds:
    *       - large-star: every neighbor LARGER than u re-links to
    *         min(Γ(u) ∪ u);
    *       - small-star: every neighbor ≤ u (and u itself) re-links to
    *         min(Γ(u));
    *     until the edge set is a fixpoint = star forest centered on each
    *     component's minimum label; composing the two phases labels every
    *     node with its component minimum id.
    *
    * Only the current round's frame stays persisted; the managed scope
    * releases it on exit — materialize final results inside `consume`.
    */
  def connectedComponents[T](pairs: DataFrame, nodes: DataFrame, maxIters: Int = 50)
      (consume: DataFrame => T): T =
    connectedComponentsStats(pairs, nodes, maxIters) { (labels, _) => consume(labels) }

  /** The most edges [[connectedComponentsStats]] resolves on the driver;
    * −1 turns that arm off. Measured with `ComponentsCrossover` in the
    * test sources (4 vCPU, 3 GB driver heap, near-dup-shaped graphs, 2.5
    * nodes per edge): the driver-local arm won at every rung, 0.18 s
    * against 4.9 s at 10^3 edges, 0.83 s against 10.8 s at 10^5, and at
    * 10^6 it took 8 s while the distributed arm over the same local edge
    * frame did not finish in 5 minutes (heap full, collector-bound). No
    * crossover showed, so the cap is the largest rung measured: beyond it
    * neither arm was measured, and the driver-local arm's arrays and its
    * broadcast (member, root) relation grow with the edges. A var only so
    * specs can run one graph through both arms.
    */
  @volatile private[graft] var localComponentsMaxEdges: Int = 1000000

  /** [[connectedComponents]] with the total round count exposed to
    * `consume` — the O(log n) convergence contract is testable; 0 when
    * the driver-local arm resolved the graph (no rounds ran).
    * `shallowRounds` = min-label budget before the star phase takes over
    * (0 = pure star, for measuring the worst-case guarantee on its own).
    */
  def connectedComponentsStats[T](pairs: DataFrame, nodes: DataFrame, maxIters: Int = 50,
      shallowRounds: Int = 4)(consume: (DataFrame, Int) => T): T = {
    val local = localEdges(pairs, nodes)
    if (local.isDefined) return consume(localComponents(local.get, nodes), 0)
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = pairs.sparkSession
    // lineage cut: every iterative plan here embeds the previous round's
    // plan at least twice (self-joins / join + union), so chaining Catalyst
    // plans across rounds grows the tree exponentially — planning OOMs the
    // driver near round 10 even though the DATA path is fine. Rebasing each
    // round on its materialized RDD keeps every round's plan constant-size
    // (the RDD lineage is a shared DAG, linear in rounds).
    def rebase(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    val cached = scala.collection.mutable.ListBuffer[DataFrame]()
    def persist(df: DataFrame): DataFrame = {
      val p = df.persist(sl); cached += p; p
    }
    def release(df: DataFrame): Unit = { df.unpersist(); cached -= df; () }
    try {
      val sym = pairs.select(col("i").as("a"), col("j").as("b"))
        .union(pairs.select(col("j").as("a"), col("i").as("b")))
      // ---- phase 1: min-label BSP, one job per round
      // `held` is the PERSISTED handle for the current round (labels is a
      // projection of it after round 1 — unpersisting the projection would
      // not uncache the underlying frame: CacheManager matches by
      // sameResult, so rounds would pile up in the cache until exit)
      var held = persist(nodes.select(col("doc_id"), col("doc_id").as("cluster")))
      var labels = held
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < shallowRounds) {
        val nbrMin = sym
          .join(labels.select(col("doc_id").as("b"), col("cluster").as("nc")), "b")
          .groupBy(col("a").as("doc_id")).agg(min("nc").as("nmin"))
        // old label kept beside the new one: the convergence count reads it
        // off the same persisted frame — one job per round, no extra join
        val step = persist(rebase(labels.join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("cluster").as("__old"),
            least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))))
        changed = step.filter(col("cluster") < col("__old")).count()
        release(held)
        held = step
        labels = step.drop("__old")
        rounds += 1
      }
      if (changed == 0) return consume(labels, rounds)

      // ---- phase 2: alternating star on the label quotient graph.
      // Connectivity is label-invariant: contracting every node to its
      // current label preserves components, and component-min label =
      // component-min id (labels are minima over k-hop windows).
      val la = labels.select(col("doc_id").as("a"), col("cluster").as("__la"))
      val lb = labels.select(col("doc_id").as("b"), col("cluster").as("__lb"))
      var edges = persist(rebase(sym.join(la, "a").join(lb, "b")
        .select(greatest(col("__la"), col("__lb")).as("u"),
          least(col("__la"), col("__lb")).as("v"))
        .filter(col("u") =!= col("v")).distinct()))
      var cnt = edges.count()
      var converged = cnt == 0L
      while (!converged && rounds < shallowRounds + maxIters) {
        // large-star: from each node u, neighbors v > u re-link to
        // min(Γ(u) ∪ u). Connectivity is preserved (v stays reachable from
        // u through the new center) and every emitted edge points DOWN.
        // No distinct here: each undirected edge enters once from its
        // smaller endpoint, and small-star's grouped min absorbs the rare
        // duplicate (two emitters sharing a center) cheaper than a shuffle.
        val esym = edges.union(edges.select(col("v"), col("u")).toDF("u", "v"))
        val mins = esym.groupBy("u").agg(min("v").as("__mv"))
          .select(col("u"), least(col("__mv"), col("u")).as("m"))
        val large = esym.filter(col("v") > col("u")).join(mins, "u")
          .select(col("v").as("u"), col("m").as("v"))
        // small-star: edges now satisfy u > v, so Γ(u) here is exactly the
        // ≤-u neighborhood — every v (and u itself) re-links to min(Γ(u)).
        val minsS = large.groupBy("u").agg(min("v").as("m"))
        val small = persist(rebase(large.join(minsS, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .union(minsS.select(col("u"), col("m")))
          .distinct()))
        val newCnt = small.count()
        // fixpoint = star forest. Counts differ → surely not converged
        // (skip the except); equal counts still need the exact set check.
        converged = newCnt == cnt && small.except(edges).isEmpty
        release(edges)
        edges = small
        cnt = newCnt
        rounds += 1
      }
      // no silent caps: an unconverged edge set would report one component
      // as several clusters — make the truncation loud
      if (!converged) {
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxIters star rounds — " +
            "raise maxIters (alternating star converges in O(log n) rounds)")
      }
      // star forest over labels: every non-center label carries exactly one
      // (label, center) edge; centers and singletons keep themselves
      val out = labels
        .join(edges.select(col("u").as("cluster"), col("v").as("__root")), Seq("cluster"), "left")
        .select(col("doc_id"), coalesce(col("__root"), col("cluster")).as("cluster"))
      consume(out, rounds)
    } finally {
      cached.foreach(_.unpersist())
      ()
    }
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  /** An integral id at ordinal `k` of `r`, widened to a long (the type
    * the distributed arm's joins compare mixed-width ids in).
    */
  private def idAt(r: InternalRow, k: Int, t: DataType): Long = t match {
    case LongType    => r.getLong(k)
    case IntegerType => r.getInt(k).toLong
    case ShortType   => r.getShort(k).toLong
    case _           => r.getByte(k).toLong
  }

  /** The driver-local relation `df` optimizes to, if it does — read off
    * the optimizer, so the check runs no job.
    */
  private def localRelation(df: DataFrame): Option[LocalRelation] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l)
      case _                => None
    }

  /** [[connectedComponentsStats]]'s gate: the (i, j) relation when the
    * edges are driver-local, at most [[localComponentsMaxEdges]] of them,
    * and every id is integral.
    */
  private def localEdges(pairs: DataFrame, nodes: DataFrame): Option[LocalRelation] = {
    val limit = localComponentsMaxEdges
    if (limit < 0 || !integral(nodes.schema("doc_id").dataType)) None
    else localRelation(pairs.select(col("i"), col("j")))
      .filter(l => l.data.length <= limit && l.output.forall(a => integral(a.dataType)))
  }

  /** [[connectedComponentsStats]]'s driver-local arm over the (i, j)
    * `edges`: the labels of `nodes`, every non-root member joined to its
    * component's minimum id.
    */
  private def localComponents(edges: LocalRelation, nodes: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val types = edges.output.map(_.dataType)
    // a null endpoint or a self-loop links nothing
    val ea = Array.newBuilder[Long]
    val eb = Array.newBuilder[Long]
    edges.data.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val a = idAt(r, 0, types(0))
        val b = idAt(r, 1, types(1))
        if (a != b) { ea += a; eb += b }
      }
    }
    val (as, bs) = (ea.result(), eb.result())
    // the endpoints, sorted and distinct: index order is id order, so a
    // component's smallest index is its minimum id
    val ids = {
      val all = as ++ bs
      java.util.Arrays.sort(all)
      var n = 0
      all.indices.foreach { k => if (k == 0 || all(k) != all(k - 1)) { all(n) = all(k); n += 1 } }
      all.take(n)
    }
    val docIds = nodes.select(col("doc_id"))
    val nodeType = docIds.schema.head.dataType
    // which endpoints are nodes: the inner joins of the distributed arm
    // drop every edge with an endpoint outside `nodes`
    val present: Iterator[Long] =
      if (ids.isEmpty) Iterator.empty
      else localRelation(docIds) match {
        case Some(l) => l.data.iterator.filterNot(_.isNullAt(0)).map(idAt(_, 0, nodeType))
        case None =>
          // one job, the sorted endpoints shipped in its closure: a
          // semi-join on a broadcast relation runs a second job for the
          // broadcast, and an IN list renders every id into the plan
          graft.engine.JobTag(spark, "components:members")(
            docIds.queryExecution.toRdd.mapPartitions(_.collect {
              case r if !r.isNullAt(0) &&
                java.util.Arrays.binarySearch(ids, idAt(r, 0, nodeType)) >= 0 =>
                idAt(r, 0, nodeType)
            }).collect().iterator)
      }
    val member = new Array[Boolean](ids.length)
    present.foreach { v =>
      val k = java.util.Arrays.binarySearch(ids, v)
      if (k >= 0) member(k) = true
    }
    // union-find, linking the larger root under the smaller (path halving)
    val parent = Array.range(0, ids.length)
    def find(x: Int): Int = {
      var a = x
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    as.indices.foreach { e =>
      val a = java.util.Arrays.binarySearch(ids, as(e))
      val b = java.util.Arrays.binarySearch(ids, bs(e))
      if (member(a) && member(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    def typed(v: Long): Any = nodeType match {
      case LongType    => v
      case IntegerType => v.toInt
      case ShortType   => v.toShort
      case _           => v.toByte
    }
    val roots = ids.indices.iterator.filter(k => member(k) && find(k) != k)
      .map(k => InternalRow(typed(ids(k)), typed(ids(find(k))))).toSeq
    val map = SnapshotParquetSink.localFrame(spark,
      StructType(Seq(StructField("__member", nodeType, nullable = false),
        StructField("__root", nodeType, nullable = false))), roots)
    docIds.join(broadcast(map), col("doc_id") === col("__member"), "left")
      .select(col("doc_id"), coalesce(col("__root"), col("doc_id")).as("cluster"))
  }

  // ------------------------------------------------------------- SimHash
  /** Fingerprint width. 64 bits matters for the banding path: with
    * `maxHamming = 3` the fingerprint splits into 4 bands, and band-value
    * cardinality is what keeps the candidate equi-join sub-quadratic — 16-bit
    * bands give 65,536 distinct values per band (vs 16 values at a 16-bit
    * fingerprint, which degenerated toward n²/16 candidate pairs).
    */
  val SimBits = 64

  /** 64-bit SimHash over token codes: bit j of the fingerprint is the sign
    * of Σ_tokens (2·bit_j(token) − 1). Token codes carry only ~31 bits of
    * entropy (they live in [0, P)), so each fingerprint bit projects through
    * its own universal hash — bit_j(code) = ((a_j·code + b_j) mod P) & 1 —
    * the same (a, b) family as MinHash, exactly reproducible in the DuckDB
    * oracle with plain integer arithmetic (products stay < 2^55, no
    * overflow). One groupBy with 64 map-side-combinable sums; no UDF.
    */
  def simhash64(tokenCodes: DataFrame): DataFrame = {
    val sums = (0 until SimBits).map(j =>
      sum(when(((lit(hashA(j)) * col("code") + lit(hashB(j))) % P).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s$j"))
    // distinct powers of two: the sum is the bit pattern; the j=63 term is
    // Long.MinValue and the total stays in range (two's complement), so ANSI
    // overflow checking never fires
    val fp = (0 until SimBits).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    tokenCodes.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), fp.as("fp"))
  }

  /** Candidate pairs for [[simhashNearDup]]: EXACT pigeonhole banding, not
    * probabilistic LSH. The fingerprint splits into `maxHamming + 1` bands;
    * any pair within the hamming budget must agree on at least one whole
    * band (pigeonhole), so candidates come from an equi-join on
    * (band index, band value) with zero recall loss. Unsigned shift: band
    * extraction must not sign-extend fingerprints with bit 63 set.
    */
  def simhashBandCandidates(fps: DataFrame, maxHamming: Int): DataFrame =
    simhashJoin(simhashBands(fps, maxHamming))

  /** (doc_id, fp, band, bval) — one row per fingerprint per band. */
  private def simhashBands(fps: DataFrame, maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = SimBits / nBands
    fps.select(col("doc_id"), col("fp"),
      posexplode(array((0 until nBands).map(b =>
        shiftrightunsigned(col("fp"), b * bandBits)
          .bitwiseAND(if (bandBits == 64) -1L else (1L << bandBits) - 1)): _*))
        .as(Seq("band", "bval")))
  }

  private def simhashJoin(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.fp").as("fpi"), col("b.fp").as("fpj"))
      .distinct()

  /** [[simhashBandCandidates]] with the [[capBuckets]] hot-bucket guard —
    * the pigeonhole recall guarantee then holds only for pairs whose
    * agreeing band survived the cap; the report says exactly what was cut.
    */
  def simhashBandCandidatesCapped(fps: DataFrame, maxHamming: Int,
      cap: Int): (DataFrame, CapReport) = {
    val (kept, report) = capBuckets(simhashBands(fps, maxHamming), Seq("band", "bval"), cap)
    (simhashJoin(kept), report)
  }

  /** SimHash near-duplicate pairs: hamming(fp_a, fp_b) ≤ maxHamming over
    * 64-bit fingerprints. Only band-collision candidates pay the bit_count
    * check — O(n) per band instead of the O(n²) cross join.
    */
  def simhashNearDup(fps: DataFrame, maxHamming: Int): DataFrame =
    simhashBandCandidates(fps, maxHamming)
      .select(col("i"), col("j"),
        bit_count(col("fpi").bitwiseXOR(col("fpj"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)

  // ------------------------------------------- embedding-cosine near-dup
  /** Near-duplicate pairs by embedding cosine ≥ threshold — the semantic
    * twin of token-based near-dup (catches paraphrases token methods miss).
    * Exact pairwise baseline; at scale use [[embeddingNearDupLsh]].
    */
  def embeddingNearDupPairs(vectors: DataFrame, threshold: Double,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val a = vectors.select(col(idCol).as("i"), col(embCol).as("ea"))
    val b = vectors.select(col(idCol).as("j"), col(embCol).as("eb"))
    a.join(b, col("i") < col("j"))
      .withColumn("cos", graft.functions.GraftFunctions.cosine_sim(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), col("cos"))
  }

  /** Scale path: random-hyperplane buckets first (near-identical vectors
    * share all sign bits with high probability), exact cosine only within a
    * bucket — candidate generation becomes an equi-join like minhash-LSH.
    */
  def embeddingNearDupLsh(vectors: DataFrame, threshold: Double, dim: Int, nPlanes: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    embeddingBucketJoin(embeddingBuckets(vectors, dim, nPlanes, idCol, embCol),
      threshold, idCol, embCol)

  private def embeddingBuckets(vectors: DataFrame, dim: Int, nPlanes: Int,
      idCol: String, embCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    vectors.select(col(idCol), col(embCol),
      Similarity.lshBucket(col(embCol), dim, nPlanes).as("bucket"))
  }

  private def embeddingBucketJoin(bucketed: DataFrame, threshold: Double,
      idCol: String, embCol: String): DataFrame = {
    val a = bucketed.select(col("bucket"), col(idCol).as("i"), col(embCol).as("ea"))
    val b = bucketed.select(col("bucket"), col(idCol).as("j"), col(embCol).as("eb"))
    a.join(b, Seq("bucket")).filter(col("i") < col("j"))
      .withColumn("cos", graft.functions.GraftFunctions.cosine_sim(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), col("cos")).distinct()
  }

  /** [[embeddingNearDupLsh]] with the [[capBuckets]] hot-bucket guard. */
  def embeddingNearDupLshCapped(vectors: DataFrame, threshold: Double, dim: Int,
      nPlanes: Int, cap: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): (DataFrame, CapReport) = {
    val (kept, report) =
      capBuckets(embeddingBuckets(vectors, dim, nPlanes, idCol, embCol), Seq("bucket"), cap)
    (embeddingBucketJoin(kept, threshold, idCol, embCol), report)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-then-prune
    * semantic dedup — the scale path that makes embedding-cosine dedup
    * feasible at corpus size. [[KMeans.train]] first partitions the corpus
    * into k semantic cells (deterministic integer Lloyd, oracle-replayable),
    * then the exact cosine check runs ONLY within a cell: the pair space
    * drops from O(n²) to Σ|cell|² and the candidate join is an equi-join on
    * the cell id — the same bucketed shape as LSH banding, but with buckets
    * that carry semantic meaning (paraphrase pairs land together even when
    * no token or hyperplane bucket would catch them).
    *
    * Pruning rule (deterministic, engine-independent): within a cell, a
    * vector is dropped iff some LOWER-id vector in the same cell has cosine
    * ≥ threshold with it. Returns one row per input vector:
    * (idCol, cell, kept) — survivors are `kept`; a caller wanting the
    * cluster summary aggregates by cell.
    *
    * 100 TB shape: per-cell membership is bounded by the clustering (k
    * scales with corpus size; SemDeDup uses ~100k cells at web scale), so
    * no cell is quadratic-hot; a skewed cell can additionally be guarded
    * with [[capBuckets]] on the cell id before the self-join.
    */
  def semanticDedup(vectors: DataFrame, k: Int, iters: Int, threshold: Double,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val model = KMeans.train(vectors, k, iters, idCol = idCol, embCol = embCol)
    val withCell = vectors.select(col(idCol), col(embCol))
      .join(model.assigned.select(col("vec_id").as(idCol), col("cell")), Seq(idCol))
    val a = withCell.select(col("cell"), col(idCol).as("i"), col(embCol).as("ea"))
    val b = withCell.select(col("cell"), col(idCol).as("j"), col(embCol).as("eb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("i") < col("j") &&
        graft.functions.GraftFunctions.cosine_sim(col("ea"), col("eb")) >= threshold)
      .select(col("j").as(idCol)).distinct()
    withCell
      .join(dropped.withColumn("__drop", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        not(coalesce(col("__drop"), lit(false))).as("kept"))
  }

  // ------------------------------------------------- n-gram shingles
  /** Word n-gram shingles in document order: (doc_id, shingle). Pure
    * per-row array arithmetic (slice over the token array) — NO window and
    * no exchange: the earlier posexplode + per-doc-window form shuffled and
    * sorted the entire exploded token table just to look ahead n−1 rows,
    * a full-corpus exchange this formulation never pays. Documents shorter
    * than n yield no shingles (and the size guard keeps `sequence`
    * ascending).
    */
  def shingles(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // the token array is BOUND as a lambda variable (1-element outer
    // transform): as a plain column it was inlined by projection collapse
    // into both the length filter and the generator — re-splitting the
    // text twice per row (measured 1.7× on the sf0.1 corpus); the
    // when-guard replaces the filter, short docs yield an empty array and
    // explode drops them, same semantics
    docs.select(col(idCol).as("doc_id"),
      explode(element_at(transform(array(split(col(textCol), " ")), ts =>
        when(size(ts) >= n,
          transform(sequence(lit(0), size(ts) - n),
            i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))), 1)).as("sh"))

  /** Pairwise Jaccard over distinct n-gram shingles (small-n baseline; the
    * scale path feeds [[shingles]] into the MinHash pipeline instead).
    */
  /** Edit-distance near-dup pairs — the third dedup family next to
    * set-similarity (Jaccard/MinHash) and bit-similarity (SimHash):
    * `levenshtein ≤ maxDist` pairs via EXACT length-bin banding. Bins are
    * `floor(len / (maxDist+1))`; a distance-≤ maxDist pair differs in
    * length by ≤ maxDist, so its bins differ by ≤ 1 — one side explodes to
    * (bin−1, bin, bin+1) and candidates are an equi-join on the bin, never
    * all-pairs (and each pair meets in exactly one bin: zero recall loss,
    * no duplicate candidates). The exact levenshtein verifies candidates
    * only. At corpus scale the banding key would extend with a character
    * n-gram sketch; the join shape is unchanged.
    */
  def editDistanceNearDup(df: DataFrame, maxDist: Int,
      idCol: String = "doc_id", strCol: String = "text"): DataFrame = {
    val binW = maxDist + 1
    val a = df.select(col(idCol).as("i"), col(strCol).as("sa"),
      (length(col(strCol)) / binW).cast("long").as("bin"))
    val b = df.select(col(idCol).as("j"), col(strCol).as("sb"),
        (length(col(strCol)) / binW).cast("long").as("bin0"))
      .select(col("j"), col("sb"),
        explode(array(col("bin0") - 1, col("bin0"), col("bin0") + 1)).as("bin"))
    a.join(b, Seq("bin")).filter(col("i") < col("j"))
      .filter(abs(length(col("sa")) - length(col("sb"))) <= maxDist)
      .filter(levenshtein(col("sa"), col("sb")) <= maxDist)
      .select(col("i"), col("j"),
        levenshtein(col("sa"), col("sb")).cast("bigint").as("dist"))
  }

  /** Two-table record linkage (entity resolution across sources) for
    * FIXED-FORMAT keys (phones, codes, padded ids): candidate pairs via
    * EXACT pigeonhole segment blocking — split the string into
    * `maxDist + 1` equal segments; under a substitution-only edit model
    * (aligned formats never insert/delete) any pair within `maxDist`
    * differs in ≤ maxDist positions, so at least one segment matches
    * verbatim — an equi-join on (segment index, segment text), zero recall
    * loss, never a cross join. Candidates then verify by exact BYTE-wise
    * Hamming distance (the codegen `hamming` expression; = char-Hamming
    * for the ASCII fixed-format keys this operator is for — normalize
    * non-ASCII keys before linking; levenshtein would accept the
    * unaligned edits the blocking can't see, so the verify matches the
    * block model).
    * The two-table twin of [[editDistanceNearDup]] (whose length-bin
    * banding covers variable-length text within one table).
    *
    * Returns (left id, right id, dist ≤ maxDist). Strings of unequal
    * length never match (fixed-format contract). Segmentation is
    * FLOOR-based with the last segment absorbing the remainder, so every
    * segment of a length ≥ maxDist+1 string is non-empty — a ceil split
    * would leave empty trailing segments on short strings, and the
    * ("", "") equi-match would degrade that length class to all-pairs.
    * Strings SHORTER than maxDist+1 carry empty middle segments by
    * construction and do pair all-to-all within their length class —
    * genuinely required there, since maxDist edits can touch every
    * position of such a key.
    */
  def hammingLink(left: DataFrame, right: DataFrame, maxDist: Int,
      leftId: String, leftCol: String, rightId: String, rightCol: String): DataFrame = {
    val nSeg = maxDist + 1
    def seged(df: DataFrame, id: String, s: String, side: String): DataFrame =
      df.select(col(id).as(s"${side}_id"), col(s).as(s"${side}_s"),
          length(col(s)).as(s"${side}_len"),
          explode(sequence(lit(0), lit(nSeg - 1))).as("seg"))
        .withColumn("segtxt", expr(
          s"substring(${side}_s, seg * (${side}_len DIV $nSeg) + 1, " +
            s"IF(seg = $nSeg - 1, ${side}_len - ($nSeg - 1) * (${side}_len DIV $nSeg), " +
            s"${side}_len DIV $nSeg))"))
    graft.functions.GraftFunctions.register(left.sparkSession)
    val a = seged(left, leftId, leftCol, "l")
    val b = seged(right, rightId, rightCol, "r")
    // verify via the codegen hamming expression — the aggregate-HOF form
    // is CodegenFallback (interpreted lambda + a substring allocation per
    // position per candidate); one fused byte loop keeps the verify stage
    // inside whole-stage codegen
    a.join(b, a("seg") === b("seg") && a("segtxt") === b("segtxt") &&
        a("l_len") === b("r_len"))
      .select(col("l_id"), col("r_id"), col("l_s"), col("r_s")).distinct()
      .withColumn("dist",
        graft.functions.GraftFunctions.hamming(col("l_s"), col("r_s")).cast("bigint"))
      .filter(col("dist") <= maxDist)
      .select(col("l_id"), col("r_id"), col("dist"))
  }

  /** End-to-end dedup verdict — the call a corpus pipeline actually makes:
    * near-dup pairs → connected components → canonical member per cluster
    * (most tokens, id tie-break) → per-document keep/drop. `pairs` come
    * from any candidate generator (exact Jaccard for the bounded oracle,
    * MinHash-LSH at scale — same (i, j) contract), so the expensive
    * all-pairs step is pluggable while clustering and selection stay
    * identical.
    */
  def dedupVerdict[T](docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text")(consume: DataFrame => T): T =
    connectedComponents(pairs.select(col("i"), col("j")),
        docs.select(col(idCol).as("doc_id"))) { labels =>
      consume(verdictFromLabels(docs, labels, idCol, textCol))
    }

  /** The verdict projection alone, over an ALREADY-RESOLVED cluster
    * assignment (`labels`: doc_id, cluster) — the shape a pipeline that
    * computed its components once actually calls per consumer. The
    * canonical pick (most tokens, id tie-break) is a total order per
    * cluster (ids unique), so the representative is `min(struct(-tokens,
    * doc_id))` — a partial/map-side-combinable aggregate whose per-cluster
    * result joins back to flag `keep` rows. The per-cluster frame is tiny
    * next to the corpus (one row per cluster after map-side combine), so
    * the join-back broadcasts under AQE; the former rn=1 window sorted
    * every corpus row by (cluster, tokens, doc_id) inside one exchange
    * instead.
    */
  def verdictFromLabels(docs: DataFrame, labels: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("bigint").as("tokens"))
    val j = labels.join(toks, "doc_id")
    val reps = j.groupBy(col("cluster"))
      .agg(min(struct((-col("tokens")).as("nt"), col("doc_id").as("rep"))).as("r"))
      .select(col("cluster"), col("r.rep").as("__rep"))
    j.join(reps, Seq("cluster"))
      .select(col("doc_id"), col("cluster").cast("bigint").as("cluster"),
        col("tokens"), (col("doc_id") === col("__rep")).as("keep"))
  }

  /** Exact repeated-span detection (the substring-dedup pass of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL 2022,
    * at word-shingle granularity): `k`-token spans occurring verbatim in
    * more than one document, with document frequency and the offending id
    * range. Candidate generation is a grouped count keyed on the span — ONE
    * hash shuffle, never pairwise over documents; at 100 TB the shuffle key
    * would be `xxhash64(span)` (8-byte keys, identical plan shape) with an
    * equality re-check on collision-suspect groups.
    */
  def spanDedup(docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    shingles(docs, k, idCol, textCol).distinct()
      .groupBy(col("sh").as("span"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") >= 2)

  /** Word n-gram shingles WITH their 0-based start position:
    * (doc_id, pos, sh). Same per-row slicing as [[shingles]] (no window, no
    * exchange); position is what lets a consumer reason about ADJACENCY of
    * matches — the input to [[duplicateSpans]]'s diagonal-run construction.
    */
  def positionedShingles(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(element_at(transform(array(split(col(textCol), " ")), ts =>
        when(size(ts) >= n,
          transform(sequence(lit(0), size(ts) - n),
            i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))), 1)).as(Seq("pos", "sh")))

  /** Longest duplicated token span per document pair — the exact-substring
    * dedup signal (the suffix-array finding of "Deduplicating Training Data
    * Makes Language Models Better": long verbatim spans, not whole-doc
    * similarity, are what repeats in crawled corpora), re-expressed as
    * relational algebra: two docs share a span of `L ≥ k` tokens iff they
    * share `L − k + 1` CONSECUTIVE `k`-shingles on one alignment diagonal
    * (`pos_a − pos_b` constant). So: positioned shingles → df-cut
    * [2, dfCap] (singletons can't pair; shingles in > dfCap docs are
    * boilerplate, excluded BY DESIGN and loudly — the suffix-array papers
    * drop them too) → shingle equi-join (never doc-pairwise) → per
    * (a, b, diagonal) consecutive-run grouping via the classic
    * `pos − row_number()` trick → longest run per pair.
    *
    * Scale shape: the join fans out at most dfCap² per shingle occurrence;
    * the run window partitions by (a, b, diag) — many tiny partitions, no
    * global sort. Output: top `topN` pairs by (span_tokens DESC, a, b),
    * span_tokens = longest shared verbatim run in TOKENS (= run + k − 1),
    * n_runs = number of distinct shared diagonal runs of any length.
    */
  def duplicateSpans(docs: DataFrame, k: Int, dfCap: Int, topN: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = positionedShingles(docs, k, idCol, textCol)
    val keep = sh.groupBy("sh")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select("sh")
    val surv = sh.join(keep, "sh")
    val a = surv.select(col("sh"), col("doc_id").as("a"), col("pos").as("pa"))
    val b = surv.select(col("sh"), col("doc_id").as("b"), col("pos").as("pb"))
    val m = a.join(b, "sh").filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("pa"), (col("pa") - col("pb")).as("diag"))
    val w = Window.partitionBy("a", "b", "diag").orderBy("pa")
    val runs = m.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("a", "b", "diag", "grp").agg(count(lit(1)).as("run"))
    runs.groupBy("a", "b")
      .agg((max(col("run")) + (k - 1)).cast("bigint").as("span_tokens"),
        count(lit(1)).cast("bigint").as("n_runs"))
      .orderBy(col("span_tokens").desc, col("a"), col("b")).limit(topN)
  }

  /** Per-document novelty: of a doc's DISTINCT word n-grams, how many occur
    * in NO earlier document (first occurrence = this doc, "earlier" = lower
    * id)? The decayed-novelty signal a crawl pipeline uses to drop
    * boilerplate-heavy additions; exact integers, so cross-engine stable.
    * Shape: shingle (per-row array slicing, no window) → grouped
    * min(doc_id) per shingle (one shuffle) → join back on shingle (second
    * shuffle, same key — one exchange under reuse) → per-doc counts. Never
    * pairwise; linear in corpus shingle volume.
    */
  def noveltyScore(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // No shingle-keyed JOIN back to the shingle set (the former shape
    // shuffled and sorted every shingle twice to ask "am I my shingle's
    // first doc"): a doc's n_novel is just the number of `first` rows
    // whose min landed on it, so two partial-aggregable passes — per-doc
    // shingle counts, per-doc first-ownership counts — meet in a tiny
    // per-doc join instead (guide §2.3 "aggregate before you shuffle";
    // every exchange here carries one row per doc or per distinct
    // shingle, map-side combined).
    // both branches consume the identical distinct subtree — exchange
    // reuse shares its shuffle in the physical plan, no persist needed
    val sh = shingles(docs, n, idCol, textCol).distinct()
    val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val novel = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }

  /** Sorted-neighborhood candidate generation — the fourth dedup family
    * next to set- (MinHash), bit- (SimHash), and edit-distance banding:
    * sort the corpus by a blocking key, slide a window of `w`, pair rows
    * whose ranks differ by ≤ w. Global rank comes from
    * [[graft.engine.Ranking.withGlobalIndex]] (range partition +
    * zipWithIndex — distributed, never a single-partition window); the
    * neighborhood join is an equi-join on `floor(rank/w)` with the left
    * side exploded to (block, block+1) — a pair within w spans at most one
    * block boundary, so recall is exact and no pair duplicates. Emits
    * (i, j, rank_dist) with i,j in id order; callers verify candidates
    * with their exact similarity of choice.
    */
  def sortedNeighborhood[T](docs: DataFrame, sortKey: Column, w: Int,
      idCol: String = "doc_id")(consume: DataFrame => T): T = {
    require(w > 0, "window must be positive")
    graft.engine.Ranking.withGlobalIndex(
      docs.select(col(idCol).as("__id"), sortKey.as("__sk")),
      Seq(col("__sk"), col("__id"))) { ranked =>
      val a = ranked.select(col("__id").as("ia"), col("__idx").as("ra"))
        .select(col("ia"), col("ra"),
          explode(array(expr(s"ra DIV $w"), expr(s"ra DIV $w + 1"))).as("blk"))
      val b = ranked.select(col("__id").as("ib"), col("__idx").as("rb"),
        expr(s"__idx DIV $w").as("blk"))
      consume(a.join(b, "blk")
        .filter(col("rb") > col("ra") && col("rb") - col("ra") <= w)
        .select(least(col("ia"), col("ib")).as("i"),
          greatest(col("ia"), col("ib")).as("j"),
          (col("rb") - col("ra")).cast("bigint").as("rank_dist")))
    }
  }

  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val t = shingles(docs, n).distinct().withColumnRenamed("sh", "tok")
    val sizes = t.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = t.as("a").join(t.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))
    shared
      .join(sizes.select(col("doc_id").as("i"), col("n").as("ni")), "i")
      .join(sizes.select(col("doc_id").as("j"), col("n").as("nj")), "j")
      .withColumn("jaccard", col("c") / (col("ni") + col("nj") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))
  }
}
