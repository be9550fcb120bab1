package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.KMeans

/** Persistent incremental IVF vector index — the ANN leg of the
  * incremental-analytics store family (bands = similarity, HLL =
  * cardinality, MG = frequency, postings = retrieval, this = vectors):
  * centroids are trained ONCE on the initial corpus with the
  * oracle-replayable integer Lloyd ([[graft.llm.KMeans]] — deterministic,
  * no RNG), then every ingested batch assigns its vectors to the FIXED
  * centroid set (the narrow per-row argmin) and commits them under
  * `vectors/batch=<id>/cell=<c>/` — a `_SUCCESS`-gated batch dir whose
  * inner `cell=` level is a real partition column. A search probes the
  * `nProbe` nearest cells and reads ONLY those cells' files (directory-level
  * partition pruning — the columnar stand-in for an inverted-list seek), so
  * query cost scales with the probed fraction of the corpus, not its
  * accumulated size: the property that keeps "search everything ever
  * ingested" affordable after a year of embedding batches.
  *
  * Same commit contract as the other stores: idempotent per-batch overwrite
  * (a replayed batch rewrites its own dir with identical content — the
  * fixed centroids make assignment replay-stable), appends never touch
  * history, uncommitted partials are invisible. A vec_id lives in exactly
  * one batch.
  *
  * Because centroids never move WITHIN a generation, search results over
  * the accumulated store are IDENTICAL to a one-shot IVF over the union
  * corpus with the same centroids — which is exactly what the t2 oracle
  * computes (q89h replays the Lloyd chain, the probe ranking and the
  * cosine rerank in SQL, never touching the index).
  *
  * Centroid drift is handled by GENERATIONS ([[recluster]]): retraining
  * publishes a complete new index state — fresh centroids AND every
  * committed batch reassigned under them — and flips readers to it with
  * one atomic manifest publish, so a reader can never pair one
  * generation's centroids with another's cell layout. Each generation's
  * centroids are frozen, which preserves the replay contract; a crashed
  * stream replaying `append(batchId)` of a batch a migration re-homed is a
  * no-op (the id sits under the migration's watermark).
  */
final class VectorIndexStore(val dir: String) {

  // centroids and vectors live in one generation ([[Generations]]):
  // readers resolve it once, so the pair can never tear
  private val gens = new Generations(dir, Seq("vectors"), Seq("centroids"))

  /** The generation readers and appenders currently bind to. */
  def liveGen: Long = gens.liveGen

  /** Trains the cell layout on the initial corpus (integer Lloyd — see
    * [[graft.llm.KMeans.train]]) and persists the centroid table. Call once
    * per index; appends and searches bind to these frozen centroids until a
    * [[recluster]] publishes a new generation.
    */
  def init(corpus: DataFrame, k: Int, iters: Int, scale: Int = 4096,
      idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val model = KMeans.train(corpus, k, iters, scale, idCol, embCol)
    model.centroids.coalesce(1).write.mode("overwrite").parquet(gens.path(0L, "centroids"))
  }

  private def centroidsAt(spark: SparkSession, g: Long): KMeans.Centroids =
    KMeans.collectCentroids(spark.read.parquet(gens.path(g, "centroids")))

  /** Assigns one vector batch to the frozen centroids and commits it,
    * partitioned by cell. The raw embedding rides along for the exact
    * rerank at search time (the quantized view exists only inside the
    * assignment expression), and every OTHER input column is persisted as
    * payload — metadata (labels, timestamps, source) that a filtered
    * search can push down into the cell scan. An id at or below the live
    * watermark was re-homed by a [[recluster]]; its replay no-ops.
    */
  def append(batch: DataFrame, batchId: Long, scale: Int = 4096,
      idCol: String = "vec_id", embCol: String = "embedding"): Unit =
    gens.append(batchId)(appendTo(_, batch, batchId, scale, idCol, embCol))

  /** [[append]] bound to an explicit generation (also the straggler test
    * seam — [[HllSketchStore.appendAt]]).
    */
  private[graft] def appendTo(g: Long, batch: DataFrame, batchId: Long,
      scale: Int = 4096, idCol: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    val cents = centroidsAt(batch.sparkSession, g)
    batch.withColumnRenamed(idCol, "vec_id").withColumnRenamed(embCol, "embedding")
      .withColumn("cell",
        KMeans.cellOf(KMeans.quantize(col("embedding"), scale), cents))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(gens.batchPath(g, "vectors", batchId))
  }

  /** The live generation's vectors and, separately, the stragglers an
    * in-flight appender committed into a superseded generation after a
    * [[recluster]] snapshotted its input ([[Generations.visible]]). A
    * straggler's stored `cell` is stale (assigned under the superseded
    * centroids), so readers re-derive it under the live centroids —
    * stragglers are a batch or two, so that full read is batch-sized.
    */
  private def vectorsAt(spark: SparkSession,
      at: Generations.Live): (DataFrame, Option[DataFrame]) = {
    val live +: strag = gens.visible("vectors", at)
    require(live.batches.nonEmpty, s"no committed vector batches at $dir")
    (live.read(spark).drop("batch"),
      strag.map(_.read(spark).drop("batch", "cell")).reduceOption(_ unionByName _))
  }

  /** Top-k by exact cosine within the `nProbe` nearest cells per query —
    * reads only the probed cells' files across every committed batch.
    * Output (q_id, n_id, cos DECIMAL(38,4)), deterministic order by
    * (cos DESC, n_id) per query. Queries are a serving-sized frame (its
    * per-query probe lists collapse to ≤ k distinct cells for the scan
    * filter); candidates join queries via the broadcast query side, so the
    * store side never shuffles.
    *
    * `candidateFilter` is the filtered-ANN path (the metadata predicate a
    * vector database applies WITH the similarity search, not after it): a
    * predicate over the store's payload columns, applied to the cell scan
    * BEFORE the rerank — a plain column predicate reaches the parquet
    * reader as a pushed filter, so non-matching row groups are skipped at
    * the same layer the cell pruning happens. Recall caveat is the
    * standard one: candidates still come from the probed cells; a highly
    * selective filter wants a larger nProbe.
    */
  def search(spark: SparkSession, queries: DataFrame, k: Int, nProbe: Int,
      scale: Int = 4096, idCol: String = "vec_id",
      embCol: String = "embedding",
      candidateFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // resolve the generation ONCE: reading liveGen again for the vectors
    // could pair one generation's centroids with another's cell layout if
    // a recluster flips between the two reads
    val at = gens.live
    val cents = centroidsAt(spark, at.gen)
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("qe"))
      .withColumn("cells",
        KMeans.probeCellsOf(KMeans.quantize(col("qe"), scale), cents, nProbe))
    // distinct probed cells: ⊆ the k centroid ids, so this collect is
    // bounded by k regardless of query count
    val probed = q.select(explode(col("cells")).as("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val (live, strag) = vectorsAt(spark, at)
    // stragglers re-derive their cell under the LIVE centroids and pass
    // the same probed-cell filter, so results are exactly the one-shot
    // IVF over the union corpus — concurrent-append visibility without
    // breaking the probe semantics
    val liveProbed = live.filter(col("cell").isin(probed.map(Integer.valueOf): _*))
    val scanned = strag.fold(liveProbed) { s =>
      liveProbed.unionByName(
        s.withColumn("cell",
            KMeans.cellOf(KMeans.quantize(col("embedding"), scale), cents)
              .cast("int"))
          .filter(col("cell").isin(probed.map(Integer.valueOf): _*)))
    }
    val vecs = candidateFilter.fold(scanned)(scanned.filter)
    val scored = vecs.join(broadcast(q), array_contains(col("cells"), col("cell")))
      .withColumn("cos",
        graft.llm.Similarity.cosine(col("embedding"), col("qe")).cast("decimal(38,4)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
  }

  /** Index-health cell histogram — the balance monitor every IVF serving
    * system watches (a hot cell means its inverted list dominates probe
    * latency; many near-empty cells mean the centroids drifted off the
    * data): per cell, the committed vector count and
    * hot_x1000 = (n·k·1000) DIV total — 1000 = perfectly balanced, higher
    * = hot. Reads only the cell column (partition-derived — the scan
    * touches directory metadata plus row counts, not vectors).
    */
  def cellHistogram(spark: SparkSession, scale: Int = 4096): DataFrame = {
    val at = gens.live
    val (live, strag) = vectorsAt(spark, at)
    // stragglers count under their LIVE-centroid cells ([[search]]) — the
    // metadata-only scan becomes a real read for those dirs alone
    val cells = strag.fold(live.select(col("cell"))) { s =>
      val cents = centroidsAt(spark, at.gen)
      live.select(col("cell")).unionByName(s.select(
        KMeans.cellOf(KMeans.quantize(col("embedding"), scale), cents)
          .cast("int").as("cell")))
    }
    val counts = cells
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("tot"), count(lit(1)).as("k"))
    counts.crossJoin(broadcast(total))
      .select(col("cell").cast("bigint").as("cell"), col("n").cast("bigint").as("n"),
        expr("(n * k * 1000) DIV tot").cast("bigint").as("hot_x1000"))
  }

  /** The visible batch dirs (live generation first, then stragglers) —
    * the file list of the `graft-vectorindex` SQL reader.
    */
  private[graft] def visibleBatches: Seq[Generations.Group] = gens.visible("vectors")

  /** Exact integer quantization inertia (Σ min d²) of `corpus` against a
    * centroid set — the drift measure [[recluster]] compares: stale
    * centroids leave inertia a retrain would recover.
    */
  private def inertiaOf(corpus: DataFrame, cents: KMeans.Centroids,
      scale: Int): BigDecimal =
    BigDecimal(corpus
      .select(KMeans.minDist2Of(KMeans.quantize(col("embedding"), scale), cents)
        .cast("decimal(38,0)").as("d2"))
      .agg(sum(col("d2"))).head().getDecimal(0))

  /** Reclaims superseded generations whose superseding flip is older than
    * `minAgeMs` — the in-flight-reader window around a recluster's flip.
    * Gen 0's flat layout is collected too once a migration superseded it;
    * a generation still serving stragglers is kept ([[Generations.vacuum]]).
    * Returns the number of generations reclaimed.
    */
  def vacuumGenerations(minAgeMs: Long = 3600000L): Int = synchronized(gens.vacuum(minAgeMs))

  /** Drift-triggered index maintenance: retrains centroids on ALL committed
    * vectors and — when the retrain recovers more than
    * `minImprovementX1000` parts-per-thousand of quantization inertia —
    * migrates the whole index to a NEW generation: fresh centroid table
    * plus every committed batch reassigned and rewritten under it (batch
    * dirs preserved, so streaming replays stay idempotent across the
    * migration), then ONE atomic manifest publish flips readers over.
    * Returns Some(newGen) after a migration, None when drift is below the
    * threshold (centroids stay frozen — the replay-stability contract).
    *
    * Crash safety is the snapshot-sink shape: everything is written under
    * the not-yet-live next generation before the publish, so a crash anywhere
    * earlier leaves readers on the old generation and the partial is
    * invisible garbage (cleaned by the next recluster attempt). The
    * superseded generation stays on disk for in-flight readers;
    * [[vacuumGenerations]] reclaims it after an age guard.
    *
    * Appends may run CONCURRENT with a migration (fold watermarks —
    * [[Generations]]): a batch committed into the superseded generation
    * after the corpus read carries an id above the published watermark
    * and stays visible as a straggler — [[search]]/[[cellHistogram]]
    * re-derive its cells under the live centroids, and the next
    * recluster adopts it. The remaining single-writer contract is
    * maintenance-vs-maintenance only.
    */
  def recluster(spark: SparkSession, k: Int, iters: Int, scale: Int = 4096,
      minImprovementX1000: Long = 100L): Option[Long] = synchronized {
    val at = gens.live
    // the migration corpus: every visible vector, stragglers included
    val corpus = gens.read(spark, "vectors", at).drop("batch", "cell")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val model = KMeans.train(corpus, k, iters, scale)
      val newCents = KMeans.collectCentroids(model.centroids)
      val curCents = centroidsAt(spark, at.gen)
      val cur = inertiaOf(corpus, curCents, scale)
      val fresh = inertiaOf(corpus, newCents, scale)
      // exact rational compare: cur/fresh > 1 + thr/1000
      val improved = cur * 1000 > fresh * (1000 + minImprovementX1000)
      if (!improved) return None
      val ng = gens.next(at)
      model.centroids.coalesce(1).write.mode("overwrite").parquet(gens.path(ng, "centroids"))
      // full migration, batch identity preserved: each visible batch —
      // including stragglers adopted from superseded generations — is
      // reassigned under the new centroids into the SAME batch id
      val migrated = gens.visible("vectors", at).flatMap(_.batches)
      for ((b, p) <- migrated) {
        val batch = spark.read.parquet(p).drop("cell")
        appendTo(ng, batch, b, scale, "vec_id", "embedding")
      }
      // the atomic flip. The watermark (max migrated id) keeps a CONCURRENT
      // append safe: a batch that committed into generation g after the
      // corpus read above has a higher id and stays visible as a straggler
      // ([[search]] re-derives its cells) until the next recluster adopts
      // it; a replay of a migrated id no-ops ([[append]]). Every visible id
      // was re-homed, so only the generation live during this migration
      // can hold a concurrent append — the floor.
      gens.publish(ng, "recluster", math.max(at.watermark, migrated.map(_._1).max), at.gen)
      // the superseded generation is NOT deleted here: a reader that
      // resolved liveGen just before the flip is still scanning its files —
      // the same in-flight-reader window every store solves with AGE-based
      // collection. vacuumGenerations() reclaims it once it is cold.
      Some(ng)
    } finally {
      corpus.unpersist()
      ()
    }
  }
}
