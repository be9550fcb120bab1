package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent Misra–Gries partial store — the FREQUENCY leg of the
  * incremental-analytics triad (LSH band store = similarity, [[HllSketchStore]]
  * = cardinality, this = frequent items): each ingested batch commits its
  * k-counter candidate summary plus the batch's item total under
  * `batch=<id>`; "what's trending over all time" merges STORED partials —
  * counter-wise sums keep the Misra–Gries guarantee additive, so after any
  * number of batches every item with true total frequency > N/(k+1) is
  * present among the merged candidates and each merged estimate
  * under-counts by at most N/(k+1) (N = total items ever ingested). The
  * Zipf tail never leaves its batch: a partial is ≤ k rows regardless of
  * batch size.
  *
  * Same commit contract as [[HllSketchStore]]: `_SUCCESS`-gated batch dirs,
  * idempotent per-batch overwrite, appends never touch history. For EXACT
  * top-m the candidates feed the q84d two-pass recount (semi-join over the
  * corpus) — the store alone answers with the bounded-error estimates.
  */
final class HeavyHitterStore(val dir: String, k: Int = 2000) {

  private val gens = new Generations(dir, Seq(""))

  /** The generation readers and appenders bind to ([[Generations]]). */
  def liveGen: Long = gens.liveGen

  /** Sketch one batch's items and commit the ≤ k-row partial. Batch ids
    * must be strictly increasing across appends ([[HllSketchStore.append]]
    * — the concurrent-compaction contract); an id at or below the live
    * fold watermark is a replay of an already-folded batch and no-ops.
    */
  def append(batch: DataFrame, itemCol: Column, batchId: Long): Unit =
    gens.append(batchId)(appendAt(_, batch, itemCol, batchId))

  /** [[append]] bound to an explicit generation (straggler test seam —
    * [[HllSketchStore.appendAt]]).
    */
  private[graft] def appendAt(g: Long, batch: DataFrame, itemCol: Column,
      batchId: Long): Unit =
    batch.agg(graft.llm.HeavyHitters.column(k, itemCol).as("hh"),
        count(lit(1)).as("batch_n"))
      .select(explode(col("hh")).as(Seq("item", "est")), col("batch_n"))
      .coalesce(1)
      .write.mode("overwrite").parquet(gens.batchPath(g, "", batchId))

  /** Merged candidates from committed partials only: ((item, est) rows,
    * error bound). True count of any returned item lies in
    * [est, est + bound]; any item with true count > bound appears.
    * Empty-only partials (a store whose every committed batch had no
    * items — explode of an empty summary writes zero rows) yield an empty
    * frame and bound 0, not a null crash.
    */
  def candidates(spark: SparkSession): (DataFrame, Long) = {
    val raw = gens.read(spark, "")
    // Σ_b n_b / (k+1): one row per batch feeds the driver scalar
    val bound = raw.select(col("batch"), col("batch_n")).distinct()
      .agg(coalesce(sum(col("batch_n")), lit(0L))).head().getLong(0) / (k + 1L)
    (raw.groupBy("item").agg(sum(col("est")).as("est")), bound)
  }

  /** Store maintenance: materialize the counter-wise merge into ONE
    * partial — exactly the fold [[candidates]] already applies at read
    * time, so the compacted store's candidates AND error bound are
    * identical (the merged rows carry the summed batch total; the additive
    * Σ n_b/(k+1) guarantee is unchanged). Published as the next generation
    * ([[Generations.fold]]); superseded partials stay for in-flight
    * readers until [[vacuumGenerations]]. The published manifest carries
    * the fold watermark, so appends may run concurrent with compaction
    * (stragglers stay visible from the superseded generation, folded-id
    * replays no-op); the remaining single-writer contract is
    * maintenance-vs-maintenance only.
    * `dropBelow` is the retention horizon ([[HllSketchStore.compact]]):
    * partials below it are dropped, not folded — "trending over all time"
    * becomes "trending over the retained window", with the error bound
    * shrinking to the window's Σ n_b/(k+1).
    */
  def compact(spark: SparkSession, dropBelow: Long = Long.MinValue): Unit =
    synchronized {
      gens.fold(spark, "heavy-hitter compaction", dropBelow) { (_, raw) =>
        val totalN = raw.select(col("batch"), col("batch_n")).distinct()
          .agg(coalesce(sum(col("batch_n")), lit(0L))).head().getLong(0)
        raw.groupBy("item").agg(sum(col("est")).as("est"))
          .select(col("item"), col("est"), lit(totalN).as("batch_n"))
          .coalesce(1)
      }
    }

  /** Age-guarded reclaim of superseded generations ([[Generations.vacuum]]). */
  def vacuumGenerations(minAgeMs: Long = 3600000L): Int = synchronized(gens.vacuum(minAgeMs))
}
