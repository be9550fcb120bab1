package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent mergeable-sketch store — the materialized-aggregate pattern
  * that keeps cardinality analytics incremental at 100 TB: each ingested
  * batch writes its per-group HLL partials (KBs per group, regardless of
  * batch row count) under `dir/batch=<id>`; a cardinality query merges the
  * stored partials with `hll_union_agg` and never re-reads history. The
  * mirror of [[graft.llm.Dedup.incrementalLshCandidates]]'s band store, for
  * the COUNT-DISTINCT side of the house: ingest cost is one pass over the
  * NEW batch only, query cost is proportional to (groups × batches), not
  * corpus rows.
  *
  * Properties the tests pin:
  *   - append touches ONLY its own `batch=<id>` directory and is an
  *     idempotent overwrite (the CDC sinks' re-run contract);
  *   - merged estimates are associative: estimates over stored partials
  *     equal a from-scratch sketch of the union (within the HLL rsd);
  *   - partials are Datasketches HLL bytes (Spark 4 builtins), the
  *     cross-job exchange format — any Spark job's partials merge with any
  *     other's at the same or compatible lgK.
  */
final class HllSketchStore(val dir: String, lgK: Int = 12) {

  private val gens = new Generations(dir, Seq(""))

  /** The generation readers and appenders bind to ([[Generations]]). */
  def liveGen: Long = gens.liveGen

  /** Sketch one batch's per-group partials and commit them under the live
    * generation's `batch=<batchId>`. One narrow aggregation over the new
    * batch — map-side partials, one shuffle on the group key, tiny output.
    *
    * Batch ids must be strictly increasing across appends (streaming
    * epochs; dated ids) — the contract that makes appends safe concurrent
    * with [[compact]]: an id at or below the live fold watermark is a
    * checkpoint replay of an already-folded batch and is a NO-OP (the
    * merged partial already contains it; re-appending would double-count).
    */
  def append(batch: DataFrame, groupCols: Seq[String], valueCol: String,
      batchId: Long): Unit =
    gens.append(batchId)(appendAt(_, batch, groupCols, valueCol, batchId))

  /** [[append]] bound to an explicit generation — the write path after the
    * generation resolution, exposed so tests can commit a straggler into a
    * generation a concurrent compaction just superseded.
    */
  private[graft] def appendAt(g: Long, batch: DataFrame, groupCols: Seq[String],
      valueCol: String, batchId: Long): Unit =
    batch.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sk"),
        count(lit(1)).as("n_rows"))
      .write.mode("overwrite").parquet(gens.batchPath(g, "", batchId))

  /** The live generation's committed batch dirs — uncommitted partials
    * (no `_SUCCESS` marker) never surface ([[Generations.visible]]).
    */
  def committedBatchPaths: Seq[String] = gens.visible("").head.paths

  /** Merge every COMMITTED partial: per group, the unioned-sketch estimate
    * plus batch/row bookkeeping. Reads only sketch rows — history's data
    * files are never touched.
    */
  def estimates(spark: SparkSession, groupCols: Seq[String]): DataFrame =
    gens.read(spark, "")
      .groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("estimate"),
        countDistinct(col("batch")).cast("bigint").as("n_batches"),
        sum(col("n_rows")).cast("bigint").as("n_rows"))

  /** Store maintenance: union every committed partial into ONE partial per
    * group (HLL union is associative and idempotent at a fixed lgK, so a
    * compacted store answers [[estimates]] identically — except
    * `n_batches`, which becomes 1 by construction), published as the next
    * generation ([[Generations.fold]] — readers safe during the rewrite, no
    * reader window; superseded partials stay for in-flight readers until
    * [[vacuumGenerations]]). A year of daily appends collapses from 365
    * batch dirs to one.
    *
    * The published manifest carries the fold WATERMARK — the largest batch
    * id merged — so appends may run CONCURRENT with compaction: a batch
    * the snapshot below didn't see commits with a higher id (strictly
    * increasing ids) and stays visible from the superseded generation
    * ([[Generations.visible]]) until the next compact folds it;
    * a post-flip replay of a folded id no-ops ([[append]]). The remaining
    * single-writer contract is maintenance-vs-maintenance only.
    *
    * `dropBelow` is RETENTION: partials with batch id below it are not
    * folded — they simply don't exist in the new generation (the Kafka
    * `retention.ms` analog for a year of daily partials; the dropped ids
    * sit under the published watermark, so a late replay of one no-ops
    * instead of resurrecting it). A retention fold lands at
    * `batch=<max folded id>` rather than −1 so a LATER retention pass can
    * still judge the merged window by id: drop horizons only ever move
    * forward, so the window dir is retained until the horizon passes its
    * newest member. Retention therefore composes with itself and with
    * full compaction; the one rule is that a full (−1) fold erases ids,
    * after which retention can only drop the whole history blob at once.
    */
  def compact(spark: SparkSession, dropBelow: Long = Long.MinValue): Unit =
    synchronized {
      gens.fold(spark, "sketch-store compaction", dropBelow) { (_, raw) =>
        val groupCols = raw.columns.filterNot(Set("sk", "n_rows", "batch")).toSeq
        raw.groupBy(groupCols.map(col): _*)
          .agg(hll_union_agg(col("sk")).as("sk"), sum(col("n_rows")).as("n_rows"))
          .coalesce(1)
      }
    }

  /** Age-guarded reclaim of superseded generations ([[Generations.vacuum]]). */
  def vacuumGenerations(minAgeMs: Long = 3600000L): Int = synchronized(gens.vacuum(minAgeMs))
}
