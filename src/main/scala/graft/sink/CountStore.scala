package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent additive-count store — the simplest member of the
  * incremental-analytics store family (bands = similarity, HLL =
  * cardinality, MG = frequency, postings = retrieval, this = plain
  * counts): each batch commits its GROUPED per-key counts under a
  * `_SUCCESS`-gated `batch=<id>` dir (one tiny write, sized by key count,
  * not batch rows), and reads merge by summing — counts are the one
  * statistic whose partials compose with no sketch error at all. The
  * accumulated stream is never re-read: per-batch cost is one pass over
  * the NEW rows, read cost is (keys × batches) partial rows.
  *
  * Same commit contract as the sketch stores: idempotent per-batch
  * overwrite (a replayed batch rewrites its own dir with identical
  * content), appends never touch history, uncommitted partials invisible.
  * Maintenance is the shared generation machinery ([[Generations]]):
  * [[compact]] folds every visible partial into one per key and flips
  * readers with a single watermarked manifest publish, so appends run
  * concurrent with compaction under the strictly-increasing-batch-id
  * contract ([[HllSketchStore]] — stragglers stay visible, folded-id
  * replays no-op).
  */
final class CountStore(val dir: String) {

  private val gens = new Generations(dir, Seq(""))

  /** The generation readers and appenders bind to ([[Generations]]). */
  def liveGen: Long = gens.liveGen

  /** Commits one batch's grouped counts over `keyCols`. Batch ids must be
    * strictly increasing across appends; an id at or below the live fold
    * watermark is a replay of an already-folded batch and no-ops.
    */
  def append(batch: DataFrame, keyCols: Seq[String], batchId: Long): Unit =
    gens.append(batchId)(appendAt(_, batch, keyCols, batchId))

  /** [[append]] bound to an explicit generation (straggler test seam —
    * [[HllSketchStore.appendAt]]).
    */
  private[graft] def appendAt(g: Long, batch: DataFrame, keyCols: Seq[String],
      batchId: Long): Unit =
    batch.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .coalesce(1)
      .write.mode("overwrite").parquet(gens.batchPath(g, "", batchId))

  /** Merged running counts per key over everything ever committed. */
  def counts(spark: SparkSession, keyCols: Seq[String]): DataFrame =
    gens.read(spark, "")
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n")).as("n"))

  /** Store maintenance: fold every visible partial into ONE per-key
    * partial (count addition is exactly the read-time merge, so [[counts]]
    * is identical before and after), published as the next generation with
    * the fold watermark ([[Generations.fold]] — appends may run
    * concurrent; remaining single-writer contract is
    * maintenance-vs-maintenance only). `dropBelow` is the retention
    * horizon: partials below it are dropped, not folded.
    */
  def compact(spark: SparkSession, dropBelow: Long = Long.MinValue): Unit =
    synchronized {
      gens.fold(spark, "count-store compaction", dropBelow) { (_, raw) =>
        val keyCols = raw.columns.filterNot(Set("n", "batch")).toSeq
        raw.groupBy(keyCols.map(col): _*)
          .agg(sum(col("n")).as("n"))
          .coalesce(1)
      }
    }

  /** Age-guarded reclaim of superseded generations ([[Generations.vacuum]]). */
  def vacuumGenerations(minAgeMs: Long = 3600000L): Int = synchronized(gens.vacuum(minAgeMs))
}
