package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.sink.SnapshotParquetSink

/** Continuously-maintained materialized aggregate — the incremental-view-
  * maintenance pattern: a watermarked streaming aggregation runs in UPDATE
  * mode (each micro-batch emits only the group rows whose values changed),
  * and `foreachBatch` upserts those rows into a [[SnapshotParquetSink]] keyed by the
  * group columns. The sink table IS the view: always queryable, eventually
  * equal to the batch aggregate over all data, updated at micro-batch
  * cadence with work proportional to the CHANGED groups, not the table.
  *
  * Why this composes from existing parts: the streaming agg's state store
  * holds the authoritative per-group values, so each emitted row is a full
  * replacement — exactly the last-write-wins contract the sink's merge
  * already implements (seq = the micro-batch id, monotone per group;
  * a replayed batch after crash re-merges idempotently). No additive/delta
  * sink is needed, and every micro-batch adds a queryable VERSION.
  *
  * The watermark bounds the agg state: groups older than the delay are
  * finalized and evicted from the state store, while their LAST emitted
  * values remain in the sink — late data beyond the watermark is dropped by
  * the aggregation (standard streaming semantics), never corrupting the
  * view.
  */
object MaterializedAgg {

  /** Starts maintenance of `SELECT keyCols, count(*), sum(valueCol) GROUP
    * BY keyCols` over the stream into `sink`. Returns the running query;
    * read the view any time via `sink.read`.
    */
  def start(events: DataFrame, keyCols: Seq[String], valueCol: String,
      watermarkCol: String, watermarkDelay: String, sink: SnapshotParquetSink,
      checkpoint: String, trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val agg = events
      .withWatermark(watermarkCol, watermarkDelay)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(coalesce(col(valueCol), lit(0.0))).as("sum_value"))
    agg.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // full replacement per group + monotone seq ⇒ last-write-wins merge
        sink.merge(
          batch.withColumn("__seq", lit(batchId)).withColumn("__del", lit(false)),
          keyCols, "__seq", "__del")
        ()
      }
      .start()
  }
}
