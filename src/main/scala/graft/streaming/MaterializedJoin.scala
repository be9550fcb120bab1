package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.sink.SnapshotParquetSink

/** Continuously-maintained materialized JOIN view — the join companion to
  * [[MaterializedAgg]]'s incremental-view-maintenance pattern: an
  * append-only fact stream is enriched against a dimension and upserted
  * into a [[SnapshotParquetSink]] keyed by the fact id. Work per micro-batch is
  * proportional to the NEW fact rows (each batch joins only its own rows;
  * the dimension broadcasts), never to the accumulated view.
  *
  * The dimension is a thunk, re-read every micro-batch: a slowly-changing
  * dimension's updates apply to all FUTURE facts without restarting the
  * query. Already-materialized rows keep the dimension values in force
  * when they were joined — the temporal-join semantics a fact table
  * actually wants (a re-enrichment backfill is a batch job over the sink,
  * not this stream's concern). Crash/replay safety is inherited from the
  * sink's last-write-wins merge: a replayed micro-batch re-joins and
  * re-upserts the same fact ids idempotently (seq = batch id, monotone).
  */
object MaterializedJoin {

  /** Starts maintenance of `facts LEFT JOIN dim() USING (joinKey)` into
    * `sink`, upsert-keyed by `factId`. Left-outer so facts never vanish
    * when the dimension row is missing (the unmatched row upgrades in
    * place if a later batch re-delivers the fact after the dim arrives).
    */
  def startStreamStatic(facts: DataFrame, dim: () => DataFrame, joinKey: String,
      factId: String, sink: SnapshotParquetSink, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    facts.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val joined = batch.join(broadcast(dim()), Seq(joinKey), "left_outer")
        sink.merge(
          joined.withColumn("__seq", lit(batchId)).withColumn("__del", lit(false)),
          Seq(factId), "__seq", "__del")
        ()
      }
      .start()
}
