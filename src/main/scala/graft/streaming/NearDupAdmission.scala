package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.llm.{Dedup, MinHashAggregator}
import graft.sink.{DeleteMode, SnapshotParquetSink}

/** Continuous near-duplicate admission — the streaming composition of
  * [[graft.llm.Dedup.incrementalLshCandidates]]: every micro-batch of
  * incoming documents is tokenized and MinHash-signed ONCE, its candidate
  * pairs are generated against the persistent band store (plus within the
  * batch), estimates resolve against the signature store, the verdict
  * frame is handed to the caller, and the batch's bands + signatures are
  * upserted so the NEXT batch sees them. The standing corpus is never
  * re-read, re-tokenized or re-signed — candidate generation is
  * O(|batch| · bands + bucket fan-out) regardless of how large the
  * accumulated corpus is, the property that makes dedup-at-ingest viable
  * at crawl scale. (The estimate join touches the signature store only on
  * the candidate ids — at 100 TB both stores are bucketed on their keys,
  * e.g. [[graft.sink.SnapshotParquetSink]], so both joins co-locate.)
  *
  * Crash/replay safety is inherited from the sinks' last-write-wins merge:
  * stores are keyed by (doc_id, band) / (doc_id, hi) with seq = batch id,
  * so a replayed micro-batch re-upserts identical rows idempotently and
  * re-emits the same candidate frame (the store state it joins against is
  * unchanged by the replay).
  */
object NearDupAdmission {

  /** Starts admission over a streaming `docs` frame with columns
    * (`idCol`, `textCol`). `onBatch(estimates, batchId)` receives the
    * (i, j, est) frame per micro-batch — est = fraction of agreeing
    * minhashes; callers verify survivors exactly downstream. Materialize
    * inside the callback (batch state is released after it returns).
    * `maxBucket` (recommended for long-running streams) caps band-bucket
    * membership on BOTH the batch and the store: without it, a boilerplate
    * fingerprint the store accumulates over months makes every later
    * batch's matching band quadratic against it — the excision is logged
    * per batch by [[graft.llm.Dedup.capBuckets]], never silent.
    */
  def start(docs: DataFrame, bandStore: SnapshotParquetSink, sigStore: SnapshotParquetSink,
      checkpoint: String, onBatch: (DataFrame, Long) => Unit,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Option[Int] = None,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val toks = Dedup.tokenSets(
          batch.select(col(idCol).as("doc_id"), col(textCol).as("text")))
        val sig = MinHashAggregator.signatures(Dedup.hashCodes(toks))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val bands = Dedup.bandKeys(sig)
          // first batch: no store published yet — within-batch only. ONLY
          // the store-absent condition degrades; a transient read failure
          // (IO, corrupt file) must propagate — silently falling back to
          // within-batch candidates would admit every near-dup of the
          // standing corpus with zero signal (the no-silent-caps contract)
          def readStore(s: SnapshotParquetSink, cols: Seq[String]): Option[DataFrame] =
            try Some(s.read(spark, DeleteMode.Hard).select(cols.map(col): _*))
            catch {
              case e: RuntimeException
                  if e.getMessage != null &&
                    e.getMessage.contains("no snapshot published") => None
            }
          val storedBands = readStore(bandStore, Seq("doc_id", "band", "bkey"))
          val cand = (storedBands, maxBucket) match {
            case (Some(st), Some(cap)) =>
              Dedup.incrementalLshCandidatesCapped(bands, st, cap)._1
            case (Some(st), None) => Dedup.incrementalLshCandidates(bands, st)
            case (None, Some(cap)) => Dedup.lshCandidatesCapped(bands, cap)._1
            case (None, None)      => Dedup.lshCandidates(bands)
          }
          // re-ingested docs (crawl re-fetch, crash replay): the batch's
          // signature REPLACES the stored one — a plain union would carry
          // both copies and double-count agreeing hashes in the estimate
          val allSigs = readStore(sigStore, Seq("doc_id", "hi", "mh"))
            .map(_.join(sig.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
              .unionByName(sig.select("doc_id", "hi", "mh")))
            .getOrElse(sig)
          onBatch(Dedup.minhashEstimates(allSigs, cand), batchId)
          // publish AFTER the verdict so a crash mid-batch replays cleanly:
          // idempotent upserts, seq = batch id
          bandStore.merge(
            bands.withColumn("__seq", lit(batchId)).withColumn("__del", lit(false)),
            Seq("doc_id", "band"), "__seq", "__del")
          sigStore.merge(
            sig.withColumn("__seq", lit(batchId)).withColumn("__del", lit(false)),
            Seq("doc_id", "hi"), "__seq", "__del")
        } finally {
          sig.unpersist()
          ()
        }
      }
      .start()
}
