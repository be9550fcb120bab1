package graft

import java.io.{File, PrintWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.llm.{Dedup, TextAnalysis}
import graft.sink.{DeleteMode, SnapshotParquetSink, TextIndexStore}
import graft.streaming.{NearDupAdmission, TextIngest}

/** The exactly-once END-TO-END proof for the store family: the full
  * training-data pipeline — normalize → store-backed LSH dedup-at-ingest →
  * quality + LM gates → decontaminate → mix → epoch shuffle → pack →
  * snapshot sink — driven through the STREAMING twins (NearDupAdmission,
  * TextIngest) with a crash injected in the middle (the last checkpoint
  * commit marker is deleted, so a fully-applied micro-batch replays
  * through every store on restart), must land on a final corpus
  * byte-identical to the one-shot batch pipeline over the same documents.
  *
  * This is the composition claim, not the per-store one: each store's
  * replay idempotence is already pinned in its own spec; here a replayed
  * batch hits the band store, signature store, admission-verdict sink and
  * the text index IN THE SAME BATCH, and the final answer — after five more
  * corpus-level operators and a snapshot-sink round-trip — may not move by
  * one byte.
  */
class ExactlyOncePipelineSpec extends SparkSpec {

  private val dataDir = "/root/testdata/sf0.001"
  private val Theta = 0.8

  private def writeChunk(dir: String, name: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(new File(dir, name), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  // crash injection: [[SparkSpec.injectCrash]]

  /** Keep-first-seen admission over a confident-pair frame: candidate pairs
    * are (i, j) with i < j, so the later-seen (larger-id) side of every
    * est ≥ θ pair is the duplicate.
    */
  private def droppedIds(est: DataFrame): DataFrame =
    est.filter(col("est") >= Theta).select(col("j").as("doc_id")).distinct()

  /** The batch finalization every curated corpus runs AFTER ingest settles:
    * quality gate → LM surprisal gate → test-set decontamination → source
    * mix → epoch shuffle → sequence packing. Deterministic and shared by
    * the streaming-admitted and batch-admitted sides, so the comparison
    * isolates the admission + store path.
    */
  private def finalizeCorpus(corpus: DataFrame): DataFrame = {
    val gated = corpus.join(
      TextAnalysis.filterPipeline(corpus).filter(col("keep")).select("doc_id"), "doc_id")
    val lmKept = gated.join(
      TextAnalysis.surprisal(gated, topN = 1 << 20)
        .filter(col("mean_surprisal_x1000") <= 20000L).select("doc_id"), "doc_id")
    val decon = TextAnalysis.decontaminate(lmKept, n = 5, minShared = 3)
    val train = decon.filter(col("split") === "train").drop("split")
    val mixed = TextAnalysis.mixSample(train, "source",
      Map("src0" -> 2, "src1" -> 1, "src2" -> 1, "src3" -> 1))
    val shards = TextAnalysis.epochShuffle(mixed, seed = 1L, nShards = 4)
    TextAnalysis.packSequences(mixed, budgetTokens = 512) { packed =>
      val out = mixed.join(shards, "doc_id").join(packed, "doc_id")
        .select(col("doc_id"), col("text"), col("source"), col("shard"),
          col("pos"), col("n_tokens"), col("start_offset"), col("bin"),
          col("straddles"))
        .persist()
      out.count()
      out
    }
  }

  private def canon(df: DataFrame): Seq[(Long, String, String, Long, Long, Long, Long, Long, Boolean)] =
    df.select("doc_id", "text", "source", "shard", "pos", "n_tokens",
        "start_offset", "bin", "straddles")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getBoolean(8)))
      .sortBy(_._1).toSeq

  test("streamed ingest with injected crash replay == one-shot batch pipeline, byte-identical") {
    val docs = Tables.table(spark, dataDir, "documents")
      .select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("text"),
        col("source"))
      .persist()
    val nDocs = docs.count()

    // ---- streaming side: three id-ordered micro-batches, crash after two
    val in = tmpDir("e2e_in")
    val ckptNda = tmpDir("e2e_ck_nda"); val ckptIdx = tmpDir("e2e_ck_idx")
    val bandStore = new SnapshotParquetSink(tmpDir("e2e_bands") + "/t")
    val sigStore = new SnapshotParquetSink(tmpDir("e2e_sigs") + "/t")
    val dropSink = new SnapshotParquetSink(tmpDir("e2e_drops") + "/t")
    val index = new TextIndexStore(tmpDir("e2e_idx") + "/s")

    def chunkLines(lo: Long, hi: Long): Seq[String] =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(to_json(struct(col("doc_id"), col("text"), col("source"))))
        .collect().map(_.getString(0)).toSeq
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, source STRING").json(in)

    def startBoth(): (org.apache.spark.sql.streaming.StreamingQuery,
        org.apache.spark.sql.streaming.StreamingQuery) = {
      val qN = NearDupAdmission.start(stream, bandStore, sigStore, ckptNda,
        (est, batchId) => {
          val d = droppedIds(est)
            .withColumn("__seq", lit(batchId)).withColumn("__del", lit(false))
          dropSink.merge(d, Seq("doc_id"), "__seq", "__del")
        })
      val qI = TextIngest.start(stream, index, ckptIdx)
      (qN, qI)
    }

    writeChunk(in, "b0.jsonl", chunkLines(0L, 170L))
    val (q1n, q1i) = startBoth()
    try {
      q1n.processAllAvailable(); q1i.processAllAvailable()
      writeChunk(in, "b1.jsonl", chunkLines(170L, 340L))
      q1n.processAllAvailable(); q1i.processAllAvailable()
    } finally {
      q1n.stop(); q1n.awaitTermination()
      q1i.stop(); q1i.awaitTermination()
    }
    // CRASH: both pipelines fully applied micro-batch 1 (stores merged,
    // postings committed) but "died" before recording the commit marker —
    // restart must replay it through every store, then go on to batch 2
    injectCrash(ckptNda); injectCrash(ckptIdx)
    writeChunk(in, "b2.jsonl", chunkLines(340L, Long.MaxValue))
    val (q2n, q2i) = startBoth()
    try { q2n.processAllAvailable(); q2i.processAllAvailable() }
    finally {
      q2n.stop(); q2n.awaitTermination()
      q2i.stop(); q2i.awaitTermination()
    }

    // every doc ingested exactly once (keyed upserts absorb the replay)
    val ingested = sigStore.read(spark, DeleteMode.Hard)
      .select("doc_id").distinct()
    assert(ingested.count() == nDocs)
    val admittedStream = docs.join(ingested, "doc_id")
      .join(dropSink.read(spark, DeleteMode.Hard).select("doc_id"),
        Seq("doc_id"), "left_anti")

    // ---- batch side: the same keep-first-seen rule over one-shot LSH
    val admittedBatch = Dedup.minhashLsh(docs, dictionary = false) { est =>
      val d = droppedIds(est).persist(); d.count()
      docs.join(d, Seq("doc_id"), "left_anti")
    }

    val streamFinal = finalizeCorpus(admittedStream)
    val batchFinal = finalizeCorpus(admittedBatch)
    try {
      val streamRows = canon(streamFinal)
      assert(streamRows.nonEmpty && streamRows == canon(batchFinal))

      // ---- snapshot-sink round trip: publishing the curated corpus and
      // reading it back moves nothing
      val snap = new SnapshotParquetSink(tmpDir("e2e_snap") + "/t", nBuckets = 8)
      snap.merge(streamFinal.withColumn("__seq", col("doc_id"))
          .withColumn("__del", lit(false)),
        Seq("doc_id"), "__seq", "__del")
      assert(canon(snap.read(spark, DeleteMode.Hard)) == streamRows)

      // ---- the crash-replayed incremental index answers like a one-shot
      // index over the full corpus (bit-identical BM25 scores)
      val oneShot = new TextIndexStore(tmpDir("e2e_idx_ref") + "/s")
      oneShot.append(docs, batchId = 0L)
      val query = Seq("the", "data")
      def hits(s: TextIndexStore) =
        s.search(spark, query, k = 20).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(hits(index) == hits(oneShot))
    } finally {
      streamFinal.unpersist(); batchFinal.unpersist(); docs.unpersist()
      ()
    }
  }
}
