package graft

import org.apache.spark.sql.DataFrame
import graft.sink.VectorIndexStore

/** Drift-triggered IVF index maintenance: recluster() must retrain + fully
  * migrate (search ≡ a one-shot index over the union corpus with the same
  * training), refuse when drift is below threshold (frozen-centroid replay
  * stability), keep batch replays idempotent across the migration, and be
  * crash-safe (a partial migration is invisible until the one-manifest
  * publish).
  */
class VectorIndexReclusterSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated clusters in 4-d; batch 0 is ALL cluster A, batch 1
  // ALL cluster B — an index initialized on batch 0 has badly-drifted
  // centroids once batch 1 lands
  private def vecOf(center: Int, i: Int): Array[Float] = {
    val base = Array.fill(4)(0.0f)
    base(center) = 1.0f
    base((center + 1) % 4) = 0.01f * (i % 7)
    base
  }
  private def batchDf(center: Int, ids: Range): DataFrame =
    ids.map(i => (i.toLong, vecOf(center, i), s"lab$center")).toDF("vec_id", "embedding", "label")

  private val batch0 = () => batchDf(0, 0 until 40)
  private val batch1 = () => batchDf(1, 40 until 80)

  private def canon(df: DataFrame): Seq[(Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString))
      .sortBy(t => (t._1, t._2)).toSeq

  private def queries: DataFrame = batchDf(1, 200 until 203).drop("label")

  test("recluster migrates on real drift; post-migration search == one-shot union index") {
    val store = new VectorIndexStore(tmpDir("vx") + "/ix")
    store.init(batch0(), k = 4, iters = 2)
    store.append(batch0(), 0L)
    store.append(batch1(), 1L)
    assert(store.liveGen == 0L)

    val migrated = store.recluster(spark, k = 4, iters = 2, minImprovementX1000 = 100L)
    assert(migrated.contains(1L), s"drifted index must migrate, got $migrated")
    assert(store.liveGen == 1L)

    // the reference: one index trained on the union corpus from the start
    val ref = new VectorIndexStore(tmpDir("vxref") + "/ix")
    ref.init(batch0().unionByName(batch1()), k = 4, iters = 2)
    ref.append(batch0(), 0L)
    ref.append(batch1(), 1L)
    val got = canon(store.search(spark, queries, k = 3, nProbe = 2))
    assert(got == canon(ref.search(spark, queries, k = 3, nProbe = 2)))
    assert(got.nonEmpty)

    // payload survived the migration and still filters
    val filtered = store.search(spark, queries, k = 3, nProbe = 2,
      candidateFilter = Some(org.apache.spark.sql.functions.col("label") === "lab0"))
    assert(canon(filtered).forall { case (_, nId, _) => nId < 40L })

    // SQL reader binds to the live generation too
    val sqlRows = spark.read.format("graft-vectorindex").load(store.dir)
    assert(sqlRows.count() == 80L)

    // replaying an already-migrated batch is idempotent (same frozen
    // generation centroids ⇒ byte-stable reassignment)
    store.append(batch1(), 1L)
    assert(canon(store.search(spark, queries, k = 3, nProbe = 2)) == got)

    // the superseded generation is NOT deleted at flip time (in-flight
    // readers may still be scanning it) — age-based vacuum reclaims it
    assert(new java.io.File(store.dir, "vectors").exists(),
      "old generation must survive the flip for in-flight readers")
    assert(store.vacuumGenerations(minAgeMs = 0L) >= 1)
    assert(!new java.io.File(store.dir, "vectors").exists())
    assert(canon(store.search(spark, queries, k = 3, nProbe = 2)) == got)
  }

  test("streaming ingest: a crash-replayed batch lands idempotently ACROSS a recluster") {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    def writeChunk(dir: String, name: String, df: DataFrame): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name), "UTF-8")
      try df.select(to_json(struct(col("vec_id"), col("embedding"), col("label"))))
        .collect().map(_.getString(0)).foreach(w.println)
      finally w.close()
    }
    // crash injection: [[SparkSpec.injectCrash]]
    val in = tmpDir("vstream_in"); val ckpt = tmpDir("vstream_ck")
    val store = new VectorIndexStore(tmpDir("vstream") + "/ix")
    store.init(batch0(), k = 4, iters = 2)
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label STRING").json(in)
    def startQ() = stream.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, id: Long) => store.append(b, id)).start()

    writeChunk(in, "c0.jsonl", batch0())
    val q1 = startQ()
    try {
      q1.processAllAvailable()
      writeChunk(in, "c1.jsonl", batch1())
      q1.processAllAvailable()
    } finally { q1.stop(); q1.awaitTermination() }
    // crash with micro-batch 1 fully applied, then the index MIGRATES
    // before the restart — the replayed batch must land in the NEW
    // generation deterministically, not duplicate or resurrect gen 0
    injectCrash(ckpt)
    assert(store.recluster(spark, k = 4, iters = 2,
      minImprovementX1000 = 100L).contains(1L))
    val chunk2 = batchDf(1, 300 until 330)
    writeChunk(in, "c2.jsonl", chunk2)
    val q2 = startQ()
    try q2.processAllAvailable()
    finally { q2.stop(); q2.awaitTermination() }

    // reference: one-shot index whose centroids come from the corpus the
    // recluster trained on (chunks 0+1), with all three chunks ingested
    val ref = new VectorIndexStore(tmpDir("vstreamref") + "/ix")
    ref.init(batch0().unionByName(batch1()), k = 4, iters = 2)
    ref.append(batch0(), 0L); ref.append(batch1(), 1L); ref.append(chunk2, 2L)
    assert(canon(store.search(spark, queries, k = 3, nProbe = 2))
      == canon(ref.search(spark, queries, k = 3, nProbe = 2)))
    // every vector exactly once: the replayed batch overwrote its own
    // migrated dir, never doubled
    assert(spark.read.format("graft-vectorindex").load(store.dir).count() == 110L)
  }

  test("below-threshold drift returns None and leaves the generation frozen") {
    val store = new VectorIndexStore(tmpDir("vx2") + "/ix")
    val union = batch0().unionByName(batch1())
    store.init(union, k = 4, iters = 2)
    store.append(batch0(), 0L)
    store.append(batch1(), 1L)
    // centroids were trained on exactly this corpus — a retrain recovers
    // nothing, so the index must refuse to churn
    assert(store.recluster(spark, k = 4, iters = 2, minImprovementX1000 = 100L).isEmpty)
    assert(store.liveGen == 0L)
  }

  test("a crashed mid-migration partial is invisible; the next recluster completes") {
    val store = new VectorIndexStore(tmpDir("vx3") + "/ix")
    store.init(batch0(), k = 4, iters = 2)
    store.append(batch0(), 0L)
    store.append(batch1(), 1L)
    val before = canon(store.search(spark, queries, k = 3, nProbe = 2))

    // fabricate the crash window: gen=1 data partially written, NO manifest
    // published — readers must stay on gen 0, untouched
    val partial = new java.io.File(store.dir, "gen=1/centroids")
    assert(partial.mkdirs())
    java.nio.file.Files.write(partial.toPath.resolve("junk"), Array[Byte](1, 2, 3))
    assert(store.liveGen == 0L)
    assert(canon(store.search(spark, queries, k = 3, nProbe = 2)) == before)

    // the re-run migration clears the partial and publishes atomically
    val migrated = store.recluster(spark, k = 4, iters = 2, minImprovementX1000 = 100L)
    assert(migrated.contains(1L))
    val ref = new VectorIndexStore(tmpDir("vx3ref") + "/ix")
    ref.init(batch0().unionByName(batch1()), k = 4, iters = 2)
    ref.append(batch0(), 0L)
    ref.append(batch1(), 1L)
    assert(canon(store.search(spark, queries, k = 3, nProbe = 2))
      == canon(ref.search(spark, queries, k = 3, nProbe = 2)))
  }

  test("straggler committed into the superseded generation: searchable, counted, adopted") {
    val batch2 = () => batchDf(2, 80 until 120)
    val store = new VectorIndexStore(tmpDir("vx4") + "/ix")
    store.init(batch0(), k = 4, iters = 2)
    store.append(batch0(), 0L)
    store.append(batch1(), 1L)
    val migrated = store.recluster(spark, k = 4, iters = 2, minImprovementX1000 = -1000L)
    assert(migrated.contains(1L))
    assert(graft.sink.Generations.genWatermark(store.dir, 1L) == Some(1L))

    // the concurrent appender: resolved gen 0 before the flip, committed after
    store.appendTo(0L, batch2(), 2L)

    // search must equal a one-shot index over the union corpus with the
    // live centroids (trained on batch0 ∪ batch1 at recluster time) — the
    // straggler's stale gen-0 cells are re-derived under the live centroids
    val ref = new VectorIndexStore(tmpDir("vx4ref") + "/ix")
    ref.init(batch0().unionByName(batch1()), k = 4, iters = 2)
    ref.append(batch0(), 0L)
    ref.append(batch1(), 1L)
    ref.append(batch2(), 2L)
    val q2 = batchDf(2, 300 until 303).drop("label")
    val got = canon(store.search(spark, q2, k = 3, nProbe = 2))
    assert(got == canon(ref.search(spark, q2, k = 3, nProbe = 2)))
    assert(got.map(_._2).toSet.subsetOf((80L until 120L).toSet),
      "nearest neighbors of cluster-2 queries must be the straggler's vectors")

    // histogram counts the straggler's vectors too
    val totalN = store.cellHistogram(spark).collect().map(_.getLong(1)).sum
    assert(totalN == 120L, s"histogram must count stragglers, got $totalN")

    // SQL refuses while the straggler exists: its stored cells are stale,
    // and silently dropping it would lose 40 rows
    val refused = intercept[RuntimeException](
      spark.read.format("graft-vectorindex").load(store.dir).count())
    assert(refused.getMessage.contains("straggler batches 2") &&
      refused.getMessage.contains("recluster"), refused.getMessage)

    // a replay of a migrated id no-ops under the watermark — nothing doubles
    store.append(batch0(), 0L)
    assert(canon(store.search(spark, q2, k = 3, nProbe = 2)) == got)

    // vacuum refuses gen 0 while the straggler is load-bearing
    assert(store.vacuumGenerations(minAgeMs = 0L) == 0)
    assert(canon(store.search(spark, q2, k = 3, nProbe = 2)) == got)

    // the next recluster ADOPTS the straggler: batch 2 re-homed into gen 2,
    // search == one-shot trained on the full union
    val migrated2 = store.recluster(spark, k = 4, iters = 2, minImprovementX1000 = -1000L)
    assert(migrated2.contains(2L))
    assert(graft.sink.Generations.genWatermark(store.dir, 2L) == Some(2L))
    assert(spark.read.format("graft-vectorindex").load(store.dir).count() == 120L)
    val ref2 = new VectorIndexStore(tmpDir("vx4ref2") + "/ix")
    val union = batch0().unionByName(batch1()).unionByName(batch2())
    ref2.init(union, k = 4, iters = 2)
    ref2.append(batch0(), 0L)
    ref2.append(batch1(), 1L)
    ref2.append(batch2(), 2L)
    assert(canon(store.search(spark, q2, k = 3, nProbe = 2))
      == canon(ref2.search(spark, q2, k = 3, nProbe = 2)))
    // post-adoption, the superseded generations reclaim (gen0 flat + gen1)
    assert(store.vacuumGenerations(minAgeMs = 0L) == 2)
    assert(canon(store.search(spark, q2, k = 3, nProbe = 2))
      == canon(ref2.search(spark, q2, k = 3, nProbe = 2)))
  }
}
