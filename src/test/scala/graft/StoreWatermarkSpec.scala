package graft

import org.apache.spark.sql.functions._
import graft.sink.{Generations, HeavyHitterStore, HllSketchStore, TextIndexStore}

/** Fold watermarks on the compaction stores (round 10): appends may run
  * CONCURRENT with compaction. A compaction publishes its generation
  * manifest with the largest folded batch id; a batch an in-flight
  * appender commits into the superseded generation (it resolved the old
  * generation before the flip, and carries a higher id — the strictly-
  * increasing-ids append contract) stays VISIBLE as a straggler; a
  * post-flip replay of an already-folded id is a no-op; an id that landed
  * twice is read once; vacuum refuses to reclaim a generation still
  * holding unfolded stragglers. These were all "single-writer contract:
  * no concurrent appends" before — the watermark lifts that to
  * maintenance-vs-maintenance only.
  */
class StoreWatermarkSpec extends SparkSpec {

  private def docs(ids: Long*) = {
    import spark.implicits._
    ids.map(i => (i, s"alpha beta tok$i gamma")).toDF("doc_id", "text")
  }

  test("HllSketchStore: straggler committed into the superseded generation stays visible") {
    val store = new HllSketchStore(tmpDir("wm_hll"), lgK = 12)
    import spark.implicits._
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(v => ("g", v)).toDF("grp", "v")
    store.append(batch(0, 100), Seq("grp"), "v", 0L)
    store.append(batch(100, 200), Seq("grp"), "v", 1L)
    store.compact(spark)
    assert(store.liveGen == 1L)
    assert(Generations.genWatermark(store.dir, 1L) == Some(1L))
    // the straggler: an appender that resolved gen 0 before the flip
    store.appendAt(0L, batch(200, 300), Seq("grp"), "v", 2L)
    val est = store.estimates(spark, Seq("grp")).head()
    val estimate = est.getAs[Long]("estimate").toDouble
    assert(math.abs(estimate - 300.0) <= 300 * 0.05,
      s"straggler rows must be visible: estimate $estimate, want ~300")
    assert(est.getAs[Long]("n_rows") == 300L)
    assert(est.getAs[Long]("n_batches") == 2L) // merged partial + straggler

    // replay of a folded id after the flip: no-op (merged already holds it)
    store.append(batch(0, 100), Seq("grp"), "v", 1L)
    assert(store.estimates(spark, Seq("grp")).head().getAs[Long]("n_rows") == 300L)

    // the next compact folds the straggler and lifts the watermark past it
    store.compact(spark)
    assert(store.liveGen == 2L)
    assert(Generations.genWatermark(store.dir, 2L) == Some(2L))
    val est2 = store.estimates(spark, Seq("grp")).head()
    assert(est2.getAs[Long]("n_rows") == 300L)
    assert(est2.getAs[Long]("n_batches") == 1L)
  }

  test("HllSketchStore: an id that landed in both generations is read once") {
    val store = new HllSketchStore(tmpDir("wm_hll2"), lgK = 12)
    import spark.implicits._
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(v => ("g", v)).toDF("grp", "v")
    store.append(batch(0, 100), Seq("grp"), "v", 0L)
    store.compact(spark) // watermark 0
    // the double landing: committed into gen 0 pre-flip AND replayed into
    // gen 1 post-flip (id 5 > watermark 0, so the replay is a real append)
    store.appendAt(0L, batch(100, 150), Seq("grp"), "v", 5L)
    store.appendAt(1L, batch(100, 150), Seq("grp"), "v", 5L)
    val est = store.estimates(spark, Seq("grp")).head()
    assert(est.getAs[Long]("n_rows") == 150L,
      s"id 5 must be counted once, got n_rows ${est.getAs[Long]("n_rows")}")
    assert(est.getAs[Long]("n_batches") == 2L)
  }

  test("HeavyHitterStore: straggler visible, bound includes its batch total") {
    val store = new HeavyHitterStore(tmpDir("wm_hh"), k = 100)
    import spark.implicits._
    def words(w: String, n: Int) = Seq.fill(n)(w).toDF("w")
    store.append(words("hot", 50), col("w"), 0L)
    store.compact(spark)
    assert(Generations.genWatermark(store.dir, 1L) == Some(0L))
    store.appendAt(0L, words("hot", 30).union(words("cold", 5)), col("w"), 1L)
    val (cand, bound) = store.candidates(spark)
    val hot = cand.filter(col("item") === "hot").head().getAs[Long]("est")
    assert(hot == 80L, s"straggler counts must merge: hot=$hot, want 80")
    assert(bound == 85L / (100 + 1L))
    // folded-id replay no-ops
    store.append(words("hot", 50), col("w"), 0L)
    val (cand2, _) = store.candidates(spark)
    assert(cand2.filter(col("item") === "hot").head().getAs[Long]("est") == 80L)
  }

  test("TextIndexStore: straggler searchable; folded-id replay no-ops; next compact folds") {
    val store = new TextIndexStore(tmpDir("wm_text"))
    store.append(docs(0L, 1L), 0L)
    store.append(docs(2L), 1L)
    store.compact(spark)
    assert(store.liveGen == 1L)
    assert(Generations.genWatermark(store.dir, 1L) == Some(1L))
    // straggler into the superseded generation
    store.appendAt(0L, docs(7L), 2L)
    val hits = store.search(spark, Seq("tok7"), k = 5)
    assert(hits.select("doc_id").collect().map(_.getLong(0)).toSet == Set(7L),
      "straggler doc must be searchable")
    // BM25 over all four docs equals the one-shot union scan
    val oneShot = graft.llm.TextAnalysis.bm25Search(
      docs(0L, 1L).union(docs(2L)).union(docs(7L)), Seq("alpha"), 10)
    val stored = store.search(spark, Seq("alpha"), 10)
    assert(stored.collect().toSeq == oneShot.collect().toSeq,
      "store search with a straggler must equal the one-shot scan")
    // replay of folded id 1 with divergent content must be ignored
    store.append(docs(99L), 1L)
    assert(store.search(spark, Seq("tok99"), 5).isEmpty)
    // next compact folds the straggler; results unchanged, watermark lifted
    store.compact(spark)
    assert(Generations.genWatermark(store.dir, 2L) == Some(2L))
    assert(store.search(spark, Seq("alpha"), 10).collect().toSeq ==
      oneShot.collect().toSeq)
    // all four docs live in the single merged batch dir now
    assert(store.search(spark, Seq("tok7"), 5).count() == 1L)
  }

  test("vacuum refuses a superseded generation holding unfolded stragglers") {
    val store = new HllSketchStore(tmpDir("wm_vac"), lgK = 12)
    import spark.implicits._
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(v => ("g", v)).toDF("grp", "v")
    store.append(batch(0, 100), Seq("grp"), "v", 0L)
    store.compact(spark)
    store.appendAt(0L, batch(100, 200), Seq("grp"), "v", 1L)
    // gen 0 is cold by age but holds the load-bearing straggler
    assert(store.vacuumGenerations(minAgeMs = 0L) == 0)
    assert(store.estimates(spark, Seq("grp")).head().getAs[Long]("n_rows") == 200L)
    // fold it, then vacuum reclaims (gen 0 flat layout + superseded gen 1)
    store.compact(spark)
    assert(store.vacuumGenerations(minAgeMs = 0L) == 2)
    assert(store.estimates(spark, Seq("grp")).head().getAs[Long]("n_rows") == 200L)
  }

  test("CountStore: compaction folds exactly; straggler visible; replay no-ops") {
    val store = new graft.sink.CountStore(tmpDir("wm_cnt"))
    import spark.implicits._
    def batch(k: String, n: Int) = Seq.fill(n)(k).toDF("k")
    store.append(batch("a", 10), Seq("k"), 0L)
    store.append(batch("a", 5).union(batch("b", 3)), Seq("k"), 1L)
    store.compact(spark)
    assert(store.liveGen == 1L)
    assert(Generations.genWatermark(store.dir, 1L) == Some(1L))
    def count(k: String) = store.counts(spark, Seq("k"))
      .filter(col("k") === k).head().getAs[Long]("n")
    assert(count("a") == 15L && count("b") == 3L)
    // straggler + folded-id replay
    store.appendAt(0L, batch("a", 7), Seq("k"), 2L)
    store.append(batch("a", 10), Seq("k"), 0L)
    assert(count("a") == 22L)
    store.compact(spark)
    assert(count("a") == 22L && count("b") == 3L)
    assert(store.vacuumGenerations(minAgeMs = 0L) == 2)
    assert(count("a") == 22L)
  }

  test("retention compaction: dropped batches vanish, replays of them no-op, horizons compose") {
    val store = new HllSketchStore(tmpDir("wm_ret"), lgK = 12)
    import spark.implicits._
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(v => ("g", v)).toDF("grp", "v")
    for (b <- 0L until 4L)
      store.append(batch(b * 100, b * 100 + 100), Seq("grp"), "v", b)
    // horizon 1: batch 0's 100 values leave the store
    store.compact(spark, dropBelow = 1L)
    def est() = store.estimates(spark, Seq("grp")).head()
    assert(est().getAs[Long]("n_rows") == 300L)
    assert(Generations.genWatermark(store.dir, 1L) == Some(3L))
    // the retention fold carries the window's max id, not −1
    assert(graft.engine.Dfs.list(
      new org.apache.hadoop.fs.Path(s"${store.dir}/gen=1"))
      .map(_.getPath.getName).toSet == Set("batch=3"))
    // a late replay of the DROPPED batch must not resurrect it
    store.append(batch(0, 100), Seq("grp"), "v", 0L)
    assert(est().getAs[Long]("n_rows") == 300L)
    // new data keeps flowing; a further horizon drops the whole old window
    // (its ids fold into batch=3, which sits below the new horizon)
    store.append(batch(400, 450), Seq("grp"), "v", 4L)
    store.compact(spark, dropBelow = 4L)
    assert(est().getAs[Long]("n_rows") == 50L)
    val estimate = est().getAs[Long]("estimate").toDouble
    assert(math.abs(estimate - 50.0) <= 50 * 0.05)
    // dropping everything is a loud error, not an empty store
    val e = intercept[RuntimeException](store.compact(spark, dropBelow = 99L))
    assert(e.getMessage.contains("retention"))

    // the frequency leg: the error bound shrinks to the retained window's
    // batch totals, and the dropped batch's mass leaves the estimates
    val hh = new HeavyHitterStore(tmpDir("wm_rethh"), k = 100)
    def words(w: String, n: Int) = Seq.fill(n)(w).toDF("w")
    hh.append(words("old", 300), col("w"), 0L)
    hh.append(words("hot", 50), col("w"), 1L)
    hh.append(words("hot", 60), col("w"), 2L)
    hh.compact(spark, dropBelow = 1L)
    val (cand, bound) = hh.candidates(spark)
    val items = cand.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!items.contains("old"), s"dropped batch must leave candidates: $items")
    assert(items("hot") == 110L)
    assert(bound == 110L / 101L, s"bound must shrink to the window: $bound")
  }

  test("TextIndexStore retention: the index forgets documents below the horizon") {
    val store = new TextIndexStore(tmpDir("wm_tret"))
    store.append(docs(0L, 1L), 0L)
    store.append(docs(2L), 1L)
    store.append(docs(3L), 2L)
    store.compact(spark, dropBelow = 1L)
    // doc 0/1 (batch 0) are forgotten; the rest score as a 2-doc corpus
    assert(store.search(spark, Seq("tok0"), 5).isEmpty)
    val oneShot = graft.llm.TextAnalysis.bm25Search(
      docs(2L).union(docs(3L)), Seq("alpha"), 10)
    assert(store.search(spark, Seq("alpha"), 10).collect().toSeq ==
      oneShot.collect().toSeq)
    // replay of the dropped batch no-ops
    store.append(docs(0L, 1L), 0L)
    assert(store.search(spark, Seq("tok0"), 5).isEmpty)
  }

  test("TextIndexStore: a torn concurrent append survives compaction un-orphaned") {
    val store = new TextIndexStore(tmpDir("wm_torn"))
    store.append(docs(0L, 1L), 0L)
    store.append(docs(2L), 1L)
    // simulate an append caught mid-flight by compaction: appendAt commits
    // postings first, so the torn state is postings live / doclens writing
    store.appendAt(0L, docs(7L), 2L)
    graft.engine.Dfs.deleteTreeStrict(
      new org.apache.hadoop.fs.Path(s"${store.dir}/doclens/batch=2"))
    store.compact(spark)
    // only the fully-committed pair folds; the torn id stays ABOVE the
    // watermark (folding its postings would orphan the doclens forever)
    assert(Generations.genWatermark(store.dir, 1L) == Some(1L))
    // and the floor keeps the straggler walk reaching gen 0, where the
    // torn postings sit
    assert(Generations.genFloor(store.dir, 1L) == Some(0L))
    // the in-flight append completes into the OLD generation (idempotent
    // overwrite re-commits both subs)
    store.appendAt(0L, docs(7L), 2L)
    val oneShot = graft.llm.TextAnalysis.bm25Search(
      docs(0L, 1L).union(docs(2L)).union(docs(7L)), Seq("alpha"), 10)
    assert(store.search(spark, Seq("alpha"), 10).collect().toSeq ==
      oneShot.collect().toSeq,
      "the late-committed batch must be fully searchable — nothing orphaned")
    assert(store.search(spark, Seq("tok7"), 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(7L))
    // the next compact folds it; the floor rises to that fold's live gen
    store.compact(spark)
    assert(Generations.genWatermark(store.dir, 2L) == Some(2L))
    assert(Generations.genFloor(store.dir, 2L) == Some(1L))
    assert(store.search(spark, Seq("alpha"), 10).collect().toSeq ==
      oneShot.collect().toSeq)
  }

  test("straggler floor bounds the walk: generations below it are never probed") {
    val store = new HllSketchStore(tmpDir("wm_floor"), lgK = 12)
    import spark.implicits._
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(v => ("g", v)).toDF("grp", "v")
    def nRows() = store.estimates(spark, Seq("grp")).head().getAs[Long]("n_rows")
    store.append(batch(0, 100), Seq("grp"), "v", 0L)
    store.compact(spark)
    assert(Generations.genFloor(store.dir, 1L) == Some(0L))
    store.append(batch(100, 200), Seq("grp"), "v", 1L)
    store.compact(spark)
    assert(Generations.genFloor(store.dir, 2L) == Some(1L))
    // a legit straggler in the floor generation is visible
    store.appendAt(1L, batch(200, 250), Seq("grp"), "v", 2L)
    assert(nRows() == 250L)
    // a batch planted BELOW the floor violates the append contract (appends
    // only ever land in the live generation, = the floor at fold time), and
    // the bounded walk spends no probe on it — the property that keeps
    // reads O(1) manifest/listing probes after years of daily compactions
    store.appendAt(0L, batch(300, 400), Seq("grp"), "v", 9L)
    assert(nRows() == 250L, "generations below the floor must not be walked")
  }

  test("generation manifests without watermark or floor are refused") {
    val dir = tmpDir("wm_legacy")
    val store = new HllSketchStore(dir, lgK = 12)
    import spark.implicits._
    val b = Seq(("g", 1L), ("g", 2L)).toDF("grp", "v")
    store.append(b, Seq("grp"), "v", 0L)
    val manifest = new org.apache.hadoop.fs.Path(s"$dir/gens", "v00000001.manifest")
    for ((body, missing) <- Seq("gen=1\nfloor=0\n" -> "watermark=",
        "gen=1\nwatermark=0\n" -> "floor=")) {
      graft.engine.Dfs.writeUtf8(manifest, body)
      for (op <- Seq[() => Any](() => store.estimates(spark, Seq("grp")).collect(),
          () => store.append(b, Seq("grp"), "v", 7L), () => store.compact(spark))) {
        val e = intercept[RuntimeException](op())
        assert(e.getMessage.contains(dir) && e.getMessage.contains("generation 1") &&
          e.getMessage.contains(missing), e.getMessage)
      }
    }
  }

  test("vacuum ages a superseded generation from its superseding flip") {
    val store = new graft.sink.CountStore(tmpDir("wm_vacage"))
    import spark.implicits._
    def batch(k: String, n: Int) = Seq.fill(n)(k).toDF("k")
    store.append(batch("a", 3), Seq("k"), 0L)
    store.compact(spark)
    store.append(batch("a", 4), Seq("k"), 1L)
    val gen1 = new java.io.File(s"${store.dir}/gen=1")
    assert(new java.io.File(gen1, "batch=1/_SUCCESS").exists())
    // the data is two hours old; the flip that supersedes it is not
    val old = System.currentTimeMillis() - 2 * 3600000L
    def backdate(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(backdate))
      assert(f.setLastModified(old))
    }
    backdate(gen1)
    new java.io.File(store.dir).listFiles()
      .filter(_.getName.startsWith("batch=")).foreach(backdate)
    store.compact(spark)
    assert(store.vacuumGenerations(minAgeMs = 3600000L) == 0)
    assert(gen1.exists())
    assert(store.counts(spark, Seq("k")).head().getAs[Long]("n") == 7L)
  }

  test("vacuum sweeps aged generation-manifest stages, keeps fresh ones") {
    val store = new graft.sink.CountStore(tmpDir("wm_vacstage"))
    import spark.implicits._
    def batch(k: String, n: Int) = Seq.fill(n)(k).toDF("k")
    store.append(batch("a", 3), Seq("k"), 0L)
    store.compact(spark)
    store.append(batch("a", 4), Seq("k"), 1L)
    // what a crash between the flip's stage write and its publish leaves
    val gens = new java.io.File(s"${store.dir}/gens")
    def stage(name: String, ageMs: Long): java.io.File = {
      val f = new java.io.File(gens, name)
      java.nio.file.Files.writeString(f.toPath, "gen=2\nwatermark=1\nfloor=0\n")
      assert(f.setLastModified(System.currentTimeMillis() - ageMs))
      f
    }
    val aged = stage(".tmp-aged", 2 * 3600000L)
    val fresh = stage(".tmp-fresh", 0L)
    assert(store.vacuumGenerations(minAgeMs = 3600000L) == 0)
    assert(!aged.exists(), "an aged stage must be swept")
    assert(fresh.exists(), "a fresh stage may still be publishing")
    assert(store.counts(spark, Seq("k")).head().getAs[Long]("n") == 7L)
  }
}
