package graft

import java.io.{File, PrintWriter}
import org.apache.spark.sql.functions._
import graft.engine.Skew

/** Streaming twins of Q72/Q73 (session windows, stateful dedup) plus the
  * skew-salting utility — engine-only semantics (SURVEY §5.4).
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def write(dir: String, name: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(new File(dir, name), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  test("session_window streaming: 30-min gap merges a session, emits on watermark") {
    val in = tmpDir("sess_in")
    val schema = "event_id LONG, user_id LONG, ts TIMESTAMP"
    write(in, "b0.jsonl", Seq(
      """{"event_id":1,"user_id":7,"ts":"2024-01-01T10:00:00Z"}""",
      """{"event_id":2,"user_id":7,"ts":"2024-01-01T10:10:00Z"}""",
      """{"event_id":3,"user_id":7,"ts":"2024-01-01T11:30:00Z"}"""))
    val src = spark.readStream.schema(schema).json(in)
    val agg = src.withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("sess_out").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past both sessions
      write(in, "b1.jsonl", Seq("""{"event_id":9,"user_id":7,"ts":"2024-01-01T14:00:00Z"}"""))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select(col("session_window.start").cast("string"), col("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // events 1+2 merged (10-min gap < 30), event 3 is its own session
      assert(rows.get("2024-01-01 10:00:00").contains(2L))
      assert(rows.get("2024-01-01 11:30:00").contains(1L))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("streaming as-of join: latest prior right wins, even when it arrives late") {
    import graft.streaming.StreamJoin
    val inL = tmpDir("asof_l"); val inR = tmpDir("asof_r")
    val schema = "key LONG, id LONG, ts TIMESTAMP"
    // batch 0: left l1@10:20 and one right r11@10:00
    write(inL, "b0.jsonl", Seq("""{"key":7,"id":1,"ts":"2024-01-01T10:20:00Z"}"""))
    write(inR, "b0.jsonl", Seq("""{"key":7,"id":11,"ts":"2024-01-01T10:00:00Z"}"""))
    val asof = StreamJoin.asOf(
      spark.readStream.schema(schema).json(inL).as[StreamJoin.AsOfEvent],
      spark.readStream.schema(schema).json(inR).as[StreamJoin.AsOfEvent],
      lookbackMs = 60L * 60 * 1000, watermarkDelay = "10 minutes")
    val q = asof.writeStream.outputMode("append").format("memory")
      .queryName("asof_out").start()
    try {
      q.processAllAvailable()
      // watermark is still behind l1 — nothing resolved yet, so a LATER
      // right with an EARLIER timestamp can still claim the match
      assert(spark.table("asof_out").count() == 0)
      write(inR, "b1.jsonl", Seq("""{"key":7,"id":12,"ts":"2024-01-01T10:12:00Z"}"""))
      q.processAllAvailable()
      // push the watermark past l1 (10:45 - 10min > 10:20): resolve
      write(inR, "b2.jsonl", Seq("""{"key":9,"id":99,"ts":"2024-01-01T10:45:00Z"}"""))
      q.processAllAvailable()
      val got = spark.table("asof_out")
        .select("left_id", "right_id").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      // r12 (10:12) beats r11 (10:00) as the latest right <= 10:20 — and it
      // arrived a micro-batch AFTER the left: event-time, not arrival-time
      assert(got == Map(1L -> Some(12L)))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("streaming as-of join: unmatched left emits None; out-of-lookback right ignored") {
    import graft.streaming.StreamJoin
    val inL = tmpDir("asof2_l"); val inR = tmpDir("asof2_r")
    val schema = "key LONG, id LONG, ts TIMESTAMP"
    // r21 is 2h before l2 — outside the 1h lookback
    write(inL, "b0.jsonl", Seq("""{"key":5,"id":2,"ts":"2024-01-01T12:00:00Z"}"""))
    write(inR, "b0.jsonl", Seq("""{"key":5,"id":21,"ts":"2024-01-01T10:00:00Z"}"""))
    val asof = StreamJoin.asOf(
      spark.readStream.schema(schema).json(inL).as[StreamJoin.AsOfEvent],
      spark.readStream.schema(schema).json(inR).as[StreamJoin.AsOfEvent],
      lookbackMs = 60L * 60 * 1000, watermarkDelay = "10 minutes")
    val q = asof.writeStream.outputMode("append").format("memory")
      .queryName("asof2_out").start()
    try {
      q.processAllAvailable()
      write(inL, "b1.jsonl", Seq("""{"key":6,"id":9,"ts":"2024-01-01T13:00:00Z"}"""))
      q.processAllAvailable()
      // one more batch so the watermark (13:00 - 10min) resolves l2@12:00
      write(inL, "b2.jsonl", Seq("""{"key":6,"id":10,"ts":"2024-01-01T13:30:00Z"}"""))
      q.processAllAvailable()
      val got = spark.table("asof2_out")
        .select("left_id", "right_id").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      assert(got.get(2L).contains(None)) // within watermark, no in-lookback right
    } finally { q.stop(); q.awaitTermination() }
  }

  test("stream-stream interval join: pairs within the window, across micro-batches") {
    val inL = tmpDir("ssj_l"); val inR = tmpDir("ssj_r")
    val ls = "l_id LONG, l_user LONG, l_ts TIMESTAMP"
    val rs = "r_id LONG, r_user LONG, r_ts TIMESTAMP"
    write(inL, "b0.jsonl", Seq(
      """{"l_id":1,"l_user":7,"l_ts":"2024-01-01T10:00:00Z"}""",
      """{"l_id":2,"l_user":8,"l_ts":"2024-01-01T10:00:00Z"}"""))
    write(inR, "b0.jsonl", Seq(
      """{"r_id":11,"r_user":7,"r_ts":"2024-01-01T10:30:00Z"}""", // in window for l1
      """{"r_id":12,"r_user":7,"r_ts":"2024-01-01T12:00:00Z"}""", // past the 1h window
      """{"r_id":13,"r_user":9,"r_ts":"2024-01-01T10:10:00Z"}""")) // no left key
    val joined = graft.streaming.StreamJoin.interval(
      spark.readStream.schema(ls).json(inL),
      spark.readStream.schema(rs).json(inR),
      "l_user", "r_user", "l_ts", "r_ts", window = "1 HOUR", watermarkDelay = "10 minutes")
    val q = joined.select("l_id", "r_id").writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      // a later micro-batch still matches buffered left rows within the window
      write(inR, "b1.jsonl",
        Seq("""{"r_id":14,"r_user":8,"r_ts":"2024-01-01T10:45:00Z"}"""))
      q.processAllAvailable()
      val got = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 11L), (2L, 14L)))
      // the physical plan must be the stateful symmetric-hash stream join,
      // with watermarks bounding both state stores
      val s = q.lastProgress.sources.length
      assert(s == 2)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("outer interval join: unmatched left emits nulls once the watermark proves no match") {
    val inL = tmpDir("soj_l"); val inR = tmpDir("soj_r")
    val ls = "l_id LONG, l_user LONG, l_ts TIMESTAMP"
    val rs = "r_id LONG, r_user LONG, r_ts TIMESTAMP"
    write(inL, "b0.jsonl", Seq(
      """{"l_id":1,"l_user":7,"l_ts":"2024-01-01T10:00:00Z"}""",
      """{"l_id":2,"l_user":8,"l_ts":"2024-01-01T10:00:00Z"}""")) // 8 never matches
    write(inR, "b0.jsonl", Seq(
      """{"r_id":11,"r_user":7,"r_ts":"2024-01-01T10:30:00Z"}"""))
    val joined = graft.streaming.StreamJoin.intervalOuter(
      spark.readStream.schema(ls).json(inL),
      spark.readStream.schema(rs).json(inR),
      "l_user", "r_user", "l_ts", "r_ts", window = "1 HOUR", watermarkDelay = "10 minutes")
    val q = joined.select("l_id", "r_id").writeStream.outputMode("append")
      .format("memory").queryName("soj_out").start()
    try {
      q.processAllAvailable()
      // advance both watermarks far past l2's window end (11:00 + delay)
      write(inL, "b1.jsonl", Seq("""{"l_id":9,"l_user":9,"l_ts":"2024-01-01T13:00:00Z"}"""))
      write(inR, "b1.jsonl", Seq("""{"r_id":99,"r_user":9,"r_ts":"2024-01-01T13:00:00Z"}"""))
      q.processAllAvailable()
      write(inL, "b2.jsonl", Seq("""{"l_id":10,"l_user":9,"l_ts":"2024-01-01T14:00:00Z"}"""))
      write(inR, "b2.jsonl", Seq("""{"r_id":100,"r_user":9,"r_ts":"2024-01-01T14:00:00Z"}"""))
      q.processAllAvailable()
      val got = spark.table("soj_out").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      assert(got.get(1L).contains(Some(11L)))  // matched inside the window
      assert(got.get(2L).contains(None))       // unmatched -> emitted with null right
    } finally { q.stop(); q.awaitTermination() }
  }

  test("materialized aggregate: sink view converges to the batch aggregate across micro-batches") {
    import graft.sink.{DeleteMode, SnapshotParquetSink}
    import graft.streaming.MaterializedAgg
    val in = tmpDir("magg_in"); val ckpt = tmpDir("magg_ckpt")
    val sinkDir = tmpDir("magg_sink") + "/view"
    val schema = "event_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP"
    write(in, "b0.jsonl", Seq(
      """{"event_id":1,"event_type":"view","value":10.0,"ts":"2024-01-01T10:00:00Z"}""",
      """{"event_id":2,"event_type":"view","value":5.0,"ts":"2024-01-01T10:05:00Z"}""",
      """{"event_id":3,"event_type":"click","value":1.0,"ts":"2024-01-01T10:06:00Z"}"""))
    val sink = new SnapshotParquetSink(sinkDir)
    val q = MaterializedAgg.start(
      spark.readStream.schema(schema).json(in),
      keyCols = Seq("event_type"), valueCol = "value",
      watermarkCol = "ts", watermarkDelay = "1 hour",
      sink = sink, checkpoint = ckpt)
    def view(): Map[String, (Long, Double)] =
      sink.read(spark, DeleteMode.Hard).collect()
        .map(r => r.getAs[String]("event_type") ->
          (r.getAs[Long]("cnt"), r.getAs[Double]("sum_value"))).toMap
    try {
      q.processAllAvailable()
      assert(view() == Map("view" -> ((2L, 15.0)), "click" -> ((1L, 1.0))))
      // a later micro-batch updates ONLY the touched group
      write(in, "b1.jsonl", Seq(
        """{"event_id":4,"event_type":"view","value":2.5,"ts":"2024-01-01T10:10:00Z"}"""))
      q.processAllAvailable()
      assert(view() == Map("view" -> ((3L, 17.5)), "click" -> ((1L, 1.0))))
    } finally { q.stop(); q.awaitTermination() }
    // restart on the same checkpoint: state resumes, more data still lands
    write(in, "b2.jsonl", Seq(
      """{"event_id":5,"event_type":"click","value":4.0,"ts":"2024-01-01T10:20:00Z"}"""))
    val q2 = MaterializedAgg.start(
      spark.readStream.schema(schema).json(in),
      keyCols = Seq("event_type"), valueCol = "value",
      watermarkCol = "ts", watermarkDelay = "1 hour",
      sink = sink, checkpoint = ckpt)
    try {
      q2.processAllAvailable()
      assert(view() == Map("view" -> ((3L, 17.5)), "click" -> ((2L, 5.0))))
    } finally { q2.stop(); q2.awaitTermination() }
  }

  test("materialized join: per-batch incremental enrichment, dim updates apply to future facts") {
    import graft.sink.{DeleteMode, SnapshotParquetSink}
    import graft.streaming.MaterializedJoin
    val in = tmpDir("mj_in"); val ckpt = tmpDir("mj_ckpt")
    val sinkDir = tmpDir("mj_sink") + "/view"
    val schema = "fact_id LONG, dim_key LONG, amount DOUBLE"
    var dimRows = Seq((1L, "gold"), (2L, "silver"))
    def dim() = { import spark.implicits._; dimRows.toDF("dim_key", "tier") }
    write(in, "b0.jsonl", Seq(
      """{"fact_id":100,"dim_key":1,"amount":5.0}""",
      """{"fact_id":101,"dim_key":2,"amount":7.0}""",
      """{"fact_id":102,"dim_key":9,"amount":1.0}""")) // no dim row yet
    val sink = new SnapshotParquetSink(sinkDir)
    def view(): Map[Long, Option[String]] =
      sink.read(spark, DeleteMode.Hard).collect()
        .map(r => r.getAs[Long]("fact_id") -> Option(r.getAs[String]("tier"))).toMap
    val q = MaterializedJoin.startStreamStatic(
      spark.readStream.schema(schema).json(in), dim _, "dim_key", "fact_id", sink, ckpt)
    try {
      q.processAllAvailable()
      assert(view() == Map(100L -> Some("gold"), 101L -> Some("silver"), 102L -> None))
      // dimension gains the missing key: FUTURE facts see it, history is stable
      dimRows = dimRows :+ (9L, "bronze")
      write(in, "b1.jsonl", Seq(
        """{"fact_id":103,"dim_key":9,"amount":2.0}"""))
      q.processAllAvailable()
      assert(view() == Map(100L -> Some("gold"), 101L -> Some("silver"),
        102L -> None, 103L -> Some("bronze")))
    } finally { q.stop(); q.awaitTermination() }
    // checkpoint restart: only new data processes, the view survives
    write(in, "b2.jsonl", Seq("""{"fact_id":104,"dim_key":1,"amount":3.0}"""))
    val q2 = MaterializedJoin.startStreamStatic(
      spark.readStream.schema(schema).json(in), dim _, "dim_key", "fact_id", sink, ckpt)
    try {
      q2.processAllAvailable()
      assert(view()(104L) == Some("gold") && view().size == 5)
    } finally { q2.stop(); q2.awaitTermination() }
  }

  test("materialized join: CDC-updated sink table as the dimension (read-after-merge)") {
    // the composition a real pipeline runs: the dimension is ITSELF a CDC
    // sink kept current by upsert merges — every micro-batch's dim() read
    // must see the state as of the latest completed merge
    import graft.sink.{DeleteMode, SnapshotParquetSink}
    import graft.streaming.MaterializedJoin
    val in = tmpDir("mjc_in"); val ckpt = tmpDir("mjc_ckpt")
    val dimSink = new SnapshotParquetSink(tmpDir("mjc_dim") + "/dim")
    val factSink = new SnapshotParquetSink(tmpDir("mjc_sink") + "/view")
    def dimBatch(rows: (Long, Long, String, Boolean)*) =
      rows.toSeq.toDF("dim_key", "dseq", "tier", "ddel")
    dimSink.merge(dimBatch((1L, 0L, "gold", false)), Seq("dim_key"), "dseq", "ddel")
    def dim() = dimSink.read(spark, DeleteMode.Hard).select("dim_key", "tier")
    def view(): Map[Long, Option[String]] =
      factSink.read(spark, DeleteMode.Hard).collect()
        .map(r => r.getAs[Long]("fact_id") -> Option(r.getAs[String]("tier"))).toMap
    val schema = "fact_id LONG, dim_key LONG, amount DOUBLE"
    write(in, "b0.jsonl", Seq(
      """{"fact_id":100,"dim_key":1,"amount":5.0}""",
      """{"fact_id":101,"dim_key":2,"amount":7.0}""")) // dim row not merged yet
    val q = MaterializedJoin.startStreamStatic(
      spark.readStream.schema(schema).json(in), dim _, "dim_key", "fact_id", factSink, ckpt)
    try {
      q.processAllAvailable()
      assert(view() == Map(100L -> Some("gold"), 101L -> None))
      // CDC updates the dimension between micro-batches: an update, an
      // insert, and a tombstone — the NEXT batch joins against all three
      dimSink.merge(dimBatch((1L, 1L, "platinum", false), (2L, 1L, "silver", false)),
        Seq("dim_key"), "dseq", "ddel")
      write(in, "b1.jsonl", Seq(
        """{"fact_id":102,"dim_key":1,"amount":2.0}""",
        """{"fact_id":103,"dim_key":2,"amount":3.0}"""))
      q.processAllAvailable()
      // history keeps the values in force when joined; new facts see the merge
      assert(view() == Map(100L -> Some("gold"), 101L -> None,
        102L -> Some("platinum"), 103L -> Some("silver")))
      dimSink.merge(dimBatch((2L, 2L, "gone", true)), Seq("dim_key"), "dseq", "ddel")
      write(in, "b2.jsonl", Seq("""{"fact_id":104,"dim_key":2,"amount":1.0}"""))
      q.processAllAvailable()
      // hard-deleted dim row: the future fact left-joins to null, keeps flowing
      assert(view()(104L).isEmpty && view()(103L) == Some("silver"))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("near-dup admission stream: cross-batch candidates come from the band store") {
    import graft.sink.SnapshotParquetSink
    import graft.streaming.NearDupAdmission
    val in = tmpDir("nda_in"); val ckpt = tmpDir("nda_ckpt")
    val bandStore = new SnapshotParquetSink(tmpDir("nda_bands") + "/t")
    val sigStore = new SnapshotParquetSink(tmpDir("nda_sigs") + "/t")
    val results = scala.collection.mutable.Map[Long, Map[(Long, Long), Double]]()
    val dup = "the quick brown fox jumps over the lazy dog"
    write(in, "b0.jsonl", Seq(
      s"""{"doc_id":0,"text":"$dup"}""",
      s"""{"doc_id":1,"text":"$dup"}""",
      """{"doc_id":2,"text":"completely different words entirely in here"}"""))
    val q = NearDupAdmission.start(
      spark.readStream.schema("doc_id LONG, text STRING").json(in),
      bandStore, sigStore, ckpt,
      (est, id) => results(id) = est.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap)
    try {
      q.processAllAvailable()
      // within-batch: the exact dup pair, estimate 1.0; the unrelated doc absent
      assert(results(0L).get((0L, 1L)).contains(1.0), results.toString)
      assert(!results(0L).keySet.exists { case (i, j) => i == 2L || j == 2L })
      // batch 1: doc 10 duplicates doc 0 — the candidate MUST come from the
      // band store (batch 1 never saw docs 0/1), with its estimate resolved
      // through the signature store
      write(in, "b1.jsonl", Seq(
        s"""{"doc_id":10,"text":"$dup"}""",
        """{"doc_id":11,"text":"unrelated payload words nothing shared here"}"""))
      q.processAllAvailable()
      assert(results(1L).get((0L, 10L)).contains(1.0), results.toString)
      assert(results(1L).get((1L, 10L)).contains(1.0))
      assert(!results(1L).keySet.exists { case (i, j) => i == 11L || j == 11L })
      // batch 2 RE-INGESTS doc 0 (crawl re-fetch / replay): its stored
      // signature is REPLACED, not doubled — a plain union double-counts
      // agreeing hashes and emits est 2.0/4.0 instead of fractions
      write(in, "b2.jsonl", Seq(s"""{"doc_id":0,"text":"$dup"}"""))
      q.processAllAvailable()
      assert(results(2L).get((0L, 1L)).contains(1.0), results.toString)
      assert(results.values.flatMap(_.values).forall(_ <= 1.0), results.toString)
    } finally { q.stop(); q.awaitTermination() }
    // replay safety: the stores are keyed upserts — band rows stay unique
    val bandRows = bandStore.read(spark, graft.sink.DeleteMode.Hard)
    assert(bandRows.groupBy("doc_id", "band").count()
      .filter($"count" > 1).count() == 0)
    assert(bandRows.select("doc_id").distinct().count() == 5)
  }

  test("cardinality tracker stream: running estimates span batches, replay-stable") {
    import graft.streaming.CardinalityTracker
    val in = tmpDir("card_in"); val ckpt = tmpDir("card_ckpt")
    val store = new graft.sink.HllSketchStore(tmpDir("card_store") + "/s")
    val results = scala.collection.mutable.Map[Long, Map[String, (Long, Long)]]()
    // batch 0: users 0..49 on 'click', 0..9 on 'view'
    write(in, "b0.jsonl",
      (0 until 50).map(u => s"""{"user_id":$u,"event_type":"click"}""") ++
        (0 until 10).map(u => s"""{"user_id":$u,"event_type":"view"}"""))
    val q = CardinalityTracker.start(
      spark.readStream.schema("user_id LONG, event_type STRING").json(in),
      store, Seq("event_type"), "user_id", ckpt,
      (est, id) => results(id) = est.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
    try {
      q.processAllAvailable()
      assert(results(0L)("click")._1 == 50L)   // HLL exact at this cardinality
      assert(results(0L)("view")._1 == 10L)
      // batch 1: 25 repeat users + 25 new ones — the running estimate must
      // merge against the STORED batch-0 partials, not recount from rows
      write(in, "b1.jsonl",
        (25 until 75).map(u => s"""{"user_id":$u,"event_type":"click"}"""))
      q.processAllAvailable()
      assert(results(1L)("click") == ((75L, 2L)), results.toString)
      assert(results(1L)("view") == ((10L, 1L)))  // untouched group persists
    } finally { q.stop(); q.awaitTermination() }
    // replay safety: re-appending batch 1's rows under its id changes nothing
    val b1 = spark.read.json(s"$in/b1.jsonl")
    store.append(b1, Seq("event_type"), "user_id", batchId = 1L)
    val after = store.estimates(spark, Seq("event_type")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(after == results(1L))
  }

  test("trend tracker stream: merged candidates accumulate, heavy item always present") {
    import graft.streaming.TrendTracker
    val in = tmpDir("trend_in"); val ckpt = tmpDir("trend_ckpt")
    val store = new graft.sink.HeavyHitterStore(tmpDir("trend_store") + "/s", k = 10)
    val results = scala.collection.mutable.Map[Long, (Map[String, Long], Long)]()
    def lines(b: Int) =
      (0 until 50).map(_ => """{"word":"hot"}""") ++
        (0 until 30).map(i => s"""{"word":"t$b-$i"}""")   // fresh tail per batch
    write(in, "b0.jsonl", lines(0))
    val q = TrendTracker.start(
      spark.readStream.schema("word STRING").json(in), store, $"word", ckpt,
      (cand, bound, id) => results(id) =
        (cand.collect().map(r => r.getString(0) -> r.getLong(1)).toMap, bound))
    try {
      q.processAllAvailable()
      write(in, "b1.jsonl", lines(1))
      q.processAllAvailable()
      val (cand, bound) = results(1L)
      // 'hot' has true count 100 over 160 items; bound = 160/11 = 14 —
      // guaranteed present, estimate within the additive bound
      assert(cand.contains("hot"), cand.keys.take(5).toString)
      assert(bound == 160L / 11L)
      assert(cand("hot") <= 100L && cand("hot") >= 100L - bound,
        s"${cand("hot")} vs bound $bound")
      // running merge: batch 1's view strictly extends batch 0's estimate
      assert(results(0L)._1("hot") < cand("hot"))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("streaming dropDuplicates: cross-batch duplicates removed within watermark") {
    val in = tmpDir("dedup_in")
    val schema = "event_id LONG, ts TIMESTAMP"
    write(in, "b0.jsonl", Seq(
      """{"event_id":1,"ts":"2024-01-01T10:00:00Z"}""",
      """{"event_id":2,"ts":"2024-01-01T10:01:00Z"}"""))
    val src = spark.readStream.schema(schema).json(in)
    val dedup = src.withWatermark("ts", "1 hour").dropDuplicates("event_id")
    val q = dedup.writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      write(in, "b1.jsonl", Seq(
        """{"event_id":1,"ts":"2024-01-01T10:02:00Z"}""", // dup from batch 0
        """{"event_id":3,"ts":"2024-01-01T10:03:00Z"}"""))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("dropDuplicatesWithinWatermark: dedups within the delay, then evicts state") {
    import graft.streaming.StreamingDedup
    val in = tmpDir("dedupwm_in")
    val schema = "event_id LONG, ts TIMESTAMP"
    write(in, "b0.jsonl", Seq(
      """{"event_id":1,"ts":"2024-01-01T10:00:00Z"}""",
      """{"event_id":2,"ts":"2024-01-01T10:01:00Z"}"""))
    val src = spark.readStream.schema(schema).json(in)
    val dedup = StreamingDedup.withinWatermark(src, "ts", "10 minutes", Seq("event_id"))
    val q = dedup.writeStream.outputMode("append").format("memory")
      .queryName("dedupwm_out").start()
    try {
      q.processAllAvailable()
      // a duplicate within the delay is dropped
      write(in, "b1.jsonl", Seq(
        """{"event_id":1,"ts":"2024-01-01T10:02:00Z"}""",
        """{"event_id":3,"ts":"2024-01-01T10:03:00Z"}"""))
      q.processAllAvailable()
      assert(spark.table("dedupwm_out").select("event_id").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
      val stateAfterB1 = q.lastProgress.stateOperators.head.numRowsTotal
      // advance the watermark far past every key's event time -> eviction
      write(in, "b2.jsonl", Seq("""{"event_id":4,"ts":"2024-01-01T12:00:00Z"}"""))
      q.processAllAvailable()
      write(in, "b3.jsonl", Seq("""{"event_id":5,"ts":"2024-01-01T12:30:00Z"}"""))
      q.processAllAvailable()
      val stateAtEnd = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateAfterB1 >= 3, s"state rows after dup batch: $stateAfterB1")
      assert(stateAtEnd < stateAfterB1,
        s"state must shrink after watermark passes old keys: $stateAtEnd vs $stateAfterB1")
    } finally { q.stop(); q.awaitTermination() }
  }

  test("streaming LSH near-dup: cosine-identical arrivals suppressed across batches") {
    import graft.streaming.StreamingDedup
    val in = tmpDir("neardup_in")
    val schema = "vec_id LONG, embedding ARRAY<FLOAT>, ts TIMESTAMP"
    write(in, "b0.jsonl", Seq(
      """{"vec_id":1,"embedding":[1.0,0.0,0.0,0.0],"ts":"2024-01-01T10:00:00Z"}""",
      """{"vec_id":2,"embedding":[-1.0,0.0,0.0,0.0],"ts":"2024-01-01T10:01:00Z"}"""))
    val src = spark.readStream.schema(schema).json(in)
    val dedup = StreamingDedup.nearDupLshWithinWatermark(
      src, "embedding", dim = 4, nPlanes = 4, tsCol = "ts", delay = "10 minutes")
    val q = dedup.writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    try {
      q.processAllAvailable()
      // same-direction vectors land in the representative's bucket → dropped
      write(in, "b1.jsonl", Seq(
        """{"vec_id":3,"embedding":[2.0,0.0,0.0,0.0],"ts":"2024-01-01T10:02:00Z"}""",
        """{"vec_id":4,"embedding":[-0.5,0.0,0.0,0.0],"ts":"2024-01-01T10:03:00Z"}"""))
      q.processAllAvailable()
      val ids = spark.table("neardup_out").select("vec_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L), s"got $ids")
      assert(!spark.table("neardup_out").columns.contains("__bucket"))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("mapGroupsWithState: running per-user stats accumulate across micro-batches") {
    import graft.streaming.Stateful
    import graft.streaming.Stateful.UserEvent
    val in = tmpDir("state_in")
    val schema = "user_id LONG, event_id LONG, value DOUBLE"
    write(in, "b0.jsonl", Seq(
      """{"user_id":1,"event_id":10,"value":5.0}""",
      """{"user_id":1,"event_id":11,"value":7.0}""",
      """{"user_id":2,"event_id":12,"value":1.0}"""))
    val src = spark.readStream.schema(schema).json(in).as[UserEvent]
    val q = Stateful.runningUserStats(src).writeStream
      .outputMode(Stateful.outputMode).format("memory").queryName("stats_out")
      .option("checkpointLocation", tmpDir("state_ckpt")).start()
    try {
      q.processAllAvailable()
      // second batch updates existing state
      write(in, "b1.jsonl", Seq("""{"user_id":1,"event_id":13,"value":3.0}"""))
      q.processAllAvailable()
      // memory+update mode appends each update; latest row per user wins
      val rows = spark.table("stats_out").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
      assert(rows(1L) == ((3L, 15.0, 13L)))
      assert(rows(2L) == ((1L, 1.0, 12L)))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("transformWithState (Spark 4 API) matches the mapGroupsWithState semantics") {
    import graft.streaming.Stateful
    import graft.streaming.Stateful.UserEvent
    val in = tmpDir("tws_in")
    val schema = "user_id LONG, event_id LONG, value DOUBLE"
    write(in, "b0.jsonl", Seq(
      """{"user_id":1,"event_id":10,"value":5.0}""",
      """{"user_id":1,"event_id":11,"value":7.0}""",
      """{"user_id":2,"event_id":12,"value":1.0}"""))
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = spark.readStream.schema(schema).json(in).as[UserEvent]
      val q = Stateful.runningUserStatsTws(src).writeStream
        .outputMode(Stateful.outputMode).format("memory").queryName("tws_out")
        .option("checkpointLocation", tmpDir("tws_ckpt")).start()
      try {
        q.processAllAvailable()
        write(in, "b1.jsonl", Seq("""{"user_id":1,"event_id":13,"value":3.0}"""))
        q.processAllAvailable()
        val rows = spark.table("tws_out").collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3))))
          .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
        assert(rows(1L) == ((3L, 15.0, 13L)))
        assert(rows(2L) == ((1L, 1.0, 12L)))
      } finally { q.stop(); q.awaitTermination() }
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("bucketed co-located join runs without any shuffle Exchange") {
    import graft.engine.Bucketing
    val dir = "/root/testdata/sf0.001"
    val suffix = System.nanoTime() // in-memory catalog forgets, locations persist
    Bucketing.writeBucketed(
      spark.read.parquet(s"$dir/orders.parquet"), s"b_orders_$suffix", "o_orderkey", 8)
    Bucketing.writeBucketed(
      spark.read.parquet(s"$dir/lineitem.parquet"), s"b_lineitem_$suffix", "l_orderkey", 8)
    // force the non-broadcast path: the point is that the SORT-MERGE join
    // needs no shuffle because the bucketed scans already satisfy the
    // required distribution
    val joined = spark.table(s"b_lineitem_$suffix").hint("merge")
      .join(spark.table(s"b_orders_$suffix"), col("l_orderkey") === col("o_orderkey"))
    joined.collect() // finalize adaptive plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), s"expected shuffle-free bucketed join:\n$plan")
    assert(joined.count() == spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey")).count())
    spark.sql(s"DROP TABLE IF EXISTS b_orders_$suffix")
    spark.sql(s"DROP TABLE IF EXISTS b_lineitem_$suffix")
  }

  test("scalable ntile matches the window ntile exactly, without a global window") {
    import graft.engine.Ranking
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val viaWindow = orders.select(col("o_orderkey"),
        ntile(4).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("o_totalprice"), col("o_orderkey"))).cast("long").as("tile"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaScalable =
      Ranking.ntileScalable(orders, 4, Seq(col("o_totalprice"), col("o_orderkey"))) { tiled =>
        tiled.select(col("o_orderkey"), col("tile"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    assert(viaScalable == viaWindow)
    assert(leakedCaches.isEmpty,
      "ntileScalable must release its internal cache on exit")
  }

  test("distributed prefix sum matches the global-window cumsum exactly") {
    import graft.engine.Ranking
    // strided values over many partitions; exclusive cumsum reference
    val df = spark.range(0, 5000).select($"id",
      (($"id" * 37) % 101).as("v"))
    val expected = df.select($"id",
        (sum($"v").over(org.apache.spark.sql.expressions.Window
          .orderBy($"id").rowsBetween(Long.MinValue, 0)) - $"v").as("ps"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Ranking.prefixSum(df, $"v", Seq($"id")) { p =>
      p.select($"id", $"__psum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == expected)
    assert(leakedCaches.isEmpty,
      "prefixSum must release its internal cache on exit")
  }

  test("sequence packing: offsets, bins and boundary straddles") {
    import graft.llm.TextAnalysis
    // 3 + 4 + 2 tokens, budget 5: doc1 starts at 3 and crosses the bin edge
    val docs = Seq((0L, "a b c"), (1L, "d e f g"), (2L, "h i"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(docs, budgetTokens = 5L) { p =>
      p.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    }
    assert(got == Map(
      0L -> ((3L, 0L, 0L, false)),
      1L -> ((4L, 3L, 0L, true)), // tokens 3..6 cross the bin-0/bin-1 edge at 5
      2L -> ((2L, 7L, 1L, false))))
  }

  test("binned range join equals the plain range join as an equi-join plan") {
    import graft.engine.RangeJoin
    // canonical view, not a raw read: ts has shipped as both nanos-long and
    // TIMESTAMP_MICROS across testdata regenerations (TablesDtypeSpec)
    val e = graft.engine.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
    val l = e.select($"user_id".as("l_user"), $"event_id".as("l_id"), $"us".as("l_us"))
    val r = e.select($"user_id".as("r_user"), $"event_id".as("r_id"), $"us".as("r_us"))
    val w = 3600L * 1000000L
    val binned = RangeJoin.binned(l, r, "l_user", "r_user", "l_us", "r_us", w)
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val plain = l.join(r, $"l_user" === $"r_user" && $"r_us" > $"l_us" && $"r_us" <= $"l_us" + w)
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(binned == plain && binned.nonEmpty)
    // the physical plan must be a keyed equi-join, not a nested loop
    val df = RangeJoin.binned(l, r, "l_user", "r_user", "l_us", "r_us", w)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("salted join equals plain join (content), splitting key partitions") {
    val big = (0 until 10000).map(i => (if (i % 10 == 0) 1L else i.toLong % 100, s"v$i"))
      .toDF("k", "payload") // key 1 is hot
    val dim = (0L until 100L).map(k => (k, s"dim$k")).toDF("k", "d")
    val plain = big.join(dim, "k")
    val salted = Skew.saltedJoin(big, dim, "k", factor = 8)
    assert(salted.count() == plain.count())
    val a = salted.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = plain.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("saltedJoin scatter: duplicate rows co-bucket by default, ordinal scatter splits them") {
    // the crawl/CDC shape: the hot key is hot BECAUSE the same record
    // repeats — 4000 IDENTICAL (k=1, "dup") rows next to a uniform tail
    // uniform tail keys are 2..99 so EVERY k=1 row is the identical dup
    val rows = Seq.fill(4000)((1L, "dup")) ++ (0 until 4000).map(i => (i.toLong % 98 + 2, s"v$i"))
    val withSeq = rows.zipWithIndex.map { case ((k, p), i) => (k, p, i.toLong) }
      .toDF("k", "payload", "seq") // ingest-time ordinal, retry-stable
    val noSeq = withSeq.drop("seq")
    def hotBuckets(df: org.apache.spark.sql.DataFrame, scatter: Option[org.apache.spark.sql.Column]) =
      df.withColumn("salt", Skew.saltColumn(df, 8, scatter))
        .filter($"k" === 1L).select("salt").distinct().count()
    // documented caveat: content-hash scatter lands every duplicate in ONE
    // bucket — the split is defeated exactly when it's needed most
    assert(hotBuckets(noSeq, None) == 1L)
    // the ordinal path spreads the duplicates across all 8 buckets
    assert(hotBuckets(withSeq, Some($"seq")) == 8L)
    // and the joined content is unchanged by the scatter choice
    val dim = (0L until 100L).map(k => (k, s"dim$k")).toDF("k", "d")
    val plain = withSeq.join(dim, "k")
    val salted = Skew.saltedJoin(withSeq, dim, "k", factor = 8, scatter = Some($"seq"))
    assert(salted.count() == plain.count())
    assert(salted.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == plain.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("adaptive salting: skewed key salts, balanced key joins plain, content equal") {
    // saltFactorFor: pure arithmetic cases first
    assert(Skew.saltFactorFor(0, 0, 0) == 1)          // empty: nothing to split
    assert(Skew.saltFactorFor(1000, 100, 10) == 1)    // max == avg: balanced
    assert(Skew.saltFactorFor(1000, 100, 80) == 8)    // hot key 8x the average
    assert(Skew.saltFactorFor(1000, 1, 1000) == 1)    // one key total: avg == max
    assert(Skew.saltFactorFor(1000, 100, 1000) == 32) // capped
    // skewed frame: key 1 holds ~10% of 10k rows over 100 keys → factor > 1
    val big = (0 until 10000).map(i => (if (i % 10 == 0) 1L else i.toLong % 100, s"v$i"))
      .toDF("k", "payload")
    val dim = (0L until 100L).map(k => (k, s"dim$k")).toDF("k", "d")
    val (skewJoined, skewFactor) = Skew.adaptiveSaltedJoin(big, dim, "k")
    assert(skewFactor > 1, s"skewed key must salt, chose $skewFactor")
    val plain = big.join(dim, "k")
    assert(skewJoined.count() == plain.count())
    assert(skewJoined.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == plain.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // uniform frame: every key equally loaded → factor 1, no replication
    val uniform = (0 until 10000).map(i => (i.toLong % 100, s"v$i")).toDF("k", "payload")
    val (_, uniFactor) = Skew.adaptiveSaltedJoin(uniform, dim, "k")
    assert(uniFactor == 1, s"balanced key must not salt, chose $uniFactor")
    // empty frame: the profile's sum/max are null — must coalesce to a
    // plain join, not NPE
    val empty = Seq.empty[(Long, String)].toDF("k", "payload")
    val (emptyJoined, emptyFactor) = Skew.adaptiveSaltedJoin(empty, dim, "k")
    assert(emptyFactor == 1 && emptyJoined.count() == 0)
  }

  test("exactQuantile: matches the sorted order statistic, edges and duplicates included") {
    import graft.engine.Ranking
    // deterministic values with heavy duplicates and a skewed tail
    val vals = (0 until 5000).map(i => ((i * 2654435761L) % 97) * ((i % 7) + 1))
    val df = vals.toDF("v")
    val sorted = vals.sorted
    for (q <- Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)) {
      val expected = sorted(math.floor((vals.size - 1) * q).toInt)
      val got = Ranking.exactQuantile(df, $"v", q).get.asInstanceOf[Long]
      assert(got == expected, s"q=$q")
    }
    assert(Ranking.exactQuantile(df.filter($"v" < 0), $"v", 0.5).isEmpty)
  }

  test("exactQuantiles: multi-q matches sorted order statistics in fewer jobs than per-q") {
    import graft.engine.Ranking
    val vals = (0 until 5000).map(i => ((i * 2654435761L) % 97) * ((i % 7) + 1))
    val df = vals.toDF("v")
    val sorted = vals.sorted
    val qs = Seq(0.0, 0.05, 0.5, 0.95, 1.0)
    def countJobs(work: => Unit): Int = {
      var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        work
        org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs
    }
    var multi: Seq[Long] = Nil
    val jobsMulti = countJobs {
      multi = Ranking.exactQuantiles(df, $"v", qs).map(_.get.asInstanceOf[Long])
    }
    qs.zip(multi).foreach { case (q, got) =>
      assert(got == sorted(math.floor((vals.size - 1) * q).toInt), s"q=$q")
    }
    var single: Seq[Long] = Nil
    val jobsSingle = countJobs {
      single = qs.map(q => Ranking.exactQuantile(df, $"v", q).get.asInstanceOf[Long])
    }
    assert(multi == single)
    // the whole point of the multi-q API: scan count independent of qs.size
    assert(jobsMulti < jobsSingle,
      s"multi-q ran $jobsMulti jobs vs $jobsSingle for ${qs.size} per-q calls")
  }

  test("exactQuantileByGroup: per-group order statistics off shared scans, refusal intact") {
    import graft.engine.Ranking
    val rows = (0 until 3000).map { i =>
      (s"g${i % 3}", ((i * 2654435761L) % 89) * ((i % 5) + 1))
    }
    val df = rows.toDF("g", "v")
    val expected = rows.groupBy(_._1).map { case (g, grp) =>
      val s = grp.map(_._2).sorted
      g -> s(math.floor((s.size - 1) * 0.5).toInt)
    }
    val got = Ranking.exactQuantileByGroup(df, $"g", $"v", 0.5)
      .map { case (g, v) => g.asInstanceOf[String] -> v.asInstanceOf[Long] }.toMap
    assert(got == expected)
    // high-cardinality refusal contract unchanged
    val wide = (0 until 200).map(i => (s"u$i", i.toLong)).toDF("g", "v")
    intercept[IllegalArgumentException] {
      Ranking.exactQuantileByGroup(wide, $"g", $"v", 0.5, maxGroups = 64)
    }
    ()
  }

  test("bloom-pruned join: row-identical to the plain join, actually prunes, empty dim safe") {
    import graft.engine.BloomPrune
    val big = (0 until 20000).map(i => (i.toLong % 1000, s"v$i")).toDF("k", "payload")
    val dim = Seq((7L, "a"), (13L, "b"), (999L, "c")).toDF("dk", "d")
    val plain = big.join(dim, big("k") === dim("dk"))
    val pruned = BloomPrune.prunedJoin(big, dim, "k", "dk", expectedItems = 1000)
    assert(pruned.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)
    // the semi filter really drops non-matching rows before the join
    val kept = BloomPrune.semiFilter(big, $"k", dim, $"dk", expectedItems = 1000).count()
    assert(kept < 20000, s"bloom kept $kept of 20000 — no pruning happened")
    assert(kept >= 60, "bloom must never drop true matches (3 keys x 20 rows)")
    // empty small side: empty result, schema preserved
    val emptyDim = dim.filter($"dk" < 0)
    assert(BloomPrune.prunedJoin(big, emptyDim, "k", "dk").count() == 0)
  }

  test("intervalOverlap: brute-force parity, one row per pair across bin boundaries") {
    import graft.engine.RangeJoin
    // intervals engineered to span 0–3 bins at binWidth=10, with ties,
    // touching endpoints (closed-interval overlap), and disjoint pairs
    val la = Seq((1L, 101L, 0L, 5L), (1L, 102L, 8L, 31L), (1L, 103L, 40L, 40L),
      (2L, 104L, 0L, 100L), (3L, 105L, 5L, 6L))
    val rb = Seq((1L, 201L, 5L, 9L), (1L, 202L, 30L, 45L), (2L, 203L, 99L, 120L),
      (2L, 204L, 101L, 110L), (3L, 205L, 7L, 8L))
    val a = la.toDF("u", "aid", "as0", "ae0")
    val b = rb.toDF("bu", "bid", "bs0", "be0")
    val got = RangeJoin.intervalOverlap(a, b, "u", "bu", "as0", "ae0", "bs0", "be0", 10L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.size == got.toSet.size, s"duplicate pairs: $got")
    val brute = (for {
      (u, ai, s1, e1) <- la; (v, bi, s2, e2) <- rb
      if u == v && math.max(s1, s2) <= math.min(e1, e2)
    } yield (ai, bi)).toSet
    assert(got.toSet == brute)
    assert(brute.contains((101L, 201L)) && brute.contains((103L, 202L))) // endpoint touches
  }

  test("pageRank: hand-computed fixed-point iterations on a path graph") {
    import graft.engine.Graph
    // path 1-2-3: deg(1)=deg(3)=1, deg(2)=2; scale=300 -> r0=100, tele=15
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("i", "j")
    val r2 = Graph.pageRank(pairs, iters = 2, scale = 300L)(
      _.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // it1: r=(57,185,57); it2: contribs 2->{78,78}, 1,3->{48}
    assert(r2 == Map(1L -> 93L, 2L -> 111L, 3L -> 93L))
    assert(leakedCaches.isEmpty,
      "pageRank must release its caches on exit")
  }

  test("pageRank plan size is O(1) in the iteration count (lineage rebased)") {
    import graft.engine.Graph
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("i", "j")
    def planChars(iters: Int): Int =
      Graph.pageRank(pairs, iters, scale = 300L)(
        _.queryExecution.optimizedPlan.toString.length)
    val p2 = planChars(2)
    val p10 = planChars(10)
    // without the per-iteration rebase the plan grows with every round
    // (join + agg stacked on the previous plan); rebased, both are one
    // constant-size scan of an RDD
    assert(p10 <= p2 + 64, s"plan grew with iters: $p2 chars @2 -> $p10 chars @10")
  }

  test("integrity monitor: transient orphans heal when the parent catches up") {
    import graft.streaming.IntegrityMonitor
    val in = tmpDir("fk_in")
    val parentDir = tmpDir("fk_parent")
    val stateDir = tmpDir("fk_state")
    Seq(1L, 2L).toDF("pk").write.mode("overwrite").parquet(parentDir)
    write(in, "b0.jsonl", Seq(
      """{"fk":1}""", """{"fk":5}""", """{"fk":5}"""))
    val src = spark.readStream.schema("fk LONG").json(in)
    var seen = Map.empty[Long, Map[Long, Long]]
    val q = IntegrityMonitor.start(src, "fk",
      s => s.read.parquet(parentDir), "pk",
      stateDir, tmpDir("fk_ckpt"),
      (out, id) => seen += id ->
        out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    try {
      q.processAllAvailable()
      // parent 5 missing: both child rows dangle
      assert(seen(0L) == Map(5L -> 2L), seen.toString)
      // the parent stream catches up (5 replicates); child batch adds a
      // NEW orphan 9 — 5 must heal, 9 must surface
      Seq(1L, 2L, 5L).toDF("pk").write.mode("overwrite").parquet(parentDir)
      write(in, "b1.jsonl", Seq("""{"fk":5}""", """{"fk":9}"""))
      q.processAllAvailable()
      assert(seen(1L) == Map(9L -> 1L), seen.toString)
      // reader API agrees with the callback view
      val persisted = IntegrityMonitor.outstanding(spark, stateDir).get
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(persisted == Map(9L -> 1L))
    } finally { q.stop(); q.awaitTermination() }
  }

  test("vector ingest stream: searches see committed batches, replay-stable") {
    import graft.streaming.VectorIngest
    val in = tmpDir("vec_in"); val ckpt = tmpDir("vec_ckpt")
    val store = new graft.sink.VectorIndexStore(tmpDir("vec_store") + "/s")
    // bootstrap: two well-separated cells trained offline, centroids frozen
    val boot = Seq(
      (100L, Seq(1.0f, 0.0f)), (101L, Seq(0.9f, 0.1f)),
      (102L, Seq(0.0f, 1.0f)), (103L, Seq(0.1f, 0.9f))).toDF("vec_id", "embedding")
    store.init(boot, k = 2, iters = 1)
    def vecJson(id: Long, x: Double, y: Double) =
      s"""{"vec_id":$id,"embedding":[$x,$y]}"""
    val results = scala.collection.mutable.Map[Long, Seq[(Long, Long)]]()
    val query = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    write(in, "b0.jsonl", Seq(vecJson(1, 0.95, 0.05), vecJson(2, 0.05, 0.95)))
    val q = VectorIngest.start(
      spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>").json(in),
      store, ckpt,
      (st, id) => results(id) = st.search(spark, query, k = 10, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    try {
      q.processAllAvailable()
      assert(results(0L).map(_._2).toSet == Set(1L, 2L), results.toString)
      // batch 1: a closer neighbor arrives; the next search must rank it
      // first WITHOUT re-reading batch 0's rows as input
      write(in, "b1.jsonl", Seq(vecJson(3, 1.0, 0.0)))
      q.processAllAvailable()
      assert(results(1L).head == ((0L, 3L)), results.toString)
      assert(results(1L).map(_._2).toSet == Set(1L, 2L, 3L))
    } finally { q.stop(); q.awaitTermination() }
    // replay safety: frozen centroids make a re-appended batch bit-identical
    store.append(spark.read.schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .json(s"$in/b1.jsonl"), 1L)
    val after = store.search(spark, query, k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == results(1L), s"after=$after expected=${results(1L)}")
  }

  test("rate monitor stream: running scores equal the batch query, replay-stable") {
    import graft.streaming.RateMonitor
    val in = tmpDir("rate_in"); val ckpt = tmpDir("rate_ckpt")
    val store = new graft.sink.CountStore(tmpDir("rate_store") + "/s")
    def ev(t: String, ts: String) = s"""{"event_type":"$t","ts":"$ts"}"""
    val results = scala.collection.mutable.Map[Long, Seq[(String, Long, Long)]]()
    // batch 0: type a has hours [1, 2] events; type b one hour
    write(in, "b0.jsonl", Seq(
      ev("a", "2024-01-01T00:05:00"),
      ev("a", "2024-01-01T01:05:00"), ev("a", "2024-01-01T01:06:00"),
      ev("b", "2024-01-01T00:10:00")))
    val q = RateMonitor.start(
      spark.readStream.schema("event_type STRING, ts TIMESTAMP").json(in),
      store, ckpt,
      (an, id) => results(id) = an.collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(4))).toSeq)
    try {
      q.processAllAvailable()
      // batch 1: a burst lands in a NEW batch but the SAME hour as earlier
      // events — the additive merge must sum across batches
      write(in, "b1.jsonl", (1 to 8).map(i => ev("a", f"2024-01-01T01:30:$i%02d")))
      q.processAllAvailable()
      val got = results(1L)
      // type a hourly counts: h0 = 1, h1 = 2 + 8 = 10 → median 1 (lower of
      // [1, 10]); burst hour scores 10000
      assert(got.contains(("a", 10L, 10000L)), got.toString)
      // the running ranking equals the one-shot batch query over the union
      val union = spark.read.schema("event_type STRING, ts TIMESTAMP")
        .json(s"$in/b0.jsonl", s"$in/b1.jsonl")
      val oneShot = graft.inspect.Inspection.rateAnomalies(union)
        .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4))).toSeq
      assert(got == oneShot, s"got=$got oneShot=$oneShot")
    } finally { q.stop(); q.awaitTermination() }
    // replayed batch: identical partials, identical scores
    val replayBatch = spark.read.schema("event_type STRING, ts TIMESTAMP")
      .json(s"$in/b1.jsonl")
      .select(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
    store.append(replayBatch, Seq("event_type", "hour_us"), 1L)
    val after = RateMonitor.anomalies(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4))).toSeq
    assert(after == results(1L))
  }

  test("text ingest stream: searches see committed batches, replay-stable") {
    import graft.streaming.TextIngest
    val in = tmpDir("txt_in"); val ckpt = tmpDir("txt_ckpt")
    val store = new graft.sink.TextIndexStore(tmpDir("txt_store") + "/s")
    def docJson(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val results = scala.collection.mutable.Map[Long, Seq[(Long, Long)]]()
    write(in, "b0.jsonl", Seq(docJson(0, "a b c"), docJson(1, "a a b")))
    val q = TextIngest.start(
      spark.readStream.schema("doc_id LONG, text STRING").json(in),
      store, ckpt,
      (st, id) => results(id) = st.search(spark, Seq("a"), k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    try {
      q.processAllAvailable()
      assert(results(0L).map(_._1).toSet == Set(0L, 1L), results.toString)
      // batch 1: new docs arrive; the next search sees them WITHOUT
      // re-tokenizing batch 0's documents as input
      write(in, "b1.jsonl", Seq(docJson(2, "a a a"), docJson(3, "b c d")))
      q.processAllAvailable()
      assert(results(1L).map(_._1).toSet == Set(0L, 1L, 2L), results.toString)
      // phrase + proximity work over the streamed positional postings
      val ph = store.phraseSearch(spark, Seq("a", "b"), k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(ph.map(_._1).toSet == Set(0L, 1L), ph.toString)
    } finally { q.stop(); q.awaitTermination() }
    // replay safety: deterministic tokenization makes a re-appended batch
    // bit-identical — search results unchanged
    store.append(spark.read.schema("doc_id LONG, text STRING")
      .json(s"$in/b1.jsonl"), 1L)
    val after = store.search(spark, Seq("a"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == results(1L), s"after=$after expected=${results(1L)}")
  }

  test("text ingest stream: a crash-replayed batch no-ops ACROSS a compaction") {
    // the fold-watermark streaming contract: the store compacts while the
    // stream is down with its last micro-batch applied but uncommitted in
    // the checkpoint; on restart the replay of the FOLDED batch must add
    // nothing (the merged partials already hold it), and the next batch
    // appends into the new generation normally
    import graft.streaming.TextIngest
    val in = tmpDir("txtc_in"); val ckpt = tmpDir("txtc_ckpt")
    val store = new graft.sink.TextIndexStore(tmpDir("txtc_store") + "/s")
    def docJson(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    def startQ() = TextIngest.start(
      spark.readStream.schema("doc_id LONG, text STRING").json(in), store, ckpt)
    write(in, "b0.jsonl", Seq(docJson(0, "a b c"), docJson(1, "a a b")))
    val q1 = startQ()
    try {
      q1.processAllAvailable()
      write(in, "b1.jsonl", Seq(docJson(2, "a a a"), docJson(3, "b c d")))
      q1.processAllAvailable()
    } finally { q1.stop(); q1.awaitTermination() }
    // crash: micro-batch 1 fully applied to the store, checkpoint commit lost
    val commits = new java.io.File(ckpt, "commits")
    val latest = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .sortBy(_.getName.toInt).last
    assert(latest.delete())
    val crc = new java.io.File(commits, s".${latest.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    // maintenance window: everything committed so far folds (watermark 1)
    store.compact(spark)
    assert(store.liveGen == 1L)
    // restart: batch 1 replays (no-op against the watermark), batch 2 appends
    write(in, "b2.jsonl", Seq(docJson(4, "a d d"), docJson(5, "c c a")))
    val q2 = startQ()
    try q2.processAllAvailable()
    finally { q2.stop(); q2.awaitTermination() }
    // exact parity with the one-shot scan of all six documents
    import spark.implicits._
    val corpus = Seq((0L, "a b c"), (1L, "a a b"), (2L, "a a a"),
      (3L, "b c d"), (4L, "a d d"), (5L, "c c a")).toDF("doc_id", "text")
    val got = store.search(spark, Seq("a"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = graft.llm.TextAnalysis.bm25Search(corpus, Seq("a"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"got=$got want=$want")
    // the replayed batch added no rows: every doc counted exactly once
    val nDocs = spark.read.format("graft-textindex").option("sub", "doclens")
      .load(store.dir).select("doc_id").distinct().count()
    assert(nDocs == 6L, s"replay across compaction must not duplicate: $nDocs")
  }

  test("matview stream follower: the IVM view tracks 5 upstream commits per-commit, equal to recompute at each head") {
    import graft.sink.{DeleteMode, MaterializedAgg, SnapshotParquetSink}
    import graft.streaming.MatViewStream
    import spark.implicits._
    val src = new SnapshotParquetSink(tmpDir("mvs_src") + "/t", nBuckets = 4)
    val agg = new SnapshotParquetSink(tmpDir("mvs_agg") + "/v", nBuckets = 4)
    val view = new MaterializedAgg(src, agg, Seq("grp"),
      Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    def rows(seq: Long, t: (Int, String, Long)*) =
      t.toSeq.map { case (id, g, v) => (id, g, v, seq) }
        .toDF("id", "grp", "v", "seq").withColumn("__del", lit(false))
    def direct(): Set[(String, Long, Long)] =
      src.read(spark, DeleteMode.Hard).groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def maintained(): Set[(String, Long, Long)] =
      view.read(spark).select("grp", "n", "sv")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // v0 exists before the follower starts (the source needs one commit)
    src.merge(rows(1, (1, "a", 10), (2, "b", 5)), Seq("id"), "seq", "__del")
    val ckpt = tmpDir("mvs_ckpt")
    val q = MatViewStream.follow(spark, view, ckpt, maxVersionsPerTrigger = 1)
    try {
      q.processAllAvailable()
      assert(view.appliedVersion == Some(0L))
      assert(maintained() == direct())
      // five more commits; after each trigger the view equals the direct
      // recompute at that head AND advanced exactly one source version
      val commits = Seq(
        rows(2, (3, "a", 7)),                 // insert
        rows(3, (1, "a", 99)),                // update
        rows(4, (2, "b", 0)).withColumn("__del", lit(true)), // delete -> b dies
        rows(5, (4, "c", 123), (5, "c", 1)),  // new group
        rows(6, (3, "b", 42)))                // rebirth via group move
      commits.zipWithIndex.foreach { case (c, i) =>
        src.merge(c, Seq("id"), "seq", "__del")
        q.processAllAvailable()
        assert(view.appliedVersion == Some(i + 1L),
          s"commit ${i + 1}: follower must advance per-commit")
        assert(maintained() == direct(), s"commit ${i + 1}: view diverged")
        assert(view.lastRefreshRegime == Some("delta"),
          s"sum/count view must ride the arithmetic fold: ${view.lastRefreshRegime}")
      }
      // the cursor batches are never executed: the follower did not read
      // slice DATA through the stream (no progress row carries input rows
      // beyond the admission metadata is not observable here; the
      // correctness of laziness is pinned by zero extra source reads being
      // REQUIRED -- the refresh owns its own slice reads)
    } finally { q.stop(); q.awaitTermination() }
    // crash-replay: drop the last checkpoint commit, restart -- the
    // replayed trigger finds the view already at the head and no-ops
    injectCrash(ckpt)
    val q2 = MatViewStream.follow(spark, view, ckpt, maxVersionsPerTrigger = 1)
    try {
      q2.processAllAvailable()
      assert(view.appliedVersion == Some(5L))
      assert(maintained() == direct(), "replayed trigger must not double-apply")
    } finally { q2.stop(); q2.awaitTermination() }
  }
}
