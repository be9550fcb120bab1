package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sink.{DeleteMode, SnapshotParquetSink}

/** The `graft-snapshot-stream` streaming source (Delta streaming-source
  * analog): a Structured Streaming query follows a snapshot table's commit
  * log — initial snapshot, then changed-bucket slices per offset range —
  * with Spark-checkpointed offsets, delete forwarding, vacuum self-heal
  * and frozen-schema conformance.
  */
class SnapshotStreamSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Seq[Long], seq: Long, tag: String,
      del: Set[Long] = Set.empty): DataFrame =
    ids.map(i => (i, seq, i * 10, s"$tag$i", del.contains(i)))
      .toDF("id", "seq", "amount", "note", "is_delete")

  private def state(dir: String): Map[Long, (Long, String)] =
    SnapshotParquetSink.forTable(dir).read(spark, DeleteMode.Hard)
      .select("id", "seq", "note").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

  /** foreachBatch LWW merge — the canonical downstream of an upsert
    * stream; `is_deleted` arrives as a row flag and forwards as the
    * tombstone column.
    */
  private def follow(upDir: String, downDir: String, ckpt: String) =
    spark.readStream.format("graft-snapshot-stream").load(upDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val sink =
            if (SnapshotParquetSink.versions(downDir).nonEmpty)
              SnapshotParquetSink.forTable(downDir)
            else new SnapshotParquetSink(downDir, nBuckets = 8)
          sink.merge(batch, Seq("id"), "seq", "is_deleted")
        }
        ()
      }
      .start()

  test("stream converges to the upstream state across waves; deletes forward; slices stay pruned") {
    val up = tmpDir("ssup") + "/t"
    val down = tmpDir("ssdn") + "/t"
    val ckpt = tmpDir("ssck")
    val upSink = new SnapshotParquetSink(up, nBuckets = 8)
    upSink.merge(rows(0L until 64L, 0L, "a"), Seq("id"), "seq", "is_delete")
    val q = follow(up, down, ckpt)
    try {
      q.processAllAvailable()
      assert(state(down) == state(up), "initial snapshot must land whole")
      // wave 2: update + delete — only changed buckets may flow
      upSink.merge(rows(Seq(3L, 5L), 1L, "b", del = Set(5L)),
        Seq("id"), "seq", "is_delete")
      q.processAllAvailable()
      assert(state(down) == state(up))
      assert(state(down)(3L)._2 == "b3")
      assert(!state(down).contains(5L), "tombstone must forward")
      // pruning: the second batch's input is the changed slice, not the
      // table — ≤ 2 buckets of an 8-bucket/64-row table
      val second = q.recentProgress.map(_.numInputRows)
        .filter(_ > 0L).lastOption.getOrElse(0L)
      assert(second > 0L && second <= 16L,
        s"changed-slice batch read $second rows — expected a pruned slice")
    } finally { q.stop(); q.awaitTermination() }
  }

  test("maxVersionsPerTrigger bounds a running stream's catch-up batches") {
    val up = tmpDir("sscup") + "/t"
    val down = tmpDir("sscdn") + "/t"
    val ckpt = tmpDir("sscck")
    val upSink = new SnapshotParquetSink(up, nBuckets = 4)
    upSink.merge(rows(0L until 8L, 0L, "a"), Seq("id"), "seq", "is_delete")
    val q = spark.readStream.format("graft-snapshot-stream")
      .option("maxVersionsPerTrigger", "1").load(up)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val sink =
            if (SnapshotParquetSink.versions(down).nonEmpty)
              SnapshotParquetSink.forTable(down)
            else new SnapshotParquetSink(down, nBuckets = 8)
          sink.merge(batch, Seq("id"), "seq", "is_deleted")
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      // THREE upstream commits while the stream runs: the cap must split
      // the catch-up into one batch per version, never one spanning batch
      (1L to 3L).foreach(i =>
        upSink.merge(rows(Seq(i), i, s"w$i"), Seq("id"), "seq", "is_delete"))
      q.processAllAvailable()
      assert(state(down) == state(up))
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0L)
      assert(nonEmpty >= 4, // initial snapshot + 3 capped catch-ups
        s"cap must yield one batch per version: ${q.recentProgress.map(_.numInputRows).mkString(",")}")
    } finally { q.stop(); q.awaitTermination() }
  }

  test("restart catch-up respects maxVersionsPerTrigger from the FIRST trigger (admission control)") {
    // the V1-only seam could not cap the first post-restart batch (no base
    // to count from before getBatch); the DSv2 admission-control mixin
    // receives the CHECKPOINTED start offset, so a stream down across N
    // commits catches up as N capped batches, never one spanning batch
    val up = tmpDir("ssacup") + "/t"
    val down = tmpDir("ssacdn") + "/t"
    val ckpt = tmpDir("ssacck")
    val upSink = new SnapshotParquetSink(up, nBuckets = 4)
    upSink.merge(rows(0L until 8L, 0L, "a"), Seq("id"), "seq", "is_delete")
    def run() = spark.readStream.format("graft-snapshot-stream")
      .option("maxVersionsPerTrigger", "1").load(up)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val sink =
            if (SnapshotParquetSink.versions(down).nonEmpty)
              SnapshotParquetSink.forTable(down)
            else new SnapshotParquetSink(down, nBuckets = 8)
          sink.merge(batch, Seq("id"), "seq", "is_deleted")
        }
        ()
      }
      .start()
    val q1 = run()
    try q1.processAllAvailable() finally { q1.stop(); q1.awaitTermination() }
    // THREE upstream commits while the stream is DOWN
    (1L to 3L).foreach(i =>
      upSink.merge(rows(Seq(i), i, s"w$i"), Seq("id"), "seq", "is_delete"))
    val q2 = run()
    try {
      q2.processAllAvailable()
      assert(state(down) == state(up))
      val sizes = q2.recentProgress.map(_.numInputRows).filter(_ > 0L).toSeq
      assert(sizes.length >= 3,
        s"post-restart catch-up must arrive as one capped batch per version, got $sizes")
      // each capped batch is ONE version's changed-bucket slice (each
      // commit touched one key → one bucket ≈ ≤ 4 of the 11 current rows);
      // the pre-fix spanning batch would union all three buckets at once
      assert(sizes.forall(_ <= 4L),
        s"a capped batch must stay a single-version slice, got $sizes")
    } finally { q2.stop(); q2.awaitTermination() }
  }

  test("change-feed resolves the RECORDED order column, not a decoy data column named 'seq'") {
    // the table's real order column is `ts`; it also carries an unrelated
    // business column literally named `seq` that never changes. A feed
    // diffing on the decoy would drop every update (seq_from <=> seq_to);
    // the manifest's seqcol= line routes the diff to `ts`
    val up = tmpDir("ssqup") + "/t"
    val ckpt = tmpDir("ssqck")
    val upSink = new SnapshotParquetSink(up, nBuckets = 4)
    def mk(ids: Seq[Long], ts: Long, tag: String) =
      ids.map(i => (i, ts, 999L, s"$tag$i", false))
        .toDF("id", "ts", "seq", "note", "is_delete")
    upSink.merge(mk(0L until 4L, 0L, "a"), Seq("id"), "ts", "is_delete")
    assert(SnapshotParquetSink.manifestSeqCol(up,
      SnapshotParquetSink.versions(up).last) == "ts")
    val q = spark.readStream.format("graft-snapshot-stream")
      .option("mode", "changes").load(up)
      .writeStream.format("memory").queryName("cdf_seqcol")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    try {
      q.processAllAvailable()
      // an update that does NOT touch the decoy column must still appear
      upSink.merge(mk(Seq(2L), 1L, "b"), Seq("id"), "ts", "is_delete")
      q.processAllAvailable()
      val changes = spark.table("cdf_seqcol")
        .filter(col("change") === "update").collect()
      assert(changes.length == 1 && changes.head.getLong(0) == 2L,
        s"update lost to the decoy seq column: ${changes.mkString(",")}")
      assert(changes.head.getAs[Long]("seq_to") == 1L,
        "seq_to must carry the ts order column's value")
    } finally { q.stop(); q.awaitTermination() }
  }

  test("orchestrated schema adoption: evolve mid-stream, adoptAndRestart emits the column, zero loss") {
    import graft.streaming.SnapshotStreamFollower
    val up = tmpDir("ssoup") + "/t"
    val down = tmpDir("ssodn") + "/t"
    val spec = SnapshotStreamFollower.FollowSpec(
      upDir = up, downDir = down, checkpoint = tmpDir("ssock"),
      downKeys = Seq("id"))
    val upSink = new SnapshotParquetSink(up, nBuckets = 4)
    upSink.merge(rows(0L until 8L, 0L, "a"), Seq("id"), "seq", "is_delete")
    val r1 = SnapshotStreamFollower.start(spark, spec)
    try {
      r1.query.processAllAvailable()
      assert(SnapshotStreamFollower.newColumns(spark, spec, r1.frozen).isEmpty)
      // upstream evolves WHILE the query runs: new column + an update
      upSink.merge(
        Seq((3L, 1L, 30L, "b3", false, "X3"))
          .toDF("id", "seq", "amount", "note", "is_delete", "extra"),
        Seq("id"), "seq", "is_delete")
      r1.query.processAllAvailable() // frozen shape: lands WITHOUT extra
      assert(SnapshotStreamFollower.newColumns(spark, spec, r1.frozen)
        .map(_.name) == Seq("extra"))
    } finally { r1.query.stop(); r1.query.awaitTermination() }
    val r2 = SnapshotStreamFollower.adoptAndRestart(spark, r1, spec)
      .getOrElse(fail("evolution present — must restart"))
    try {
      // a post-adoption update carries the column end-to-end
      upSink.merge(
        Seq((5L, 2L, 50L, "c5", false, "X5"))
          .toDF("id", "seq", "amount", "note", "is_delete", "extra"),
        Seq("id"), "seq", "is_delete")
      r2.query.processAllAvailable()
      assert(SnapshotStreamFollower.adoptAndRestart(spark, r2, spec).isEmpty,
        "schemas agree after adoption — no further restart")
      val d = SnapshotParquetSink.forTable(down).read(spark, DeleteMode.Hard)
      assert(d.count() == 8L, "zero row loss across the restart")
      assert(d.columns.contains("extra"))
      val byId = d.select("id", "extra").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(byId(5L).contains("X5"), "post-adoption rows carry the column")
      // id=3 evolved BEFORE adoption: its slice replays only if a later
      // commit touches its bucket; the guaranteed contract is null-filled
      // history everywhere the column is absent
      assert(byId(0L).isEmpty, "history rows null-fill the adopted column")
    } finally { r2.query.stop(); r2.query.awaitTermination() }
  }

  test("checkpoint recovery: commits landed while down are caught up exactly-once") {
    val up = tmpDir("ssrup") + "/t"
    val down = tmpDir("ssrdn") + "/t"
    val ckpt = tmpDir("ssrck")
    val upSink = new SnapshotParquetSink(up, nBuckets = 4)
    upSink.merge(rows(0L until 16L, 0L, "a"), Seq("id"), "seq", "is_delete")
    val q1 = follow(up, down, ckpt)
    try q1.processAllAvailable() finally { q1.stop(); q1.awaitTermination() }
    // two upstream commits while the stream is DOWN
    upSink.merge(rows(Seq(2L), 1L, "b"), Seq("id"), "seq", "is_delete")
    upSink.merge(rows(Seq(7L), 2L, "c", del = Set(7L)), Seq("id"), "seq", "is_delete")
    val q2 = follow(up, down, ckpt) // same checkpoint → resumes from v0
    try q2.processAllAvailable() finally { q2.stop(); q2.awaitTermination() }
    assert(state(down) == state(up))
    assert(state(down)(2L)._2 == "b2" && !state(down).contains(7L))
  }

  test("mode=changes: keyed diff per commit, initial state as inserts, vacuumed base fails loudly") {
    val up = tmpDir("sscdf") + "/t"
    val ckpt = tmpDir("sscdfck")
    val upSink = new SnapshotParquetSink(up, nBuckets = 4)
    upSink.merge(rows(0L until 8L, 0L, "a"), Seq("id"), "seq", "is_delete")
    def startFeed() = spark.readStream.format("graft-snapshot-stream")
      .option("mode", "changes").load(up)
      .writeStream.format("memory").queryName("cdf_feed")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    val q = startFeed()
    try {
      q.processAllAvailable()
      val initial = spark.table("cdf_feed").collect()
      assert(initial.length == 8 && initial.forall(_.getAs[String]("change") == "insert"))
      assert(initial.forall(_.isNullAt(initial.head.fieldIndex("seq_from"))))
      // wave 2: one update, one delete — exactly two change rows
      upSink.merge(rows(Seq(2L, 3L), 1L, "b", del = Set(3L)), Seq("id"), "seq", "is_delete")
      q.processAllAvailable()
      val byId = spark.table("cdf_feed").collect()
        .filter(!_.isNullAt(0)).groupBy(_.getLong(0))
      assert(byId(2L).map(_.getAs[String]("change")).toSet == Set("insert", "update"))
      assert(byId(3L).map(_.getAs[String]("change")).toSet == Set("insert", "delete"))
      assert(byId(1L).map(_.getAs[String]("change")).toSet == Set("insert"))
      assert(spark.table("cdf_feed").count() == 10)
    } finally { q.stop(); q.awaitTermination() }
    // vacuum the diff base out of history: a change feed CANNOT self-heal
    // (restart via foreachBatch — the memory sink cannot recover a checkpoint)
    upSink.merge(rows(Seq(4L), 2L, "c"), Seq("id"), "seq", "is_delete")
    upSink.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    val q2 = spark.readStream.format("graft-snapshot-stream")
      .option("mode", "changes").load(up)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (_: DataFrame, _: Long) => () }
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally { q2.stop(); q2.awaitTermination() }
      q2.awaitTermination()
    }
    assert(e.getMessage.contains("vacuumed") || e.getCause.getMessage.contains("vacuumed"),
      e.toString)
  }

  test("vacuum past the stream's offset: the next batch self-heals via full resync") {
    val up = tmpDir("ssvup") + "/t"
    val down = tmpDir("ssvdn") + "/t"
    val ckpt = tmpDir("ssvck")
    val upSink = new SnapshotParquetSink(up, nBuckets = 4)
    upSink.merge(rows(0L until 16L, 0L, "a"), Seq("id"), "seq", "is_delete")
    val q1 = follow(up, down, ckpt)
    try q1.processAllAvailable() finally { q1.stop(); q1.awaitTermination() }
    upSink.merge(rows(Seq(1L), 1L, "b", del = Set(1L)), Seq("id"), "seq", "is_delete")
    upSink.merge(rows(Seq(2L), 2L, "c"), Seq("id"), "seq", "is_delete")
    upSink.vacuum(keepLast = 1, minOrphanAgeMs = 0L) // drops v0 — the stream's offset
    val q2 = follow(up, down, ckpt)
    try q2.processAllAvailable() finally { q2.stop(); q2.awaitTermination() }
    assert(state(down) == state(up))
    assert(!state(down).contains(1L), "tombstone forwards through the resync")
  }

  test("chaos: a writer committing WHILE the stream catches up never tears a batch") {
    // every batch binds to a COMMITTED manifest (atomic publish), so a
    // writer landing mid-trigger is simply the next offset — no torn reads,
    // and the stream converges once the writer stops
    val up = tmpDir("sschup") + "/t"
    val down = tmpDir("sschdn") + "/t"
    val ckpt = tmpDir("sschck")
    val upSink = new SnapshotParquetSink(up, nBuckets = 8)
    upSink.merge(rows(0L until 32L, 0L, "a"), Seq("id"), "seq", "is_delete")
    val q = follow(up, down, ckpt)
    val writer = new Thread(() => {
      val w = SnapshotParquetSink.forTable(up)
      (1L to 8L).foreach { i =>
        w.merge(rows(Seq(i, i + 16L), i, s"w$i", del = Set(i + 16L)),
          Seq("id"), "seq", "is_delete")
        Thread.sleep(50L)
      }
    })
    try {
      writer.start()
      // keep triggering while the writer races
      while (writer.isAlive) q.processAllAvailable()
      writer.join()
      q.processAllAvailable() // drain whatever landed after the last trigger
      assert(state(down) == state(up), "must converge despite the race")
      assert((17L to 24L).forall(i => !state(down).contains(i)),
        "racing deletes must all forward")
      assert((1L to 8L).forall(i => state(down)(i)._2 == s"w$i$i"),
        "racing updates must all forward")
    } finally { q.stop(); q.awaitTermination(); writer.join() }
  }

  test("Trigger.AvailableNow: process everything retained, then stop (the scheduled-job shape)") {
    val up = tmpDir("ssaup") + "/t"
    val down = tmpDir("ssadn") + "/t"
    val ckpt = tmpDir("ssack")
    val upSink = new SnapshotParquetSink(up, nBuckets = 4)
    upSink.merge(rows(0L until 16L, 0L, "a"), Seq("id"), "seq", "is_delete")
    upSink.merge(rows(Seq(3L), 1L, "b", del = Set(3L)), Seq("id"), "seq", "is_delete")
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-snapshot-stream").load(up)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val sink =
              if (SnapshotParquetSink.versions(down).nonEmpty)
                SnapshotParquetSink.forTable(down)
              else new SnapshotParquetSink(down, nBuckets = 8)
            sink.merge(batch, Seq("id"), "seq", "is_deleted")
          }
          ()
        }
        .start()
      assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    }
    runOnce() // catches up both commits, then stops on its own
    assert(state(down) == state(up))
    assert(!state(down).contains(3L))
    // the next scheduled run picks up exactly the new commit
    upSink.merge(rows(Seq(7L), 2L, "c"), Seq("id"), "seq", "is_delete")
    runOnce()
    assert(state(down) == state(up) && state(down)(7L)._2 == "c7")
  }

  test("Trigger.AvailableNow + maxVersionsPerTrigger: drains to the prepared head in capped steps") {
    val up = tmpDir("ssanc") + "/t"
    val down = tmpDir("ssancdn") + "/t"
    val ckpt = tmpDir("ssancck")
    val upSink = new SnapshotParquetSink(up, nBuckets = 4)
    upSink.merge(rows(0L until 8L, 0L, "a"), Seq("id"), "seq", "is_delete")
    def run() = spark.readStream.format("graft-snapshot-stream")
      .option("maxVersionsPerTrigger", "1").load(up)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val sink =
            if (SnapshotParquetSink.versions(down).nonEmpty)
              SnapshotParquetSink.forTable(down)
            else new SnapshotParquetSink(down, nBuckets = 8)
          sink.merge(batch, Seq("id"), "seq", "is_deleted")
        }
        ()
      }
      .start()
    // fresh query: the initial snapshot is state-at-ONE-version — a single
    // uncapped batch is correct (capping it would read MORE, not less)
    val q1 = run()
    assert(q1.awaitTermination(120000), "AvailableNow must self-terminate")
    // 4 commits while down; the CATCH-UP run must drain them as 4 capped
    // slices to the head frozen at prepare time, then self-terminate
    (1L to 4L).foreach(i =>
      upSink.merge(rows(Seq(i), i, s"w$i"), Seq("id"), "seq", "is_delete"))
    val q2 = run()
    assert(q2.awaitTermination(120000), "capped AvailableNow must self-terminate")
    assert(state(down) == state(up))
    assert((1L to 4L).forall(i => state(down)(i)._2 == s"w$i$i"))
    val sizes = q2.recentProgress.map(_.numInputRows).filter(_ > 0L).toSeq
    assert(sizes.length >= 4,
      s"cap must split the catch-up drain into per-version slices: $sizes")
  }

  test("frozen schema: a column added upstream mid-stream null-conforms until restart") {
    val up = tmpDir("sseup") + "/t"
    val down = tmpDir("ssedn") + "/t"
    val ckpt = tmpDir("sseck")
    val upSink = new SnapshotParquetSink(up, nBuckets = 4)
    upSink.merge(rows(0L until 8L, 0L, "a"), Seq("id"), "seq", "is_delete")
    val q = follow(up, down, ckpt)
    try {
      q.processAllAvailable()
      // upstream evolves: new column the frozen schema does not carry
      upSink.merge(
        Seq((99L, 1L, 990L, "n99", false, "EXTRA"))
          .toDF("id", "seq", "amount", "note", "is_delete", "extra"),
        Seq("id"), "seq", "is_delete")
      q.processAllAvailable() // must not crash; row lands without 'extra'
      assert(state(down).contains(99L))
      assert(!SnapshotParquetSink.forTable(down)
        .read(spark, DeleteMode.Hard).columns.contains("extra"))
    } finally { q.stop(); q.awaitTermination() }
    // a RESTARTED stream adopts the evolved schema (fresh frozen shape)
    val q2 = follow(up, down, ckpt)
    try {
      upSink.merge(
        Seq((100L, 2L, 1000L, "n100", false, "MORE"))
          .toDF("id", "seq", "amount", "note", "is_delete", "extra"),
        Seq("id"), "seq", "is_delete")
      q2.processAllAvailable()
      val d = SnapshotParquetSink.forTable(down).read(spark, DeleteMode.Hard)
      assert(d.columns.contains("extra"))
      assert(d.filter(col("id") === 100L).select("extra").head.getString(0) == "MORE")
    } finally { q2.stop(); q2.awaitTermination() }
  }
}
