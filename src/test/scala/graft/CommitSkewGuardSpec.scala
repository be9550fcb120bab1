package graft

import org.apache.spark.sql.DataFrame
import graft.sink.{DeleteMode, SnapshotParquetSink}

/** The commit dedup/fold shape is picked per commit from the manifest's
  * own bucket sizes (guide §2.5): the fused one-exchange shape sorts each
  * affected bucket in ONE task, so a bucket past
  * `SnapshotParquetSink.fusedMaxBucketBytes` must trip the guard and run
  * the key-granularity two-exchange shape instead — same merged state,
  * same one-file-per-bucket layout, parallel dedup.
  */
class CommitSkewGuardSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, Long, String, Boolean)*): DataFrame =
    rows.toSeq.toDF("primary_key", "seq", "val", "is_delete")

  private def state(sink: SnapshotParquetSink): Map[String, (Long, String)] =
    sink.read(spark, DeleteMode.Hard).collect()
      .map(r => r.getAs[String]("primary_key") ->
        (r.getAs[Long]("seq"), r.getAs[String]("val"))).toMap

  private def filesPerBucket(dir: String): Seq[Int] = {
    val root = new java.io.File(dir, "data")
    root.listFiles().toSeq.flatMap(_.listFiles().toSeq)
      .filter(_.getName.startsWith("__bucket="))
      .map(_.listFiles().count(f => f.getName.endsWith(".parquet")))
  }

  test("one hot bucket trips the guard; state and layout are unchanged") {
    val rows = (0 until 500).map(i => (s"k$i", i.toLong, s"v$i", false))
    val upd = (0 until 500 by 3).map(i => (s"k$i", 1000L + i, s"u$i", false))

    // control: default threshold — both commits take the fused shape
    val fusedDir = tmpDir("skew_fused") + "/t"
    val fused = new SnapshotParquetSink(fusedDir, nBuckets = 2)
    fused.merge(batch(rows: _*), Seq("primary_key"), "seq", "is_delete")
    fused.merge(batch(upd: _*), Seq("primary_key"), "seq", "is_delete")
    assert(fused.lastCommitFusedShape.contains(true))

    // hot table: a 1-byte threshold makes every stored bucket "hot" — the
    // second commit (the first with stored state) must fall back
    val hotDir = tmpDir("skew_hot") + "/t"
    withFusedMaxBucketBytes(1L) {
      val hot = new SnapshotParquetSink(hotDir, nBuckets = 2)
      hot.merge(batch(rows: _*), Seq("primary_key"), "seq", "is_delete")
      // first commit: no stored entries yet, trivially fused
      assert(hot.lastCommitFusedShape.contains(true))
      hot.merge(batch(upd: _*), Seq("primary_key"), "seq", "is_delete")
      assert(hot.lastCommitFusedShape.contains(false),
        "a stored bucket past the byte threshold must trip the skew guard")
      // both shapes produce the identical merged state...
      assert(state(hot) == state(fused))
      // ...and the identical one-file-per-bucket commit layout (the
      // fallback re-asserts the layout shuffle above the dedup)
      assert(filesPerBucket(hotDir).nonEmpty &&
        filesPerBucket(hotDir).forall(_ == 1))
    }
  }

  test("mergeFold under the skew fallback folds correctly and keeps layout") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("skew_fold") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 2)
    def delta(rows: (String, Long, Long)*): DataFrame =
      rows.toSeq.toDF("k", "n", "seq").withColumn("__del", lit(false))
    def foldReduce(all: DataFrame): DataFrame =
      all.groupBy(col("__bucket"), col("k"))
        .agg(sum(when(col("__is_deleted"), 0L).otherwise(col("n"))).as("n"),
          max(col("seq")).as("seq"), max(col("__gen")).as("__gen"))
        .withColumn("__is_deleted", lit(false))
    sink.merge(delta(("a", 1L, 0L), ("b", 2L, 0L)), Seq("k"), "seq",
      "__del", fold = Some(foldReduce))
    withFusedMaxBucketBytes(1L) {
      sink.merge(delta(("a", 10L, 1L), ("c", 5L, 1L)), Seq("k"), "seq",
        "__del", fold = Some(foldReduce), requireBaseSeq = Some(0L))
      assert(sink.lastCommitFusedShape.contains(false))
      val got = sink.read(spark, DeleteMode.Hard).collect()
        .map(r => r.getAs[String]("k") -> r.getAs[Long]("n")).toMap
      assert(got == Map("a" -> 11L, "b" -> 2L, "c" -> 5L))
      assert(filesPerBucket(dir).forall(_ == 1))
    }
  }
}
