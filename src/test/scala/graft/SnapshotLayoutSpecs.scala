package graft

import org.apache.spark.sql.DataFrame
import graft.sink.{DeleteMode, SnapshotParquetSink}

/** Upsert scenarios run against the two layouts of [[SnapshotParquetSink]]:
  * one bucket, where every merge rewrites the whole table, and several
  * buckets, where a merge rewrites only the buckets its batch touches. Each
  * suite keeps the name of the separate sink that used to own its layout, so
  * the scenarios keep their history.
  */
trait SnapshotLayoutFixtures extends SparkSpec {
  import spark.implicits._

  protected def batch(rows: (String, Long, String, Boolean)*): DataFrame =
    rows.toSeq.toDF("primary_key", "seq", "val", "is_delete")

  protected def state(sink: graft.sink.UpsertSink, mode: DeleteMode): Map[String, (Long, String)] =
    sink.read(spark, mode).collect()
      .map(r => r.getAs[String]("primary_key") ->
        (r.getAs[Long]("seq"), r.getAs[String]("val"))).toMap

  protected def merge(sink: SnapshotParquetSink, b: DataFrame): Unit =
    sink.merge(b, Seq("primary_key"), "seq", "is_delete")
}

/** The one-bucket layout: every merge rewrites the whole table. */
class LocalParquetSinkSpec extends SnapshotLayoutFixtures {
  import spark.implicits._

  private def fresh(): SnapshotParquetSink =
    new SnapshotParquetSink(tmpDir("sink") + "/t", nBuckets = 1)

  test("insert/update/delete matrix with last-write-wins") {
    val sink = fresh()
    merge(sink, batch(("a", 0, "a0", false), ("b", 1, "b0", false)))
    merge(sink, batch(("a", 2, "a1", false), ("b", 3, "b1", true)))
    assert(state(sink, DeleteMode.Hard) == Map("a" -> (2L, "a1")))
    val logical = sink.read(spark, DeleteMode.Logical).collect()
      .map(r => r.getAs[String]("primary_key") -> r.getAs[Boolean]("is_deleted")).toMap
    assert(logical == Map("a" -> false, "b" -> true))
  }

  test("merge is idempotent under batch replay") {
    val sink = fresh()
    val b = batch(("a", 0, "a0", false), ("a", 1, "a1", false))
    merge(sink, b)
    val first = state(sink, DeleteMode.Hard)
    merge(sink, b)
    assert(state(sink, DeleteMode.Hard) == first && first == Map("a" -> (1L, "a1")))
  }

  test("stale out-of-order event cannot resurrect a deleted key (tombstone wins by seq)") {
    val sink = fresh()
    merge(sink, batch(("a", 5, "del", true)))
    merge(sink, batch(("a", 2, "stale", false)))
    assert(state(sink, DeleteMode.Hard).isEmpty)
    // but a NEWER insert does resurrect
    merge(sink, batch(("a", 7, "new", false)))
    assert(state(sink, DeleteMode.Hard) == Map("a" -> (7L, "new")))
  }

  test("last-write-wins is invariant under event-order permutation") {
    val events = Seq(("k", 0L, "v0", false), ("k", 1L, "v1", false),
      ("k", 2L, "v2", false), ("j", 3L, "w0", false))
    val expected = Map("k" -> (2L, "v2"), "j" -> (3L, "w0"))
    for (perm <- Seq(events, events.reverse, new scala.util.Random(7).shuffle(events))) {
      val sink = fresh()
      perm.foreach(e => merge(sink, batch(e)))
      assert(state(sink, DeleteMode.Hard) == expected, s"order: $perm")
    }
  }

  test("schema evolution: new column null-backfilled for old rows") {
    val sink = fresh()
    merge(sink, batch(("a", 0, "a0", false)))
    merge(sink, Seq(("b", 1L, "b0", false, "extra"))
      .toDF("primary_key", "seq", "val", "is_delete", "new_col"))
    val rows = sink.read(spark, DeleteMode.Hard).collect()
      .map(r => r.getAs[String]("primary_key") -> Option(r.getAs[String]("new_col"))).toMap
    assert(rows == Map("a" -> None, "b" -> Some("extra")))
  }

  test("replaceAll: prior state, stale keys, and stored TYPES are superseded") {
    import org.apache.spark.sql.functions._
    val sink = fresh()
    merge(sink, batch(("a", 0, "a0", false), ("b", 1, "b0", false)))
    // store a LONG `num` column, then rebuild with key b gone and `num`
    // retyped to STRING -- the replace must not union with the stored LONG
    merge(sink, batch(("a", 0, "a0", false)).withColumn("num", lit(7L)))
    val wide = batch(("a", 2, "a2", false), ("c", 3, "c0", false))
      .withColumn("num", lit("7"))
    sink.replaceAll(wide, Seq("primary_key"), "seq", "is_delete")
    // stale key b gone, new key c present, types from the batch alone
    assert(state(sink, DeleteMode.Hard).keySet == Set("a", "c"))
    assert(sink.read(spark, DeleteMode.Hard).schema("num").dataType ==
      org.apache.spark.sql.types.StringType)
    // a replayed merge after the replace still orders deterministically
    merge(sink, batch(("a", 2, "aX", false)).withColumn("num", lit("9")))
    assert(state(sink, DeleteMode.Hard)("a")._2 == "aX") // same seq, newer commit wins
  }
}

/** The many-bucket layout: a merge rewrites only the buckets it touches and
  * must still agree with the one-bucket layout on every merge semantic.
  */
class PartitionedParquetSinkSpec extends SnapshotLayoutFixtures {
  import spark.implicits._

  private def fresh(nBuckets: Int, name: String = "t"): SnapshotParquetSink =
    new SnapshotParquetSink(tmpDir("psink") + "/" + name, nBuckets = nBuckets)

  test("agrees with LocalParquetSink across an insert/update/delete sequence") {
    val batches = Seq(
      batch(("a", 0, "a0", false), ("b", 1, "b0", false), ("c", 2, "c0", false)),
      batch(("a", 3, "a1", false), ("b", 4, "del", true)),
      batch(("b", 2, "stale", false)), // stale post-delete event: tombstone wins
      batch(("d", 5, "d0", false)))
    val local = fresh(1)
    batches.foreach(merge(local, _))
    def logical(s: SnapshotParquetSink): Map[String, Boolean] =
      s.read(spark, DeleteMode.Logical).collect()
        .map(r => r.getAs[String]("primary_key") -> r.getAs[Boolean]("is_deleted")).toMap
    for (n <- Seq(2, 4, 32)) {
      val part = fresh(n)
      batches.foreach(merge(part, _))
      assert(state(part, DeleteMode.Hard) == state(local, DeleteMode.Hard), s"nBuckets=$n")
      assert(logical(part) == logical(local), s"nBuckets=$n")
    }
    assert(state(local, DeleteMode.Hard) ==
      Map("a" -> (3L, "a1"), "c" -> (2L, "c0"), "d" -> (5L, "d0")))
    assert(logical(local) == Map("a" -> false, "b" -> true, "c" -> false, "d" -> false))
  }

  test("merge is idempotent under batch replay") {
    val sink = fresh(4)
    val b = batch(("a", 0, "a0", false), ("a", 1, "a1", false))
    merge(sink, b)
    val first = state(sink, DeleteMode.Hard)
    merge(sink, b)
    assert(state(sink, DeleteMode.Hard) == first && first == Map("a" -> (1L, "a1")))
  }

  test("a merge rewrites only the buckets its batch touches") {
    val sink = fresh(8)
    val keys = (0 until 32).map(i => s"k$i")
    merge(sink, batch(keys.map(k => (k, 0L, s"$k-v0", false)): _*))
    val (_, v0) = SnapshotParquetSink.manifest(sink.dir, 0L)
    assert(v0.size > 1, s"expected multiple buckets, got $v0")
    // a single-key merge writes one bucket under a new commit root on disk
    merge(sink, batch(("k0", 1L, "k0-v1", false)))
    val (_, v1) = SnapshotParquetSink.manifest(sink.dir, 1L)
    val newRoots = v1.values.map(_.split("/")(1)).toSet -- v0.values.map(_.split("/")(1))
    assert(newRoots.size == 1, s"expected one new commit root, got $newRoots")
    val written = java.nio.file.Files.list(java.nio.file.Paths.get(sink.dir, "data", newRoots.head))
      .toArray.map(_.toString).filter(_.contains("__bucket="))
    assert(written.length == 1, s"expected exactly one rewritten bucket, got ${written.toSeq}")
    assert(state(sink, DeleteMode.Hard)("k0") == ((1L, "k0-v1")))
    assert(state(sink, DeleteMode.Hard).size == 32)
  }

  test("schema evolution: new column null-backfilled, old buckets not rewritten") {
    val sink = fresh(4)
    merge(sink, batch(("a", 0, "a0", false)))
    merge(sink, Seq(("zz", 1L, "z0", false, "extra"))
      .toDF("primary_key", "seq", "val", "is_delete", "new_col"))
    val rows = sink.read(spark, DeleteMode.Hard).collect()
      .map(r => r.getAs[String]("primary_key") -> Option(r.getAs[String]("new_col"))).toMap
    assert(rows == Map("a" -> None, "zz" -> Some("extra")))
    // only the evolved batch's bucket got a new manifest entry
    val (_, v0) = SnapshotParquetSink.manifest(sink.dir, 0L)
    val (_, v1) = SnapshotParquetSink.manifest(sink.dir, 1L)
    assert((v1.toSet -- v0.toSet).size == 1, s"v0=$v0 v1=$v1")
  }

  test("point lookup reads only the key's bucket and agrees with the full read") {
    val sink = fresh(8)
    val keys = (0 until 32).map(i => s"k$i")
    merge(sink, batch(keys.map(k => (k, 0L, s"$k-v", false)): _*))
    val full = state(sink, DeleteMode.Hard)
    for (k <- Seq("k0", "k17", "k31")) {
      val row = sink.lookup(spark, Seq("primary_key"), Seq(k)).collect()
      assert(row.length == 1 && row.head.getAs[String]("val") == s"$k-v", k)
      assert(full(k) == ((0L, s"$k-v")), k)
    }
    assert(sink.lookup(spark, Seq("primary_key"), Seq("absent")).isEmpty)
    // a deleted key resolves to nothing under Hard mode
    merge(sink, batch(("k0", 1L, "gone", true)))
    assert(sink.lookup(spark, Seq("primary_key"), Seq("k0")).isEmpty)
  }

  test("lookup casts the probe value to the stored key type (no silent bucket miss)") {
    val sink = fresh(8)
    // numeric-looking STRING keys: probing with an Int must still find them
    merge(sink, batch(("42", 0L, "v42", false), ("7", 1L, "v7", false)))
    val viaInt = sink.lookup(spark, Seq("primary_key"), Seq(42)).collect()
    assert(viaInt.length == 1 && viaInt.head.getAs[String]("val") == "v42")
  }

  test("lookup on a never-merged sink returns empty without throwing") {
    val sink = fresh(8, "untouched")
    assert(sink.lookup(spark, Seq("primary_key"), Seq("x")).isEmpty)
    // an empty batch on a new table publishes nothing: the table stays
    // unmerged, lookup stays empty, and a full read refuses (no snapshot)
    merge(sink, batch(("x", 0L, "x0", false)).limit(0))
    assert(sink.versions.isEmpty)
    assert(sink.lookup(spark, Seq("primary_key"), Seq("x")).isEmpty)
    val e = intercept[RuntimeException](sink.read(spark, DeleteMode.Hard))
    assert(e.getMessage.contains("no snapshot published"))
  }

  test("last-write-wins is invariant under event-order permutation") {
    val events = Seq(("k", 0L, "v0", false), ("k", 1L, "v1", false),
      ("k", 2L, "v2", false), ("j", 3L, "w0", false))
    val expected = Map("k" -> (2L, "v2"), "j" -> (3L, "w0"))
    for (perm <- Seq(events, events.reverse, new scala.util.Random(7).shuffle(events))) {
      val sink = fresh(4)
      perm.foreach(e => merge(sink, batch(e)))
      assert(state(sink, DeleteMode.Hard) == expected, s"order: $perm")
    }
  }

  test("replaceAll: every bucket superseded, stale buckets deleted, types replaced") {
    import org.apache.spark.sql.functions._
    val sink = fresh(4)
    val keys = (0 until 16).map(i => s"k$i")
    merge(sink, batch(keys.map(k => (k, 0L, s"$k-v0", false)): _*).withColumn("num", lit(7L)))
    // rebuild from TWO keys only, num retyped LONG -> STRING
    sink.replaceAll(batch(("k0", 1L, "k0-v1", false), ("k1", 1L, "k1-v1", false))
      .withColumn("num", lit("7")), Seq("primary_key"), "seq", "is_delete")
    val got = sink.read(spark, DeleteMode.Hard)
    assert(got.select("primary_key").collect().map(_.getString(0)).toSet == Set("k0", "k1"))
    assert(got.schema("num").dataType == org.apache.spark.sql.types.StringType)
    // the replace commit lists only the buckets its two keys landed in
    val (_, live) = SnapshotParquetSink.manifest(sink.dir, sink.versions.last)
    assert(live.size <= 2, s"stale buckets still listed: $live")
  }
}
