package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.sink.{DeleteMode, SnapshotParquetSink}

/** The snapshot sink must keep the upsert contract (last-write-wins by seq,
  * tombstoned deletes, idempotent replay) while adding what the manifest
  * layer is for: atomic commits (orphan data never surfaces), time travel,
  * manifest reuse for untouched buckets, and vacuum.
  */
class SnapshotParquetSinkSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, Long, String, Boolean)*): DataFrame =
    rows.toSeq.toDF("primary_key", "seq", "val", "is_delete")

  private def state(sink: SnapshotParquetSink, mode: DeleteMode): Map[String, (Long, String)] =
    sink.read(spark, mode).collect()
      .map(r => r.getAs[String]("primary_key") ->
        (r.getAs[Long]("seq"), r.getAs[String]("val"))).toMap

  // The name predates the single-bucket layout taking over from a separate
  // whole-table sink: `local` below is that layout (every merge rewrites the
  // whole table), and the bucketed table must agree with it.
  test("agrees with LocalParquetSink across an insert/update/delete sequence") {
    val batches = Seq(
      batch(("a", 0, "a0", false), ("b", 1, "b0", false), ("c", 2, "c0", false)),
      batch(("a", 3, "a1", false), ("b", 4, "del", true)),
      batch(("b", 2, "stale", false)), // stale post-delete event: tombstone wins
      batch(("d", 5, "d0", false)))
    // last-write-wins by seq makes the final state independent of the
    // order the batches arrive in
    val orders = Seq(batches, batches.reverse, new scala.util.Random(7).shuffle(batches))
    for ((order, i) <- orders.zipWithIndex) {
      val snap = new SnapshotParquetSink(tmpDir("ssink") + "/t", nBuckets = 4)
      order.foreach(b => snap.merge(b, Seq("primary_key"), "seq", "is_delete"))
      assert(state(snap, DeleteMode.Hard) ==
        Map("a" -> (3L, "a1"), "c" -> (2L, "c0"), "d" -> (5L, "d0")), s"order $i")
      assert(snap.versions == Seq(0L, 1L, 2L, 3L))
      val logical = snap.read(spark, DeleteMode.Logical).collect()
        .map(r => r.getAs[String]("primary_key") ->
          (r.getAs[Long]("seq"), r.getAs[Boolean]("is_deleted"))).toMap
      assert(logical == Map("a" -> (3L, false), "b" -> (4L, true),
        "c" -> (2L, false), "d" -> (5L, false)), s"order $i")
      // a NEWER event resurrects the tombstoned key
      snap.merge(batch(("b", 7, "b1", false)), Seq("primary_key"), "seq", "is_delete")
      assert(state(snap, DeleteMode.Hard)("b") == ((7L, "b1")))
    }
    val local = new SnapshotParquetSink(tmpDir("lsink") + "/t", nBuckets = 1)
    batches.foreach(b => local.merge(b, Seq("primary_key"), "seq", "is_delete"))
    assert(state(local, DeleteMode.Hard) ==
      Map("a" -> (3L, "a1"), "c" -> (2L, "c0"), "d" -> (5L, "d0")))
  }

  test("time travel: every committed version stays readable until vacuumed") {
    val sink = new SnapshotParquetSink(tmpDir("ssink") + "/t", nBuckets = 4)
    sink.merge(batch(("a", 0, "a0", false), ("b", 1, "b0", false)),
      Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("a", 2, "a1", false)), Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("b", 3, "del", true)), Seq("primary_key"), "seq", "is_delete")
    def at(v: Long) = sink.readAt(spark, v, DeleteMode.Hard).collect()
      .map(r => r.getAs[String]("primary_key") -> r.getAs[String]("val")).toMap
    assert(at(0) == Map("a" -> "a0", "b" -> "b0"))
    assert(at(1) == Map("a" -> "a1", "b" -> "b0"))
    assert(at(2) == Map("a" -> "a1"))
  }

  test("merge is idempotent under batch replay") {
    val sink = new SnapshotParquetSink(tmpDir("ssink") + "/t", nBuckets = 4)
    val b = batch(("a", 0, "a0", false), ("a", 1, "a1", false))
    sink.merge(b, Seq("primary_key"), "seq", "is_delete")
    val first = state(sink, DeleteMode.Hard)
    sink.merge(b, Seq("primary_key"), "seq", "is_delete")
    assert(state(sink, DeleteMode.Hard) == first && first == Map("a" -> (1L, "a1")))
  }

  test("untouched buckets keep their manifest entries (no rewrite)") {
    val dir = tmpDir("ssink") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 8)
    val keys = (0 until 32).map(i => s"k$i")
    sink.merge(batch(keys.map(k => (k, 0L, s"$k-v0", false)): _*),
      Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("k0", 1L, "k0-v1", false)), Seq("primary_key"), "seq", "is_delete")
    def entries(v: Long): Map[String, String] =
      Files.readAllLines(Paths.get(dir, "manifests", f"v$v%08d.manifest")).asScala
        .filter(_.startsWith("b ")).map { l =>
          val Array(_, b, rel) = l.split(" ", 3); (b, rel)
        }.toMap
    val (v0, v1) = (entries(0), entries(1))
    val changed = v1.filter { case (b, rel) => v0.get(b).contains(rel) == false }
    assert(changed.size == 1, s"exactly k0's bucket should move, got $changed")
    assert((v1 -- changed.keys) == (v0 -- changed.keys)) // rest carried forward verbatim
    // and the rewrite read only k0's bucket worth of data
    assert(state(sink, DeleteMode.Hard).apply("k0") == (1L, "k0-v1"))
  }

  test("a crashed commit (orphan data, no manifest) never surfaces; vacuum removes it") {
    val dir = tmpDir("ssink") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    sink.merge(batch(("a", 0, "a0", false)), Seq("primary_key"), "seq", "is_delete")
    val good = state(sink, DeleteMode.Hard)
    // simulate a crash after data write, before manifest publication
    val orphan = Paths.get(dir, "data", "deadbeef-orphan")
    Files.createDirectories(orphan.resolve("__bucket=0"))
    Files.write(orphan.resolve("__bucket=0").resolve("junk.parquet"), Array[Byte](1, 2, 3))
    assert(state(sink, DeleteMode.Hard) == good) // reader never looks at orphans
    val (manifestsDropped, rootsDropped) = sink.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    assert(manifestsDropped == 0 && rootsDropped == 1)
    assert(!Files.exists(orphan))
    assert(state(sink, DeleteMode.Hard) == good)
  }

  test("vacuum keeps the newest manifests and drops unreferenced data") {
    val dir = tmpDir("ssink") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 2)
    sink.merge(batch(("a", 0, "a0", false)), Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("a", 1, "a1", false)), Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("a", 2, "a2", false)), Seq("primary_key"), "seq", "is_delete")
    // the age floor intervening is REPORTED, not silent: a young table's
    // explicit vacuum reclaims nothing and says why
    val (m0, o0) = sink.vacuum(keepLast = 1)
    assert((m0, o0) == (0, 0) && sink.lastVacuumWithheld == 2,
      s"default 1h floor must withhold both droppable versions: " +
        s"($m0,$o0) withheld=${sink.lastVacuumWithheld}")
    val (manifestsDropped, rootsDropped) = sink.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    assert(manifestsDropped == 2 && rootsDropped == 2)
    assert(sink.lastVacuumWithheld == 0)
    assert(sink.versions == Seq(2L))
    assert(state(sink, DeleteMode.Hard) == Map("a" -> (2L, "a2")))
    intercept[IllegalArgumentException](sink.readAt(spark, 0L, DeleteMode.Hard))
  }

  test("readAtBuckets prunes to the listed buckets, bit-consistent with bucketRouting") {
    val dir = tmpDir("ssink") + "/rab"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    sink.merge(batch((0 to 40).map(i => (s"k$i", i.toLong, s"v$i", false)): _*),
      Seq("primary_key"), "seq", "is_delete")
    val v = sink.currentVersion.get
    val all = sink.readAt(spark, v, DeleteMode.Hard)
    // routing column == write-path routing: restricting a read to the
    // buckets a key set hashes to must return exactly those keys' rows
    val routed = all.withColumn("__b",
      sink.bucketRouting(Seq("primary_key")))
      .select("primary_key", "__b").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val pick = Set(0, 2)
    val got = sink.readAtBuckets(spark, v, pick, DeleteMode.Hard)
      .select("primary_key").collect().map(_.getString(0)).toSet
    val want = routed.collect { case (k, b) if pick(b) => k }.toSet
    assert(got == want && got.nonEmpty && got.size < routed.size,
      s"pruned read must be exactly the picked buckets: got ${got.size} of ${routed.size}")
    // empty bucket set reads as an empty, correctly-shaped frame
    val empty = sink.readAtBuckets(spark, v, Set.empty, DeleteMode.Hard)
    assert(empty.count() == 0 && empty.columns.contains("primary_key"))
    // bytesAt sees data bytes (content summary), not directory stats: it
    // must equal the actual parquet file sizes under the commit roots
    val walked = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
      .filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(p => p.toFile.length()).sum()
    assert(sink.bytesAt(v) >= walked && walked > 0L,
      s"bytesAt=${sink.bytesAt(v)} must cover the $walked parquet bytes")
  }

  test("compact folds all buckets into one commit root; vacuum then reclaims every old root") {
    val dir = tmpDir("ssink") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    val keys = (0 until 16).map(i => s"k$i")
    sink.merge(batch(keys.map(k => (k, 0L, s"$k-v0", false)): _*),
      Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("k0", 1L, "k0-v1", false)), Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("k5", 2L, "k5-v1", false)), Seq("primary_key"), "seq", "is_delete")
    val before = state(sink, DeleteMode.Hard)
    val v = sink.compact(spark)
    assert(v == 3L && state(sink, DeleteMode.Hard) == before) // content unchanged
    // post-compact manifest references exactly ONE commit root
    val roots = Files.readAllLines(Paths.get(dir, "manifests", f"v$v%08d.manifest")).asScala
      .filter(_.startsWith("b ")).map(_.split(" ", 3)(2).split("/")(1)).toSet
    assert(roots.size == 1, s"expected one root, got $roots")
    val (_, dropped) = sink.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    assert(dropped == 3) // the three pre-compaction commit roots
    assert(state(sink, DeleteMode.Hard) == before)
  }

  test("two writer handles on one table interleave through the manifest without losing commits") {
    // the cross-process shape the manifest protocol exists for: a second
    // handle (no shared in-JVM lock) commits in between, and the first
    // handle's next merge discovers that state and builds on it
    val dir = tmpDir("ssink") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    sink.merge(batch(("a", 0, "a0", false)), Seq("primary_key"), "seq", "is_delete")
    val other = new SnapshotParquetSink(dir, nBuckets = 4)
    other.merge(batch(("b", 1, "b0", false)), Seq("primary_key"), "seq", "is_delete")
    assert(sink.versions == Seq(0L, 1L))
    sink.merge(batch(("c", 2, "c0", false)), Seq("primary_key"), "seq", "is_delete")
    assert(sink.versions == Seq(0L, 1L, 2L))
    assert(state(sink, DeleteMode.Hard) ==
      Map("a" -> (0L, "a0"), "b" -> (1L, "b0"), "c" -> (2L, "c0")))
  }

  test("lookup reads one bucket of the latest snapshot, bit-identical routing") {
    val sink = new SnapshotParquetSink(tmpDir("ssink") + "/t", nBuckets = 8)
    val keys = (0 until 32).map(i => s"k$i")
    sink.merge(batch(keys.map(k => (k, 0L, s"$k-v0", false)): _*),
      Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("k3", 1L, "k3-v1", false), ("k9", 2L, "del", true)),
      Seq("primary_key"), "seq", "is_delete")
    val hit = sink.lookup(spark, Seq("primary_key"), Seq("k3")).collect()
    assert(hit.map(r => r.getAs[String]("val")).toSeq == Seq("k3-v1"))
    // hard mode hides the tombstoned key; logical mode surfaces it
    assert(sink.lookup(spark, Seq("primary_key"), Seq("k9")).isEmpty)
    val logical = sink.lookup(spark, Seq("primary_key"), Seq("k9"), DeleteMode.Logical).collect()
    assert(logical.length == 1 && logical.head.getAs[Boolean]("is_deleted"))
    assert(sink.lookup(spark, Seq("primary_key"), Seq("nope")).isEmpty)
  }

  test("DSv2 read: q61d/q61e semantics through spark.read.format, current and asOf") {
    import org.apache.spark.sql.functions.{col, not}
    val dir = tmpDir("ssink") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    sink.merge(batch(("a", 0, "a0", false), ("b", 1, "b0", false)),
      Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("a", 2, "a1", false)), Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("b", 3, "del", true)), Seq("primary_key"), "seq", "is_delete")
    def viaSql(asOf: Option[Long]): Map[String, String] = {
      val r = asOf.foldLeft(spark.read.format("graft-snapshot")) {
        (rd, v) => rd.option("asOf", v.toString)
      }.load(dir)
      // SQL twin of DeleteMode.Hard: the logical-delete flag is a visible
      // column, hard consumers filter it
      r.filter(not(col("__is_deleted")))
        .collect().map(x => x.getAs[String]("primary_key") -> x.getAs[String]("val")).toMap
    }
    // snapshot-upsert state (the q61d read) — latest version
    assert(viaSql(None) == Map("a" -> "a1"))
    // time travel (the q61e read) — every committed version
    assert(viaSql(Some(0L)) == Map("a" -> "a0", "b" -> "b0"))
    assert(viaSql(Some(1L)) == Map("a" -> "a1", "b" -> "b0"))
    assert(viaSql(Some(2L)) == Map("a" -> "a1"))
    // parity with the Scala API at every version
    (0L to 2L).foreach { v =>
      val api = sink.readAt(spark, v, DeleteMode.Hard).collect()
        .map(r => r.getAs[String]("primary_key") -> r.getAs[String]("val")).toMap
      assert(viaSql(Some(v)) == api, s"v$v")
    }
    // plain SQL over a registered view works too
    spark.read.format("graft-snapshot").load(dir).createOrReplaceTempView("snap_t")
    assert(spark.sql("SELECT count(*) AS n FROM snap_t WHERE NOT __is_deleted")
      .head.getLong(0) == 1L)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot").option("asOf", "99").load(dir).collect()
    }
    ()
  }

  test("DSv2 read: key-equality filters prune the scan to one bucket file") {
    val dir = tmpDir("ssink") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 8)
    val rows = (0 until 64).map(i => (s"k$i", i.toLong, s"v$i", false))
    sink.merge(batch(rows: _*), Seq("primary_key"), "seq", "is_delete")
    def scanFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect() // force planning + execution
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.inputFiles.length
          }
      }.sum
    }
    val base = spark.read.format("graft-snapshot").option("keys", "primary_key").load(dir)
    val full = scanFiles(base)
    assert(full == 8, s"expected one file per bucket, saw $full")
    val probe = base.filter($"primary_key" === "k13")
    assert(scanFiles(probe) == 1, "key probe must plan exactly one bucket file")
    assert(probe.select("val").head.getString(0) == "v13")
    // a non-key filter must NOT prune (and must still be correct)
    val wide = base.filter($"val" === "v13")
    assert(scanFiles(wide) == 8)
    assert(wide.select("primary_key").head.getString(0) == "k13")
  }

  test("DSv2 read: schema evolution across commits, empty-bucket probes, pruning intact") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("ssink") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    sink.merge(batch(("a", 0, "a0", false), ("b", 1, "b0", false)),
      Seq("primary_key"), "seq", "is_delete")
    val evolved = Seq(("a", 2L, "a1", false, "extra"))
      .toDF("primary_key", "seq", "val", "is_delete", "note")
    sink.merge(evolved, Seq("primary_key"), "seq", "is_delete")
    val cur = spark.read.format("graft-snapshot").load(dir)
    // mergeSchema across commit roots: the evolved column exists, older
    // buckets null-backfill it
    val notes = cur.collect()
      .map(r => r.getAs[String]("primary_key") -> Option(r.getAs[String]("note"))).toMap
    assert(notes == Map("a" -> Some("extra"), "b" -> None))
    // time travel BEFORE the evolution: the column does not exist yet
    val v0 = spark.read.format("graft-snapshot").option("asOf", "0").load(dir)
    assert(!v0.schema.fieldNames.contains("note"))
    assert(v0.count() == 2)
    // a key probe routed to a bucket with no manifest entry yields an
    // empty frame with the full schema (only 2 of 4 buckets have data)
    val keyed = spark.read.format("graft-snapshot").option("keys", "primary_key").load(dir)
    val present = Seq("a", "b").map(k =>
      graft.sink.SnapshotParquetSink.bucketFor(Seq(k),
        Seq(org.apache.spark.sql.types.StringType), 4)).toSet
    val absentKey = Iterator.from(0).map(i => s"miss$i").find(k =>
      !present.contains(graft.sink.SnapshotParquetSink.bucketFor(Seq(k),
        Seq(org.apache.spark.sql.types.StringType), 4))).get
    val probe = keyed.filter(col("primary_key") === absentKey)
    assert(probe.count() == 0)
    assert(probe.schema.fieldNames.contains("note"))
  }

  test("schema evolution: new columns null-backfill older buckets") {
    val sink = new SnapshotParquetSink(tmpDir("ssink") + "/t", nBuckets = 4)
    sink.merge(batch(("a", 0, "a0", false), ("b", 1, "b0", false)),
      Seq("primary_key"), "seq", "is_delete")
    val evolved = Seq(("a", 2L, "a1", false, "extra"))
      .toDF("primary_key", "seq", "val", "is_delete", "note")
    sink.merge(evolved, Seq("primary_key"), "seq", "is_delete")
    val rows = sink.read(spark, DeleteMode.Hard).collect()
      .map(r => r.getAs[String]("primary_key") ->
        Option(r.getAs[String]("note"))).toMap
    assert(rows == Map("a" -> Some("extra"), "b" -> None))
  }

  test("DSv2 write: DataFrameWriter merges through the manifest commit") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("dsv2w") + "/t"
    // fresh dir, no deleteCol: first commit publishes v0
    Seq(("a", 1L, "a0"), ("b", 2L, "b0")).toDF("primary_key", "seq", "val")
      .write.format("graft-snapshot").option("keys", "primary_key")
      .option("nBuckets", 4).mode("append").save(dir)
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    assert(sink.currentVersion.contains(0L))
    // second writer-append: update 'a', tombstone 'b' — last-write-wins merge
    Seq(("a", 3L, "a1", false), ("b", 4L, "bx", true))
      .toDF("primary_key", "seq", "val", "is_delete")
      .write.format("graft-snapshot").option("keys", "primary_key")
      .option("deleteCol", "is_delete").mode("append").save(dir)
    val got = spark.read.format("graft-snapshot").load(dir)
      .filter(!col("__is_deleted")).select("primary_key", "val")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a1"))
    // the Scala API sees the same state — one format, two front doors
    assert(state(sink, DeleteMode.Hard) == Map("a" -> ((3L, "a1"))))
    // the no-deleteCol write left no synthetic column behind
    assert(!spark.read.format("graft-snapshot").load(dir).columns
      .exists(c => c != "__is_deleted" && c.startsWith("__")))
    // blind modes refuse: the format's only write semantic is merge
    intercept[Exception] {
      Seq(("c", 9L, "c0")).toDF("primary_key", "seq", "val")
        .write.format("graft-snapshot").option("keys", "primary_key")
        .mode("overwrite").save(dir)
    }
    intercept[Exception] {
      Seq(("c", 9L, "c0")).toDF("primary_key", "seq", "val")
        .write.format("graft-snapshot").option("keys", "primary_key")
        .mode("errorifexists").save(dir)
    }
  }

  test("DSv2 write: schema evolution through the writer null-backfills older commits") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("dsv2evo") + "/t"
    Seq(("a", 1L, "a0"), ("b", 2L, "b0")).toDF("primary_key", "seq", "val")
      .write.format("graft-snapshot").option("keys", "primary_key")
      .mode("append").save(dir)
    // evolved batch adds a column; keys come from the manifest (no option)
    Seq(("a", 3L, "a1", "note-a"), ("c", 4L, "c0", "note-c"))
      .toDF("primary_key", "seq", "val", "note")
      .write.format("graft-snapshot").mode("append").save(dir)
    val got = spark.read.format("graft-snapshot").load(dir)
      .filter(!col("__is_deleted"))
      .select("primary_key", "val", "note")
      .collect().map(r => r.getString(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(got == Map(
      "a" -> (("a1", Some("note-a"))),
      "b" -> (("b0", None)),          // pre-evolution row null-backfills
      "c" -> (("c0", Some("note-c")))))
  }

  test("HllSketchStore: incremental append equals full rebuild; appends touch only their batch") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("hll") + "/s"
    val store = new graft.sink.HllSketchStore(dir)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .select((col("id") % 3).cast("string").as("g"), (col("id") % 500).as("v"))
    store.append(rows(0, 4000), Seq("g"), "v", batchId = 0L)
    store.append(rows(4000, 8000), Seq("g"), "v", batchId = 1L)
    def est() = store.estimates(spark, Seq("g")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val twoBatches = est()
    assert(twoBatches.map(_._3).forall(_ == 2L))           // both batches merged
    assert(twoBatches.map(_._4).sum == 8000L)              // row bookkeeping
    // snapshot batch-0 partial files, then append batch 2: batch-0 files
    // must be byte-identical afterwards (append never rewrites history)
    def b0Files() = {
      val d = new java.io.File(s"$dir/batch=0")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = b0Files()
    store.append(rows(8000, 9000), Seq("g"), "v", batchId = 2L)
    assert(b0Files() == before)
    // merged store estimate == from-scratch single-sketch estimate (the
    // associativity the store's whole design rests on — exact equality of
    // the HLL estimate is not guaranteed across merge orders, so compare
    // against the true distinct count within the lgK=12 band instead)
    val merged = est().map(r => r._1 -> r._2).toMap
    val exact = rows(0, 9000).groupBy("g").agg(countDistinct(col("v")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, d) =>
      assert(math.abs(merged(g) - d) <= d * 0.05, s"group $g: ${merged(g)} vs $d")
    }
    // re-appending the same batch id is an idempotent overwrite
    store.append(rows(8000, 9000), Seq("g"), "v", batchId = 2L)
    assert(est().map(r => r._1 -> r._2).toMap == merged)
    // a crashed append (no _SUCCESS marker) never surfaces: write a batch,
    // strip its marker — estimates must be as if the batch never happened
    val before2 = est().map(r => r._1 -> r._2).toMap
    store.append(rows(9000, 9500), Seq("g"), "v", batchId = 3L)
    assert(new java.io.File(s"$dir/batch=3/_SUCCESS").delete())
    assert(est().map(r => r._1 -> r._2).toMap == before2)
    // COMPACTION (generation flip): estimates identical (HLL union is
    // associative/idempotent), one merged partial, old partials retained
    // for in-flight readers until the age-guarded vacuum
    store.compact(spark)
    assert(store.liveGen == 1L)
    assert(est().map(r => (r._1, r._2, r._4)).toSet
      == before2.map { case (g, e) => (g, e,
        Map("0" -> 3000L, "1" -> 3000L, "2" -> 3000L)(g)) }.toSet)
    assert(store.committedBatchPaths.size == 1)
    assert(new java.io.File(s"$dir/batch=0").exists())
    // appends continue into the live generation; estimates keep merging
    store.append(rows(9000, 9500), Seq("g"), "v", batchId = 3L)
    assert(est().map(_._4).sum == 9500L)
    assert(store.vacuumGenerations(minAgeMs = 0L) >= 1)
    assert(!new java.io.File(s"$dir/batch=0").exists())
    assert(est().map(_._4).sum == 9500L)
  }

  test("HeavyHitterStore.compact: candidates and error bound identical after the flip") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("hhc") + "/s"
    val store = new graft.sink.HeavyHitterStore(dir, k = 50)
    // skewed stream: item "hot" dominates, long tail of singletons
    def items(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(when(col("id") % 3 === 0, lit("hot"))
        .otherwise(concat(lit("t"), col("id"))).as("w"))
    store.append(items(0, 3000), col("w"), batchId = 0L)
    store.append(items(3000, 6000), col("w"), batchId = 1L)
    def cand() = {
      val (c, b) = store.candidates(spark)
      (c.collect().map(r => r.getString(0) -> r.getLong(1)).toMap, b)
    }
    val (beforeC, beforeB) = cand()
    store.compact(spark)
    assert(store.liveGen == 1L)
    val (afterC, afterB) = cand()
    assert(afterC == beforeC && afterB == beforeB,
      s"compaction must not move candidates or the bound: $beforeB vs $afterB")
    // the hot item's MG guarantee still holds over the compacted store
    assert(afterC("hot") >= 2000L - afterB)
    // appends continue; vacuum reclaims the superseded generation
    store.append(items(6000, 6600), col("w"), batchId = 2L)
    val (afterC2, _) = cand()
    assert(afterC2("hot") >= afterC("hot"))
    assert(store.vacuumGenerations(minAgeMs = 0L) >= 1)
    assert(cand()._1 == afterC2)
  }

  test("concurrent writers: the manifest hard-link lock loses no commit") {
    // two INDEPENDENT sink instances (separate `synchronized` monitors)
    // race merges into the same table from two threads — the loser of each
    // version's hard-link race must retry against the winner's state, so
    // every row from both writers survives and versions are gap-free
    val dir = tmpDir("race") + "/t"
    val rows = 6
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    def writer(tag: String): java.util.concurrent.Future[Unit] =
      pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = {
          val sink = new SnapshotParquetSink(dir, nBuckets = 4)
          start.await(30, TimeUnit.SECONDS)
          for (i <- 0 until rows)
            sink.merge(batch((s"$tag$i", i.toLong, s"v$tag$i", false)),
              Seq("primary_key"), "seq", "is_delete")
        }
      })
    val a = writer("a"); val b = writer("b")
    start.countDown()
    a.get(120, TimeUnit.SECONDS); b.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    // every commit published: versions are contiguous 0..(2*rows-1)
    assert(sink.versions == (0L until 2L * rows), sink.versions.toString)
    // no lost update: both writers' full key sets present with their values
    val state = sink.read(spark, DeleteMode.Hard).collect()
      .map(r => r.getAs[String]("primary_key") -> r.getAs[String]("val")).toMap
    assert(state.size == 2 * rows, state.keys.toSeq.sorted.mkString(","))
    for (t <- Seq("a", "b"); i <- 0 until rows) assert(state(s"$t$i") == s"v$t$i")
  }

  test("retention: dry-run previews, real run drops only below-cutoff partitions") {
    import org.apache.spark.sql.functions._
    import graft.sink.Retention
    val dir = tmpDir("ret") + "/events_p"
    spark.range(0, 300)
      .withColumn("dt", concat(lit("2026-08-"),
        lpad((col("id") % 3 + 1).cast("string"), 2, "0")))
      .write.partitionBy("dt").parquet(dir)
    assert(Retention.partitions(dir, "dt").keySet ==
      Set("2026-08-01", "2026-08-02", "2026-08-03"))
    // dry run: full preview, zero deletion
    val preview = Retention.dropPartitionsBelow(dir, "dt", "2026-08-03")
    assert(!preview.deleted && preview.dropped.map(_.value) ==
      Seq("2026-08-01", "2026-08-02"))
    assert(preview.droppedBytes > 0 && preview.droppedFiles > 0)
    assert(spark.read.parquet(dir).count() == 300) // nothing touched
    // real run: below-cutoff gone, cutoff day retained, data still readable
    val report = Retention.dropPartitionsBelow(dir, "dt", "2026-08-03", dryRun = false)
    assert(report.deleted && report.dropped.map(_.value) == preview.dropped.map(_.value))
    assert(report.kept == Seq("2026-08-03"))
    val left = spark.read.parquet(dir)
    assert(left.count() == 100)
    assert(left.select(col("dt").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq == Seq("2026-08-03"))
  }

  test("stores and retention resolve filesystems by scheme: file:-qualified dirs end-to-end") {
    // the object-storage seam: store dirs go through the Hadoop FileSystem
    // API, so an explicit scheme (here file:, on a cluster s3a:/hdfs:)
    // must behave identically to a bare local path — listing, _SUCCESS
    // gating, basePath reads, content summary, strict delete
    import org.apache.spark.sql.functions._
    val dir = "file:" + tmpDir("dfs_store") + "/s"
    val store = new graft.sink.HllSketchStore(dir)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .select((col("id") % 2).cast("string").as("g"), col("id").as("v"))
    store.append(rows(0, 2000), Seq("g"), "v", batchId = 0L)
    store.append(rows(2000, 3000), Seq("g"), "v", batchId = 1L)
    val est = store.estimates(spark, Seq("g")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(est.map(_._3).forall(_ == 2L), est.mkString(","))       // both batches merged
    est.foreach { case (g, e, _) =>
      assert(math.abs(e - 1500L) <= 1500L * 0.05, s"group $g: $e") }
    // an uncommitted batch (marker stripped) stays invisible through the
    // Hadoop listing too
    store.append(rows(3000, 3500), Seq("g"), "v", batchId = 2L)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/batch=2/_SUCCESS")
    assert(graft.engine.Dfs.fs(marker).delete(marker, false))
    assert(store.committedBatchPaths.size == 2)

    import graft.sink.Retention
    val rdir = "file:" + tmpDir("dfs_ret") + "/t"
    spark.range(0, 90)
      .withColumn("dt", concat(lit("2026-08-0"), (col("id") % 3 + 1).cast("string")))
      .write.partitionBy("dt").parquet(rdir)
    val report = Retention.dropPartitionsBelow(rdir, "dt", "2026-08-03", dryRun = false)
    assert(report.dropped.map(_.value) == Seq("2026-08-01", "2026-08-02"))
    assert(report.droppedFiles > 0 && report.droppedBytes > 0)
    assert(spark.read.parquet(rdir).count() == 30)
  }

  test("HeavyHitterStore: merged partials keep the additive MG guarantee across batches") {
    import org.apache.spark.sql.functions._
    val store = new graft.sink.HeavyHitterStore(tmpDir("hh") + "/s", k = 20)
    // three batches over a skewed stream: 'hot' appears 300×/batch, tail
    // items once each — k=20 counters cannot hold the tail
    def batchDf(b: Long) = spark.range(0, 300).select(lit("hot").as("w"))
      .union(spark.range(b * 500, b * 500 + 400).select(concat(lit("t"), col("id")).as("w")))
    for (b <- 0L until 3L) store.append(batchDf(b), col("w"), b)
    val (cand, bound) = store.candidates(spark)
    val got = cand.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // N = 3·700 items; every item with true count > N/(k+1) = 100 surfaces
    assert(got.contains("hot"), got.keys.take(5).toString)
    // estimate within the additive bound of the true 900
    assert(bound == 2100L / 21L)
    assert(got("hot") <= 900L && got("hot") >= 900L - bound, s"${got("hot")} vs bound $bound")
    // partial size is counter-bound, not batch-bound
    assert(spark.read.parquet(store.dir).groupBy("batch").count()
      .collect().forall(_.getLong(1) <= 20L))
    // a partial without its commit marker never surfaces
    store.append(batchDf(9L), col("w"), 9L)
    assert(new java.io.File(s"${store.dir}/batch=9/_SUCCESS").delete())
    val (cand2, bound2) = store.candidates(spark)
    assert(bound2 == bound)
    assert(cand2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == got)
    // an empty micro-batch (the TrendTracker no-data replay case) commits a
    // zero-row partial and candidates() survives — even when EVERY batch is
    // empty (the null-sum guard)
    val empty = new graft.sink.HeavyHitterStore(tmpDir("hh_empty") + "/s", k = 5)
    empty.append(spark.range(0).select(lit("x").as("w")), col("w"), 0L)
    val (cand3, bound3) = empty.candidates(spark)
    assert(cand3.count() == 0L && bound3 == 0L)
  }

  test("layout guards: mismatched nBuckets or merge keys refuse loudly; keys recorded") {
    val dir = tmpDir("guard") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    sink.merge(batch(("a", 0, "a0", false)), Seq("primary_key"), "seq", "is_delete")
    assert(SnapshotParquetSink.manifestKeys(dir, 0L) == Seq("primary_key"))
    // a writer with a different bucket count would scatter keys — refused
    val wrongBuckets = new SnapshotParquetSink(dir, nBuckets = 8)
    val e1 = intercept[IllegalArgumentException] {
      wrongBuckets.merge(batch(("b", 1, "b0", false)), Seq("primary_key"), "seq", "is_delete")
    }
    assert(e1.getMessage.contains("nBuckets"))
    // different merge keys against the committed contract — refused
    val e2 = intercept[IllegalArgumentException] {
      sink.merge(batch(("b", 1, "b0", false)), Seq("val"), "seq", "is_delete")
    }
    assert(e2.getMessage.contains("committed"))
    // ...and so is a different last-write-wins order column
    val e3 = intercept[IllegalArgumentException] {
      sink.merge(batch(("b", 1, "b0", false)).withColumn("seq2", $"seq"),
        Seq("primary_key"), "seq2", "is_delete")
    }
    assert(e3.getMessage.contains("order column"))
    // replaceAll runs the same guard: its order column is fixed too
    val e4 = intercept[IllegalArgumentException] {
      sink.replaceAll(batch(("b", 1, "b0", false)).withColumn("seq2", $"seq"),
        Seq("primary_key"), "seq2", "is_delete")
    }
    assert(e4.getMessage.contains("order column"))
    // compaction carries the recorded keys forward
    sink.compact(spark)
    assert(SnapshotParquetSink.manifestKeys(dir, 1L) == Seq("primary_key"))
    // DSv2 read: pruning keys come from the manifest; a wrong option errors
    val ok = spark.read.format("graft-snapshot").load(dir)
    assert(ok.count() == 1)
    intercept[Exception] {
      spark.read.format("graft-snapshot").option("keys", "val").load(dir).count()
    }

    // compact and purge keep the COMMITTED bucket count, whatever the
    // handle's: lookup routes by the recorded count and must find every key
    val dir4 = tmpDir("guard4") + "/t"
    val keys32 = (0 until 32).map(i => s"k$i")
    new SnapshotParquetSink(dir4, nBuckets = 4).merge(
      batch(keys32.map(k => (k, 1L, s"$k-v", false)): _*), Seq("primary_key"), "seq", "is_delete")
    def found(): Long = {
      val t = SnapshotParquetSink.forTable(dir4)
      keys32.map(k => t.lookup(spark, Seq("primary_key"), Seq(k))).reduce(_ union _).count()
    }
    val via8 = new SnapshotParquetSink(dir4, nBuckets = 8)
    via8.compact(spark)
    assert(found() == 32L, "compact through an 8-bucket handle")
    via8.purgeTombstones(spark, horizonSeq = 0L)
    assert(found() == 32L, "purge through an 8-bucket handle")
    assert(SnapshotParquetSink.manifest(dir4, 2L)._1 == 4)

    // format: a fresh merge's manifest starts with the format=2 line ...
    import graft.engine.Dfs
    val head = SnapshotParquetSink.versions(dir).last
    val body = Dfs.readUtf8(SnapshotParquetSink.manifestPath(dir, head))
    assert(body.startsWith("format=2\n"), body)
    // ... and a complete body without it is refused by every reader. Fresh
    // dir, so no published-manifest cache entry has ever seen the path.
    val headerless = tmpDir("noformat") + "/t"
    Dfs.writeUtf8(SnapshotParquetSink.manifestPath(headerless, 0L),
      body.stripPrefix("format=2\n"))
    val old = new SnapshotParquetSink(headerless, nBuckets = 4)
    def refused(f: => Any): Unit = {
      val e = intercept[RuntimeException](f)
      assert(e.getMessage.contains("no format=2 header") &&
        e.getMessage.contains(s"v0 at $headerless") &&
        e.getMessage.contains("must be re-created"), e.getMessage)
    }
    refused(SnapshotParquetSink.forTable(headerless))
    refused(old.read(spark, DeleteMode.Hard))
    refused(old.merge(batch(("z", 9, "z0", false)), Seq("primary_key"), "seq", "is_delete"))
    refused(old.history(spark))
    // a body without its version= line (a put-style lock's racing reader)
    // fails transiently and is never cached: once the body completes, the
    // same version reads
    val next = SnapshotParquetSink.manifestPath(dir, head + 1)
    Dfs.writeUtf8(next, "format=2\n")
    val partial = intercept[RuntimeException](SnapshotParquetSink.forTable(dir))
    assert(!partial.getMessage.contains("format=2 header"), partial.getMessage)
    Dfs.writeUtf8(next, body.replace(s"version=$head\n", s"version=${head + 1}\n"))
    assert(state(SnapshotParquetSink.forTable(dir), DeleteMode.Hard).keySet == Set("a"))
  }

  test("manifest stats: seq-range predicates skip buckets untouched since the cut") {
    val dir = tmpDir("skip") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 8, statsCols = Seq("seq"))
    val keys = (0 until 64).map(i => s"k$i")
    sink.merge(batch(keys.map(k => (k, 0L, s"$k-v0", false)): _*),
      Seq("primary_key"), "seq", "is_delete")
    // incremental commit touches two keys (≤ 2 buckets) at seq 100/101 —
    // the other buckets keep their seq ≤ 0 stats from the first commit
    sink.merge(batch(("k0", 100L, "k0-v1", false), ("k9", 101L, "k9-v1", false)),
      Seq("primary_key"), "seq", "is_delete")
    def scanFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.inputFiles.length
          }
      }.sum
    }
    val t = spark.read.format("graft-snapshot").load(dir)
    val full = scanFiles(t)
    assert(full == 8)
    // the incremental consumer's read: only changed-since-50 buckets planned
    val inc = t.filter($"seq" > 50L)
    assert(scanFiles(inc) <= 2 && scanFiles(inc) < full,
      s"seq>50 planned ${scanFiles(inc)} of $full files")
    assert(inc.select("primary_key", "seq").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("k0" -> 100L, "k9" -> 101L))
    // equality inside a cold range prunes to the bucket(s) covering it
    assert(scanFiles(t.filter($"seq" === 100L)) <= 2)
    // a non-stats predicate must not prune (and stays correct)
    val wide = t.filter($"val" === "k0-v1")
    assert(scanFiles(wide) == full)
    assert(wide.select("primary_key").head.getString(0) == "k0")
    // stats survive compaction (content per bucket unchanged)
    sink.compact(spark)
    val t2 = spark.read.format("graft-snapshot").load(dir)
    val inc2 = t2.filter($"seq" > 50L)
    assert(scanFiles(inc2) <= 2 && scanFiles(inc2) < scanFiles(t2))
    assert(inc2.count() == 2L)
    // a stats column must be numeric/timestamp — strings refuse loudly
    val bad = new SnapshotParquetSink(tmpDir("skipbad") + "/t", 4, statsCols = Seq("val"))
    val e = intercept[IllegalArgumentException] {
      bad.merge(batch(("a", 0, "x", false)), Seq("primary_key"), "seq", "is_delete")
    }
    assert(e.getMessage.contains("numeric"))
  }

  test("purgeTombstones: horizon-old tombstones drop; newer ones still beat stale replays") {
    val sink = new SnapshotParquetSink(tmpDir("purge") + "/t", nBuckets = 4)
    sink.merge(batch(("a", 0, "a0", false), ("b", 5, "del", true), ("c", 100, "del", true)),
      Seq("primary_key"), "seq", "is_delete")
    val v = sink.purgeTombstones(spark, horizonSeq = 50L)
    val logical = sink.read(spark, DeleteMode.Logical).collect()
      .map(r => r.getAs[String]("primary_key") -> r.getAs[Boolean]("is_deleted")).toMap
    assert(logical == Map("a" -> false, "c" -> true)) // b purged, c retained
    // the retained tombstone still does its job: a replayed stale
    // pre-delete event for c must keep losing last-write-wins
    sink.merge(batch(("c", 60, "stale", false)), Seq("primary_key"), "seq", "is_delete")
    assert(state(sink, DeleteMode.Hard).keySet == Set("a"))
    // pre-purge history remains time-travel-readable with b's tombstone
    val before = sink.readAt(spark, v - 1, DeleteMode.Logical).collect()
      .map(r => r.getAs[String]("primary_key")).toSet
    assert(before == Set("a", "b", "c"))
  }

  test("purgeTombstones keeps NULL-seq tombstones; replaceAll refuses an all-null-seq batch") {
    import org.apache.spark.sql.functions.lit
    val sink = new SnapshotParquetSink(tmpDir("purgenull") + "/t", nBuckets = 2)
    // a tombstone with UNKNOWN seq: three-valued logic must not let the
    // horizon filter silently drop it (purge(MinValue) = "purge nothing")
    val nullSeq = Seq(("x", "del", true)).toDF("primary_key", "val", "is_delete")
      .withColumn("seq", lit(null).cast("long"))
    sink.merge(batch(("a", 0, "a0", false)).unionByName(nullSeq.select(
      $"primary_key", $"seq", $"val", $"is_delete")), Seq("primary_key"), "seq", "is_delete")
    sink.purgeTombstones(spark, horizonSeq = Long.MinValue)
    val logical = sink.read(spark, DeleteMode.Logical).collect()
      .map(r => r.getAs[String]("primary_key") -> r.getAs[Boolean]("is_deleted")).toMap
    assert(logical == Map("a" -> false, "x" -> true), "null-seq tombstone must survive")
    // replaceAll with no orderable seq would hide the applied head from
    // commitAligned — refused loudly
    val e = intercept[IllegalArgumentException] {
      sink.replaceAll(nullSeq.select($"primary_key", $"seq", $"val", $"is_delete"),
        Seq("primary_key"), "seq", "is_delete")
    }
    assert(e.getMessage.contains("no orderable"))
  }

  test("changesBetween: per-key insert/update/delete vs the prior version") {
    val sink = new SnapshotParquetSink(tmpDir("cdf") + "/t", nBuckets = 4)
    sink.merge(batch(("a", 0, "a0", false), ("b", 1, "b0", false), ("c", 2, "c0", false)),
      Seq("primary_key"), "seq", "is_delete")
    // v1: a updated, b deleted, c untouched, d inserted
    sink.merge(batch(("a", 3, "a1", false), ("b", 4, "del", true), ("d", 5, "d0", false)),
      Seq("primary_key"), "seq", "is_delete")
    val feed = sink.changesBetween(spark, 0L, 1L).collect()
      .map(r => r.getString(0) -> ((r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(feed == Map(
      "a" -> (("update", Some(0L), Some(3L))),
      "b" -> (("delete", Some(1L), None)),
      "d" -> (("insert", None, Some(5L))))) // c (unchanged) absent
    intercept[IllegalArgumentException](sink.changesBetween(spark, 1L, 1L))
  }

  test("changesBetween: null-seq rows classify by key presence, not seq nullability") {
    import org.apache.spark.sql.functions.lit
    val sink = new SnapshotParquetSink(tmpDir("cdfnull") + "/t", nBuckets = 4)
    def nullSeq(rows: (String, String)*) = rows.toSeq.toDF("primary_key", "val")
      .withColumn("seq", lit(null).cast("long"))
      .withColumn("is_delete", lit(false))
      .select($"primary_key", $"seq", $"val", $"is_delete")
    // v0: a and b carry NULL seq (accepted — "contributes no head"), c seq 1
    sink.merge(nullSeq(("a", "a0"), ("b", "b0"))
      .unionByName(batch(("c", 1L, "c0", false))),
      Seq("primary_key"), "seq", "is_delete")
    // v1: b resolves to seq 5 (NULL→value update), c tombstoned, d inserted
    // with NULL seq; a untouched (NULL on both sides)
    sink.merge(batch(("b", 5L, "b1", false), ("c", 9L, "del", true))
      .unionByName(nullSeq(("d", "d0"))),
      Seq("primary_key"), "seq", "is_delete")
    val feed = sink.changesBetween(spark, 0L, 1L).collect()
      .map(r => r.getString(0) -> ((r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(feed == Map(
      // live both sides: an update (NULL → 5), NOT an insert
      "b" -> (("update", None, Some(5L))),
      "c" -> (("delete", Some(1L), None)),
      // new key: an insert even though its seq is NULL
      "d" -> (("insert", None, None))),
      s"a (NULL seq, unchanged) must be absent; got $feed")
  }

  test("changesBetween: the small-delta and distributed arms agree over a seeded history") {
    import org.apache.spark.sql.functions.lit
    // inserts, updates, deletes, re-inserts and NULL-seq churn, over a
    // string key (byte-comparable: the small arm runs) and a double key
    // (never byte-comparable: the distributed arm always runs)
    def history(): Seq[Seq[(Int, String, Option[Long], Boolean)]] = {
      val rnd = new scala.util.Random(3)
      var seq = 10L
      def next() = { seq += 1; Some(seq) }
      val out = Seq.newBuilder[Seq[(Int, String, Option[Long], Boolean)]]
      out += (0 until 20).map(i => (i, s"v$i", Some(1L), false)) :+ ((90, "n", None, false))
      for (round <- 0 until 5) {
        val ids = rnd.shuffle((0 until 20).toList).take(3)
        out += Seq((ids(0), s"u$round", next(), false), (ids(1), "", next(), true),
          (ids(2), s"r$round", next(), false), (100 + round, "i", next(), false)) ++
          (round match {
            case 0 => Seq((90, "", None, true))   // NULL-seq delete
            case 1 => Seq((90, "m", None, false)) // NULL-seq re-insert
            case 2 => Seq((90, "o", next(), false)) // NULL → value
            case _ => Nil
          })
      }
      out.result()
    }
    def run(tag: String, keyType: String, distributed: Boolean): Seq[Set[String]] = {
      val sink = new SnapshotParquetSink(tmpDir(s"cdfarms_$tag") + "/t", nBuckets = 4)
      history().foreach(b => sink.merge(b.toDF("k", "val", "seq", "is_delete")
        .withColumn("primary_key", $"k".cast(keyType)).drop("k"),
        Seq("primary_key"), "seq", "is_delete"))
      def feeds = for (a <- sink.versions; b <- sink.versions if a < b)
        yield sink.changesBetween(spark, a, b).collect().map(_.toString).toSet
      if (distributed) withLocalDiffOff(feeds) else feeds
    }
    for (keyType <- Seq("string", "double")) {
      val small = run(s"s_$keyType", keyType, distributed = false)
      val planned = run(s"d_$keyType", keyType, distributed = true)
      assert(small == planned, keyType)
      assert(small.exists(_.exists(_.contains("update"))) && small.exists(_.exists(_.contains("delete"))))
    }
    // the small arm returns a driver-local frame
    val sink = new SnapshotParquetSink(tmpDir("cdfarms_local") + "/t", nBuckets = 4)
    sink.merge(batch(("a", 1, "x", false)), Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("a", 2, "y", false)), Seq("primary_key"), "seq", "is_delete")
    val plan = sink.changesBetween(spark, 0L, 1L).queryExecution.optimizedPlan
    assert(plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation], plan)
  }

  test("a driver-local batch merges without a probe job, publishing what a planned batch does") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("primary_key", StringType),
      StructField("seq", LongType), StructField("val", StringType),
      StructField("is_delete", BooleanType)))
    def local(rows: Row*): DataFrame = spark.createDataFrame(rows.asJava, schema)
    def planned(rows: Row*): DataFrame = local(rows: _*).filter($"primary_key".isNotNull)
    val b0 = Seq(Row("a", 3L, "x", false), Row("b", 7L, "y", false), Row("c", 5L, "z", false))
    val b1 = Seq(Row("b", 9L, "y2", false), Row("c", 8L, "", true), Row("d", null, "n", false))
    val l = new SnapshotParquetSink(tmpDir("localbatch_l") + "/t", nBuckets = 4)
    val p = new SnapshotParquetSink(tmpDir("localbatch_p") + "/t", nBuckets = 4)
    for (b <- Seq(b0, b1)) {
      val jobs = jobDescriptionsDuring(l.merge(local(b: _*), Seq("primary_key"), "seq", "is_delete"))
      assert(!jobs.contains("commit:probe"), jobs)
      assert(jobDescriptionsDuring(p.merge(planned(b: _*), Seq("primary_key"), "seq", "is_delete"))
        .contains("commit:probe"))
      val v = l.currentVersion.get
      assert(p.currentVersion.contains(v))
      assert(SnapshotParquetSink.manifest(l.dir, v)._2.keySet ==
        SnapshotParquetSink.manifest(p.dir, v)._2.keySet)
      assert(SnapshotParquetSink.manifestMaxSeq(l.dir, v) == SnapshotParquetSink.manifestMaxSeq(p.dir, v))
      assert(state(l, DeleteMode.Logical) == state(p, DeleteMode.Logical))
    }
    assert(SnapshotParquetSink.manifestMaxSeq(l.dir, 1L).contains(9L))
    // an empty local batch publishes nothing
    l.merge(local(), Seq("primary_key"), "seq", "is_delete")
    assert(l.versions == Seq(0L, 1L))
    // an all-null-seq local batch records no head
    val n = new SnapshotParquetSink(tmpDir("localbatch_n") + "/t", nBuckets = 4)
    n.merge(local(Row("a", null, "x", false), Row("b", null, "y", false)),
      Seq("primary_key"), "seq", "is_delete")
    assert(n.versions == Seq(0L))
    assert(SnapshotParquetSink.manifestMaxSeq(n.dir, 0L).isEmpty)
    assert(n.read(spark, DeleteMode.Hard).count() == 2)
    // replaceAll probes through the same stage: one tagged probe job for a
    // planned batch, none for a driver-local one, the same publication
    val b2 = Seq(Row("a", 11L, "x3", false), Row("e", 12L, "e", false), Row("c", 4L, "", true))
    val lj = jobDescriptionsDuring(l.replaceAll(local(b2: _*), Seq("primary_key"), "seq", "is_delete"))
    assert(!lj.contains("commit:probe"), lj)
    assert(jobDescriptionsDuring(p.replaceAll(planned(b2: _*), Seq("primary_key"), "seq",
      "is_delete")).count(_ == "commit:probe") == 1)
    assert(l.currentVersion.contains(2L) && p.currentVersion.contains(2L))
    assert(SnapshotParquetSink.manifest(l.dir, 2L)._2.keySet ==
      SnapshotParquetSink.manifest(p.dir, 2L)._2.keySet)
    assert(SnapshotParquetSink.manifestMaxSeq(l.dir, 2L).contains(12L))
    assert(SnapshotParquetSink.manifestMaxSeq(p.dir, 2L).contains(12L))
    assert(state(l, DeleteMode.Logical) == state(p, DeleteMode.Logical))
    assert(state(l, DeleteMode.Hard).keySet == Set("a", "e"))
  }

  test("column names that would corrupt the manifest line format are rejected at commit") {
    val dir = tmpDir("badnames") + "/t"
    // stats column with a space: `s <b> <col> <mn> <mx>` splits on spaces
    intercept[IllegalArgumentException](
      new SnapshotParquetSink(dir, nBuckets = 4, statsCols = Seq("bad col")))
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    val spaced = Seq(("a", 0L, "x", false)).toDF("primary key", "seq", "val", "is_delete")
    intercept[IllegalArgumentException](
      sink.merge(spaced, Seq("primary key"), "seq", "is_delete"))
    // key with a comma: `keys=a,b` would silently split it in two
    val comma = Seq(("a", 0L, "x", false)).toDF("p,k", "seq", "val", "is_delete")
    intercept[IllegalArgumentException](
      sink.replaceAll(comma, Seq("p,k"), "seq", "is_delete"))
    assert(sink.versions.isEmpty, "nothing may commit under a corrupting name")
  }

  test("Dfs.renameOntoAbsent on directories: dst present is a lost race, never a throw") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.engine.Dfs
    val base = tmpDir("dirlock")
    val live = new HPath(base, "live"); Dfs.mkdirs(live)
    Dfs.writeUtf8(new HPath(live, "f"), "live\n")
    val old = new HPath(base, "old"); Dfs.mkdirs(old)
    Dfs.writeUtf8(new HPath(old, "f"), "old\n")
    // restoring a directory (old -> live) when another instance already
    // restored it must report a lost race — the content-
    // comparison fallback must never try to read a DIRECTORY as UTF-8
    assert(!Dfs.renameOntoAbsent(old, live))
    assert(Dfs.readUtf8(new HPath(live, "f")) == "live\n") // winner intact
    assert(Dfs.exists(old)) // loser's src left in place for its caller
  }

  test("mergeGuardedHinted: exact hints commit probe-free; inexact hints fail loudly") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("hinted") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    sink.merge(batch(("a", 0L, "a0", false)), Seq("primary_key"), "seq", "is_delete")
    val b = batch(("b", 1L, "b1", false))
    val realBucket = b.select(sink.bucketRouting(Seq("primary_key")).as("__b"))
      .head().getInt(0)
    val aBucket = batch(("a", 0L, "a0", false))
      .select(sink.bucketRouting(Seq("primary_key")).as("__b")).head().getInt(0)
    val emptyBucket = (0 until 4).filterNot(Set(aBucket, realBucket)).head
    // a hint MISSING a bucket the write produces must fail the commit
    // before publish — overlaying only the hinted buckets would orphan the
    // unhinted bucket's rows. (The opposite direction — a hinted bucket the
    // batch never writes — is legal: metadata-derived hints over-
    // approximate, and the manifest overlays only WRITTEN dirs; see below.)
    intercept[SnapshotParquetSink.ProbeHintMismatch] {
      sink.merge(batch(("b", 1L, "b1", false)),
        Seq("primary_key"), "seq", "is_delete", requireBaseSeq = Some(0L),
        probeHint = Some((Array(emptyBucket), 1L)))
    }
    // nothing published by the failed attempt — and nothing LEAKED: the
    // aborted write's data/<commitId> tree is deleted before surfacing
    // (a retrying caller must not orphan one bucket-rewrite per attempt)
    assert(sink.versions == Seq(0L))
    val v0DataDirs = SnapshotParquetSink.manifest(dir, 0L)._2.values
      .map(rel => rel.split('/')(1)).toSet
    val onDisk = new java.io.File(s"$dir/data").listFiles().map(_.getName).toSet
    assert(onDisk == v0DataDirs,
      s"failed hinted merge left an orphan commit tree: ${onDisk -- v0DataDirs}")
    // the EXACT hint commits (probe job skipped) with correct state + head
    sink.merge(b, Seq("primary_key"), "seq", "is_delete",
      requireBaseSeq = Some(0L), probeHint = Some((Array(realBucket), 1L)))
    assert(state(sink, DeleteMode.Hard) ==
      Map("a" -> (0L, "a0"), "b" -> (1L, "b1")))
    assert(SnapshotParquetSink.manifestMaxSeq(dir, 1L).contains(1L))
    // guarded-absolute semantics: the batch REPLACES its keys
    sink.merge(batch(("b", 2L, "b2", false)),
      Seq("primary_key"), "seq", "is_delete", requireBaseSeq = Some(1L),
      probeHint = Some((Array(realBucket), 2L)))
    assert(state(sink, DeleteMode.Hard) ==
      Map("a" -> (0L, "a0"), "b" -> (2L, "b2")))
    // a SUPERSET hint (an extra bucket holding neither current rows nor
    // batch rows) commits through an unguarded hinted merge: manifest entries
    // land only for the dirs the write produced, the phantom bucket keeps
    // no entry — metadata-derived hints may over-approximate
    val cBucket = batch(("c", 3L, "c3", false))
      .select(sink.bucketRouting(Seq("primary_key")).as("__b")).head().getInt(0)
    val phantom = (0 until 4)
      .filterNot(Set(aBucket, realBucket, cBucket)).head
    sink.merge(batch(("c", 3L, "c3", false)), Seq("primary_key"),
      "seq", "is_delete",
      probeHint = Some((Array(phantom, cBucket).distinct.sorted, 3L)))
    assert(state(sink, DeleteMode.Hard) ==
      Map("a" -> (0L, "a0"), "b" -> (2L, "b2"), "c" -> (3L, "c3")))
    val headV = sink.currentVersion.get
    assert(!SnapshotParquetSink.manifest(dir, headV)._2.contains(phantom),
      "a hinted-but-unwritten empty bucket must not land a manifest entry")
    assert(SnapshotParquetSink.manifestMaxSeq(dir, headV).contains(3L))
  }

  test("Dfs.renameOntoAbsent: loser keeps src, winner owns dst, content intact") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.engine.Dfs
    val base = tmpDir("lock")
    val dst = new HPath(base, "v0.manifest")
    val a = new HPath(base, ".tmp-a"); Dfs.writeUtf8(a, "writer-a\n")
    val b = new HPath(base, ".tmp-b"); Dfs.writeUtf8(b, "writer-b\n")
    val wonA = Dfs.renameOntoAbsent(a, dst)
    val wonB = Dfs.renameOntoAbsent(b, dst)
    assert(wonA && !wonB, "exactly the first publish may win the slot")
    assert(Dfs.readUtf8(dst) == "writer-a\n") // loser never clobbers the winner
    assert(!Dfs.exists(a) && Dfs.exists(b))   // src consumed on win, left on loss
  }

  test("vacuum collects aged .tmp manifests from crashed commits") {
    import graft.engine.Dfs
    val dir = tmpDir("tmpvac") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 2)
    sink.merge(batch(("a", 0, "a0", false)), Seq("primary_key"), "seq", "is_delete")
    // a crash between temp write and publish leaves this behind
    val stray = new org.apache.hadoop.fs.Path(
      SnapshotParquetSink.manifestsDir(dir), ".tmp-crashed")
    Dfs.writeUtf8(stray, "version=99\n")
    // ... and a crash inside the object-store lock's atomic-put emulation
    // (between its staged write and rename) leaves ITS stage file — named
    // under the same `.tmp-` prefix precisely so this sweep collects it
    val strayPut = new org.apache.hadoop.fs.Path(
      SnapshotParquetSink.manifestsDir(dir), ".tmp-put-c0ffee")
    Dfs.writeUtf8(strayPut, "version=99\n")
    assert(sink.versions == Seq(0L)) // never surfaces as a version
    sink.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    assert(!Dfs.exists(stray))
    assert(!Dfs.exists(strayPut))
    assert(state(sink, DeleteMode.Hard) == Map("a" -> (0L, "a0")))
  }

  test("history(): per-version metadata incl. write amplification, from manifests only") {
    val dir = tmpDir("hist") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    val keys = (0 until 32).map(i => s"k$i")
    sink.merge(batch(keys.map(k => (k, 0L, s"$k-v0", false)): _*),
      Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("k0", 5L, "k0-v1", false)), Seq("primary_key"), "seq", "is_delete")
    val h = sink.history(spark).orderBy("version").collect()
    assert(h.length == 2)
    assert(h(0).getLong(0) == 0L && h(0).getInt(2) == 4 && h(0).getInt(4) == h(0).getInt(3),
      "the first commit rewrote every entry it lists")
    assert(h(1).getInt(4) == 1, "the single-key merge rewrote exactly one bucket entry")
    assert(h(1).getAs[Long]("maxseq") == 5L)
    assert(h(1).getAs[String]("keys") == "primary_key")
    // the SQL face through the table function
    val viaSql = spark.sql(s"SELECT version, rewritten FROM table_history('$dir')")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(viaSql == Map(0L -> 4, 1L -> 1))
    // ...and the change feed from SQL (the Delta table_changes analog)
    val feed = spark.sql(
      s"SELECT primary_key, change FROM table_changes('$dir', 0, 1)")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(feed == Map("k0" -> "update"))
    // once vacuum drops v0, the oldest kept version has no predecessor:
    // every entry it lists counts as rewritten
    sink.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    val kept = sink.history(spark).collect()
    assert(kept.length == 1 && kept(0).getLong(0) == 1L && kept(0).getInt(4) == kept(0).getInt(3))
  }

  test("rebucket: partition-count evolution preserves content; history keeps its layout") {
    val dir = tmpDir("rebkt") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    val keys = (0 until 64).map(i => s"k$i")
    sink.merge(batch(keys.map(k => (k, 0L, s"$k-v0", false)): _*),
      Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("k0", 1L, "k0-v1", false), ("k9", 2L, "del", true)),
      Seq("primary_key"), "seq", "is_delete")
    val before = state(sink, DeleteMode.Hard)
    val v = sink.rebucket(spark, newBuckets = 16)
    assert(v == 2L)
    assert(SnapshotParquetSink.manifest(dir, v)._1 == 16)
    // content identical through a handle built with the NEW count
    val wide = new SnapshotParquetSink(dir, nBuckets = 16)
    assert(state(wide, DeleteMode.Hard) == before)
    // tombstone still wins a stale replay after the re-route
    wide.merge(batch(("k9", 1L, "stale", false)), Seq("primary_key"), "seq", "is_delete")
    assert(!state(wide, DeleteMode.Hard).contains("k9"))
    // lookup self-aligns to the COMMITTED layout even from a stale handle
    val stale = new SnapshotParquetSink(dir, nBuckets = 4)
    val row = stale.lookup(spark, Seq("primary_key"), Seq("k7")).collect()
    assert(row.length == 1 && row.head.getAs[String]("val") == "k7-v0")
    // ... but a stale handle's WRITE refuses (routing would scatter keys)
    val e = intercept[IllegalArgumentException](
      stale.merge(batch(("x", 9L, "x", false)), Seq("primary_key"), "seq", "is_delete"))
    assert(e.getMessage.contains("nBuckets"))
    // pre-rebucket history stays readable under its own 4-bucket layout
    assert(sink.readAt(spark, 1L, DeleteMode.Hard).count() == 63L)
  }

  test("streaming merges survive a mid-stream rebucket: forTable self-aligns, replay exact") {
    // the operational loop partition-count evolution must not wedge: a
    // foreachBatch writer that re-opens the table through forTable adopts
    // whatever layout is committed, so a rebucket (or a crash + replay
    // around one) between micro-batches just re-routes the next merge
    val dir = tmpDir("rebkt_stream") + "/t"
    new SnapshotParquetSink(dir, nBuckets = 4)
      .merge(batch((0 until 16).map(i => (s"k$i", 0L, s"k$i-v0", false)): _*),
        Seq("primary_key"), "seq", "is_delete")
    val in = tmpDir("rebkt_in"); val ckpt = tmpDir("rebkt_ckpt")
    def writeChunk(name: String, rows: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(in, name), "UTF-8")
      try rows.foreach(w.println) finally w.close()
    }
    def ev(k: String, seq: Long, v: String, del: Boolean) =
      s"""{"primary_key":"$k","seq":$seq,"val":"$v","is_delete":$del}"""
    def startQ() = spark.readStream
      .schema("primary_key STRING, seq LONG, val STRING, is_delete BOOLEAN")
      .json(in)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        SnapshotParquetSink.forTable(dir)
          .merge(b, Seq("primary_key"), "seq", "is_delete")
      }.start()
    writeChunk("c0.jsonl", (0 until 8).map(i => ev(s"k$i", 1L, s"k$i-v1", false)))
    val q1 = startQ()
    try q1.processAllAvailable()
    finally { q1.stop(); q1.awaitTermination() }
    // crash: micro-batch 0 merged, checkpoint commit lost — then the table
    // REBUCKETS before the restart
    val commits = new java.io.File(ckpt, "commits")
    val latest = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .sortBy(_.getName.toInt).last
    assert(latest.delete())
    val crc = new java.io.File(commits, s".${latest.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    val maint = SnapshotParquetSink.forTable(dir)
    val rv = maint.rebucket(spark, newBuckets = 8)
    assert(SnapshotParquetSink.manifest(dir, rv)._1 == 8)
    // restart: chunk 0 replays across the new layout (seq latest-wins makes
    // it exact), chunk 1 applies on top
    writeChunk("c1.jsonl",
      Seq(ev("k8", 2L, "k8-v2", false), ev("k9", 3L, "gone", true)))
    val q2 = startQ()
    try q2.processAllAvailable()
    finally { q2.stop(); q2.awaitTermination() }
    val got = state(SnapshotParquetSink.forTable(dir), DeleteMode.Hard)
    val want = ((0 until 8).map(i => s"k$i" -> (1L, s"k$i-v1")) ++
      Seq("k8" -> (2L, "k8-v2")) ++
      (10 until 16).map(i => s"k$i" -> (0L, s"k$i-v0"))).toMap
    assert(got == want, s"got=$got")
    // forTable adopted the committed layout (not the creation-time count)
    val e = intercept[IllegalArgumentException](
      new SnapshotParquetSink(dir, nBuckets = 4)
        .merge(batch(("x", 9L, "x", false)), Seq("primary_key"), "seq", "is_delete"))
    assert(e.getMessage.contains("nBuckets"))
  }

  test("rebucket recomputes stats for the new partition and keeps skipping alive") {
    val dir = tmpDir("rebkts") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4, statsCols = Seq("seq"))
    val keys = (0 until 64).map(i => s"k$i")
    sink.merge(batch(keys.map(k => (k, 0L, s"$k-v0", false)): _*),
      Seq("primary_key"), "seq", "is_delete")
    sink.merge(batch(("k0", 100L, "k0-v1", false)), Seq("primary_key"), "seq", "is_delete")
    // maintenance handle WITHOUT statsCols: must still carry the table's
    // skipping metadata forward (recomputed from the base's recorded cols)
    val v = new SnapshotParquetSink(dir, nBuckets = 4).rebucket(spark, 8)
    val stats = SnapshotParquetSink.manifestStats(dir, v)
    assert(stats.nonEmpty && stats.values.forall(_.contains("seq")))
    def scanFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.inputFiles.length
          }
      }.sum
    }
    val t = spark.read.format("graft-snapshot").load(dir)
    val inc = t.filter($"seq" > 50L)
    assert(scanFiles(inc) == 1 && inc.count() == 1L,
      s"rebucketed stats must still skip cold buckets, planned ${scanFiles(inc)}")
  }

  test("skipping declaration survives a commit with no per-bucket stats lines") {
    // regression: forTable used to INFER statsCols/bloomCols from per-bucket
    // data lines — a version where no bucket recorded a line (all-null
    // column) silently and permanently dropped the table's declared
    // skipping config for every forTable-constructed writer
    import spark.implicits._
    val dir = tmpDir("skipdecl") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4,
      statsCols = Seq("amount"), bloomCols = Seq("tag"))
    def rows(amounts: Seq[java.lang.Long], seq: Long): DataFrame =
      amounts.zipWithIndex.map { case (a, i) =>
        (s"k$i", seq, a, s"t$i", false) }
        .toDF("primary_key", "seq", "amount", "tag", "is_delete")
    // v0: amount is ALL NULL — no 's' data line can be recorded
    sink.merge(rows(Seq(null, null, null), 0L), Seq("primary_key"), "seq", "is_delete")
    assert(SnapshotParquetSink.manifestStats(dir, 0L).isEmpty)
    assert(SnapshotParquetSink.declaredStatsCols(dir, 0L) == Seq("amount"))
    assert(SnapshotParquetSink.declaredBloomCols(dir, 0L) == Seq("tag"))
    // a forTable handle (the SQL/DSv2 writer path) must recover the
    // declaration and record stats as soon as values appear
    SnapshotParquetSink.forTable(dir)
      .merge(rows(Seq(1L, 2L, 3L), 1L), Seq("primary_key"), "seq", "is_delete")
    assert(SnapshotParquetSink.manifestStats(dir, 1L)
      .values.exists(_.contains("amount")))
    assert(SnapshotParquetSink.declaredStatsCols(dir, 1L) == Seq("amount"))
    // a config-less direct handle must not strip the declaration either
    new SnapshotParquetSink(dir, nBuckets = 4)
      .merge(rows(Seq(4L, 5L, 6L), 2L), Seq("primary_key"), "seq", "is_delete")
    assert(SnapshotParquetSink.declaredStatsCols(dir, 2L) == Seq("amount"))
    assert(SnapshotParquetSink.declaredBloomCols(dir, 2L) == Seq("tag"))
  }

  test("keyed diffs read only CHANGED buckets (manifest-level pruning)") {
    val dir = tmpDir("ssink") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 8)
    val rows = (0 until 64).map(i => (s"k$i", i.toLong, s"v$i", false))
    sink.merge(batch(rows: _*), Seq("primary_key"), "seq", "is_delete")
    // one-key update: exactly one bucket rewrites; both diff sides must
    // plan only that bucket's file, not the table
    sink.merge(batch(("k3", 100L, "v3b", false)), Seq("primary_key"), "seq", "is_delete")
    assert(sink.changedEntriesAt(1L, 0L).length == 1,
      s"one bucket should differ: ${sink.changedEntriesAt(1L, 0L)}")
    assert(sink.changedEntriesAt(0L, 1L).length == 1)
    val feed = sink.changesBetween(spark, 0L, 1L)
    val planned = feed.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }.sum
    assert(planned <= 2, s"diff planned $planned files, expected ≤ 2 (one per side)")
    assert(feed.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("k3", "update")))
    // identical versions (pure tombstone purge of nothing): no files at all
    assert(sink.readChangedAt(spark, 1L, 1L, DeleteMode.Hard).isEmpty)
    // compaction rewrites files: every entry differs — unpruned but correct
    sink.compact(spark)
    val v2 = sink.versions.last
    assert(sink.changedEntriesAt(v2, 0L).nonEmpty)
    assert(sink.changesBetween(spark, 1L, v2).count() == 0L) // no key changed
  }

  test("replaceAll: fresh commit drops prior entries; old versions keep their types") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("ssink") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    val keys = (0 until 16).map(i => s"k$i")
    sink.merge(batch(keys.map(k => (k, 0L, s"$k-v0", false)): _*)
      .withColumn("num", lit(7L)), Seq("primary_key"), "seq", "is_delete")
    sink.replaceAll(batch(("k0", 1L, "k0-v1", false)).withColumn("num", lit("7")),
      Seq("primary_key"), "seq", "is_delete")
    // head: only the loaded key, STRING-typed num, no carried-forward buckets
    val head = sink.read(spark, DeleteMode.Hard)
    assert(head.select("primary_key").collect().map(_.getString(0)).toSet == Set("k0"))
    assert(head.schema("num").dataType == org.apache.spark.sql.types.StringType)
    // time travel: v0 still reads all 16 keys under the ORIGINAL type
    val v0 = sink.readAt(spark, 0L, DeleteMode.Hard)
    assert(v0.count() == 16L)
    assert(v0.schema("num").dataType == org.apache.spark.sql.types.LongType)
    // a replayed merge after the replace still orders deterministically:
    // same seq as the loaded row, the newer commit wins the tie
    sink.merge(batch(("k0", 1L, "k0-X", false)).withColumn("num", lit("9")),
      Seq("primary_key"), "seq", "is_delete")
    assert(state(sink, DeleteMode.Hard) == Map("k0" -> ((1L, "k0-X"))))
    // key-contract guard still applies
    val e = intercept[IllegalArgumentException] {
      sink.replaceAll(batch(("x", 9L, "x0", false)), Seq("val"), "seq", "is_delete")
    }
    assert(e.getMessage.contains("committed"))
    // an empty batch would publish an unreadable empty table — refused
    val empty = intercept[IllegalArgumentException] {
      sink.replaceAll(batch(("x", 9L, "x0", false)).limit(0),
        Seq("primary_key"), "seq", "is_delete")
    }
    assert(empty.getMessage.contains("empty batch"))
  }

  test("manifest-recorded schema: resolution is metadata-only, evolution unions, versions pin") {
    val dir = tmpDir("mschema") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 4)
    sink.merge(batch(("a", 0, "a0", false), ("b", 1, "b0", false)),
      Seq("primary_key"), "seq", "is_delete")
    val s0 = SnapshotParquetSink.manifestSchema(dir, 0L)
    assert(s0.fieldNames.contains("__gen") && !s0.fieldNames.contains("__bucket"))
    // the recorded line must EQUAL what the footer merge reconstructs —
    // the DSv2 resolve substitutes one for the other
    val paths = SnapshotParquetSink.manifest(dir, 0L)._2.toSeq.sortBy(_._1)
      .map { case (_, rel) => s"$dir/$rel" }
    val footer = spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
    assert(s0.fieldNames.sorted.toSeq == footer.fieldNames.sorted.toSeq)

    // evolution: a new column in a 1-bucket commit must still appear in the
    // RECORDED schema (union with the carry source), and the DSv2 read —
    // which now resolves from the manifest — must surface it null-backfilled
    sink.merge(Seq(("a", 5L, "a1", false, 42L))
        .toDF("primary_key", "seq", "val", "is_delete", "extra"),
      Seq("primary_key"), "seq", "is_delete")
    val s1 = SnapshotParquetSink.manifestSchema(dir, 1L)
    assert(s1.fieldNames.contains("extra") && s1.fieldNames.contains("val"))
    val t = spark.read.format("graft-snapshot").load(dir)
    assert(t.columns.contains("extra"))
    assert(t.filter(t("primary_key") === "b").select("extra").head.isNullAt(0))
    // per-version pin: v0's recorded schema has no 'extra'
    assert(!SnapshotParquetSink.manifestSchema(dir, 0L).fieldNames.contains("extra"))
    // maintenance rewrites re-derive the line
    sink.compact(spark)
    assert(SnapshotParquetSink.manifestSchema(dir, 2L).fieldNames.contains("extra"))
    // type conflicts refuse loudly (type changes go through replaceAll).
    // The key must land in an EMPTY bucket: a batch touching a stored
    // bucket would hit ANSI union coercion first (the round-9 gotcha),
    // while the untouched-bucket case is exactly what only the RECORDED
    // schema can catch — no footer in the plan carries the old type
    import org.apache.spark.sql.types.StringType
    val used = Seq("a", "b")
      .map(k => SnapshotParquetSink.bucketFor(Seq(k), Seq(StringType), 4)).toSet
    val z = Iterator.from(0).map(i => s"z$i")
      .find(k => !used.contains(SnapshotParquetSink.bucketFor(Seq(k), Seq(StringType), 4)))
      .get
    val e2 = intercept[IllegalArgumentException] {
      sink.merge(Seq((z, 9L, "z0", false, "now-a-string"))
          .toDF("primary_key", "seq", "val", "is_delete", "extra"),
        Seq("primary_key"), "seq", "is_delete")
    }
    assert(e2.getMessage.contains("schema conflict"))
  }

  test("nested inParallel runs inline instead of deadlocking the shared pool") {
    // The FS-op pool is a single bounded shared executor: if an outer task
    // could SUBMIT (and block on) inner work, outer tasks occupying every
    // pool thread would wait forever on inner futures queued behind them.
    // The re-entrance guard runs nested calls inline on the pool thread —
    // pin it with a fan-out wide enough (64 > 32 threads) that a submitting
    // implementation would deadlock rather than merely slow down.
    // run on a scratch thread with a bounded join: a submitting
    // implementation deadlocks, and the suite must FAIL, not hang
    @volatile var outer: Seq[Int] = null
    val t = new Thread(() => {
      outer = SnapshotParquetSink.inParallel(1 to 64) { i =>
        SnapshotParquetSink.inParallel(1 to 64)(j => i * 1000 + j).sum
      }
    })
    t.setDaemon(true)
    t.start()
    t.join(30000)
    assert(!t.isAlive, "nested inParallel deadlocked the shared pool")
    assert(outer === (1 to 64).map(i => (1 to 64).map(j => i * 1000 + j).sum))
    // order preservation and exception propagation survive the guard
    val e = intercept[IllegalStateException] {
      SnapshotParquetSink.inParallel(1 to 8) { i =>
        if (i == 5) throw new IllegalStateException("boom") else i
      }
    }
    assert(e.getMessage == "boom")
  }
}
