package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sink.{BloomIndex, DeleteMode, SnapshotParquetSink}

/** Bloom-sidecar equality file-skipping ([[graft.sink.BloomIndex]]): on a
  * hash-bucketed table, a secondary identifier scatters uniformly, so
  * min/max stats prune nothing — the per-bucket bloom is what turns
  * `WHERE ext_id = 'X'` into a 1-2-of-n file read. These specs pin the
  * skipping (planned file counts), the safety rails (no false negatives,
  * conservative keeps for saturated/absent/evolved cases), and the
  * lifecycle (carry across merges, copy across compact/purge, recompute
  * across rebucket, reachability across vacuum).
  */
class BloomSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Seq[Long], tag: String = "e"): DataFrame =
    ids.map(i => (i, 0L, s"$tag$i", false)).toDF("id", "seq", "ext", "is_delete")

  /** Does the first bucket file of version `commitRootOf` carry a
    * parquet-native bloom filter on `ext`? (footer check — the
    * evidence-gating specs' assertion primitive)
    */
  private def nativeBloomUnder(dir: String, commitRootOf: Long): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val rel = SnapshotParquetSink.manifest(dir, commitRootOf)._2.head._2
    val bucketDir = new java.io.File(s"$dir/$rel")
    val pq = bucketDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(pq.getAbsolutePath),
      spark.sparkContext.hadoopConfiguration))
    try rdr.getFooter.getBlocks.asScala.exists(_.getColumns.asScala.exists(c =>
      c.getPath.toDotString == "ext" && c.getBloomFilterOffset >= 0L))
    finally rdr.close()
  }

  private def scanFiles(df: DataFrame): Int = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            f.fileIndex.inputFiles.length
        }
    }.sum
  }

  test("equality on a bloom column plans a near-minimal file set; results exact") {
    val dir = tmpDir("bloom") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 8, bloomCols = Seq("ext"))
    sink.merge(rows(0L until 512L), Seq("id"), "seq", "is_delete")

    val t = spark.read.format("graft-snapshot").load(dir)
    assert(scanFiles(t) == 8, "no predicate reads every bucket")

    // a present value: its own bucket plus ≈0.1% false positives — with 8
    // buckets, ≥2 admitted files would already be a 3-in-1000 accident, so
    // pin ≤2 and exactness of the result
    val hit = t.filter($"ext" === "e37")
    assert(scanFiles(hit) <= 2, s"bloom should skip most buckets, got ${scanFiles(hit)}")
    assert(hit.select("id").collect().map(_.getLong(0)).toSeq == Seq(37L))

    // an absent value: every bucket's filter rejects (modulo FPs) and the
    // residual predicate guarantees zero rows regardless
    val miss = t.filter($"ext" === "nope")
    assert(scanFiles(miss) <= 1, s"absent value should plan ~0 files, got ${scanFiles(miss)}")
    assert(miss.count() == 0L)

    // min/max stats could never have pruned this: the ext values
    // hash-scatter, which is exactly the gap the bloom covers
  }

  test("no false negatives: every stored value is admitted by its bucket's filter") {
    val dir = tmpDir("bloomfn") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 8, bloomCols = Seq("ext"))
    sink.merge(rows(0L until 256L), Seq("id"), "seq", "is_delete")
    val t = spark.read.format("graft-snapshot").load(dir)
    // the residual filter re-checks everything, so a false NEGATIVE (a
    // wrongly skipped bucket) is the only way to lose rows — probe every
    // value through the full DSv2 path
    val found = (0L until 256L).count { i =>
      t.filter($"ext" === s"e$i").count() == 1L
    }
    assert(found == 256, s"bloom pruning lost rows: $found/256 found")
  }

  test("blooms carry across merges; fresh buckets get fresh filters") {
    val dir = tmpDir("bloomc") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 8, bloomCols = Seq("ext"))
    sink.merge(rows(0L until 256L), Seq("id"), "seq", "is_delete")
    // second commit touches a handful of buckets only
    sink.merge(rows(Seq(1000L, 1001L), tag = "n"), Seq("id"), "seq", "is_delete")
    val v1 = sink.currentVersion.get
    val blooms = SnapshotParquetSink.manifestBlooms(dir, v1)
    assert(blooms.size == 8, "every bucket keeps a bloom line after the merge")
    // invariant vacuum reachability relies on: an f line references the
    // same commit root as its bucket's b entry
    val entries = SnapshotParquetSink.manifest(dir, v1)._2
    blooms.foreach { case (b, cols) =>
      val entryRoot = entries(b).substring(0, entries(b).indexOf("/__bucket="))
      cols.values.foreach { case (_, rel) =>
        assert(rel.startsWith(entryRoot + "/"),
          s"bucket $b bloom $rel not under its entry root $entryRoot")
      }
    }
    val t = spark.read.format("graft-snapshot").load(dir)
    // values from BOTH commits stay findable under pruning
    assert(t.filter($"ext" === "e37").count() == 1L)
    assert(t.filter($"ext" === "n1000").count() == 1L)
    assert(scanFiles(t.filter($"ext" === "e37")) <= 2)
  }

  test("saturation cap: an over-full bucket records no sidecar and stays readable") {
    val dir = tmpDir("bloomsat") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 1, bloomCols = Seq("ext"))
    // 1.3× the cap: comfortably past the skip threshold even under the
    // fill-based distinct ESTIMATE's ±1% band
    val n = (BloomIndex.MaxDistinct * 13L / 10L).toInt
    sink.merge(
      spark.range(n.toLong).select(col("id"), lit(0L).as("seq"),
        concat(lit("e"), col("id")).as("ext"), lit(false).as("is_delete")),
      Seq("id"), "seq", "is_delete")
    assert(SnapshotParquetSink.manifestBlooms(dir, 0L).isEmpty,
      "a bucket over MaxDistinct must record NO filter (it would saturate)")
    val t = spark.read.format("graft-snapshot").load(dir)
    assert(t.filter($"ext" === "e12345").count() == 1L)
    assert(scanFiles(t.filter($"ext" === "e12345")) == 1, "absence = no pruning")
  }

  test("parquet-native blooms are EVIDENCE-GATED: off until a saturated bucket, on after") {
    // the sidecar layer covers every bucket up to MaxDistinct; the
    // in-file row-group filters only prune where a bucket outgrew it, so
    // a healthy-layout commit must not pay the native write (measured
    // ~0.21x bulk-commit overhead). Evidence = a bloom-declared bucket
    // with no sidecar line in the PRIOR manifest: commit 1 on a fresh
    // table writes no native filters even though its bucket saturates;
    // commit 2 sees the saturation marker and writes them.
    val dir = tmpDir("bloomgate") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 1, bloomCols = Seq("ext"))
    val n = (BloomIndex.MaxDistinct * 13L / 10L).toInt
    def batch(seq: Long) =
      spark.range(n.toLong).select(col("id"), lit(seq).as("seq"),
        concat(lit("e"), col("id")).as("ext"), lit(false).as("is_delete"))
    sink.merge(batch(0L), Seq("id"), "seq", "is_delete")
    assert(SnapshotParquetSink.manifestBlooms(dir, 0L).isEmpty) // saturated
    assert(!nativeBloomUnder(dir, 0L),
      "no prior saturation evidence — commit 1 must not pay the native write")
    sink.merge(batch(1L), Seq("id"), "seq", "is_delete")
    assert(nativeBloomUnder(dir, 1L),
      "prior manifest shows a sidecar-less bloom bucket — commit 2 must go native")
    // and a healthy table (sidecars present) never pays it
    val hDir = tmpDir("bloomgate_h") + "/t"
    val hSink = new SnapshotParquetSink(hDir, nBuckets = 1, bloomCols = Seq("ext"))
    def small(seq: Long) = spark.range(64L).select(col("id"), lit(seq).as("seq"),
      concat(lit("e"), col("id")).as("ext"), lit(false).as("is_delete"))
    hSink.merge(small(0L), Seq("id"), "seq", "is_delete")
    hSink.merge(small(1L), Seq("id"), "seq", "is_delete")
    assert(!nativeBloomUnder(hDir, 1L),
      "sidecars cover the bucket — the native layer must stay gated off")
  }

  test("rebucket gates natives on the NEW geometry, not the prior manifest") {
    // rebucket re-partitions values, so prior saturation evidence
    // describes buckets that no longer exist. The rewrite decides from
    // the re-routed per-bucket ROW counts (rows ≤ MaxDistinct ⇒ no
    // column can saturate): a shrink that saturates its new buckets
    // writes natives IMMEDIATELY (prior manifest was all-healthy — the
    // old prior-evidence gate shipped it native-less AND sidecar-less),
    // and a grow that de-saturates skips them (prior manifest evidences
    // saturation the new layout no longer has).
    val n = (BloomIndex.MaxDistinct * 13L / 10L).toInt
    def batch(seq: Long) =
      spark.range(n.toLong).select(col("id"), lit(seq).as("seq"),
        concat(lit("e"), col("id")).as("ext"), lit(false).as("is_delete"))
    // shrink: 4 healthy ~21k-row buckets -> 1 saturated ~85k-row bucket
    val sDir = tmpDir("rebloom_s") + "/t"
    val sSink = new SnapshotParquetSink(sDir, nBuckets = 4, bloomCols = Seq("ext"))
    sSink.merge(batch(0L), Seq("id"), "seq", "is_delete")
    assert(SnapshotParquetSink.manifestBlooms(sDir, 0L).nonEmpty, "healthy start")
    val sv = sSink.rebucket(spark, 1)
    assert(SnapshotParquetSink.manifestBlooms(sDir, sv).isEmpty, "now saturated")
    assert(nativeBloomUnder(sDir, sv),
      "the shrunk bucket outgrew the sidecar — the rewrite itself must go native")
    // grow: 1 saturated bucket -> 4 healthy buckets
    val gDir = tmpDir("rebloom_g") + "/t"
    val gSink = new SnapshotParquetSink(gDir, nBuckets = 1, bloomCols = Seq("ext"))
    gSink.merge(batch(0L), Seq("id"), "seq", "is_delete")
    assert(SnapshotParquetSink.manifestBlooms(gDir, 0L).isEmpty, "saturated start")
    val gv = gSink.rebucket(spark, 4)
    assert(SnapshotParquetSink.manifestBlooms(gDir, gv).nonEmpty,
      "the grown layout is sidecar-covered again")
    assert(!nativeBloomUnder(gDir, gv),
      "no new bucket can saturate — the rewrite must not pay the native write")
  }

  test("schema evolution: type-widening migration and non-bigint literals stay consistent") {
    val dir = tmpDir("bloomev") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 8, bloomCols = Seq("ext"))
    // ext stored as INT — the recorded sidecar type must say so, and an
    // equality with a BIGINT literal (what SQL pushes after implicit casts)
    // must hash under the STORED type to find the row
    sink.merge(
      (0L until 64L).map(i => (i, 0L, i.toInt * 7, false)).toDF("id", "seq", "ext", "is_delete"),
      Seq("id"), "seq", "is_delete")
    assert(SnapshotParquetSink.manifestBlooms(dir, 0L)
      .values.flatMap(_.get("ext")).map(_._1).toSet == Set("int"))
    val t0 = spark.read.format("graft-snapshot").load(dir)
    assert(t0.filter($"ext" === 7L * 37L).count() == 1L)
    assert(scanFiles(t0.filter($"ext" === 7L * 37L)) <= 2)

    // the format's widening path is the truncate-and-load migration
    // (replaceAll, the SchemaEvolution contract) — ONE fresh commit whose
    // sidecars all recompute under the widened type
    sink.replaceAll(
      (0L until 64L).map(i => (i, 1L, i * 7, false)).toDF("id", "seq", "ext", "is_delete"),
      Seq("id"), "seq", "is_delete")
    val types = SnapshotParquetSink.manifestBlooms(dir, 1L)
      .values.flatMap(_.get("ext")).map(_._1).toSet
    assert(types == Set("bigint"), s"migrated sidecars must record the new type: $types")
    val t = spark.read.format("graft-snapshot").load(dir)
    val found = (0L until 64L).count(i => t.filter($"ext" === 7L * i).count() == 1L)
    assert(found == 64, s"widening migration cost rows: $found/64")
    assert(scanFiles(t.filter($"ext" === 7L * 37L)) <= 2)
  }

  test("compact and purge copy sidecars; vacuum never strands them; rebucket recomputes") {
    val dir = tmpDir("bloomlc") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 8, bloomCols = Seq("ext"))
    sink.merge(rows(0L until 256L), Seq("id"), "seq", "is_delete")
    sink.merge(rows(Seq(300L), tag = "x"), Seq("id"), "seq", "is_delete")
    sink.compact(spark)
    sink.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    val t = spark.read.format("graft-snapshot").load(dir)
    assert(t.filter($"ext" === "e37").count() == 1L)
    assert(scanFiles(t.filter($"ext" === "e37")) <= 2,
      "pruning must survive compact + vacuum (sidecars copied, not stranded)")

    // purge: delete a row below the horizon, purge, blooms still safe
    sink.merge(Seq((37L, 10L, "e37", true)).toDF("id", "seq", "ext", "is_delete"),
      Seq("id"), "seq", "is_delete")
    sink.purgeTombstones(spark, horizonSeq = 10L)
    sink.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    val t2 = spark.read.format("graft-snapshot").load(dir)
    assert(t2.filter($"ext" === "e37" && !col("__is_deleted")).count() == 0L)
    assert(t2.filter($"ext" === "e38").count() == 1L)

    // rebucket re-routes values — filters must be recomputed, not copied
    val v = sink.rebucket(spark, 16)
    assert(SnapshotParquetSink.manifestBlooms(dir, v).nonEmpty)
    sink.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    val t3 = spark.read.format("graft-snapshot").load(dir)
    assert(t3.filter($"ext" === "e41").count() == 1L)
    assert(scanFiles(t3.filter($"ext" === "e41")) <= 3,
      "recomputed filters keep pruning under the new layout")
  }

  test("IN predicates prune: key IN routes to the union of buckets, bloom IN tests each value") {
    val dir = tmpDir("bloomin") + "/t"
    val sink = new SnapshotParquetSink(dir, nBuckets = 8, bloomCols = Seq("ext"))
    sink.merge(rows(0L until 512L), Seq("id"), "seq", "is_delete")
    val t = spark.read.format("graft-snapshot").load(dir)

    // batched point lookup on the merge key: ≤3 of 8 buckets planned
    val keyIn = t.filter($"id".isin(7L, 19L, 130L))
    assert(scanFiles(keyIn) <= 3, s"key IN must route to the values' buckets, got ${scanFiles(keyIn)}")
    assert(keyIn.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 19L, 130L))

    // IN on the bloom column: any-admitted semantics, ≤3 buckets + FP slack
    val extIn = t.filter($"ext".isin("e7", "e19", "e130"))
    assert(scanFiles(extIn) <= 4, s"bloom IN should skip non-candidate buckets, got ${scanFiles(extIn)}")
    assert(extIn.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 19L, 130L))

    // absent values: near-zero files, zero rows; a null element is ignored
    val extMiss = t.filter($"ext".isin("nope1", "nope2"))
    assert(scanFiles(extMiss) <= 1)
    assert(extMiss.count() == 0L)
    assert(t.filter($"id".isin(7L, 19L) && $"ext".isin("e7", "zzz")).count() == 1L)
  }

  test("bloom backfill: bulk-load plain, then one compact with a bloom handle indexes it") {
    val dir = tmpDir("bloombf") + "/t"
    // the fast initial load: no bloom pass
    new SnapshotParquetSink(dir, nBuckets = 8)
      .merge(rows(0L until 256L), Seq("id"), "seq", "is_delete")
    assert(SnapshotParquetSink.manifestBlooms(dir, 0L).isEmpty)
    // the OPTIMIZE-with-index pass
    val indexer = new SnapshotParquetSink(dir, nBuckets = 8, bloomCols = Seq("ext"))
    val v = indexer.compact(spark)
    assert(SnapshotParquetSink.manifestBlooms(dir, v).size == 8)
    val t = spark.read.format("graft-snapshot").load(dir)
    assert(t.filter($"ext" === "e37").count() == 1L)
    assert(scanFiles(t.filter($"ext" === "e37")) <= 2)
    // and forTable handles now self-align with the backfilled bloom cols
    SnapshotParquetSink.forTable(dir)
      .merge(rows(Seq(999L), tag = "z"), Seq("id"), "seq", "is_delete")
    assert(SnapshotParquetSink.manifestBlooms(dir, v + 1).size == 8)
    assert(spark.read.format("graft-snapshot").load(dir)
      .filter($"ext" === "z999").count() == 1L)
  }

  test("one sidecar builder: backfill compact and rebucket write a merge's sidecar bytes") {
    // some null ext values too: a null sets no bit on any build path
    val batch = spark.range(3000).select(col("id"), lit(0L).as("seq"),
      when(col("id") % 50 =!= 0, concat(lit("e"), col("id"))).as("ext"),
      lit(false).as("is_delete"))
    def sidecars(dir: String, v: Long): Map[(Int, String), Seq[Byte]] =
      SnapshotParquetSink.manifestBlooms(dir, v).toSeq.flatMap { case (b, cols) =>
        cols.toSeq.map { case (c, (ddl, rel)) =>
          (b, ddl) -> java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$dir/$rel")).toSeq
        }
      }.toMap
    // the reference: a bloom-declared merge of the rows at 8 buckets
    val mDir = tmpDir("bloom1_m") + "/t"
    new SnapshotParquetSink(mDir, nBuckets = 8, bloomCols = Seq("ext"))
      .merge(batch, Seq("id"), "seq", "is_delete")
    val want = sidecars(mDir, 0L)
    assert(want.size == 8)
    // backfill: a plain load, then one compact through a bloom handle
    val cDir = tmpDir("bloom1_c") + "/t"
    new SnapshotParquetSink(cDir, nBuckets = 8).merge(batch, Seq("id"), "seq", "is_delete")
    val cv = new SnapshotParquetSink(cDir, nBuckets = 8, bloomCols = Seq("ext")).compact(spark)
    assert(sidecars(cDir, cv) == want)
    // rebucket: the same rows loaded at 4 buckets, re-routed to 8
    val rDir = tmpDir("bloom1_r") + "/t"
    val r = new SnapshotParquetSink(rDir, nBuckets = 4, bloomCols = Seq("ext"))
    r.merge(batch, Seq("id"), "seq", "is_delete")
    val rv = r.rebucket(spark, 8)
    assert(sidecars(rDir, rv) == want)
  }

  test("forTable and SQL writes preserve the bloom layout") {
    val dir = tmpDir("bloomsql") + "/t"
    new SnapshotParquetSink(dir, nBuckets = 8, bloomCols = Seq("ext"))
      .merge(rows(0L until 128L), Seq("id"), "seq", "is_delete")
    // a SQL writer names nothing — it must keep recording blooms for the
    // buckets it rewrites
    rows(Seq(500L), tag = "s").write.format("graft-snapshot").mode("append").save(dir)
    val v = SnapshotParquetSink.versions(dir).last
    assert(SnapshotParquetSink.manifestBlooms(dir, v).size == 8)
    val t = spark.read.format("graft-snapshot").load(dir)
    assert(t.filter($"ext" === "s500").count() == 1L)
    assert(scanFiles(t.filter($"ext" === "s500")) <= 2)
  }
}
