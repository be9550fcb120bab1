package graft

import java.io.{File, PrintWriter}
import org.apache.spark.sql.functions._
import graft.cdc.CdcPipeline
import graft.model.TableSpec
import graft.queries.Cdc
import graft.sink.{DeleteMode, SnapshotParquetSink}
import graft.streaming.{CdcStream, CdcStreamSpec, SchemaEvolution, StartFrom}

/** Streaming harness (SURVEY §5.4): file-source replay of the CDC fixtures,
  * checkpoint recovery, AtTime replay, schema-evolution restart, watermark
  * late-data drop. No oracle — these are the engine-only semantics.
  */
class CdcStreamingSpec extends SparkSpec {

  private lazy val fixtureLines =
    scala.io.Source.fromFile(Cdc.Fixtures.eventsPath).getLines().toVector

  /** MemoryStream-backed [[graft.streaming.CdcSource]]: the proof that the
    * pipeline is transport-agnostic — what a Kafka source would be, minus
    * the broker. Envelope documents arrive as raw JSON strings and parse
    * against the inferred schema, exactly like a Kafka `value` column.
    */
  final class MemoryCdcSource(spark: org.apache.spark.sql.SparkSession)
      extends graft.streaming.CdcSource {
    private val buffer = scala.collection.mutable.ArrayBuffer[String]()
    private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val mem =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    def add(lines: Seq[String]): Unit = { buffer ++= lines; mem.addData(lines); () }
    override def inferSchema(spark: org.apache.spark.sql.SparkSession) =
      spark.read.json(spark.createDataset(buffer.toSeq)).schema
    override def stream(spark: org.apache.spark.sql.SparkSession,
        schema: org.apache.spark.sql.types.StructType) =
      mem.toDF().select(from_json(col("value"), schema).as("e")).select("e.*")
    override def batch(spark: org.apache.spark.sql.SparkSession) =
      spark.read.json(spark.createDataset(buffer.toSeq))
  }

  private def writeChunk(dir: String, name: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(new File(dir, name), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  private def ordersSpec: TableSpec =
    TableSpec.loadCsv(Cdc.Fixtures.columnsPath)("shop.orders")

  /** Expected state = the batch pipeline over the same data (Q61/Q62). */
  private def expectedKeys(inputDir: String): Set[String] =
    CdcPipeline.materialize(CdcPipeline.readBatch(spark, inputDir), ordersSpec)
      .select("primary_key").collect().map(_.getString(0)).toSet

  test("streamed micro-batches converge to the batch materialization") {
    val in = tmpDir("cdc_in"); val ckpt = tmpDir("cdc_ckpt")
    val sinkDir = tmpDir("cdc_sink") + "/orders"
    val chunks = fixtureLines.grouped(600).toSeq
    writeChunk(in, "part0.jsonl", chunks.head)
    val sink = new SnapshotParquetSink(sinkDir)
    val spec = CdcStreamSpec(in, ckpt, ordersSpec, sink)
    val q = CdcStream.start(spark, spec)
    try {
      q.processAllAvailable()
      chunks.tail.zipWithIndex.foreach { case (c, i) =>
        writeChunk(in, s"part${i + 1}.jsonl", c)
        q.processAllAvailable()
      }
    } finally { q.stop(); q.awaitTermination() }
    val got = sink.read(spark, DeleteMode.Hard).select("primary_key")
      .collect().map(_.getString(0)).toSet
    assert(got == expectedKeys(in))
  }

  test("checkpoint recovery: kill between batches, restart, exactly-once state") {
    val in = tmpDir("cdc_in"); val ckpt = tmpDir("cdc_ckpt")
    val sinkDir = tmpDir("cdc_sink") + "/orders"
    val chunks = fixtureLines.grouped(900).toSeq
    writeChunk(in, "part0.jsonl", chunks.head)
    val sink = new SnapshotParquetSink(sinkDir)
    val spec = CdcStreamSpec(in, ckpt, ordersSpec, sink)

    val q1 = CdcStream.start(spark, spec)
    try q1.processAllAvailable() finally { q1.stop(); q1.awaitTermination() }

    chunks.tail.zipWithIndex.foreach { case (c, i) => writeChunk(in, s"part${i + 1}.jsonl", c) }
    val q2 = CdcStream.start(spark, spec) // same checkpoint → resumes
    try q2.processAllAvailable() finally { q2.stop(); q2.awaitTermination() }

    val got = sink.read(spark, DeleteMode.Hard).select("primary_key")
      .collect().map(_.getString(0)).toSet
    assert(got == expectedKeys(in))
  }

  test("snapshot bootstrap: initial extract + partial-history stream converge gap-free") {
    // History split: the extract covers lines [0, 1200); the stream only
    // ever sees lines [900, end) — a 300-line overlap and an 900-line gap
    // the snapshot alone must supply. Converging to the full-history batch
    // materialization proves the handoff is gap-free and overlap-idempotent
    // (replayed events at-or-below the snapshot's seq lose last-write-wins).
    val snapIn = tmpDir("cdc_snap_src"); val in = tmpDir("cdc_in")
    val ckpt = tmpDir("cdc_ckpt"); val sinkDir = tmpDir("cdc_sink") + "/orders"
    writeChunk(snapIn, "full.jsonl", fixtureLines.take(1200))
    writeChunk(in, "tail.jsonl", fixtureLines.drop(900))
    val snapshot = CdcPipeline.materialize(CdcPipeline.readBatch(spark, snapIn), ordersSpec)
    val sink = new SnapshotParquetSink(sinkDir)
    val q = CdcStream.bootstrap(spark, CdcStreamSpec(in, ckpt, ordersSpec, sink), snapshot)
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    val got = sink.read(spark, DeleteMode.Hard).select("primary_key")
      .collect().map(_.getString(0)).toSet
    val full = tmpDir("cdc_full")
    writeChunk(full, "all.jsonl", fixtureLines)
    assert(got == expectedKeys(full))
  }

  test("snapshot sink streams: micro-batch commits version history, replay stays exactly-once") {
    val in = tmpDir("cdc_in"); val ckpt = tmpDir("cdc_ckpt")
    val sinkDir = tmpDir("cdc_snap") + "/orders"
    val chunks = fixtureLines.grouped(900).toSeq
    writeChunk(in, "part0.jsonl", chunks.head)
    val sink = new SnapshotParquetSink(sinkDir, nBuckets = 8)
    val spec = CdcStreamSpec(in, ckpt, ordersSpec, sink)

    val q1 = CdcStream.start(spark, spec)
    try q1.processAllAvailable() finally { q1.stop(); q1.awaitTermination() }
    val afterFirst = sink.currentVersion.get

    // kill-and-restart on the same checkpoint: replayed micro-batches may
    // commit MORE versions, but last-write-wins keeps content exactly-once
    chunks.tail.zipWithIndex.foreach { case (c, i) => writeChunk(in, s"part${i + 1}.jsonl", c) }
    val q2 = CdcStream.start(spark, spec)
    try q2.processAllAvailable() finally { q2.stop(); q2.awaitTermination() }

    val got = sink.read(spark, DeleteMode.Hard).select("primary_key")
      .collect().map(_.getString(0)).toSet
    assert(got == expectedKeys(in))
    // the sink kept the whole commit history: the first streamed version is
    // still time-travel-readable after later micro-batches superseded it
    assert(sink.versions.head == 0L && sink.currentVersion.get > afterFirst)
    assert(sink.readAt(spark, afterFirst, DeleteMode.Hard).count() > 0)
  }

  test("cross-table consistent read: the lagging replica's state IS the log replayed to the cut") {
    // Two per-table streams replicate independently: orders sees the whole
    // log, customers lags (only the first 901 lines ever arrive). The
    // consistent cutoff = min of the applied heads READ OFF THE SINKS
    // (logical mode keeps tombstones, so max(seq) is the last applied
    // event), and readAllAsOf over the retained log at that cut must
    // reproduce the lagging replica's materialized state exactly — the
    // operator a consumer uses to get a transaction-consistent multi-table
    // view without waiting for every replica to catch up.
    val inO = tmpDir("cr_in_o"); val inC = tmpDir("cr_in_c")
    val full = tmpDir("cr_full")
    val sinkO = new SnapshotParquetSink(tmpDir("cr_s_o") + "/t")
    val sinkC = new SnapshotParquetSink(tmpDir("cr_s_c") + "/t")
    val customersSpec = TableSpec.loadCsv(Cdc.Fixtures.columnsPath)("shop.customers")
    writeChunk(inO, "all.jsonl", fixtureLines)
    writeChunk(inC, "part0.jsonl", fixtureLines.take(901))
    writeChunk(full, "all.jsonl", fixtureLines)
    for ((in, sp, sink) <- Seq((inO, ordersSpec, sinkO), (inC, customersSpec, sinkC))) {
      val q = CdcStream.start(spark, CdcStreamSpec(in, tmpDir("cr_ck") + s"/${sp.fullTableName}", sp, sink))
      try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    }
    def head(sink: SnapshotParquetSink): Long =
      sink.read(spark, DeleteMode.Logical).agg(max("seq")).head().getLong(0)
    val heads = Map("shop.orders" -> head(sinkO), "shop.customers" -> head(sinkC))
    val cut = CdcPipeline.consistentCutoff(heads)
    assert(cut == heads("shop.customers") && cut <= 900L)
    assert(heads("shop.orders") > cut, "orders must actually be ahead for the test to bite")

    val env = CdcPipeline.readBatch(spark, full)
    val cons = CdcPipeline.readAllAsOf(env, Seq(ordersSpec, customersSpec), cut)
    def state(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.select("primary_key", "seq").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    // the lagging replica's state == the consistent view of its table
    assert(state(sinkC.read(spark, DeleteMode.Hard)) == state(cons("shop.customers")))
    // the fast replica at its own head is NOT the consistent view — the cut
    // rolls it back (this is the skew q66f quantifies)
    assert(state(sinkO.read(spark, DeleteMode.Hard)) != state(cons("shop.orders")))
    // and every row in the consistent view respects the cutoff
    assert(cons.values.forall(df => df.filter(col("seq") > cut).isEmpty))
  }

  test("seq-aligned catalog commit over lagging fan-out streams == log replayed to the cut") {
    import graft.sink.SnapshotCatalog
    // both tables stream from the SAME multiplexed feed into catalog
    // member tables; customers lags (only the first file ever arrives).
    // cut = 899, the boundary of the file both streams fully consumed —
    // commitAligned must pin each table at a version whose state equals
    // stateAsOf(899), from manifest metadata alone.
    val inO = tmpDir("al_in_o"); val inC = tmpDir("al_in_c")
    val catDir = tmpDir("al_cat") + "/c"
    val cat = new SnapshotCatalog(catDir)
    val customersSpec = TableSpec.loadCsv(Cdc.Fixtures.columnsPath)("shop.customers")
    writeChunk(inO, "b0.jsonl", fixtureLines.take(900)) // seq 0..899
    writeChunk(inC, "b0.jsonl", fixtureLines.take(900))
    for ((in, sp, name) <- Seq((inO, ordersSpec, "orders"), (inC, customersSpec, "customers"))) {
      val sink = cat.table(name, nBuckets = 4)
      val q = CdcStream.start(spark,
        CdcStreamSpec(in, tmpDir("al_ck") + s"/$name", sp, sink))
      try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    }
    // orders races ahead with a second file; customers never sees it
    writeChunk(inO, "b1.jsonl", fixtureLines.drop(900))
    val q2 = CdcStream.start(spark,
      CdcStreamSpec(inO, tmpDir("al_ck") + "/orders", ordersSpec, cat.table("orders", 4)))
    try q2.processAllAvailable() finally { q2.stop(); q2.awaitTermination() }

    val v = cat.commitAligned(Seq("orders", "customers"), cut = 899L)
    val view = cat.readAllAt(spark, v)
    val full = tmpDir("al_full")
    writeChunk(full, "all.jsonl", fixtureLines)
    val env = CdcPipeline.readBatch(spark, full)
    def state(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.select("primary_key", "seq").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(state(view("orders")) ==
      state(CdcPipeline.stateAsOf(env, ordersSpec, 899L)))
    assert(state(view("customers")) ==
      state(CdcPipeline.stateAsOf(env, customersSpec, 899L)))
    // orders' unpinned head commit is beyond the cut, and visible only at
    // its own head — not through the aligned catalog version
    assert(state(cat.table("orders", 4).read(spark, graft.sink.DeleteMode.Hard)) !=
      state(view("orders")))
    // a cut below every recorded head refuses loudly
    val e = intercept[IllegalArgumentException] {
      cat.commitAligned(Seq("orders", "customers"), cut = 1L)
    }
    assert(e.getMessage.contains("no version at or below"))
  }

  test("CdcSource seam: the same pipeline runs over a memory transport (Kafka swap-in shape)") {
    val ckpt = tmpDir("cdc_ckpt")
    val sinkDir = tmpDir("cdc_sink") + "/orders"
    val chunks = fixtureLines.grouped(900).toSeq
    val src = new MemoryCdcSource(spark)
    src.add(chunks.head)
    val sink = new SnapshotParquetSink(sinkDir)
    val spec = CdcStreamSpec("", ckpt, ordersSpec, sink, source = Some(src))
    val q = CdcStream.start(spark, spec)
    try {
      q.processAllAvailable()
      chunks.tail.foreach { c => src.add(c); q.processAllAvailable() }
    } finally { q.stop(); q.awaitTermination() }
    val got = sink.read(spark, DeleteMode.Hard).select("primary_key")
      .collect().map(_.getString(0)).toSet
    // same convergence target as the file transport: the batch pipeline
    // over the full fixture (computed via the source's own batch replay)
    val expected = CdcPipeline.materialize(src.batch(spark), ordersSpec)
      .select("primary_key").collect().map(_.getString(0)).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("Kafka semantics: out-of-order cross-partition delivery converges to the batch state (R1)") {
    // two-partition topic: fixture events split by parity, so seqs
    // interleave adversarially across partitions (per-partition order
    // holds, cross-partition arrival order is NOT seq order — the Kafka
    // ordering contract, README.md:12,16). State must converge regardless.
    import graft.streaming.KafkaLikeSource
    val ckpt = tmpDir("cdc_kckpt")
    val sinkDir = tmpDir("cdc_ksink") + "/orders"
    val src = new KafkaLikeSource(spark, nPartitions = 2)
    fixtureLines.zipWithIndex.foreach { case (l, i) => src.publish(i % 2, l) }
    val sink = new SnapshotParquetSink(sinkDir)
    val spec = CdcStreamSpec("", ckpt, ordersSpec, sink, source = Some(src))
    val q = CdcStream.start(spark, spec)
    try {
      // small delivery slices force many interleaved micro-batches
      while (src.deliverAvailable(maxPerPartition = 200) > 0) q.processAllAvailable()
    } finally { q.stop(); q.awaitTermination() }
    val got = sink.read(spark, DeleteMode.Hard).select("primary_key")
      .collect().map(_.getString(0)).toSet
    val expected = CdcPipeline.materialize(src.batch(spark), ordersSpec)
      .select("primary_key").collect().map(_.getString(0)).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("Kafka semantics: rebalance replay from committed offsets is idempotent (R1)") {
    import graft.streaming.KafkaLikeSource
    val ckpt = tmpDir("cdc_krckpt")
    val sinkDir = tmpDir("cdc_krsink") + "/orders"
    val src = new KafkaLikeSource(spark, nPartitions = 2)
    fixtureLines.zipWithIndex.foreach { case (l, i) => src.publish(i % 2, l) }
    val sink = new SnapshotParquetSink(sinkDir)
    val spec = CdcStreamSpec("", ckpt, ordersSpec, sink, source = Some(src))
    val q = CdcStream.start(spark, spec)
    try {
      src.deliverAvailable(maxPerPartition = 400)
      q.processAllAvailable()
      src.commit() // offsets durable up to here
      src.deliverAvailable(maxPerPartition = 300) // delivered, NOT committed
      q.processAllAvailable()
      val afterFirstPass = sink.read(spark, DeleteMode.Hard).count()
      // consumer crash + rebalance: the uncommitted slice re-delivers —
      // at-least-once duplicates the seq-idempotent merge must absorb
      src.rebalance()
      src.deliverAvailable(maxPerPartition = 300)
      q.processAllAvailable()
      assert(sink.read(spark, DeleteMode.Hard).count() == afterFirstPass,
        "replayed uncommitted records must change nothing")
      // drain the rest and converge to the batch materialization
      while (src.deliverAvailable() > 0) q.processAllAvailable()
    } finally { q.stop(); q.awaitTermination() }
    val got = sink.read(spark, DeleteMode.Hard).select("primary_key")
      .collect().map(_.getString(0)).toSet
    val expected = CdcPipeline.materialize(src.batch(spark), ordersSpec)
      .select("primary_key").collect().map(_.getString(0)).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("mid-batch crash over the snapshot sink: replayed batch over an unpublished commit = exactly-once") {
    import spark.implicits._
    val in = tmpDir("cdc_in"); val ckpt = tmpDir("cdc_ckpt")
    val sinkDir = tmpDir("cdc_sink") + "/orders"
    val chunks = fixtureLines.grouped(900).toSeq
    writeChunk(in, "part0.jsonl", chunks.head)
    val sink = new SnapshotParquetSink(sinkDir, nBuckets = 8)
    val spec = CdcStreamSpec(in, ckpt, ordersSpec, sink)

    val q1 = CdcStream.start(spark, spec)
    try q1.processAllAvailable() finally { q1.stop(); q1.awaitTermination() }

    // Simulate a crash DURING the last micro-batch's commit window — the
    // sink merge ran but the checkpoint commit marker never landed — by
    // deleting the newest commit file: the restarted query must REPLAY that
    // batch into the sink a second time (foreachBatch is at-least-once; the
    // exactly-once effect is the sink's idempotent merge).
    val commits = new File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    // the local FS keeps a hidden checksum twin; leaving it behind makes the
    // re-commit's rename fail as if another query owned the checkpoint
    new File(commits.last.getParentFile, s".${commits.last.getName}.crc").delete()

    // ...and additionally interrupt the sink itself mid-commit: a data root
    // written but never published (the crash point between the data write
    // and the manifest publish) — it must never surface, and the replay
    // commits past it.
    val orphanRoot = s"data/${java.util.UUID.randomUUID()}"
    Seq("orphan").toDF("primary_key").write.parquet(s"$sinkDir/$orphanRoot/__bucket=0")

    chunks.tail.zipWithIndex.foreach { case (c, i) => writeChunk(in, s"part${i + 1}.jsonl", c) }
    val q2 = CdcStream.start(spark, spec) // same checkpoint → replays, continues
    try q2.processAllAvailable() finally { q2.stop(); q2.awaitTermination() }

    val got = sink.read(spark, DeleteMode.Hard).select("primary_key")
      .collect().map(_.getString(0)).toSet
    assert(got == expectedKeys(in))
    assert(!SnapshotParquetSink.manifest(sinkDir, sink.currentVersion.get)._2.values
      .exists(_.startsWith(orphanRoot)))
  }

  test("schema drift report: added, removed, and retyped columns by name") {
    import org.apache.spark.sql.types._
    import graft.inspect.Inspection
    val before = StructType(Seq(
      StructField("id", LongType), StructField("amount", StringType),
      StructField("qty", IntegerType), StructField("gone", StringType)))
    val after = StructType(Seq(
      StructField("id", LongType), StructField("amount", DoubleType),
      StructField("qty", IntegerType), StructField("discount", StringType)))
    val drift = Inspection.schemaDrift(before, after)
      .map(d => (d.column, d.change, d.beforeType, d.afterType))
    assert(drift == Seq(
      ("discount", "added", None, Some("STRING")),
      ("gone", "removed", Some("STRING"), None),
      ("amount", "retyped", Some("STRING"), Some("DOUBLE"))))
    assert(Inspection.schemaDrift(before, before).isEmpty)
  }

  test("AtTime replay filters events before the start point (R18)") {
    val in = tmpDir("cdc_in")
    writeChunk(in, "all.jsonl", fixtureLines)
    val sinkAll = new SnapshotParquetSink(tmpDir("s") + "/a")
    val sinkReplay = new SnapshotParquetSink(tmpDir("s") + "/r")
    CdcStream.backfill(spark, CdcStreamSpec(in, "", ordersSpec, sinkAll))
    // replay from the fixture's midpoint (seq 865 ≈ 2024-02-01 + 865 min)
    val mid = java.sql.Timestamp.from(java.time.Instant.parse("2024-02-01T00:00:00Z")
      .plusSeconds(865 * 60))
    CdcStream.backfill(spark, CdcStreamSpec(in, "", ordersSpec, sinkReplay,
      startFrom = StartFrom.AtTime(mid)))
    val nAll = sinkAll.read(spark, DeleteMode.Hard).count()
    val nReplay = sinkReplay.read(spark, DeleteMode.Hard).count()
    assert(nReplay > 0 && nReplay < nAll)
  }

  test("schema evolution: detect new column, backfill from firstSeen-1min, restart (R19/R23/R24)") {
    val in = tmpDir("cdc_in"); val ckpt = tmpDir("cdc_ckpt")
    val sink = new SnapshotParquetSink(tmpDir("cdc_sink") + "/orders")
    // spec WITHOUT discount — the epoch-2 column is unknown to the pipeline
    val base = ordersSpec
    val withoutDiscount = base.copy(cols = base.cols.filterNot(_.name == "discount"))
    writeChunk(in, "all.jsonl", fixtureLines)
    val spec = CdcStreamSpec(in, ckpt, withoutDiscount, sink)
    val q = CdcStream.start(spark, spec)
    try q.processAllAvailable()
    finally {} // evolveAndRestart stops it
    assert(!sink.read(spark, DeleteMode.Hard).columns.contains("row_discount"))

    val missing = SchemaEvolution.missingColumns(spark, in, withoutDiscount)
    assert(missing.map(_._1) == Seq("discount"))

    val evolved = SchemaEvolution.evolveAndRestart(spark, q, spec, _ => "float8")
    assert(evolved.isDefined)
    val (q2, newSpec) = evolved.get
    try q2.processAllAvailable() finally { q2.stop(); q2.awaitTermination() }
    assert(newSpec.table.colNames.contains("discount"))
    val rows = sink.read(spark, DeleteMode.Hard)
    assert(rows.columns.contains("row_discount"))
    assert(rows.filter(col("row_discount").isNotNull).count() > 0)
  }

  test("type widening: refreshed catalog widens udts, full replay, restart (R23 extension)") {
    val in = tmpDir("widen_in"); val ckpt = tmpDir("widen_ckpt")
    val sink = new SnapshotParquetSink(tmpDir("widen_sink") + "/orders")
    // epoch 1 streams under the ORIGINAL catalog: qty smallint → LONG,
    // created datetime → TIMESTAMP
    writeChunk(in, "part0.jsonl", fixtureLines.take(1500))
    val spec = CdcStreamSpec(in, ckpt, ordersSpec, sink)
    val q = CdcStream.start(spark, spec)
    try q.processAllAvailable()
    finally {} // widenAndRestart stops it
    val narrow = sink.read(spark, DeleteMode.Hard).schema
    assert(narrow("row_qty").dataType == org.apache.spark.sql.types.LongType)
    assert(narrow("row_created").dataType == org.apache.spark.sql.types.TimestampType)

    // catalog refresh: qty → numeric (DOUBLE), created → varchar (STRING)
    val wide = ordersSpec.copy(cols = ordersSpec.cols.map {
      case c if c.name == "qty"     => c.copy(udt = "numeric")
      case c if c.name == "created" => c.copy(udt = "varchar")
      case c                        => c
    })
    assert(SchemaEvolution.typeChanges(ordersSpec, wide).map(_._1) == Seq("qty", "created"))
    val widened = SchemaEvolution.widenAndRestart(spark, q, spec, wide)
    assert(widened.isDefined)
    val (q2, newSpec) = widened.get
    // epoch 2 arrives AFTER the widening took effect
    writeChunk(in, "part1.jsonl", fixtureLines.drop(1500))
    try q2.processAllAvailable() finally { q2.stop(); q2.awaitTermination() }

    // both epochs read back under the widened types...
    val rows = sink.read(spark, DeleteMode.Hard)
    assert(rows.schema("row_qty").dataType == org.apache.spark.sql.types.DoubleType)
    assert(rows.schema("row_created").dataType == org.apache.spark.sql.types.StringType)
    // ...and the state equals the batch materialization under the wide spec
    val full = tmpDir("widen_full")
    writeChunk(full, "all.jsonl", fixtureLines)
    val expected = CdcPipeline.materialize(CdcPipeline.readBatch(spark, full), newSpec.table)
    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
      df.select("primary_key", "row_qty", "row_created").collect()
        .map(r => (r.getString(0), Option(r.get(1)).map(_.toString).orNull,
          r.getString(2))).toSet
    assert(canon(rows) == canon(expected))

    // a NARROWING refresh refuses loudly instead of silently truncating
    val narrowing = ordersSpec.copy(cols = ordersSpec.cols.map {
      case c if c.name == "amount" => c.copy(udt = "int4") // decimal → int
      case c                       => c
    })
    val q3 = CdcStream.start(spark, newSpec)
    try {
      val e = intercept[IllegalArgumentException] {
        SchemaEvolution.widenAndRestart(spark, q3, newSpec, narrowing)
      }
      assert(e.getMessage.contains("not a widening"))
    } finally { q3.stop(); q3.awaitTermination() }
  }

  test("orchestrator: fan-out per discovered table, exclude + idempotence (R30/R32)") {
    import graft.streaming.CdcOrchestrator
    val in = tmpDir("orch_in")
    writeChunk(in, "all.jsonl", fixtureLines)
    val sinkRoot = tmpDir("orch_sink"); val ckptRoot = tmpDir("orch_ckpt")
    val include = Seq("shop.orders", "shop.customers", "shop.audit_log", "crm.leads")
    var running = CdcOrchestrator.addNewTables(
      spark, in, Cdc.Fixtures.columnsPath, sinkRoot, ckptRoot,
      include, exclude = Seq("shop.audit_log"))
    try {
      // audit_log excluded; orders/customers/leads have specs and start
      assert(running.keySet == Set("shop.orders", "shop.customers", "crm.leads"))
      running.values.foreach(_.query.processAllAvailable())
      // R32: re-invoking starts nothing new
      val again = CdcOrchestrator.addNewTables(
        spark, in, Cdc.Fixtures.columnsPath, sinkRoot, ckptRoot,
        include, Seq("shop.audit_log"), running)
      assert(again.keySet == running.keySet &&
        again.values.map(_.query.id).toSet == running.values.map(_.query.id).toSet)
      // every started table materialized rows
      for (t <- running.keys) {
        val sink = running(t).spec.sink
        assert(sink.read(spark, graft.sink.DeleteMode.Hard).count() > 0, t)
      }
    } finally CdcOrchestrator.stopAll(running)
  }

  test("R30/R31 fan-out over the Kafka transport: N tables converge exactly-once across a rebalance") {
    import graft.streaming.{CdcOrchestrator, KafkaLikeSource}
    // ONE multiplexed two-partition topic, N table pipelines fanned out
    // over it — each pipeline its own consumer group (own cursor/commits),
    // the R30 loop (/root/reference/add_output.py:458-561) riding the R1
    // Kafka transport instead of a file listing
    val topic = new KafkaLikeSource(spark, nPartitions = 2)
    fixtureLines.zipWithIndex.foreach { case (l, i) => topic.publish(i % 2, l) }
    val sinkRoot = tmpDir("korch_sink"); val ckptRoot = tmpDir("korch_ckpt")
    val groups = scala.collection.mutable.ArrayBuffer.empty[KafkaLikeSource#Group]
    def consumer(): graft.streaming.CdcSource = {
      val g = topic.group(); groups += g; g
    }
    val include = Seq("shop.orders", "shop.customers", "crm.leads")
    var running = CdcOrchestrator.addNewTablesFromSource(
      spark, () => consumer(), Cdc.Fixtures.columnsPath, sinkRoot, ckptRoot,
      include, exclude = Nil)
    try {
      assert(running.keySet == include.toSet, running.keySet.toString)
      // one consumer group per started pipeline, plus the discovery probe
      val pipelineGroups = groups.takeRight(running.size).toSeq
      def processAll(): Unit = running.values.foreach(_.query.processAllAvailable())
      // wave 1: partial delivery, then COMMIT the group offsets
      pipelineGroups.foreach(_.deliverAvailable(maxPerPartition = 500))
      processAll()
      pipelineGroups.foreach(_.commit())
      // wave 2: delivered but NOT committed
      pipelineGroups.foreach(_.deliverAvailable(maxPerPartition = 300))
      processAll()
      def stateOf(t: String): Set[(String, Long)] =
        running(t).spec.sink.read(spark, DeleteMode.Hard)
          .select("primary_key", "seq").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
      val beforeRebalance = include.map(t => t -> stateOf(t)).toMap
      // REBALANCE FIRED BETWEEN MICRO-BATCHES on every group: the
      // uncommitted slice re-delivers to every pipeline — at-least-once
      // duplicates the per-table seq-idempotent merges must all absorb
      pipelineGroups.foreach(_.rebalance())
      pipelineGroups.foreach(_.deliverAvailable(maxPerPartition = 300))
      processAll()
      include.foreach { t =>
        assert(stateOf(t) == beforeRebalance(t),
          s"$t: redelivered slice across the rebalance changed state")
      }
      // drain the topic; every table converges to its batch materialization
      while (pipelineGroups.map(_.deliverAvailable()).sum > 0) processAll()
      val specs = TableSpec.loadCsv(Cdc.Fixtures.columnsPath)
      include.foreach { t =>
        val got = running(t).spec.sink.read(spark, DeleteMode.Hard)
          .select("primary_key").collect().map(_.getString(0)).toSet
        val expected = CdcPipeline.materialize(topic.group().batch(spark), specs(t))
          .select("primary_key").collect().map(_.getString(0)).toSet
        assert(got == expected && got.nonEmpty, s"$t diverged")
      }
      // R31 over the same transport: no evolution ⇒ every query untouched
      val sameRunIds = running.values.map(_.query.runId).toSet
      running = CdcOrchestrator.updateExistingTables(spark, running)
      assert(running.values.map(_.query.runId).toSet == sameRunIds,
        "R31 pass with no evolution must not restart anything")
      // ...then a REAL evolution lands on the topic mid-run: orders grows
      // loyalty_tier; the R31 pass must stop/backfill/restart ONLY orders
      val ev =
        """{"seq":99991,"ts":"2024-03-01T00:00:00Z","data":{"database_name":"shop","table_name":"orders_part_0","primary_key":"99991","metadata":{"is_delete":false},"row":{"id":"99991","loyalty_tier":"gold"}}}"""
      topic.publish(0, ev)
      pipelineGroups.foreach(_.deliverAvailable())
      processAll()
      running = CdcOrchestrator.updateExistingTables(spark, running)
      // query.id is checkpoint-stable across restarts; runId is per-run
      assert(!sameRunIds.contains(running("shop.orders").query.runId),
        "orders must restart under the evolved spec")
      assert(include.filterNot(_ == "shop.orders").forall(t =>
        sameRunIds.contains(running(t).query.runId)),
        "only the evolved table may restart")
      assert(running("shop.orders").spec.table.colNames.contains("loyalty_tier"))
      val evolved = running("shop.orders").spec.sink
        .read(spark, DeleteMode.Hard)
      assert(evolved.columns.contains("row_loyalty_tier"))
      assert(evolved.filter(col("primary_key") === "99991")
        .select("row_loyalty_tier").head.getString(0) == "gold")
    } finally CdcOrchestrator.stopAll(running)
  }

  test("R30 shared-scan: 3 tables converge from ONE query/consumer; evolution loop still works") {
    import graft.streaming.{CdcOrchestrator, KafkaLikeSource}
    // the scale-safe fan-out shape: one consumer, one streaming query, each
    // micro-batch cached once and routed to N per-table merges — vs the
    // faithful per-table mode where N tables = N full topic reads
    val topic = new KafkaLikeSource(spark, nPartitions = 2)
    fixtureLines.zipWithIndex.foreach { case (l, i) => topic.publish(i % 2, l) }
    val sinkRoot = tmpDir("shscan_sink"); val ckptRoot = tmpDir("shscan_ckpt")
    val groups = scala.collection.mutable.ArrayBuffer.empty[KafkaLikeSource#Group]
    def consumer(): graft.streaming.CdcSource = {
      val g = topic.group(); groups += g; g
    }
    val include = Seq("shop.orders", "shop.customers", "crm.leads")
    var shared = CdcOrchestrator.addNewTablesSharedScan(
      spark, () => consumer(), Cdc.Fixtures.columnsPath, sinkRoot, ckptRoot,
      include, exclude = Nil)
    try {
      assert(shared.specs.keySet == include.toSet, shared.specs.keySet.toString)
      // the STREAM owns exactly one consumer group (created last); the
      // other groups only served driver-side batch probes. Delivering to
      // that ONE group must converge ALL tables — the proof the ingest is
      // one pass over the topic, where the per-table mode needs N
      // deliveries to N groups
      val streamGroup = groups.last
      while (streamGroup.deliverAvailable() > 0) shared.query.processAllAvailable()
      val specs = TableSpec.loadCsv(Cdc.Fixtures.columnsPath)
      def keysOf(t: String): Set[String] =
        shared.specs(t).sink.read(spark, DeleteMode.Hard)
          .select("primary_key").collect().map(_.getString(0)).toSet
      include.foreach { t =>
        val expected = CdcPipeline.materialize(topic.group().batch(spark), specs(t))
          .select("primary_key").collect().map(_.getString(0)).toSet
        assert(keysOf(t) == expected && expected.nonEmpty, s"$t diverged")
      }
      // R32 idempotence: re-invocation with no new tables returns the SAME
      // running query (no restart)
      val runId = shared.query.runId
      shared = CdcOrchestrator.addNewTablesSharedScan(
        spark, () => consumer(), Cdc.Fixtures.columnsPath, sinkRoot, ckptRoot,
        include, exclude = Nil, running = Some(shared))
      assert(shared.query.runId == runId, "idempotent re-invocation restarted")
      // R31 evolution in shared mode: orders grows loyalty_tier — ONE
      // stop/backfill/restart of the shared query, others' data untouched
      val beforeCustomers = keysOf("shop.customers")
      val ev =
        """{"seq":99995,"ts":"2024-03-01T00:00:00Z","data":{"database_name":"shop","table_name":"orders_part_0","primary_key":"99995","metadata":{"is_delete":false},"row":{"id":"99995","loyalty_tier":"gold"}}}"""
      topic.publish(0, ev)
      streamGroup.deliverAvailable()
      shared.query.processAllAvailable()
      shared = CdcOrchestrator.updateExistingTablesShared(spark, shared)
      assert(shared.query.runId != runId, "evolved shared scan must restart")
      assert(shared.specs("shop.orders").table.colNames.contains("loyalty_tier"))
      val evolved = shared.specs("shop.orders").sink.read(spark, DeleteMode.Hard)
      assert(evolved.columns.contains("row_loyalty_tier"))
      assert(evolved.filter(col("primary_key") === "99995")
        .select("row_loyalty_tier").head.getString(0) == "gold")
      assert(keysOf("shop.customers") == beforeCustomers,
        "evolution of orders must not disturb customers")
    } finally {
      shared.query.stop()
      shared.query.awaitTermination()
    }
  }

  test("extra-PK column widens the merge key to (primary_key, row_ext_id) (R13)") {
    import graft.streaming.CdcOrchestrator
    val in = tmpDir("xpk_in")
    // same primary_key "1" under two ext_id values: with the R13 extra PK
    // both survive; without it, last-wins would keep only seq 2
    def ev(seq: Int, pk: String, ext: String) =
      s"""{"seq":$seq,"ts":"2024-02-01T00:0$seq:00Z","data":{"database_name":"shop","table_name":"orders_part_0","primary_key":"$pk","metadata":{"is_delete":false},"row":{"id":"$pk","ext_id":"$ext"}}}"""
    writeChunk(in, "all.jsonl", Seq(ev(1, "1", "a"), ev(2, "1", "b"), ev(3, "2", "a")))
    val sinkRoot = tmpDir("xpk_sink"); val ckptRoot = tmpDir("xpk_ckpt")
    val running = CdcOrchestrator.addNewTables(
      spark, in, Cdc.Fixtures.columnsPath, sinkRoot, ckptRoot,
      include = Seq("shop.orders"), exclude = Nil,
      extraPk = Some(graft.model.ColSpec("ext_id", "varchar", isPrimaryKey = true)))
    try {
      running.values.foreach(_.query.processAllAvailable())
      val spec = running("shop.orders").spec
      assert(spec.mergeKeys == Seq("primary_key", "row_ext_id"))
      assert(spec.table.pkCols.map(_.name).contains("ext_id"))
      val rows = spec.sink.read(spark, graft.sink.DeleteMode.Hard)
        .select("primary_key", "row_ext_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(("1", "a"), ("1", "b"), ("2", "a")))
    } finally CdcOrchestrator.stopAll(running)
  }

  test("extra-PK over a table whose events lack the column degrades to primary key") {
    import graft.streaming.CdcOrchestrator
    val in = tmpDir("xpk2_in")
    writeChunk(in, "all.jsonl", fixtureLines)
    // shop.customers events carry no ext_id field — the stream must still
    // run, merging on primary_key alone instead of crashing on row_ext_id
    val running = CdcOrchestrator.addNewTables(
      spark, in, Cdc.Fixtures.columnsPath, tmpDir("xpk2_sink"), tmpDir("xpk2_ckpt"),
      include = Seq("shop.customers"), exclude = Nil,
      extraPk = Some(graft.model.ColSpec("ext_id", "varchar", isPrimaryKey = true)))
    try {
      running.values.foreach(_.query.processAllAvailable())
      val sink = running("shop.customers").spec.sink
      assert(sink.read(spark, DeleteMode.Hard).count() > 0)
      assert(running("shop.customers").query.exception.isEmpty)
    } finally CdcOrchestrator.stopAll(running)
  }

  test("orchestrator fan-out through the bucket-partitioned sink converges identically") {
    import graft.streaming.CdcOrchestrator
    val in = tmpDir("psink_orch_in")
    writeChunk(in, "all.jsonl", fixtureLines)
    val running = CdcOrchestrator.addNewTables(
      spark, in, Cdc.Fixtures.columnsPath, tmpDir("psink_orch_sink"), tmpDir("psink_orch_ckpt"),
      include = Seq("shop.orders"), exclude = Nil,
      sinkFactory = new graft.sink.SnapshotParquetSink(_, nBuckets = 8))
    try {
      running.values.foreach(_.query.processAllAvailable())
      val got = running("shop.orders").spec.sink.read(spark, DeleteMode.Hard)
        .select("primary_key").collect().map(_.getString(0)).toSet
      assert(got == expectedKeys(in))
    } finally CdcOrchestrator.stopAll(running)
  }

  test("orchestrator fan-out through the snapshot sink converges identically") {
    import graft.streaming.CdcOrchestrator
    val in = tmpDir("ssink_orch_in")
    writeChunk(in, "all.jsonl", fixtureLines)
    // the default sinkFactory: a SnapshotParquetSink per table
    val running = CdcOrchestrator.addNewTables(
      spark, in, Cdc.Fixtures.columnsPath, tmpDir("ssink_orch_sink"), tmpDir("ssink_orch_ckpt"),
      include = Seq("shop.orders"), exclude = Nil)
    try {
      running.values.foreach(_.query.processAllAvailable())
      val got = running("shop.orders").spec.sink.read(spark, DeleteMode.Hard)
        .select("primary_key").collect().map(_.getString(0)).toSet
      assert(got == expectedKeys(in))
    } finally CdcOrchestrator.stopAll(running)
  }

  test("CdcStream watermark advances with event time and preserves results") {
    val in = tmpDir("cdcwm_in"); val ckpt = tmpDir("cdcwm_ckpt")
    val sink = new SnapshotParquetSink(tmpDir("cdcwm_sink") + "/orders")
    val chunks = fixtureLines.grouped(900).toSeq
    writeChunk(in, "part0.jsonl", chunks.head)
    val spec = CdcStreamSpec(in, ckpt, ordersSpec, sink,
      watermarkDelay = Some("10 minutes"))
    val q = CdcStream.start(spark, spec)
    try {
      q.processAllAvailable()
      chunks.tail.zipWithIndex.foreach { case (c, i) =>
        writeChunk(in, s"part${i + 1}.jsonl", c); q.processAllAvailable()
      }
      val wm = Option(q.lastProgress).map(_.eventTime.get("watermark")).orNull
      assert(wm != null && wm.startsWith("2024-02"), s"watermark=$wm")
    } finally { q.stop(); q.awaitTermination() }
    val got = sink.read(spark, DeleteMode.Hard).select("primary_key")
      .collect().map(_.getString(0)).toSet
    assert(got == expectedKeys(in))
  }

  test("watermark drops late events (tumbling window, append mode)") {
    import spark.implicits._
    val in = tmpDir("wm_in")
    val schema = "event_id LONG, ts TIMESTAMP, value DOUBLE"
    def write(name: String, rows: Seq[String]): Unit = writeChunk(in, name, rows)
    write("b0.jsonl", Seq(
      """{"event_id":1,"ts":"2024-01-01T10:00:10Z","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T10:00:20Z","value":1.0}"""))
    val src = spark.readStream.schema(schema).json(in)
    val agg = src.withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "1 minute"), lit(1).as("g"))
      .agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    try {
      q.processAllAvailable()
      // advance watermark far past the 10:00 window…
      write("b1.jsonl", Seq("""{"event_id":3,"ts":"2024-01-01T10:10:00Z","value":1.0}"""))
      q.processAllAvailable()
      // …then a LATE event for 10:00 (behind watermark) + one to trigger emit
      write("b2.jsonl", Seq(
        """{"event_id":4,"ts":"2024-01-01T10:00:30Z","value":1.0}""",
        """{"event_id":5,"ts":"2024-01-01T10:20:00Z","value":1.0}"""))
      q.processAllAvailable()
      val counts = spark.table("wm_out")
        .select(col("window.start").cast("string"), col("cnt")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // the 10:00 window emitted with the 2 on-time events; the late 4th was dropped
      assert(counts.getOrElse("2024-01-01 10:00:00", 0L) == 2L)
    } finally { q.stop(); q.awaitTermination() }
  }
}
