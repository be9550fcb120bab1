package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{ColSpec, TableSpec}
import graft.sink.{DeleteMode, MaterializedAgg, MaterializedJoin, SnapshotCatalog, SnapshotParquetSink}
import graft.streaming.{CdcSource, CdcStream, CdcStreamSpec, TableFollower}

/** The CDC envelope under one fixed schema: a streaming query freezes its
  * schema at start, so the benchmark declares it instead of inferring it
  * per batch file.
  */
final case class FixedSchemaSource(path: String, schema: StructType) extends CdcSource {
  override def inferSchema(spark: SparkSession): StructType = schema
  override def stream(spark: SparkSession, schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(path)
  override def batch(spark: SparkSession): DataFrame = spark.read.schema(schema).json(path)
}

/** `cdc_serving`: the reference pipeline end to end. Each step reads one
  * batch of multiplexed CDC events; per covered table it runs
  * `CdcStream.transform` then `SnapshotParquetSink.merge`, and publishes one
  * `SnapshotCatalog.commitCurrent` cut (op: ingest). Then a min/max rollup
  * (`MaterializedAgg`), an orders⋈customers view (`MaterializedJoin`) and a
  * replica (`TableFollower`) catch up to the cut: op4 after the bulk change
  * to orders that opens a round, op2 after each of the micro changes that
  * follow, so both arms of the views' bulk gates run in every round. Every
  * batch also changes customers, the join's dim side. Then a read mix runs
  * on the same tables (op3): point lookups, a dashboard GROUP BY that
  * `MatViewRewrite` answers from the rollup, and a `table_changes` read.
  */
final class CdcServing(seed: Long, seconds: Double, scale: Double) extends Workload {
  import CdcGen.{Customers, Orders}

  // a round is a bulk then two micro batches
  override val roundS = 30.0
  private val gen = new CdcGen(seed,
    orders = math.max(500, (20000 * scale).toInt),
    customers = math.max(50, (2000 * scale).toInt),
    lineItems = math.max(1000, (60000 * scale).toInt),
    batchLineItems = math.max(100, (4000 * scale).toInt),
    nBatches = CdcGen.BatchesPerRound * Main.rounds(seconds, roundS))
  override val probePairs = 4
  private val lookupsPerStep = 3
  private var inputs: File = _

  private val covered = CdcGen.tables.filter(_.covered)
  private val specs: Seq[TableSpec] = covered.map { t =>
    TableSpec(s"shop.${t.name}", t.cols.map { case (c, udt) => ColSpec(c, udt, c == t.pk) })
  }
  /** Merge keys per covered table: the envelope key, except `customers`,
    * which is keyed by its own key column so orders can join it.
    */
  private val mergeKeys = Seq(Seq("primary_key"), Seq("row_customer_id"), Seq("primary_key"))

  private val envelope: StructType = StructType(Seq(
    StructField("seq", LongType),
    StructField("ts", StringType),
    StructField("data", StructType(Seq(
      StructField("database_name", StringType),
      StructField("table_name", StringType),
      StructField("full_table_name", StringType),
      StructField("primary_key", StringType),
      StructField("metadata", StructType(Seq(StructField("is_delete", BooleanType)))),
      StructField("row", StructType(CdcGen.rowFields.map(StructField(_, StringType)))))))))

  private val rollup = Seq(count(lit(1)).as("n"), sum(col("row_qty")).as("sq"),
    min(col("row_qty")).as("mn"), max(col("row_qty")).as("mx"))

  private final class Tables(root: String) {
    val catalog = new SnapshotCatalog(s"$root/warehouse")
    val sinks: Seq[SnapshotParquetSink] = covered.map(t => catalog.table(t.name, 16))
    def orders: SnapshotParquetSink = sinks(Orders)
    val aggSink = new SnapshotParquetSink(s"$root/views/orders_by_status", 8)
    val joinSink = new SnapshotParquetSink(s"$root/views/orders_customers", 16)
    val replica = new SnapshotParquetSink(s"$root/views/orders_replica", 16)
    val agg = new MaterializedAgg(orders, aggSink, Seq("row_status"), rollup)
    val join = new MaterializedJoin(orders, sinks(Customers), joinSink, Seq("row_customer_id"),
      Seq("row_name", "row_tier"))
    val follower = new TableFollower(orders.dir, replica, "replica")
  }
  private var t: Tables = _
  private var next = 0
  /** Orders versions before and after the last batch, for the probe. */
  private var lastChange = (0L, 0L)
  private var state: gen.State = _
  private val rnd = Gen.rng(seed, 12)

  override def generate(dir: File): Unit = { inputs = dir; gen.write(dir) }

  /** One batch file through transform, merge and the catalog cut; per
    * table, the sink, its version before the merge and the merged batch.
    */
  private def ingest(spark: SparkSession, file: File,
      spans: Spans): Seq[(SnapshotParquetSink, Option[Long], DataFrame)] = {
    val src = FixedSchemaSource(file.getAbsolutePath, envelope)
    val env = src.batch(spark)
    val merged = specs.indices.map { i =>
      val sink = t.sinks(i)
      val batch = CdcStream.transform(env, CdcStreamSpec(inputDir = "", checkpointDir = "",
        table = specs(i), sink = sink, source = Some(src)))
      spans.tracer.foreach(_.stage("cdc.transform", batch, None))
      val before = sink.currentVersion
      spans("sink.merge")(sink.merge(batch, mergeKeys(i), "seq", "is_delete"))
      (sink, before, batch)
    }
    spans("sink.catalog_commit")(t.catalog.commitCurrent(covered.map(_.name)))
    merged
  }

  /** Traced runs only: the counters behind the sink's per-layer ratios,
    * read through the table's public handles after the commit.
    */
  private def mergeCounters(spark: SparkSession, sink: SnapshotParquetSink,
      before: Option[Long], batch: DataFrame, res: Results): Unit = {
    val v = sink.currentVersion.get
    res.add("_rows_in", batch.count().toDouble)
    for (b <- before if b != v) {
      res.add("_rows_written", sink.readChangedAt(spark, v, b, DeleteMode.Logical)
        .map(_.count()).getOrElse(0L).toDouble)
      res.add("_buckets_rewritten", sink.changedEntriesAt(v, b).size.toDouble)
    }
    res.add("_buckets", sink.bucketCount.toDouble)
    res.add("sink.merge.rebases", sink.lastCommit.map(_.rebases.toDouble).getOrElse(0.0))
  }

  private def refreshAll(spark: SparkSession, spans: Spans, res: Results): Unit = {
    spans("sink.matagg_refresh")(t.agg.refresh(spark))
    res.add("_refreshes", 1.0)
    if (t.agg.lastRefreshRegime.contains("fold")) res.add("_folds", 1.0)
    spans("sink.matjoin_refresh")(t.join.refresh(spark))
    spans("streaming.follower_catchup")(t.follower.catchUp(spark, Seq("primary_key"))(identity))
  }

  override def setup(spark: SparkSession, root: String): Unit = {
    t = new Tables(root)
    state = gen.initialState
    ingest(spark, new File(inputs, "bootstrap.jsonl"), new Spans(None))
    refreshAll(spark, new Spans(None), new Results)
    MaterializedAgg.register(t.agg)
  }

  /** The dashboard query: the rollup's GROUP BY over the snapshot source. */
  private def dashboard(spark: SparkSession): DataFrame =
    spark.read.format("graft-snapshot").load(t.orders.dir)
      .filter(!col("__is_deleted")).groupBy("row_status").agg(rollup.head, rollup.tail: _*)

  /** Whether the optimized plan scans the rollup's table and nothing else. */
  private def readsView(df: DataFrame): Boolean = {
    val scanned = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
      case r: DataSourceV2ScanRelation => Seq(r.relation.table.name())
      case r: DataSourceV2Relation => Seq(r.table.name())
    }.flatten
    scanned.nonEmpty && scanned.forall(_.contains(t.aggSink.dir))
  }

  /** Canonical row of a CDC table (see [[CdcGen.canonical]]). */
  private def canonical(i: Int): Column =
    concat_ws("|", (col("primary_key") +: specs(i).cols.map(c =>
      coalesce(col(s"row_${c.name}").cast("string"), lit("\\N")))): _*)

  private def lookup(spark: SparkSession, spans: Spans, k: Long): Seq[String] =
    spans("sink.lookup")(t.orders.lookup(spark, Seq("primary_key"), Seq(k.toString))
      .select(canonical(Orders)).collect()).map(_.getString(0)).toSeq

  /** Orders changes between two versions, as rows per change kind. */
  private def changes(spark: SparkSession, spans: Spans, from: Long, to: Long): Map[String, Long] =
    spans("sink.changes")(spark.sql(
      s"SELECT change, count(*) FROM table_changes('${t.orders.dir}', $from, $to) GROUP BY change")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)

  /** The read mix of one step, without its checks: a call that changes no
    * table, so it can be repeated.
    */
  override def probe(spark: SparkSession, spans: Spans): Unit = {
    (0L until lookupsPerStep).foreach(lookup(spark, spans, _))
    spans("sources.scan")(dashboard(spark).collect())
    changes(spark, spans, lastChange._1, lastChange._2)
  }

  override def betweenRounds: Boolean = next % CdcGen.BatchesPerRound == 0

  override def step(spark: SparkSession, spans: Spans, res: Results): Boolean = {
    if (next >= gen.batches.length) return false
    val b = next
    val evs = gen.batches(b)
    val touched = evs.iterator.filter(_.t == Orders).map(_.key).toSet
    val wasLive = touched.filter(state.live(Orders, _).nonEmpty)
    state(evs)
    res.attempt(s"batch $b") {
      val before = t.orders.currentVersion.get
      val customersBefore = t.sinks(Customers).currentVersion
      val merged = res.timed(res.op)(ingest(spark, new File(inputs, f"batch_$b%05d.jsonl"), spans))
      if (spans.traced) {
        merged.foreach { case (sink, v, batch) => mergeCounters(spark, sink, v, batch, res) }
        res.add("_events_traced", evs.length.toDouble)
      }
      val cut = t.catalog.currentVersion.get
      val current = covered.zip(t.sinks).map { case (c, s) => c.name -> s.currentVersion.get }.toMap
      res.expect(s"batch $b: cut v$cut pins ${t.catalog.pins(cut)}, tables are at $current")(
        t.catalog.pins(cut) == current)

      val after = t.orders.currentVersion.get
      lastChange = (before, after)
      res.timed(if (CdcGen.isBulk(b)) res.op4 else res.op2)(refreshAll(spark, spans, res))
      res.expect(s"batch $b: views not at orders v$after after refresh")(
        t.agg.appliedVersion.contains(after) && t.follower.appliedVersion.contains(after) &&
          t.join.appliedVersions.exists(_._1 == after))
      val bucketsChanged = t.orders.changedEntriesAt(after, before).size.toDouble / t.orders.bucketCount
      res.steps += s"""{"batch": $b, "bulk": ${CdcGen.isBulk(b)}, """ +
        s""""orders_events": ${evs.count(_.t == Orders)}, "customers_events": ${evs.count(_.t == Customers)}, """ +
        s""""orders_buckets_changed_share": $bucketsChanged, """ +
        s""""customers_changed": ${t.sinks(Customers).currentVersion != customersBefore}, """ +
        s""""rollup_regime": "${t.agg.lastRefreshRegime.getOrElse("")}"}"""

      // the read mix, timed as one op3 sample: the sum of its reads
      val reads = mutable.ArrayBuffer.empty[Double]
      (1 to lookupsPerStep).foreach { _ =>
        val k = rnd.nextLong(state.tabs(Orders).size.toLong)
        val got = res.timed(reads)(lookup(spark, spans, k))
        if (spans.traced) res.add("_lookup_rows", got.size.toDouble)
        val want = state.live(Orders, k).map(s => gen.canonical(Orders, k, s)).toSeq
        res.expect(s"batch $b: lookup($k) = $got, expected $want")(got == want)
      }
      val dash = dashboard(spark)
      res.timed(reads)(spans("sources.scan")(dash.collect()))
      res.add("_dash", 1.0)
      if (readsView(dash)) res.add("_dash_hits", 1.0)
      val feed = res.timed(reads)(changes(spark, spans, before, after))
      res.op3 += reads.sum
      val isLive = touched.filter(state.live(Orders, _).nonEmpty)
      val want = Map("insert" -> (isLive -- wasLive).size.toLong,
        "update" -> (isLive intersect wasLive).size.toLong,
        "delete" -> (wasLive -- isLive).size.toLong).filter(_._2 > 0)
      res.expect(s"batch $b: table_changes $feed, expected $want")(feed == want)
    }
    next += 1
    true
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  override def check(spark: SparkSession, res: Results): Unit = {
    val want = state.summary
    covered.zip(t.sinks).zipWithIndex.foreach { case ((c, sink), i) =>
      val got = sink.read(spark, DeleteMode.Hard)
        .agg(count(lit(1)), coalesce(sum(crc32(canonical(i).cast("binary"))), lit(0L)))
        .collect().head
      res.expect(s"table ${c.name}: rows/hash (${got.getLong(0)}, ${got.getLong(1)}), " +
        s"expected ${want(c.name)}")((got.getLong(0), got.getLong(1)) == want(c.name))
    }
    res.expect("audit_log events reached the warehouse")(
      !new File(new File(t.catalog.root), "audit_log").exists())

    val orders = t.orders.read(spark, DeleteMode.Hard)
    val aggCols = Seq("row_status", "n", "sq", "mn", "mx").map(col)
    res.expect("rollup view differs from the aggregate recomputed from orders")(
      rows(t.agg.read(spark).select(aggCols: _*)) ==
        rows(orders.groupBy("row_status").agg(rollup.head, rollup.tail: _*).select(aggCols: _*)))
    val joinCols = Seq("primary_key", "row_customer_id", "row_qty", "row_name", "row_tier").map(col)
    res.expect("join view differs from the join recomputed from both tables")(
      rows(t.join.read(spark).select(joinCols: _*)) ==
        rows(orders.join(t.sinks(Customers).read(spark, DeleteMode.Hard)
          .select("row_customer_id", "row_name", "row_tier"), Seq("row_customer_id"), "left_outer")
          .select(joinCols: _*)))
    val repCols = Seq("primary_key", "seq", "row_qty", "row_status").map(col)
    res.expect("replica differs from orders")(
      rows(t.replica.read(spark, DeleteMode.Hard).select(repCols: _*)) == rows(orders.select(repCols: _*)))
    // the rewritten dashboard must equal the same rollup over a derived
    // column, which the rewrite cannot answer from the view
    val derived = spark.read.format("graft-snapshot").load(t.orders.dir)
      .filter(!col("__is_deleted")).withColumn("q_abs", abs(col("row_qty")))
      .groupBy("row_status").agg(count(lit(1)).as("n"), sum(col("q_abs")).as("sq"),
        min(col("q_abs")).as("mn"), max(col("q_abs")).as("mx"))
    res.expect("rewritten dashboard differs from the derived-column aggregate")(
      !readsView(derived) && rows(dashboard(spark).select(aggCols: _*)) == rows(derived.select(aggCols: _*)))
    res.layer("_raw_bytes") = state.rawBytes.toDouble
    res.layer("_stored_bytes") = t.sinks.map(s => s.bytesAt(s.currentVersion.get)).sum.toDouble
  }

  override def quality(res: Results): (Double, Double) = {
    val l = res.layer
    (l.getOrElse("_dash_hits", 0.0) / l.getOrElse("_dash", Double.NaN),
      l.getOrElse("_raw_bytes", Double.NaN) / l.getOrElse("_stored_bytes", Double.NaN))
  }

  override def finishLayers(spark: SparkSession, res: Results): Unit = {
    val l = res.layer
    def g(k: String) = l.getOrElse(k, 0.0)
    l("sink.merge.rows_written_per_row_changed") = g("_rows_written") / math.max(1.0, g("_rows_in"))
    l("sink.merge.buckets_rewritten_share") = g("_buckets_rewritten") / math.max(1.0, g("_buckets"))
    l("cdc.rows_per_event") = g("_rows_in") / math.max(1.0, g("_events_traced"))
    val (bytes, live) = t.sinks.map { s =>
      (s.bytesAt(s.currentVersion.get).toDouble, s.read(spark, DeleteMode.Hard).count().toDouble)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    l("sink.bytes_per_live_row") = bytes / math.max(1.0, live)
    l("plans.matview_hit_ratio") = g("_dash_hits") / math.max(1.0, g("_dash"))
    l("sink.matagg.fold_share") = g("_folds") / math.max(1.0, g("_refreshes"))
  }
}
