package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cdc.CdcPipeline
import graft.model.TableSpec
import graft.sink.SnapshotParquetSink

/** Where to start execution (R17/R18): the stream's beginning, or a replay
  * point for backfill (`startExecutionFrom` InputStart / AtTime,
  * add_output.py:442-448, 257-261, 663-667).
  */
sealed trait StartFrom
object StartFrom {
  case object InputStart extends StartFrom
  final case class AtTime(ts: Timestamp) extends StartFrom
}

/** One per-table streaming pipeline (R30: one query per discovered table).
  *
  * `extraPk` (R13, add_output.py:9-18,553-555 `EXTRA_PK_COLUMN`): a row
  * column appended to the merge key, so upserts key on
  * (primary_key, row_<extraPk>) — e.g. a keyspace column in multi-tenant
  * CDC. `watermarkDelay` bounds event-time state for any stateful op
  * downstream of the transform (SURVEY §3.5) and surfaces watermark
  * progress on the query.
  */
final case class CdcStreamSpec(
    inputDir: String,
    checkpointDir: String,
    table: TableSpec,
    sink: SnapshotParquetSink,
    triggerInterval: String = "1 second", // R16 outputInterval (minutes in prod)
    logicalDeletes: Boolean = false,
    startFrom: StartFrom = StartFrom.InputStart,
    extraPk: Option[String] = None,
    watermarkDelay: Option[String] = None,
    source: Option[CdcSource] = None) {
  /** Merge key: envelope primary_key plus the optional R13 extra column. */
  def mergeKeys: Seq[String] = "primary_key" +: extraPk.map("row_" + _).toSeq
  /** The transport (R1): explicit [[CdcSource]] if given, else the
    * file-JSONL source over `inputDir` — the Kafka swap-in point.
    */
  def cdcSource: CdcSource = source.getOrElse(FileJsonlSource(inputDir))
}

/** Structured-Streaming CDC pipeline (SURVEY §3.5): file-source JSONL
  * envelope stream → per-table filter → flatten → typed cast →
  * `foreachBatch` MERGE into the sink, micro-batched by the trigger
  * interval, exactly-once via checkpoint + idempotent sink merge.
  *
  * A running query's schema is frozen — schema evolution mirrors the
  * reference's edit-redeploy cycle (R23/R24): detect new columns, stop,
  * extend the spec, restart from checkpoint with a batch backfill from
  * `min(firstSeen) − 1 minute` (R19); see [[SchemaEvolution]].
  */
object CdcStream {

  /** Envelope schema for a running query: inferred from data present at
    * start (the reference also infers from data, SURVEY §1.1).
    */
  def inferSchema(spark: SparkSession, inputDir: String): StructType =
    FileJsonlSource(inputDir).inferSchema(spark)

  /** The shared transform between batch backfill and the stream: per-table
    * filter → expand → typed cast, plus the event-time column.
    */
  def transform(envelope: DataFrame, spec: CdcStreamSpec): DataFrame = {
    val withTs = CdcPipeline.forTable(envelope, spec.table.fullTableName)
      .withColumn("event_ts", col("ts").cast("timestamp"))
    val replayed = spec.startFrom match {
      case StartFrom.AtTime(t) => withTs.filter(col("event_ts") >= lit(t))
      case StartFrom.InputStart => withTs
    }
    // the EventTimeWatermark node stays in the plan after the column drop:
    // it keeps advancing the query's watermark (bounding downstream state)
    // without widening the sink schema
    val marked = spec.watermarkDelay match {
      case Some(d) if replayed.isStreaming => replayed.withWatermark("event_ts", d)
      case _ => replayed
    }
    val flat = CdcPipeline.expanded(marked.drop("event_ts"))
    CdcPipeline.typed(flat, spec.table)
  }

  def start(spark: SparkSession, spec: CdcStreamSpec): StreamingQuery = {
    val source = spec.cdcSource
    val src = source.stream(spark, source.inferSchema(spark))
    transform(src, spec).writeStream
      .queryName(s"cdc_${spec.table.fullTableName.replace('.', '_')}")
      .trigger(Trigger.ProcessingTime(spec.triggerInterval))
      .option("checkpointLocation", spec.checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        spec.sink.merge(batch, presentMergeKeys(spec, batch), "seq", "is_delete")
      }
      .start()
  }

  /** The extra-PK column is global config applied to every table (R13); a
    * table whose events never carry it would otherwise crash the merge on a
    * nonexistent column — degrade that table to its primary key alone, the
    * same outcome the reference's warehouse-side column add yields for a
    * source that never populates the field.
    */
  private[streaming] def presentMergeKeys(spec: CdcStreamSpec,
      batch: DataFrame): Seq[String] =
    spec.mergeKeys.filter(batch.columns.contains)

  /** One table's merge of an already-transformed batch — the per-table step
    * both the per-table queries and the shared-scan fan-out apply.
    */
  private[streaming] def mergeInto(spec: CdcStreamSpec, batch: DataFrame): Unit =
    spec.sink.merge(batch, presentMergeKeys(spec, batch), "seq", "is_delete")

  /** One-shot batch backfill through the same transform — used for AtTime
    * replay and schema-evolution catch-up.
    */
  def backfill(spark: SparkSession, spec: CdcStreamSpec): Unit = {
    val batch = transform(spec.cdcSource.batch(spark), spec)
    spec.sink.merge(batch, presentMergeKeys(spec, batch), "seq", "is_delete")
  }

  /** Full-history truncate-and-load through the same transform — the
    * type-widening migration path. Unlike [[backfill]] (which MERGES into
    * existing state), the replay must supersede the stored narrow-typed
    * rows entirely: merging would union the widened columns with their
    * stored types, and ANSI union coercion resolves e.g. string-widened
    * against stored-timestamp back to TIMESTAMP — the widening would
    * silently not take. `replaceAll` rebuilds the table from the replay
    * alone.
    */
  def replayAll(spark: SparkSession, spec: CdcStreamSpec): Unit = {
    val batch = transform(spec.cdcSource.batch(spark), spec)
    spec.sink.replaceAll(batch, presentMergeKeys(spec, batch), "seq", "is_delete")
  }

  /** Snapshot bootstrap — the initial-sync → streaming handoff every CDC
    * replication starts with (Debezium's "initial snapshot" mode; the
    * reference's outputs likewise begin from a consistent source extract
    * before consuming the change stream). `snapshot` is a FULL-TABLE
    * extract already in sink shape (`primary_key`, `row_*` columns, plus a
    * per-row `seq` carrying the log position the extract observed — NOT a
    * CDC event envelope): it is merged first, then the continuous query
    * starts with the spec's own start point. The handoff needs no exact
    * cutover coordination: replayed change events at-or-below the
    * snapshot's seq lose last-write-wins, later events win — overlap is
    * idempotent, gaps are impossible as long as the stream replays from
    * at-or-before the extract moment.
    */
  def bootstrap(spark: SparkSession, spec: CdcStreamSpec, snapshot: DataFrame): StreamingQuery = {
    require(snapshot.columns.contains("seq"),
      "snapshot must carry the per-row log position as `seq` (the extract's read point)")
    val withDelete =
      if (snapshot.columns.contains("is_delete")) snapshot
      else snapshot.withColumn("is_delete", lit(false))
    spec.sink.merge(withDelete, presentMergeKeys(spec, withDelete), "seq", "is_delete")
    start(spark, spec)
  }
}

/** R19/R23/R24: schema-evolution orchestration. The reference's
  * `check_and_update_output` (add_output.py:154-206) diffs source columns
  * against the output and redeploys from `min(first_seen) − 1 minute`; here
  * the diff is spec-vs-observed-data and the redeploy is stop → backfill →
  * restart (fresh start point, same checkpoint-safe sink).
  */
object SchemaEvolution {

  /** Columns present in the data's `row` struct but missing from the spec,
    * with the earliest event time each was observed (one aggregation pass).
    * The stream is multiplexed, so the inferred union schema carries other
    * tables' fields too — only columns observed NON-NULL for THIS table
    * count as new (a never-populated field has a null first-seen and is
    * dropped, matching the reference's data-derived field inspection R20).
    */
  def missingColumns(spark: SparkSession, inputDir: String, spec: TableSpec): Seq[(String, Timestamp)] =
    missingColumns(spark, FileJsonlSource(inputDir), spec)

  def missingColumns(spark: SparkSession, source: CdcSource, spec: TableSpec): Seq[(String, Timestamp)] = {
    val df = CdcPipeline.forTable(source.batch(spark), spec.fullTableName)
    val rowFields = df.select("data.row.*").schema.fieldNames.toSeq
    val newCols = rowFields.filterNot(spec.colNames.contains)
    if (newCols.isEmpty) Nil
    else {
      val fs = graft.inspect.Inspection.firstSeen(
        df, col("ts").cast("timestamp"), newCols.map(c => c -> col(s"data.row.$c")))
      fs.collect().toSeq
        .filter(r => !r.isNullAt(1))
        .map(r => (r.getString(0), r.getTimestamp(1)))
    }
  }

  /** Full evolution cycle: detect → stop → extend spec (new columns default
    * to udt `varchar`, i.e. string, unless the caller supplies types) →
    * backfill from min(firstSeen) − 1 minute → restart. Returns the new
    * running query and spec; None if nothing changed.
    */
  def evolveAndRestart(
      spark: SparkSession,
      running: StreamingQuery,
      spec: CdcStreamSpec,
      udtOf: String => String = _ => "varchar"): Option[(StreamingQuery, CdcStreamSpec)] = {
    val missing = missingColumns(spark, spec.cdcSource, spec.table)
    if (missing.isEmpty) None
    else {
      running.stop()
      running.awaitTermination()
      val extended = spec.table.copy(cols = spec.table.cols ++
        missing.map { case (n, _) => graft.model.ColSpec(n, udtOf(n), isPrimaryKey = false) })
      val earliest = missing.map(_._2.getTime).min - 60000L // − 1 minute (R19)
      // the AtTime bound applies to the ONE-SHOT backfill only; the restarted
      // continuous query must keep the original start point, otherwise every
      // future late-arriving event older than the evolution moment would be
      // silently dropped by the replay filter
      val backfillSpec = spec.copy(table = extended,
        startFrom = StartFrom.AtTime(new Timestamp(earliest)))
      CdcStream.backfill(spark, backfillSpec)
      val newSpec = spec.copy(table = extended)
      Some((CdcStream.start(spark, newSpec), newSpec))
    }
  }

  /** Columns whose udt differs between the running spec and a refreshed
    * catalog/columns-file read: (name, old udt, new udt). Pure diff over
    * columns present in BOTH specs — additions/removals are
    * [[evolveAndRestart]]'s domain.
    */
  def typeChanges(oldTable: graft.model.TableSpec,
      refreshed: graft.model.TableSpec): Seq[(String, String, String)] = {
    val newUdt = refreshed.cols.map(c => c.name -> c.udt).toMap
    oldTable.cols.flatMap { c =>
      newUdt.get(c.name).filter(_ != c.udt).map(u => (c.name, c.udt, u))
    }
  }

  /** R23 beyond added columns: adopt in-place TYPE changes from a refreshed
    * catalog read (MySQL `ALTER TABLE ... MODIFY` — int → bigint, varchar
    * growth, int → decimal). Every change must be a widening
    * ([[graft.types.UdtMapper.widens]]); a narrowing refuses loudly — it
    * needs a manual re-sync, silently truncating values is the one
    * unforgivable CDC failure.
    *
    * Unlike the added-column cycle, a widened type applies RETROACTIVELY to
    * all history (the stored wire strings re-cast losslessly), so the
    * catch-up is a FULL replay under the widened spec, not a
    * firstSeen-bounded one: stop → replay everything (last-write-wins +
    * `__gen` rewrite every surviving row under the wide cast) → restart
    * streaming with the widened spec. Returns None when the refreshed
    * catalog carries no type change.
    */
  def widenAndRestart(
      spark: SparkSession,
      running: StreamingQuery,
      spec: CdcStreamSpec,
      refreshed: graft.model.TableSpec): Option[(StreamingQuery, CdcStreamSpec)] = {
    val changes = typeChanges(spec.table, refreshed)
    if (changes.isEmpty) None
    else {
      changes.foreach { case (n, from, to) =>
        require(graft.types.UdtMapper.widens(from, to),
          s"column $n: $from → $to is not a widening — refusing the automatic " +
            "restart; a narrowing type change needs a manual re-sync")
      }
      running.stop()
      running.awaitTermination()
      val newSpec = spec.copy(table = refreshed)
      // truncate-and-load, NOT a merge: the stored narrow types must not
      // survive union coercion (see CdcStream.replayAll)
      CdcStream.replayAll(spark, newSpec)
      Some((CdcStream.start(spark, newSpec), newSpec))
    }
  }
}
