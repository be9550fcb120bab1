package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType
import graft.sink.{DeleteMode, SnapshotParquetSink}

/** STREAMING SOURCE over a [[graft.sink.SnapshotParquetSink]] table — the
  * Delta streaming-source analog: a Structured Streaming query follows the
  * table's commit log with checkpointed offsets, so `readStream → transform
  * → foreachBatch merge` chains snapshot tables with Spark's own recovery
  * machinery instead of the hand-rolled [[graft.streaming.TableFollower]]
  * marker files (both remain supported — the follower is the no-streaming-
  * runtime option; this source is the idiomatic one):
  *
  * {{{
  *   spark.readStream.format("graft-snapshot-stream").load(dir)
  * }}}
  *
  * Semantics (UPSERT stream, not an append log):
  *   - OFFSETS ARE TABLE VERSIONS. The first batch is the FULL state at
  *     the then-current version (the "initial snapshot"); every later
  *     batch is the CURRENT-state rows of the buckets whose files changed
  *     in the offset range ([[SnapshotParquetSink.readChangedAt]] — cost
  *     O(changed fraction), never O(table)).
  *   - Rows are shaped `DeleteMode.Logical`: upstream tombstones arrive as
  *     rows with `is_deleted = true`, so deletes FORWARD. The downstream
  *     consumer must merge last-write-wins on the table's keys/seq (the
  *     batch may re-deliver unchanged rows of changed buckets, and crash
  *     replay re-delivers whole batches — idempotent merge absorbs both).
  *   - VACUUM SELF-HEAL: a batch whose start version was vacuumed out of
  *     upstream history degrades to the full state at the end version —
  *     correct under idempotent merge, just unpruned (the TableFollower
  *     retention handshake, same contract).
  *   - Schema is FROZEN at stream start (the streaming contract). Changed
  *     slices predating an evolution-added column conform by null-filling;
  *     columns added upstream AFTER start are not emitted — stop/restart
  *     the query to adopt them (the CdcStream edit-redeploy cycle).
  *
  * CHANGE-FEED MODE (`option("mode", "changes")` — the Delta CDF analog):
  * batches are the KEYED DIFF of the offset range instead of state slices
  * — `(keys..., change ∈ insert|update|delete, seq_from, seq_to)` via
  * [[SnapshotParquetSink.changesBetween]]; the first batch emits the
  * initial state as inserts. Unlike upsert mode there is NO vacuum
  * self-heal: a diff against a vacuumed base cannot reconstruct which keys
  * were deleted, so the source fails loudly — change-feed consumers must
  * retain upstream history covering their trigger cadence (the Delta CDF
  * contract).
  */
class SnapshotStreamProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot-stream"

  private def dirOf(parameters: Map[String, String]): String =
    parameters.get("path").getOrElse(
      sys.error("graft-snapshot-stream needs a path: .load(dir) or option(\"path\", dir)"))

  private def changesMode(parameters: Map[String, String]): Boolean =
    parameters.get("mode").map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case None | Some("upsert") => false
      case Some("changes")       => true
      case Some(other) =>
        sys.error(s"graft-snapshot-stream mode must be upsert|changes, got '$other'")
    }

  private def logicalSchema(spark: org.apache.spark.sql.SparkSession,
      dir: String): StructType = {
    val sink = SnapshotParquetSink.forTable(dir)
    sink.read(spark, DeleteMode.Logical).schema
  }

  /** The change-feed shape: key columns at their stored types, then
    * `change` and the seq-from/to stamps (the exact
    * [[SnapshotParquetSink.changesBetween]] projection, whose order column
    * is the manifest's recorded `seqcol=`).
    */
  private def changesSchema(spark: org.apache.spark.sql.SparkSession,
      dir: String): StructType = {
    val v = SnapshotParquetSink.versions(dir).lastOption.getOrElse(
      sys.error(s"no committed version at $dir"))
    val keys = SnapshotParquetSink.manifestKeys(dir, v)
    val data = logicalSchema(spark, dir)
    val seqType = data(SnapshotParquetSink.manifestSeqCol(dir, v)).dataType
    StructType(
      keys.map(k => org.apache.spark.sql.types.StructField(k, data(k).dataType)) ++
        Seq(org.apache.spark.sql.types.StructField("change",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("seq_from", seqType),
          org.apache.spark.sql.types.StructField("seq_to", seqType)))
  }

  private def schemaFor(ctx: SQLContext, schema: Option[StructType],
      parameters: Map[String, String]): StructType =
    schema.getOrElse {
      val dir = dirOf(parameters)
      if (changesMode(parameters)) changesSchema(ctx.sparkSession, dir)
      else logicalSchema(ctx.sparkSession, dir)
    }

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), schemaFor(ctx, schema, parameters))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val dir = dirOf(parameters)
    val maxPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toInt)
    maxPerTrigger.foreach(m => require(m > 0,
      s"maxVersionsPerTrigger must be positive, got $m"))
    new SnapshotStreamSource(ctx, dir, schemaFor(ctx, schema, parameters),
      maxPerTrigger, changesMode(parameters))
  }
}

private[sources] final class SnapshotStreamSource(ctx: SQLContext, dir: String,
    frozenSchema: StructType,
    maxVersionsPerTrigger: Option[Int] = None,
    changes: Boolean = false)
  extends Source with SupportsTriggerAvailableNow {

  override def schema: StructType = frozenSchema

  // the end version of the last range this source served — only the
  // legacy getOffset path needs it as a counting base; the admission-
  // control path is handed the checkpointed start offset directly
  @volatile private var lastServed: Option[Long] = None

  // the upstream head frozen by Trigger.AvailableNow's prepare call: the
  // run drains up to here in capped batches, then terminates — commits
  // landing after prepare wait for the next scheduled run
  @volatile private var availableNowBound: Option[Long] = None

  /** `maxVersionsPerTrigger` (Delta's maxFilesPerTrigger analog): a stream
    * that was down across N upstream commits otherwise catches up as ONE
    * batch spanning all of them — unbounded batch size after unbounded
    * downtime. Capped, each trigger advances at most the configured number
    * of versions, so catch-up is a sequence of bounded batches. The cap is
    * a THROUGHPUT knob, not a correctness one: every capped range is still
    * a changed-slice read and the downstream merge is idempotent.
    *
    * The cap rides DSv2 admission control mixed into the V1 seam (the
    * Delta source's architecture): the engine calls
    * [[latestOffset(start*, limit*)]] with the CHECKPOINTED start offset,
    * so the first trigger after a restart caps exactly like any other —
    * the unbounded "stream down for a week catches up as one batch"
    * incident a getOffset-only V1 source cannot prevent (it has no base to
    * count from until getBatch).
    */
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(m => ReadLimit.maxFiles(m))
      .getOrElse(ReadLimit.allAvailable())

  /** Trigger.AvailableNow (the scheduled-job shape): freeze the current
    * head; [[latestOffset]] never admits past it, so the run terminates
    * after draining — in maxVersionsPerTrigger-sized steps when capped.
    */
  override def prepareForTriggerAvailableNow(): Unit =
    // a table with NO committed version yet freezes to the -1 sentinel —
    // leaving the bound unset would let latestOffset chase commits landing
    // DURING the run, so a run-once job over a just-created table might
    // never terminate; with the sentinel it admits nothing and exits
    availableNowBound =
      Some(SnapshotParquetSink.versions(dir).lastOption.getOrElse(-1L))

  /** The admitted end offset for the next batch: the current head, capped
    * at the AvailableNow bound (if prepared) and at `start + limit`
    * versions (if rate-limited). `start` is null on the very first trigger
    * of a fresh query — the initial snapshot is the state AT one version,
    * so there is nothing to cap: it's version-atomic regardless.
    */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val head = SnapshotParquetSink.versions(dir).lastOption
    head match {
      case None => null // nothing committed upstream yet
      case Some(cur) =>
        val bounded = availableNowBound.fold(cur)(math.min(cur, _))
        val base = Option(start).map(versionOf)
        // AvailableNow prepared against a still-empty table (-1 sentinel)
        // with no checkpointed base: admit nothing — the run terminates
        // without serving commits that landed after prepare
        if (bounded < 0 && base.isEmpty) return null
        val cap = limit match {
          case f: ReadMaxFiles => Some(f.maxFiles)
          case _ => maxVersionsPerTrigger
        }
        val admitted = (cap, base) match {
          case (Some(m), Some(b)) => math.min(bounded, b + m)
          case _ => bounded
        }
        // never regress below the checkpointed base (a vacuum can retract
        // old version numbers but the log only grows forward)
        LongOffset(base.fold(admitted)(math.max(admitted, _)))
    }
  }

  override def reportLatestOffset(): OffsetV2 =
    SnapshotParquetSink.versions(dir).lastOption.map(LongOffset(_)).orNull

  // legacy direct-driver path (the engine itself always goes through
  // latestOffset above): same admission logic, counting from lastServed
  override def getOffset: Option[OffsetV1] =
    Option(latestOffset(lastServed.map(LongOffset(_)).orNull, getDefaultReadLimit))
      .map(_.asInstanceOf[OffsetV1])

  // checkpoint recovery hands offsets back as SerializedOffset — the json
  // IS the version number for LongOffset, so parse rather than match
  private def versionOf(o: OffsetV2): Long = o.json.trim.toLong

  /** Null-fill frozen columns the version's recorded schema lacks (a
    * `replaceAll` may drop one), then project to the frozen shape (order
    * included) — a later version stays consumable mid-stream.
    */
  private def conform(df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    val filled = frozenSchema.fields.foldLeft(df)((d, f) =>
      if (have(f.name)) d else d.withColumn(f.name, lit(null).cast(f.dataType)))
    filled.select(frozenSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val spark = ctx.sparkSession
    val sink = SnapshotParquetSink.forTable(dir)
    val retained = SnapshotParquetSink.versions(dir)
    // a restart can replay a committed batch whose END version has since
    // been vacuumed — deliver the oldest still-retained version at or
    // above it instead (a superset slice; the downstream idempotent merge
    // absorbs it, and later ranges re-deliver their own states anyway)
    val endV = retained.find(_ >= versionOf(end)).getOrElse(
      sys.error(s"stream offset v${versionOf(end)} is beyond the retained " +
        s"history at $dir (newest: ${retained.lastOption.getOrElse(-1L)})"))
    val batch = if (changes) changesBatch(spark, sink, retained, start, endV)
      else upsertBatch(spark, sink, retained, start, endV)
    lastServed = Some(endV)
    // the V1 contract: the returned plan must carry isStreaming=true
    org.apache.spark.sql.graftbridge.Bridge.asStreaming(batch)
  }

  private def upsertBatch(spark: org.apache.spark.sql.SparkSession,
      sink: SnapshotParquetSink, retained: Seq[Long],
      start: Option[OffsetV1], endV: Long): DataFrame = {
    val full = () => conform(sink.readAt(spark, endV, DeleteMode.Logical))
    start.map(versionOf) match {
      case None => full() // initial snapshot
      case Some(s) if s == endV =>
        // replayed no-op range: emit an empty frame of the frozen shape
        full().filter(lit(false))
      case Some(s) if !retained.contains(s) =>
        full() // diff base vacuumed: one full resync (idempotent downstream)
      case Some(s) =>
        sink.readChangedAt(spark, endV, s, DeleteMode.Logical)
          .map(conform).getOrElse(full().filter(lit(false)))
    }
  }

  /** Change-feed batches: the keyed diff of the range; the initial batch
    * emits the then-current state as inserts (seq_from null). A vacuumed
    * diff base FAILS — deletions against a vanished base are
    * unreconstructible, and fabricating an insert-only resync would
    * corrupt every downstream accumulation (the Delta CDF contract).
    */
  private def changesBatch(spark: org.apache.spark.sql.SparkSession,
      sink: SnapshotParquetSink, retained: Seq[Long],
      start: Option[OffsetV1], endV: Long): DataFrame = {
    val keys = frozenSchema.fieldNames.toSeq
      .filterNot(Set("change", "seq_from", "seq_to"))
    val seqCol = SnapshotParquetSink.manifestSeqCol(dir, endV)
    def initial(): DataFrame = conform(
      sink.readAt(spark, endV, DeleteMode.Hard)
        .select(keys.map(col) :+ col(seqCol).as("seq_to"): _*)
        .withColumn("change", lit("insert"))
        .withColumn("seq_from", lit(null).cast(frozenSchema("seq_from").dataType)))
    start.map(versionOf) match {
      case None => initial()
      case Some(s) if s == endV => initial().filter(lit(false))
      case Some(s) if !retained.contains(s) =>
        sys.error(s"change-feed base v$s was vacuumed at $dir — deletions " +
          "against a vanished base cannot be reconstructed; retain history " +
          "covering the stream's trigger cadence, or use upsert mode")
      case Some(s) => conform(sink.changesBetween(spark, s, endV))
    }
  }

  override def stop(): Unit = ()

  override def toString: String = s"SnapshotStreamSource[$dir]"
}
