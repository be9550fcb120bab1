package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.CdcPipeline
import graft.engine.Tables
import graft.inspect.Inspection
import graft.model.TableSpec

/** CDC semantics over the repo-owned fixtures — the reference's core
  * (R2–R26), declared as t2 obligations Q60–Q68 (SURVEY §2.3). Engine side
  * runs the graft.cdc library; oracle side reads the same JSONL via DuckDB
  * `read_json` with explicit struct access.
  */
object Cdc {

  /** Fixture paths resolve relative first (driver cwd = repo root), absolute
    * as fallback; oracle SQL needs the literal absolute path.
    */
  object Fixtures {
    private def resolve(name: String): String = {
      val local = new java.io.File(s"fixtures/$name")
      if (local.exists()) local.getAbsolutePath else s"/root/repo/fixtures/$name"
    }
    def eventsPath: String = resolve("cdc_events.jsonl")
    def columnsPath: String = resolve("columns_file.csv")
    def mediaPath: String = resolve("media.parquet")
    val oracleEventsPath = "/root/repo/fixtures/cdc_events.jsonl"
    val oracleMediaPath = "/root/repo/fixtures/media.parquet"
  }

  private val ordersCols =
    Seq("id", "amount", "qty", "note", "created", "active", "tags", "ext_id", "discount")

  private def env(s: SparkSession): DataFrame =
    CdcPipeline.readBatch(s, Fixtures.eventsPath)

  private def ordersSpec: TableSpec =
    TableSpec.loadCsv(Fixtures.columnsPath)("shop.orders")

  /** Exit-time reclamation for q61f's per-process tmp table AND its
    * compaction scratch sibling (present only if a run crashed mid-pass).
    */
  private def q61fHook(base: String): Unit = {
    graft.engine.Fs.reclaimAtExit(base)
    graft.engine.Fs.reclaimAtExit(base + ".compact_scratch")
  }

  // ---------------------------------------------------------------- oracle
  // Shared DuckDB prologue: raw source + shop.orders filter via the derived
  // full_table_name (R3 semantics, README.md:29-32).
  private val SRC =
    s"""WITH src AS (SELECT * FROM read_json('${Fixtures.oracleEventsPath}',
       |  format='newline_delimited', union_by_name=true)),
       |f AS (SELECT * FROM src
       |      WHERE data['database_name'] || '.' ||
       |            regexp_replace(data['table_name'], '_part_[0-9]+$$', '') = 'shop.orders')""".stripMargin

  /** Final-state CTE: per-key last event by seq, row values normalized to
    * the engine's wire-string form (VARCHAR casts; tags → sorted int JSON).
    * `eventFilter` restricts the replayed log (e.g. " WHERE seq <= N" for
    * time travel).
    */
  private def lastStateSql(eventFilter: String): String =
    s"""$SRC,
       |r AS (SELECT CAST(data['primary_key'] AS VARCHAR) AS primary_key,
       |             CAST(data['row']['id'] AS VARCHAR) AS row_id,
       |             CAST(data['row']['amount'] AS VARCHAR) AS row_amount,
       |             CAST(data['row']['qty'] AS VARCHAR) AS row_qty,
       |             CAST(data['row']['note'] AS VARCHAR) AS row_note,
       |             CAST(data['row']['created'] AS VARCHAR) AS row_created,
       |             CAST(data['row']['active'] AS VARCHAR) AS row_active,
       |             to_json(list_sort(list_transform(data['row']['tags'],
       |                                              x -> CAST(x AS INTEGER)))) AS row_tags,
       |             CAST(data['row']['ext_id'] AS VARCHAR) AS row_ext_id,
       |             CAST(data['row']['discount'] AS VARCHAR) AS row_discount,
       |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del,
       |             row_number() OVER (PARTITION BY data['primary_key'] ORDER BY seq DESC) AS rn
       |      FROM f$eventFilter)""".stripMargin

  private val LASTSTATE = lastStateSql("")

  private val rowColsOut =
    "primary_key, row_id, row_amount, row_qty, row_note, row_created, row_active, row_tags, row_ext_id, row_discount"

  /** The q61-family output projection (wire-normalized row columns) — ONE
    * copy shared by `lastState` and the sink-backed queries, so the shape
    * they compare against the upsert oracles can never diverge.
    */
  private def normalizedProjection: Seq[org.apache.spark.sql.Column] = Seq(
    col("primary_key"),
    col("row_id"), col("row_amount"), col("row_qty"), col("row_note"),
    col("row_created"), col("row_active"),
    to_json(array_sort(transform(col("row_tags"), x => x.cast("int")))).as("row_tags"),
    col("row_ext_id"), col("row_discount"))

  // Engine-side final-state frame with identical column names/values.
  private def lastState(s: SparkSession, cutoff: Option[Long] = None): DataFrame = {
    val e0 = cutoff.map(c => env(s).filter(col("seq") <= c)).getOrElse(env(s))
    val flat = CdcPipeline.expanded(CdcPipeline.forTable(e0, "shop.orders"))
    val latest = CdcPipeline.latest(flat, Seq("primary_key"))
    latest.select(normalizedProjection :+ col("is_delete"): _*)
  }

  /** Scratch snapshot-sink dir: wiped per build (bench re-runs a query three
    * times — accumulated commits would change the result), pid-suffixed
    * against concurrent sessions (q03's scratch pattern).
    */
  private def freshSnapshotSink(tag: String): (graft.sink.SnapshotParquetSink, String) = {
    val base = sys.props("java.io.tmpdir") + s"/graft_${tag}_" +
      ProcessHandle.current().pid()
    graft.engine.Fs.deleteTree(new java.io.File(base))
    (new graft.sink.SnapshotParquetSink(base, nBuckets = 8), base)
  }

  /** The q61-family output projection over a merged-state frame. */
  private def normalizedRowCols(df: DataFrame): DataFrame =
    df.select(normalizedProjection: _*)

  /** Deterministic two-writer commit race for q61q: writer A blocks at its
    * manifest publish until writer B's publish completes (and B waits until
    * A has REACHED its publish, so A provably computed against the pre-B
    * version) — then A must lose the first slot and take the rebase path.
    * Unnamed threads pass straight through, so concurrent unrelated
    * publishes are unaffected while the gate is installed.
    */
  private def raceDisjoint(a: () => Unit, b: () => Unit): Unit = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val aAtPublish = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    val gate = new graft.engine.CommitLock {
      override def publishOntoAbsent(src: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path): Boolean = {
        Thread.currentThread().getName match {
          case "q61qA" =>
            aAtPublish.countDown()
            require(bDone.await(120, TimeUnit.SECONDS), "q61q gate timed out on B")
          case "q61qB" =>
            require(aAtPublish.await(120, TimeUnit.SECONDS), "q61q gate timed out on A")
          case _ => ()
        }
        val won = graft.engine.HadoopRenameCommitLock.publishOntoAbsent(src, dst)
        if (Thread.currentThread().getName == "q61qB") bDone.countDown()
        won
      }
    }
    graft.engine.CommitLock.withLock(gate) {
      @volatile var errA: Option[Throwable] = None
      @volatile var errB: Option[Throwable] = None
      val ta = new Thread(() => try a() catch { case t: Throwable => errA = Some(t) }, "q61qA")
      val tb = new Thread(() => try b() catch { case t: Throwable => errB = Some(t) }, "q61qB")
      ta.start(); tb.start()
      ta.join(300000); tb.join(300000)
      require(!ta.isAlive && !tb.isAlive, "q61q racing writers deadlocked")
      errA.foreach(throw _)
      errB.foreach(throw _)
    }
  }

  val all: Seq[QDef] = Seq(

    // R2–R6: the README pipeline — derive full_table_name, filter, star-
    // expand with row_/old_row_ prefixes; per-column non-null counts.
    QDef.df("q60_readme_pipeline", {
      val nn = ordersCols.flatMap(c => Seq(
        s"count(data['row']['$c']) AS nn_row_$c",
        s"count(data['old_row']['$c']) AS nn_old_row_$c"))
      s"$SRC\nSELECT count(*) AS cnt,\n${nn.mkString(",\n")}\nFROM f"
    }) { (s, _) =>
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
      val aggs = count(lit(1)).as("cnt") +: ordersCols.flatMap(c => Seq(
        count(col(s"row_$c")).as(s"nn_row_$c"),
        count(col(s"old_row_$c")).as(s"nn_old_row_$c")))
      flat.agg(aggs.head, aggs.tail: _*)
    },

    // R11: upsert view — latest event per key, all keys surviving.
    QDef.df("q61_upsert_last_wins",
      s"$LASTSTATE\nSELECT $rowColsOut FROM r WHERE rn = 1") { (s, _) =>
      lastState(s).drop("is_delete")
    },

    // Time travel: the table state as of seq 900 (mid-log cutoff) — replay
    // the retained event log up to the cutoff, then the normal upsert view.
    QDef.df("q61b_time_travel",
      s"${lastStateSql(" WHERE seq <= 900")}\nSELECT $rowColsOut FROM r WHERE rn = 1 AND NOT is_del") {
      (s, _) =>
        CdcPipeline.hardDelete(lastState(s, cutoff = Some(900L))).drop("is_delete")
    },

    // SCD Type 2: per-key validity intervals — valid_from/valid_to seq per
    // version, delete events close the last version without opening one.
    QDef.df("q61c_scd2",
      s"""$SRC,
         |v AS (SELECT CAST(data['primary_key'] AS VARCHAR) AS primary_key,
         |             CAST(data['row']['amount'] AS VARCHAR) AS row_amount,
         |             CAST(data['row']['qty'] AS VARCHAR) AS row_qty,
         |             seq,
         |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del
         |      FROM f),
         |s2 AS (SELECT primary_key, row_amount, row_qty, seq AS valid_from_seq,
         |              lead(seq) OVER (PARTITION BY primary_key ORDER BY seq) AS valid_to_seq,
         |              is_del
         |       FROM v)
         |SELECT primary_key, row_amount, row_qty, valid_from_seq,
         |       coalesce(valid_to_seq, -1) AS valid_to_seq,
         |       (valid_to_seq IS NULL) AS is_current
         |FROM s2 WHERE NOT is_del""".stripMargin) { (s, _) =>
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
      CdcPipeline.scd2(
          flat.select(col("primary_key"), col("row_amount"), col("row_qty"),
            col("seq"), col("is_delete")),
          Seq("primary_key"))
        .select(col("primary_key"), col("row_amount"), col("row_qty"),
          col("valid_from_seq"),
          coalesce(col("valid_to_seq"), lit(-1L)).as("valid_to_seq"),
          col("is_current"))
    },

    // Snapshot-isolated sink (the table-format layer): the full CDC log
    // merged in two commits through SnapshotParquetSink — immutable data
    // files, atomic manifest publication, bucket-pruned incremental merge.
    // The latest snapshot must equal the plain upsert view (q61's oracle).
    QDef.df("q61d_snapshot_upsert",
      s"$LASTSTATE\nSELECT $rowColsOut FROM r WHERE rn = 1") { (s, _) =>
      val (sink, dir) = freshSnapshotSink("q61d")
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
      sink.merge(flat.filter(col("seq") <= 900), Seq("primary_key"), "seq", "is_delete")
      sink.merge(flat.filter(col("seq") > 900), Seq("primary_key"), "seq", "is_delete")
      // read back through the DSv2 provider (plain-SQL surface) so the
      // format sits behind the oracle gate, not just ScalaTest; the raw
      // view keeps tombstones' last state like DeleteMode.Logical
      normalizedRowCols(s.read.format("graft-snapshot").load(dir).drop("__is_deleted"))
    },

    // Time travel on the snapshot sink: version 0 (the first commit, log
    // cutoff seq<=900) read back AFTER the second commit superseded it —
    // must equal the replay-to-cutoff view (q61b's oracle). Snapshot
    // isolation is what makes the superseded state still readable.
    QDef.df("q61e_snapshot_time_travel",
      s"${lastStateSql(" WHERE seq <= 900")}\nSELECT $rowColsOut FROM r WHERE rn = 1 AND NOT is_del") {
      (s, _) =>
        val (sink, dir) = freshSnapshotSink("q61e")
        val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
        sink.merge(flat.filter(col("seq") <= 900), Seq("primary_key"), "seq", "is_delete")
        sink.merge(flat.filter(col("seq") > 900), Seq("primary_key"), "seq", "is_delete")
        // DSv2 time travel: asOf the superseded first commit, hard-delete view
        normalizedRowCols(s.read.format("graft-snapshot").option("asOf", "0").load(dir)
          .filter(!col("__is_deleted")).drop("__is_deleted"))
    },

    // Z-CLUSTERED snapshot table (round 10): events keyed (user_id,
    // event_id) routed by Morton tile instead of key hash (write-time
    // clustering — data-derived bounds committed as table layout), read
    // back through the DSv2 provider under a 2-D range predicate. The
    // oracle filters the raw events table directly, so ANY routing defect —
    // a key landing in two tiles, a tile skipped by stats pruning that
    // actually held matching rows — loses or duplicates rows and
    // hash-mismatches. The pruning ITSELF (k-of-n files planned) is
    // asserted in ClusteredSnapshotSpec; this entry pins that pruning never
    // costs correctness on real data.
    QDef.df("q61k_clustered_read",
      """SELECT event_type, count(*) AS cnt,
        |       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_v2
        |FROM events
        |WHERE user_id BETWEEN 2 AND 9 AND event_id BETWEEN 100 AND 5000
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val out = Tables.ensureClusteredEvents(s, dir)
      s.read.format("graft-snapshot").load(out)
        .filter(col("user_id").between(2, 9) && col("event_id").between(100, 5000))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 100).cast("long")).cast("bigint").as("sum_v2"))
    },

    // Change data feed between two snapshot versions (the Delta CDF /
    // Iceberg incremental-read analog): per key, insert/update/delete with
    // the winning seq on each side, derived from the snapshots alone (the
    // stored last-write seq stands in for value comparison). The oracle
    // replays the log to both cutoffs and diffs — the feed provably equals
    // the log delta.
    QDef.df("q61h_change_feed",
      s"""$SRC,
         |r AS (SELECT CAST(data['primary_key'] AS VARCHAR) AS pk, seq,
         |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del
         |      FROM f),
         |a AS (SELECT pk, seq FROM (SELECT pk, seq, is_del,
         |        row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
         |      FROM r WHERE seq <= 900) z WHERE rn = 1 AND NOT is_del),
         |b AS (SELECT pk, seq FROM (SELECT pk, seq, is_del,
         |        row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
         |      FROM r) z WHERE rn = 1 AND NOT is_del)
         |SELECT coalesce(b.pk, a.pk) AS primary_key,
         |       CASE WHEN a.pk IS NULL THEN 'insert'
         |            WHEN b.pk IS NULL THEN 'delete'
         |            ELSE 'update' END AS change,
         |       a.seq AS seq_from, b.seq AS seq_to
         |FROM a FULL JOIN b ON a.pk = b.pk
         |WHERE a.pk IS NULL OR b.pk IS NULL OR a.seq != b.seq""".stripMargin) { (s, _) =>
      val (sink, _) = freshSnapshotSink("q61h")
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
      sink.merge(flat.filter(col("seq") <= 900), Seq("primary_key"), "seq", "is_delete")
      sink.merge(flat.filter(col("seq") > 900), Seq("primary_key"), "seq", "is_delete")
      sink.changesBetween(s, fromVersion = 0L, toVersion = 1L)
    },

    // STREAMING change feed (round 12 — mode=changes on the
    // graft-snapshot-stream source, the Delta CDF analog): the feed's
    // accumulated rows across two commits must equal initial-state inserts
    // plus the keyed diff of the second commit — computed by the oracle
    // from the raw log, never touching the source. Exercises the streaming
    // offsets, the insert-shaped initial batch, and changesBetween wiring
    // in one gate (q61h oracles the batch diff alone).
    QDef.df("q61x_stream_changes",
      s"""$SRC,
         |r AS (SELECT CAST(data['primary_key'] AS VARCHAR) AS pk, seq,
         |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del
         |      FROM f),
         |a AS (SELECT pk, seq FROM (SELECT pk, seq, is_del,
         |        row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
         |      FROM r WHERE seq <= 900) z WHERE rn = 1 AND NOT is_del),
         |b AS (SELECT pk, seq FROM (SELECT pk, seq, is_del,
         |        row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
         |      FROM r) z WHERE rn = 1 AND NOT is_del)
         |SELECT pk AS primary_key, 'insert' AS change,
         |       CAST(NULL AS BIGINT) AS seq_from, seq AS seq_to FROM a
         |UNION ALL
         |SELECT coalesce(b.pk, a.pk) AS primary_key,
         |       CASE WHEN a.pk IS NULL THEN 'insert'
         |            WHEN b.pk IS NULL THEN 'delete'
         |            ELSE 'update' END AS change,
         |       a.seq AS seq_from, b.seq AS seq_to
         |FROM a FULL JOIN b ON a.pk = b.pk
         |WHERE a.pk IS NULL OR b.pk IS NULL OR a.seq != b.seq""".stripMargin) { (s, _) =>
      val (upSink, upDir) = freshSnapshotSink("q61x_up")
      val ckpt = sys.props("java.io.tmpdir") + "/graft_q61x_ck_" +
        ProcessHandle.current().pid()
      graft.engine.Fs.deleteTree(new java.io.File(ckpt))
      graft.engine.Fs.reclaimAtExit(ckpt)
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // driver-side feed accumulation — bounded by (live keys + changed
        // keys), the retrieval-page class of collect
        val buf = java.util.Collections.synchronizedList(
          new java.util.ArrayList[org.apache.spark.sql.Row]())
        upSink.merge(flat.filter(col("seq") <= 900), Seq("primary_key"), "seq", "is_delete")
        val q = s.readStream.format("graft-snapshot-stream")
          .option("mode", "changes").load(upDir)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.collect().foreach(r => buf.add(r))
            ()
          }
          .start()
        try {
          q.processAllAvailable() // initial inserts
          upSink.merge(flat.filter(col("seq") > 900), Seq("primary_key"), "seq", "is_delete")
          q.processAllAvailable() // the diff batch
        } finally { q.stop(); q.awaitTermination() }
        val feedSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("primary_key",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("change",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("seq_from",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("seq_to",
            org.apache.spark.sql.types.LongType)))
        s.createDataFrame(buf, feedSchema)
      } finally {
        flat.unpersist()
        ()
      }
    },

    // CONCURRENT disjoint-bucket merges (round 11): after a base commit, two
    // writers apply the rest of the log split by key-hash parity — bucket-
    // disjoint batches — RACING for the next version under a deterministic
    // gate (the loser provably computed against the pre-winner state). The
    // loser must take the REBASE fast path: republish its already-written
    // files under the next version (one data write, no recompute) with the
    // winner's entries carried forward — certified by the require below.
    // The oracle replays the whole log once: any key the rebase lost,
    // duplicated, or mis-tie-broke hash-mismatches.
    QDef.df("q61q_concurrent_merge",
      s"$LASTSTATE\nSELECT $rowColsOut FROM r WHERE rn = 1") { (s, _) =>
      val (sink, dirQ) = freshSnapshotSink("q61q")
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        sink.merge(flat.filter(col("seq") <= 600), Seq("primary_key"), "seq", "is_delete")
        // the sink routes on pmod(xxhash64(primary_key), 8) — parity of the
        // same expression splits the remaining log into bucket-DISJOINT halves
        val rest = flat.filter(col("seq") > 600)
        val parity = pmod(xxhash64(col("primary_key")), lit(8)) % 2
        val a = graft.sink.SnapshotParquetSink.forTable(dirQ)
        val b = graft.sink.SnapshotParquetSink.forTable(dirQ)
        raceDisjoint(
          () => a.merge(rest.filter(parity === 0), Seq("primary_key"), "seq", "is_delete"),
          () => b.merge(rest.filter(parity === 1), Seq("primary_key"), "seq", "is_delete"))
        require(a.lastCommit.exists(i => i.rebases >= 1 && i.dataWrites == 1),
          s"the losing writer must rebase, not recompute: ${a.lastCommit}")
        require(b.lastCommit.exists(_.version == 1L),
          s"the gated winner must own v1: ${b.lastCommit}")
        normalizedRowCols(s.read.format("graft-snapshot").load(dirQ).drop("__is_deleted"))
      } finally {
        flat.unpersist()
        ()
      }
    },

    // SAME-TABLE pin conflict (round 12): writer B advances the member
    // table and pins it; writer A then commits a STALE pin it observed
    // before B's merge. Last-pin-wins would roll the catalog view back to
    // the 600-cut (a lost update — the oracle would hash-mismatch); the
    // default PinConflict.Advance resolves to the newer pin, so the head
    // cut still reads the FULL log state. The Refuse path is asserted
    // in-query (strict transactions get a loud ConcurrentPinException).
    QDef.df("q61u_pin_conflict",
      s"$LASTSTATE\nSELECT $rowColsOut FROM r WHERE rn = 1") { (s, _) =>
      val base = sys.props("java.io.tmpdir") + "/graft_q61u_" +
        ProcessHandle.current().pid()
      graft.engine.Fs.deleteTree(new java.io.File(base))
      graft.engine.Fs.reclaimAtExit(base)
      val cat = new graft.sink.SnapshotCatalog(base)
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
      val t = cat.table("orders", nBuckets = 8)
      t.merge(flat.filter(col("seq") <= 600), Seq("primary_key"), "seq", "is_delete") // orders@0
      t.merge(flat, Seq("primary_key"), "seq", "is_delete") // orders@1 (full log)
      cat.commit(Map("orders" -> 1L)) // writer B pins the fresh version
      // stale writer A: Refuse throws; default Advance lands but never regresses
      val refused =
        try {
          cat.commit(Map("orders" -> 0L), onConflict = graft.sink.PinConflict.Refuse)
          false
        } catch { case _: graft.sink.ConcurrentPinException => true }
      require(refused, "Refuse must throw ConcurrentPinException on a stale pin")
      val v = cat.commit(Map("orders" -> 0L))
      require(cat.pins(v) == Map("orders" -> 1L),
        s"Advance must keep the newer pin: ${cat.pins(v)}")
      // Logical read: the LASTSTATE oracle keeps tombstoned keys as rows
      // (their last event's values), exactly like q61q's DSv2 read
      normalizedRowCols(
        cat.readAll(s, graft.sink.DeleteMode.Logical)("orders"))
    },

    // Bloom-sidecar equality skipping (round 11): a point lookup on a
    // NON-KEY high-cardinality string over the bloom-indexed events table
    // ([[graft.sink.BloomIndex]]) — the case min/max stats cannot prune
    // (secondary identifiers hash-scatter across every bucket's full
    // range). Plan-guarded: the scan must plan ≤2 of the 16 bucket files
    // (the target's bucket plus at most one ~0.1%-probability false
    // positive) or the entry fails loudly. The oracle filters the raw
    // events table directly, so a wrongly skipped bucket loses the row and
    // hash-mismatches.
    QDef.df("q61r_bloom_point_lookup",
      """WITH d AS (SELECT user_id, event_id, event_type,
        |            'e' || CAST(user_id AS VARCHAR) || '-' ||
        |            CAST(event_id AS VARCHAR) AS ext
        |           FROM events),
        |t AS (SELECT min(ext) AS target FROM d)
        |SELECT d.user_id, d.event_id, d.event_type, d.ext
        |FROM d, t WHERE d.ext = t.target""".stripMargin) { (s, dir) =>
      val out = Tables.ensureBloomEvents(s, dir)
      val t = s.read.format("graft-snapshot").load(out)
      // deterministic target value derived from the data (exists at any sf)
      val target = t.agg(min(col("ext"))).head().getString(0)
      val probe = t.filter(col("ext") === target)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ext"))
      probe.collect()
      val planned = probe.queryExecution.executedPlan.collect {
        case bs: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          bs.scan match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.inputFiles.length
          }
      }.sum
      require(planned <= 2,
        s"bloom skipping did not engage: planned $planned of 16 bucket files")
      probe
    },

    // SQL-ONLY table lifecycle (round 11): the whole CDC apply path —
    // two last-write-wins upserts and the read-back — runs through the
    // snapshot_merge / snapshot_read table functions with zero Scala sink
    // calls, putting the SQL DML surface itself behind the correctness
    // gate (the q84s pattern). Same oracle as q61/q61d: any divergence
    // between the SQL face and the Scala face hash-mismatches.
    QDef.df("q61t_sql_lifecycle",
      s"$LASTSTATE\nSELECT $rowColsOut FROM r WHERE rn = 1") { (s, _) =>
      val (_, dirT) = freshSnapshotSink("q61t")
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
      flat.filter(col("seq") <= 900).createOrReplaceTempView("q61t_w1")
      flat.filter(col("seq") > 900).createOrReplaceTempView("q61t_w2")
      s.sql(s"SELECT * FROM snapshot_merge('$dirT', 'q61t_w1', " +
        "'primary_key', 'seq', 'is_delete', 8)").collect()
      s.sql(s"SELECT * FROM snapshot_merge('$dirT', 'q61t_w2', " +
        "'primary_key', 'seq', 'is_delete')").collect()
      normalizedRowCols(
        s.sql(s"SELECT * FROM snapshot_read('$dirT')").drop("__is_deleted"))
    },

    // Table-to-table incremental pipeline (round 11,
    // [[graft.streaming.TableFollower]]): a downstream "silver" table
    // follows the upstream orders table's commit log — each catch-up reads
    // only changed buckets, applies a row-wise enrichment, and merges;
    // updates and deletes forward through the hop. The oracle replays the
    // raw log once and enriches the final live state directly, so any row
    // the chained hop lost, resurrected, or double-applied hash-mismatches.
    QDef.df("q61s_table_follower",
      s"$LASTSTATE\nSELECT $rowColsOut, upper(row_note) AS note_upper " +
        "FROM r WHERE rn = 1 AND NOT is_del") { (s, _) =>
      val (upSink, upDir) = freshSnapshotSink("q61s_up")
      val (dnSink, _) = freshSnapshotSink("q61s_dn")
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val f = new graft.streaming.TableFollower(upDir, dnSink, "silver")
        for (wave <- Seq(col("seq") <= 900, col("seq") > 900)) {
          upSink.merge(flat.filter(wave), Seq("primary_key"), "seq", "is_delete")
          f.catchUp(s, Seq("primary_key"))(df =>
            df.withColumn("note_upper", upper(col("row_note"))))
        }
        dnSink.read(s, graft.sink.DeleteMode.Hard)
          .select(normalizedProjection :+ col("note_upper"): _*)
      } finally {
        flat.unpersist()
        ()
      }
    },

    // Structured-Streaming table-to-table hop through the
    // graft-snapshot-stream SOURCE (round 12 — the Delta streaming-source
    // analog; q61s is the same pipeline through the marker-file
    // TableFollower): a streaming query follows the upstream commit log
    // with Spark-checkpointed offsets — initial snapshot, then a
    // changed-bucket slice per upstream commit — enriches row-wise and
    // merges downstream. Same oracle as q61s: any row the stream lost,
    // resurrected or double-applied hash-mismatches.
    QDef.df("q61w_stream_source",
      s"$LASTSTATE\nSELECT $rowColsOut, upper(row_note) AS note_upper " +
        "FROM r WHERE rn = 1 AND NOT is_del") { (s, _) =>
      val (upSink, upDir) = freshSnapshotSink("q61w_up")
      val (dnSink, _) = freshSnapshotSink("q61w_dn")
      val ckpt = sys.props("java.io.tmpdir") + "/graft_q61w_ck_" +
        ProcessHandle.current().pid()
      graft.engine.Fs.deleteTree(new java.io.File(ckpt))
      graft.engine.Fs.reclaimAtExit(ckpt)
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        upSink.merge(flat.filter(col("seq") <= 900), Seq("primary_key"), "seq", "is_delete")
        val q = s.readStream.format("graft-snapshot-stream").load(upDir)
          .withColumn("note_upper", upper(col("row_note")))
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
          .foreachBatch { (b: DataFrame, _: Long) =>
            if (!b.isEmpty) dnSink.merge(b, Seq("primary_key"), "seq", "is_deleted")
            ()
          }
          .start()
        try {
          q.processAllAvailable() // initial snapshot
          upSink.merge(flat.filter(col("seq") > 900), Seq("primary_key"), "seq", "is_delete")
          q.processAllAvailable() // changed-slice catch-up
        } finally { q.stop(); q.awaitTermination() }
        dnSink.read(s, graft.sink.DeleteMode.Hard)
          .select(normalizedProjection :+ col("note_upper"): _*)
      } finally {
        flat.unpersist()
        ()
      }
    },

    // Incrementally-maintained materialized aggregate (dirty-group
    // recompute IVM — [[graft.sink.MaterializedAgg]]): a grouped rollup
    // kept in its own snapshot table and advanced per source version from
    // the change feed, never recomputing untouched groups. The log is
    // applied in THREE waves with a refresh after each — updates and
    // deletes between waves move rows across groups and delete group
    // minima/maxima, exactly the cases delta-based maintenance corrupts.
    // The oracle replays the whole log once and groups the final live
    // state directly, so any drift the incremental path accumulates
    // hash-mismatches.
    QDef.df("q61m_materialized_agg",
      s"""$SRC,
         |r AS (SELECT data['primary_key'] AS pk,
         |             CAST(data['row']['qty'] AS BIGINT) AS qty,
         |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del,
         |             row_number() OVER (PARTITION BY data['primary_key'] ORDER BY seq DESC) AS rn
         |      FROM f),
         |live AS (SELECT qty FROM r WHERE rn = 1 AND NOT is_del)
         |SELECT qty % 3 AS grp, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(qty) AS BIGINT) AS sum_qty,
         |       CAST(min(qty) AS BIGINT) AS min_qty,
         |       CAST(max(qty) AS BIGINT) AS max_qty
         |FROM live GROUP BY 1""".stripMargin) { (s, _) =>
      val (src, _) = freshSnapshotSink("q61m_src")
      val (agg, _) = freshSnapshotSink("q61m_agg")
      // cached: every merge action re-walks the batch (affected buckets,
      // max seq, write), and without the cache each walk re-parses the JSON
      // fixture — the multi-version catch-up shape itself lives in
      // MaterializedAggSpec; here two waves exercise initial build + one
      // incremental refresh with updates, deletes and group moves
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
        .withColumn("grp", col("row_qty").cast("long") % 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val m = new graft.sink.MaterializedAgg(src, agg, Seq("grp"),
          Seq(count(lit(1)).cast("bigint").as("n_rows"),
            sum(col("row_qty").cast("long")).as("sum_qty"),
            min(col("row_qty").cast("long")).as("min_qty"),
            max(col("row_qty").cast("long")).as("max_qty")))
        for (wave <- Seq(col("seq") <= 600, col("seq") > 600)) {
          src.merge(flat.filter(wave), Seq("primary_key"), "seq", "is_delete")
          m.refresh(s)
        }
        m.read(s).select(col("grp"), col("n_rows"), col("sum_qty"),
          col("min_qty"), col("max_qty"))
      } finally {
        flat.unpersist()
        ()
      }
    },

    // STREAM-DRIVEN materialized view ([[graft.streaming.MatViewStream]]):
    // the same maintained-rollup contract as q61m, but the refreshes are
    // fired by a streaming follower of the source table (the
    // graft-snapshot-stream source as a commit cursor, one refresh per
    // admitted version) instead of manual calls — the continuous-
    // maintenance deployment shape. Three source commits land while the
    // follower runs; the oracle replays the whole log once and groups the
    // final live state, so any per-commit drift hash-mismatches.
    QDef.df("q61y_stream_matview",
      s"""$SRC,
         |r AS (SELECT data['primary_key'] AS pk,
         |             CAST(data['row']['qty'] AS BIGINT) AS qty,
         |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del,
         |             row_number() OVER (PARTITION BY data['primary_key'] ORDER BY seq DESC) AS rn
         |      FROM f),
         |live AS (SELECT qty FROM r WHERE rn = 1 AND NOT is_del)
         |SELECT qty % 4 AS grp, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(qty) AS BIGINT) AS sum_qty
         |FROM live GROUP BY 1""".stripMargin) { (s, _) =>
      val (src, _) = freshSnapshotSink("q61y_src")
      val (agg, _) = freshSnapshotSink("q61y_agg")
      val ckpt = sys.props("java.io.tmpdir") + s"/graft_q61y_ckpt_" +
        ProcessHandle.current().pid()
      graft.engine.Fs.deleteTree(new java.io.File(ckpt))
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
        .withColumn("grp", col("row_qty").cast("long") % 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val m = new graft.sink.MaterializedAgg(src, agg, Seq("grp"),
          Seq(count(lit(1)).cast("bigint").as("n_rows"),
            sum(col("row_qty").cast("long")).as("sum_qty")))
        src.merge(flat.filter(col("seq") <= 400), Seq("primary_key"), "seq", "is_delete")
        val q = graft.streaming.MatViewStream.follow(s, m, ckpt,
          maxVersionsPerTrigger = 1)
        try {
          q.processAllAvailable()
          for (wave <- Seq(col("seq") > 400 && col("seq") <= 600, col("seq") > 600)) {
            src.merge(flat.filter(wave), Seq("primary_key"), "seq", "is_delete")
            q.processAllAvailable()
          }
        } finally { q.stop(); q.awaitTermination() }
        require(m.appliedVersion.contains(2L),
          s"follower must have applied all 3 commits: ${m.appliedVersion}")
        m.read(s).select(col("grp"), col("n_rows"), col("sum_qty"))
      } finally {
        flat.unpersist()
        ()
      }
    },

    // Materialized-view QUERY REWRITE ([[graft.plans.MatViewRewrite]]): the
    // same maintained rollup, but the engine side never reads the view
    // handle — it runs a plain GROUP BY over the SOURCE table and the
    // optimizer answers it from the matview (plan-guarded below: the
    // optimized plan must scan only the aggregate table's files). The
    // oracle replays the log and groups the final live state from scratch,
    // so the rewritten answer is checked against ground truth, not against
    // the view it was served from.
    QDef.df("q61n_matview_rewrite",
      s"""$SRC,
         |r AS (SELECT data['primary_key'] AS pk,
         |             CAST(data['row']['qty'] AS BIGINT) AS qty,
         |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del,
         |             row_number() OVER (PARTITION BY data['primary_key'] ORDER BY seq DESC) AS rn
         |      FROM f),
         |live AS (SELECT qty FROM r WHERE rn = 1 AND NOT is_del)
         |SELECT qty % 5 AS grp, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(qty) AS BIGINT) AS sum_qty
         |FROM live GROUP BY 1""".stripMargin) { (s, _) =>
      val (src, srcDir) = freshSnapshotSink("q61n_src")
      val (agg, aggDir) = freshSnapshotSink("q61n_agg")
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
        .withColumn("qty_l", col("row_qty").cast("long"))
        .withColumn("grp", col("row_qty").cast("long") % 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val m = new graft.sink.MaterializedAgg(src, agg, Seq("grp"),
        Seq(count(lit(1)).as("n_rows"), sum(col("qty_l")).as("sum_qty")))
      try {
        for (wave <- Seq(col("seq") <= 900, col("seq") > 900)) {
          src.merge(flat.filter(wave), Seq("primary_key"), "seq", "is_delete")
          m.refresh(s)
        }
      } finally {
        flat.unpersist()
        ()
      }
      graft.sink.MaterializedAgg.register(m)
      try {
        val out = s.read.format("graft-snapshot").load(srcDir)
          .where(!col("__is_deleted"))
          .groupBy("grp")
          .agg(count(lit(1)).as("n_rows"), sum(col("qty_l")).as("sum_qty"))
        // this entry certifies the rewrite: a plan still scanning the source
        // must fail loudly, not silently pass on the slow path
        val leaves = out.queryExecution.optimizedPlan.collectLeaves().flatMap {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.toSeq.map(_.toUri.getPath)
              case _ => Nil
            }
          case other => Seq(other.nodeName)
        }
        require(leaves.nonEmpty && leaves.forall(_.startsWith(aggDir)),
          s"matview rewrite did not fire: plan scans $leaves")
        out
      } finally graft.sink.MaterializedAgg.unregister(m)
    },

    // Roll-up rewrite: the view maintains (grp, sub)-level partials; the
    // query asks for grp-level sums and counts plus min/max. The optimizer
    // must RE-FOLD the view (sum→sum, count→sum of counts, min/max→min/max
    // over partials) instead of touching the source — plan-guarded like
    // q61n. One maintained view answering its whole drill-down family is
    // the scale story: at 100 TB the dashboard hierarchy reads kilobytes.
    QDef.df("q61o_matview_rollup",
      s"""$SRC,
         |r AS (SELECT data['primary_key'] AS pk,
         |             CAST(data['row']['qty'] AS BIGINT) AS qty,
         |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del,
         |             row_number() OVER (PARTITION BY data['primary_key'] ORDER BY seq DESC) AS rn
         |      FROM f),
         |live AS (SELECT qty FROM r WHERE rn = 1 AND NOT is_del)
         |SELECT qty % 4 AS grp, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(qty) AS BIGINT) AS sum_qty,
         |       CAST(min(qty) AS BIGINT) AS min_qty,
         |       CAST(max(qty) AS BIGINT) AS max_qty
         |FROM live GROUP BY 1""".stripMargin) { (s, _) =>
      val (src, srcDir) = freshSnapshotSink("q61o_src")
      val (agg, aggDir) = freshSnapshotSink("q61o_agg")
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
        .withColumn("qty_l", col("row_qty").cast("long"))
        .withColumn("grp", col("row_qty").cast("long") % 4)
        .withColumn("sub", col("row_qty").cast("long") % 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val m = new graft.sink.MaterializedAgg(src, agg, Seq("grp", "sub"),
        Seq(count(lit(1)).as("n_rows"), sum(col("qty_l")).as("sum_qty"),
          min(col("qty_l")).as("min_qty"), max(col("qty_l")).as("max_qty")))
      try {
        src.merge(flat, Seq("primary_key"), "seq", "is_delete")
        m.refresh(s)
      } finally {
        flat.unpersist()
        ()
      }
      graft.sink.MaterializedAgg.register(m)
      try {
        val out = s.read.format("graft-snapshot").load(srcDir)
          .where(!col("__is_deleted"))
          .groupBy("grp")
          .agg(count(lit(1)).as("n_rows"), sum(col("qty_l")).as("sum_qty"),
            min(col("qty_l")).as("min_qty"), max(col("qty_l")).as("max_qty"))
        val leaves = out.queryExecution.optimizedPlan.collectLeaves().flatMap {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.toSeq.map(_.toUri.getPath)
              case _ => Nil
            }
          case other => Seq(other.nodeName)
        }
        require(leaves.nonEmpty && leaves.forall(_.startsWith(aggDir)),
          s"matview roll-up rewrite did not fire: plan scans $leaves")
        out
      } finally graft.sink.MaterializedAgg.unregister(m)
    },

    // Incrementally-maintained materialized JOIN view
    // ([[graft.sink.MaterializedJoin]]): orders enriched with their
    // customer's name (FK = the fixture's deterministic 200+(id%100) map
    // onto the customers key space, the q66f construction), maintained
    // from BOTH sides' changes — the second wave advances fact AND dim
    // together, so the refresh must fan dim updates out to referencing
    // facts, re-point re-keyed facts, and null out deleted customers
    // (left_outer). The oracle replays both logs once and joins the final
    // live states from scratch.
    QDef.df("q61p_matjoin_view",
      s"""$SRC,
         |o AS (SELECT CAST(data['primary_key'] AS VARCHAR) AS pk,
         |             CAST(data['row']['qty'] AS BIGINT) AS qty, seq,
         |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del,
         |             row_number() OVER (PARTITION BY data['primary_key'] ORDER BY seq DESC) AS rn
         |      FROM f),
         |olive AS (SELECT pk, qty,
         |                 CAST(200 + CAST(pk AS INT) % 100 AS VARCHAR) AS fk
         |          FROM o WHERE rn = 1 AND NOT is_del),
         |c AS (SELECT CAST(data['primary_key'] AS VARCHAR) AS pk,
         |             CAST(data['row']['name'] AS VARCHAR) AS cname, seq,
         |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del,
         |             row_number() OVER (PARTITION BY data['primary_key'] ORDER BY seq DESC) AS rn
         |      FROM src
         |      WHERE data['database_name'] || '.' ||
         |            regexp_replace(data['table_name'], '_part_[0-9]+$$', '') = 'shop.customers'),
         |clive AS (SELECT pk, cname FROM c WHERE rn = 1 AND NOT is_del)
         |SELECT olive.pk AS primary_key, olive.qty AS qty, olive.fk AS fk,
         |       clive.cname AS cust_name
         |FROM olive LEFT JOIN clive ON olive.fk = clive.pk""".stripMargin) { (s, _) =>
      val (fSink, _) = freshSnapshotSink("q61p_f")
      val (dSink, _) = freshSnapshotSink("q61p_d")
      val (vSink, _) = freshSnapshotSink("q61p_v")
      val orders = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
        .select(col("primary_key"), col("seq"), col("is_delete"),
          col("row_qty").cast("long").as("qty"),
          (lit(200) + col("primary_key").cast("int") % 100).cast("string").as("fk"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val custs = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.customers"))
        .select(col("primary_key").as("fk"), col("seq"), col("is_delete"),
          col("row_name").as("cust_name"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val m = new graft.sink.MaterializedJoin(fSink, dSink, vSink,
          Seq("fk"), Seq("cust_name"))
        // the two source loads land in DIFFERENT sinks with no ordering
        // between them — overlap their commit round trips (guide §2.6)
        graft.engine.Par.together(
          () => fSink.merge(orders, Seq("primary_key"), "seq", "is_delete"),
          () => dSink.merge(custs.filter(col("seq") <= 600), Seq("fk"), "seq", "is_delete"))
        m.refresh(s)
        // dim-only advance: the refresh must fan customer updates out to
        // every referencing order and null the deleted customers, touching
        // only referencing fact rows (the fact-side diff is skipped — the
        // fact did not advance); fact-side incremental maintenance is
        // spec-covered (MaterializedJoinSpec)
        dSink.merge(custs.filter(col("seq") > 600), Seq("fk"), "seq", "is_delete")
        m.refresh(s)
        m.read(s).select(col("primary_key"), col("qty"), col("fk"), col("cust_name"))
      } finally {
        orders.unpersist()
        custs.unpersist()
        ()
      }
    },

    // Tombstone purge (Kafka log-compaction's delete-retention analog):
    // tombstones at or below the replay horizon (1200) drop in one fresh
    // commit; newer tombstones stay (a replayed stale pre-delete event
    // could still arrive and must keep losing). Live rows untouched. The
    // oracle replays last-write-wins and applies the same retention rule.
    QDef.df("q61j_tombstone_purge",
      s"""$SRC,
         |r AS (SELECT CAST(data['primary_key'] AS VARCHAR) AS pk, seq,
         |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del
         |      FROM f),
         |last AS (SELECT pk, seq, is_del FROM (SELECT pk, seq, is_del,
         |           row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
         |         FROM r) z WHERE rn = 1)
         |SELECT pk AS primary_key, CAST(seq AS BIGINT) AS seq,
         |       is_del AS is_deleted
         |FROM last WHERE NOT (is_del AND seq <= 1200)""".stripMargin) { (s, _) =>
      val (sink, _) = freshSnapshotSink("q61j")
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
      sink.merge(flat, Seq("primary_key"), "seq", "is_delete")
      sink.purgeTombstones(s, horizonSeq = 1200L)
      sink.read(s, graft.sink.DeleteMode.Logical)
        .select(col("primary_key"), col("seq").cast("bigint").as("seq"),
          col("is_deleted"))
    },

    // Atomic multi-table transaction via the snapshot catalog: both tables
    // merge to seq<=600 and catalog v0 pins that cut; then a CRASHED
    // transaction advances orders alone (full merge, no catalog commit) —
    // catalog readers still see the v0 cut on BOTH tables; the retried
    // transaction completes (customers full + commit) as v1. The oracle
    // replays the log at the two cuts — reading catalog v0 AFTER orders'
    // unpinned head commit must still equal the 600-cut on both tables,
    // which is exactly the torn-read the catalog exists to prevent.
    QDef.df("q61i_catalog_txn",
      s"""$SRC,
         |t2 AS (SELECT seq,
         |        data['database_name'] || '.' ||
         |          regexp_replace(data['table_name'], '_part_[0-9]+$$', '') AS ftn,
         |        CAST(data['primary_key'] AS VARCHAR) AS pk,
         |        coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del
         |      FROM src),
         |live AS (SELECT ftn, cutoff, pk FROM (
         |          SELECT t2.ftn, c.cutoff, t2.pk, t2.is_del,
         |                 row_number() OVER (PARTITION BY t2.ftn, c.cutoff, t2.pk
         |                                    ORDER BY t2.seq DESC) AS rn
         |          FROM t2, (VALUES (600), (1729)) c(cutoff)
         |          WHERE t2.seq <= c.cutoff
         |            AND t2.ftn IN ('shop.orders', 'shop.customers')) z
         |         WHERE rn = 1 AND NOT is_del)
         |SELECT CAST(CASE cutoff WHEN 600 THEN 0 ELSE 1 END AS BIGINT) AS catalog_version,
         |       CASE ftn WHEN 'shop.orders' THEN 'orders' ELSE 'customers' END AS table_name,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(CAST(pk AS INTEGER)) AS BIGINT) AS pk_sum
         |FROM live GROUP BY 1, 2""".stripMargin) { (s, _) =>
      val base = sys.props("java.io.tmpdir") + "/graft_q61i_" +
        ProcessHandle.current().pid()
      graft.engine.Fs.deleteTree(new java.io.File(base))
      graft.engine.Fs.reclaimAtExit(base)
      val cat = new graft.sink.SnapshotCatalog(base)
      // measured, not guessed: persisting the envelope across the four
      // merges looked like an obvious win (repeated JSON read + schema
      // inference) but benched SLOWER (2.44 -> 2.84 s min-of-5) — the
      // fixture envelope is tiny, the file is page-cached, and the cache
      // materialization is pure overhead at this size
      val e = env(s)
      def flat(tbl: String) = CdcPipeline.expanded(CdcPipeline.forTable(e, tbl))
      val to = cat.table("orders", nBuckets = 8)
      val tc = cat.table("customers", nBuckets = 8)
      // transaction 1: both tables to seq<=600, pinned atomically as v0.
      // The two loads hit DIFFERENT tables and only the catalog commit
      // orders them — overlap their commit round trips (guide §2.6)
      graft.engine.Par.together(
        () => to.merge(flat("shop.orders").filter(col("seq") <= 600), Seq("primary_key"), "seq", "is_delete"),
        () => tc.merge(flat("shop.customers").filter(col("seq") <= 600), Seq("primary_key"), "seq", "is_delete"))
      cat.commitCurrent(Seq("orders", "customers"))
      // transaction 2 CRASHES half-way: orders advanced, catalog not;
      // the retried transaction catches customers up and v1 pins both.
      // The two head merges are likewise unordered w.r.t. each other —
      // the torn-read protection under test is the CATALOG pin, which
      // stays at v0 until commitCurrent regardless of merge interleaving
      graft.engine.Par.together(
        () => to.merge(flat("shop.orders"), Seq("primary_key"), "seq", "is_delete"),
        () => tc.merge(flat("shop.customers"), Seq("primary_key"), "seq", "is_delete"))
      cat.commitCurrent(Seq("orders", "customers"))
      // read BOTH catalog versions after the fact: v0 must still be the
      // 600-cut on both tables despite orders' interleaved head commit
      val rows = Seq(0L, 1L).flatMap { v =>
        cat.readAllAt(s, v).toSeq.sortBy(_._1).map { case (name, df) =>
          df.agg(count(lit(1)).cast("bigint").as("n_rows"),
              sum(col("primary_key").cast("int")).cast("bigint").as("pk_sum"))
            .select(lit(v).as("catalog_version"), lit(name).as("table_name"),
              col("n_rows"), col("pk_sum"))
        }
      }
      rows.reduce(_.unionByName(_))
    },

    // q61i's atomic multi-table transaction RE-EXPRESSED AS PURE SQL
    // (round 12): merges via snapshot_merge, cuts via catalog_commit (the
    // retried transaction commits under onConflict='refuse' — proving the
    // strict mode passes on a normally-advancing commit), reads via
    // catalog_read at both catalog versions. Same oracle as q61i: reading
    // cut v0 after orders' unpinned head commit must still be the 600-cut
    // on both tables.
    QDef.df("q61v_sql_catalog_txn",
      s"""$SRC,
         |t2 AS (SELECT seq,
         |        data['database_name'] || '.' ||
         |          regexp_replace(data['table_name'], '_part_[0-9]+$$', '') AS ftn,
         |        CAST(data['primary_key'] AS VARCHAR) AS pk,
         |        coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del
         |      FROM src),
         |live AS (SELECT ftn, cutoff, pk FROM (
         |          SELECT t2.ftn, c.cutoff, t2.pk, t2.is_del,
         |                 row_number() OVER (PARTITION BY t2.ftn, c.cutoff, t2.pk
         |                                    ORDER BY t2.seq DESC) AS rn
         |          FROM t2, (VALUES (600), (1729)) c(cutoff)
         |          WHERE t2.seq <= c.cutoff
         |            AND t2.ftn IN ('shop.orders', 'shop.customers')) z
         |         WHERE rn = 1 AND NOT is_del)
         |SELECT CAST(CASE cutoff WHEN 600 THEN 0 ELSE 1 END AS BIGINT) AS catalog_version,
         |       CASE ftn WHEN 'shop.orders' THEN 'orders' ELSE 'customers' END AS table_name,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(CAST(pk AS INTEGER)) AS BIGINT) AS pk_sum
         |FROM live GROUP BY 1, 2""".stripMargin) { (s, _) =>
      val base = sys.props("java.io.tmpdir") + "/graft_q61v_" +
        ProcessHandle.current().pid()
      graft.engine.Fs.deleteTree(new java.io.File(base))
      graft.engine.Fs.reclaimAtExit(base)
      val e = env(s)
      def flat(tbl: String) = CdcPipeline.expanded(CdcPipeline.forTable(e, tbl))
      flat("shop.orders").filter(col("seq") <= 600).createOrReplaceTempView("q61v_o1")
      flat("shop.customers").filter(col("seq") <= 600).createOrReplaceTempView("q61v_c1")
      flat("shop.orders").createOrReplaceTempView("q61v_o2")
      flat("shop.customers").createOrReplaceTempView("q61v_c2")
      // transaction 1: both tables to seq<=600, pinned atomically as cut
      // v0. The two loads are unordered w.r.t. each other (different
      // tables; the catalog commit is the ordering point) — overlap their
      // commit round trips (guide §2.6)
      graft.engine.Par.together(
        () => { s.sql(s"SELECT * FROM snapshot_merge('$base/orders', 'q61v_o1', " +
          "'primary_key', 'seq', 'is_delete', 8)").collect(); () },
        () => { s.sql(s"SELECT * FROM snapshot_merge('$base/customers', 'q61v_c1', " +
          "'primary_key', 'seq', 'is_delete', 8)").collect(); () })
      s.sql(s"SELECT * FROM catalog_commit('$base', 'orders,customers')").collect()
      // transaction 2 CRASHES half-way: orders advanced, catalog not; the
      // retried transaction completes under the STRICT conflict mode. The
      // two head merges are likewise mutually unordered — the pin under
      // test stays at v0 until catalog_commit regardless of interleaving
      graft.engine.Par.together(
        () => { s.sql(s"SELECT * FROM snapshot_merge('$base/orders', 'q61v_o2', " +
          "'primary_key', 'seq', 'is_delete')").collect(); () },
        () => { s.sql(s"SELECT * FROM snapshot_merge('$base/customers', 'q61v_c2', " +
          "'primary_key', 'seq', 'is_delete')").collect(); () })
      s.sql(s"SELECT * FROM catalog_commit('$base', 'orders,customers', 'refuse')").collect()
      val rows = Seq(0L, 1L).flatMap { v =>
        Seq("customers", "orders").map { t =>
          s.sql(s"SELECT * FROM catalog_read('$base', '$t', $v)")
            .filter(!col("__is_deleted"))
            .agg(count(lit(1)).cast("bigint").as("n_rows"),
              sum(col("primary_key").cast("int")).cast("bigint").as("pk_sum"))
            .select(lit(v).as("catalog_version"), lit(t).as("table_name"),
              col("n_rows"), col("pk_sum"))
        }
      }
      rows.reduce(_.unionByName(_))
    },

    // Snapshot version history — the commit-log metadata view a lakehouse
    // operator reads before time-traveling or vacuuming: per committed
    // version, live-row and tombstone counts. The oracle replays each
    // version's state from the CDC log at its seq cutoff, so the store's
    // whole commit HISTORY (not just its head) provably matches the log.
    QDef.df("q61g_version_history",
      s"""$SRC,
         |r AS (SELECT data['primary_key'] AS pk, seq,
         |             coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del
         |      FROM f),
         |v0 AS (SELECT pk, is_del,
         |              row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
         |       FROM r WHERE seq <= 900),
         |v1 AS (SELECT pk, is_del,
         |              row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
         |       FROM r)
         |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(CASE WHEN is_del THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
         |FROM v0 WHERE rn = 1
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
         |       CAST(SUM(CASE WHEN is_del THEN 1 ELSE 0 END) AS BIGINT)
         |FROM v1 WHERE rn = 1""".stripMargin) { (s, _) =>
      val (sink, _) = freshSnapshotSink("q61g")
      val flat = CdcPipeline.expanded(CdcPipeline.forTable(env(s), "shop.orders"))
      sink.merge(flat.filter(col("seq") <= 900), Seq("primary_key"), "seq", "is_delete")
      sink.merge(flat.filter(col("seq") > 900), Seq("primary_key"), "seq", "is_delete")
      sink.versions.map { v =>
        sink.readAt(s, v, graft.sink.DeleteMode.Logical)
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("is_deleted"), 1L).otherwise(0L)).as("n_deleted"))
          .select(lit(v).cast("bigint").as("version"),
            col("n_rows").cast("bigint").as("n_rows"),
            col("n_deleted").cast("bigint").as("n_deleted"))
      }.reduce(_ unionAll _)
    },

    // Partition lifecycle, compaction half: orders written partitionBy(yr)
    // with 6 writer tasks (6 small files per partition — the streaming-
    // ingest pathology), compacted to ceil(bytes/target)=1 file each, read
    // back and aggregated. The oracle checks content preservation against
    // the raw table; the builder itself asserts the file-count collapse
    // (dry-run report = real report, files actually reduced) — the half the
    // oracle can't see.
    QDef.df("q61f_partition_compact",
      """SELECT CAST(year(o_orderdate) AS STRING) AS yr,
        |       count(*) AS cnt,
        |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS STRING) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin) { (s, _) =>
      val base = sys.props("java.io.tmpdir") + "/graft_q61f_" +
        ProcessHandle.current().pid()
      q61fHook(base) // reclaim the per-process copy at JVM exit, hook once
      graft.engine.Fs.deleteTree(new java.io.File(base))
      s.table("orders")
        .withColumn("yr", year(col("o_orderdate")).cast("string"))
        .repartition(6)
        .write.partitionBy("yr").mode("overwrite").parquet(base)
      val preview = graft.sink.Compaction.compactPartitions(
        s, base, "yr", targetBytes = 1L << 30)
      require(preview.compacted.nonEmpty && !preview.executed,
        "compaction preview found no small-file partitions")
      val report = graft.sink.Compaction.compactPartitions(
        s, base, "yr", targetBytes = 1L << 30, dryRun = false)
      require(report.compacted == preview.compacted,
        "dry-run preview diverged from the executed plan")
      require(report.filesAfter < report.filesBefore,
        s"compaction did not reduce files: ${report.filesBefore} -> ${report.filesAfter}")
      s.read.parquet(base)
        .groupBy(col("yr").cast("string").as("yr"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)").cast("string").as("sum_price"))
    },

    // R14: hard delete — drop keys whose final event is a delete.
    QDef.df("q62_hard_delete",
      s"$LASTSTATE\nSELECT $rowColsOut FROM r WHERE rn = 1 AND NOT is_del") { (s, _) =>
      CdcPipeline.hardDelete(lastState(s)).drop("is_delete")
    },

    // R15: logical delete — keep all keys, expose is_deleted.
    QDef.df("q63_logical_delete",
      s"$LASTSTATE\nSELECT $rowColsOut, is_del AS is_deleted FROM r WHERE rn = 1") { (s, _) =>
      CdcPipeline.logicalDelete(lastState(s)).drop("is_delete")
    },

    // R23: schema evolution — epoch-2 events add row.discount; union-by-name
    // yields nulls for epoch-1 rows.
    QDef.df("q64_schema_evolution",
      s"""$SRC
         |SELECT count(*) AS cnt,
         |       count(data['row']['discount']) AS nn_discount,
         |       count(*) - count(data['row']['discount']) AS null_discount
         |FROM f""".stripMargin) { (s, _) =>
      CdcPipeline.forTable(env(s), "shop.orders").agg(
        count(lit(1)).as("cnt"),
        count(col("data.row.discount")).as("nn_discount"),
        (count(lit(1)) - count(col("data.row.discount"))).as("null_discount"))
    },

    // R23 beyond added columns: in-place TYPE WIDENING from a refreshed
    // catalog (MySQL ALTER ... MODIFY). Epoch 1 (seq<1500) is applied
    // under the original catalog (qty smallint→LONG, created
    // datetime→TIMESTAMP); the refresh widens qty→numeric (DOUBLE) and
    // created→varchar (STRING), and the migration is a FULL-history replay
    // under the widened casts (widening is retroactive — the wire strings
    // re-cast losslessly), after which epoch-1 AND epoch-2 rows read back
    // under the widened types. The oracle replays the whole log under the
    // wide casts directly — the sink's two-step path must land on the
    // same values.
    QDef.df("q64b_type_widening",
      s"""$LASTSTATE
         |SELECT primary_key,
         |       CAST(CAST(CAST(row_qty AS DOUBLE) AS DECIMAL(18,4)) AS STRING) AS qty,
         |       row_created AS created
         |FROM r WHERE rn = 1 AND NOT is_del""".stripMargin) { (s, _) =>
      val (sink, dir) = freshSnapshotSink("q64b")
      graft.engine.Fs.reclaimAtExit(dir)
      val e = env(s)
      def flatTyped(df: DataFrame, sp: TableSpec) =
        CdcPipeline.typed(CdcPipeline.expanded(CdcPipeline.forTable(df, "shop.orders")), sp)
      sink.merge(flatTyped(e.filter(col("seq") < 1500), ordersSpec),
        Seq("primary_key"), "seq", "is_delete")
      val wide = ordersSpec.copy(cols = ordersSpec.cols.map {
        case c if c.name == "qty"     => c.copy(udt = "numeric")
        case c if c.name == "created" => c.copy(udt = "varchar")
        case c                        => c
      })
      graft.streaming.SchemaEvolution.typeChanges(ordersSpec, wide).foreach {
        case (n, from, to) => require(graft.types.UdtMapper.widens(from, to),
          s"q64b must exercise widenings only, got $n: $from → $to")
      }
      // truncate-and-load: merging would let ANSI union coercion resolve
      // the widened columns back to the stored narrow types
      sink.replaceAll(flatTyped(e, wide), Seq("primary_key"), "seq", "is_delete")
      val st = sink.read(s, graft.sink.DeleteMode.Hard)
      st.select(col("primary_key"),
        col("row_qty").cast("decimal(18,4)").cast("string").as("qty"),
        col("row_created").as("created"))
    },

    // R10: the full udt cast matrix on the materialized table (int→BIGINT,
    // decimal→DOUBLE, datetime→TIMESTAMP, bit→BOOLEAN, _int4→sorted JSON,
    // unknown uuid→STRING), canonicalized per QDef policy.
    QDef.df("q65_udt_typed", {
      s"""$LASTSTATE,
         |last AS (SELECT * FROM r WHERE rn = 1 AND NOT is_del)
         |SELECT primary_key,
         |       CAST(row_id AS BIGINT) AS id,
         |       CAST(CAST(CAST(row_amount AS DOUBLE) AS DECIMAL(18,4)) AS STRING) AS amount,
         |       CAST(row_qty AS BIGINT) AS qty,
         |       row_note AS note,
         |       epoch_us(CAST(row_created AS TIMESTAMP)) AS created_us,
         |       CAST(row_active AS BOOLEAN) AS active,
         |       row_tags AS tags_json,
         |       row_ext_id AS ext_id,
         |       CAST(CAST(CAST(row_discount AS DOUBLE) AS DECIMAL(18,4)) AS STRING) AS discount
         |FROM last""".stripMargin
    }) { (s, _) =>
      val typed = CdcPipeline.materialize(env(s), ordersSpec, logicalDeletes = false)
      typed.select(
        col("primary_key"),
        col("row_id").as("id"),
        col("row_amount").cast("decimal(18,4)").cast("string").as("amount"),
        col("row_qty").as("qty"),
        col("row_note").as("note"),
        unix_micros(col("row_created").cast("timestamp")).as("created_us"),
        col("row_active").as("active"),
        to_json(array_sort(col("row_tags"))).as("tags_json"),
        col("row_ext_id").as("ext_id"),
        col("row_discount").cast("decimal(18,4)").cast("string").as("discount"))
    },

    // R20: field first-seen — min event time where the column is non-null,
    // all columns in ONE aggregation pass (vs one API probe per column).
    QDef.df("q66_first_seen", {
      val parts = ordersCols.map(c =>
        s"""SELECT '$c' AS column_name,
           |       min(CASE WHEN data['row']['$c'] IS NOT NULL
           |                THEN epoch_us(CAST(ts AS TIMESTAMPTZ)) END) AS first_seen_us
           |FROM f""".stripMargin)
      s"$SRC\n${parts.mkString("\nUNION ALL\n")}"
    }) { (s, _) =>
      val f = CdcPipeline.forTable(env(s), "shop.orders")
      Inspection.firstSeen(
        f, unix_micros(col("ts").cast("timestamp")),
        ordersCols.map(c => c -> col(s"data.row.$c")))
        .withColumnRenamed("first_seen", "first_seen_us")
    },

    // Replication freshness / lag — the monitoring view next to the
    // reference's field inspection: per table, event volume, newest seq and
    // event time, and how far the table trails the stream head (a table
    // whose seq_lag grows is a stalled pipeline). One grouped pass + a
    // broadcast of the one-row global max.
    QDef.df("q66b_freshness",
      s"""$SRC,
         |t AS (SELECT data['database_name'] || '.' ||
         |             regexp_replace(data['table_name'], '_part_[0-9]+$$', '') AS full_table_name,
         |             CAST(seq AS BIGINT) AS seq,
         |             epoch_us(CAST(ts AS TIMESTAMPTZ)) AS ts_us
         |      FROM src),
         |g AS (SELECT max(seq) AS gmax FROM t)
         |SELECT full_table_name, CAST(count(*) AS BIGINT) AS events,
         |       CAST(max(seq) AS BIGINT) AS max_seq,
         |       CAST(max(ts_us) AS BIGINT) AS max_ts_us,
         |       CAST(g.gmax - max(seq) AS BIGINT) AS seq_lag
         |FROM t, g GROUP BY full_table_name, g.gmax""".stripMargin) { (s, _) =>
      val e = CdcPipeline.withFullTableName(env(s))
      val perTable = e.groupBy(col("full_table_name"))
        .agg(count(lit(1)).as("events"),
          max(col("seq")).cast("bigint").as("max_seq"),
          max(unix_micros(col("ts").cast("timestamp"))).as("max_ts_us"))
      // stream head = max over the per-table heads — derived from the
      // (table-count-sized) grouped frame, not a second envelope scan
      val g = perTable.agg(max(col("max_seq")).as("gmax"))
      perTable.crossJoin(broadcast(g))
        .select(col("full_table_name"), col("events"), col("max_seq"),
          col("max_ts_us"), (col("gmax") - col("max_seq")).cast("bigint").as("seq_lag"))
    },

    // Log-integrity check: sequence gaps per table — a missing seq in a
    // CDC log means lost changes (the replication bug every operator of
    // the reference eventually debugs). Per-table lag window (partitioned
    // by table — the shuffle key carries it), exact missing-count arith.
    QDef.df("q66c_seq_gaps",
      s"""$SRC,
         |t AS (SELECT data['database_name'] || '.' ||
         |             regexp_replace(data['table_name'], '_part_[0-9]+$$', '') AS full_table_name,
         |             CAST(seq AS BIGINT) AS seq
         |      FROM src),
         |g AS (SELECT full_table_name, seq,
         |             lag(seq) OVER (PARTITION BY full_table_name ORDER BY seq) AS prev
         |      FROM t)
         |SELECT full_table_name,
         |       CAST(SUM(CASE WHEN prev IS NOT NULL AND seq - prev > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
         |       CAST(SUM(CASE WHEN prev IS NOT NULL AND seq - prev > 1 THEN seq - prev - 1 ELSE 0 END) AS BIGINT) AS missing_seqs
         |FROM g GROUP BY full_table_name""".stripMargin) { (s, _) =>
      val t = CdcPipeline.withFullTableName(env(s))
        .select(col("full_table_name"), col("seq").cast("bigint").as("seq"))
      val w = Window.partitionBy("full_table_name").orderBy("seq")
      t.withColumn("prev", lag(col("seq"), 1).over(w))
        .groupBy("full_table_name")
        .agg(
          sum(when(col("prev").isNotNull && col("seq") - col("prev") > 1, 1L)
            .otherwise(0L)).cast("bigint").as("n_gaps"),
          sum(when(col("prev").isNotNull && col("seq") - col("prev") > 1,
            col("seq") - col("prev") - 1).otherwise(0L)).cast("bigint").as("missing_seqs"))
    },

    // Cross-table referential integrity after independent per-table applies
    // (the consistency check a transactional source loses when each table
    // replicates on its own cadence): orders whose customer is absent from
    // the replicated parent state. A deterministic restriction (custkey
    // divisible by 7 dropped) simulates the unsynced/hard-deleted parents;
    // output = top-20 orphaned keys by dangling child rows.
    QDef.df("q66d_fk_orphans",
      """WITH p AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 7 <> 0),
        |o AS (SELECT o_custkey, count(*) AS n FROM orders
        |      WHERE o_custkey NOT IN (SELECT c_custkey FROM p) GROUP BY 1)
        |SELECT o_custkey AS orphan_key, CAST(n AS BIGINT) AS n_child_rows
        |FROM o ORDER BY n DESC, orphan_key LIMIT 20""".stripMargin) { (s, _) =>
      Inspection.fkOrphans(
        s.table("orders"), "o_custkey",
        s.table("customer").filter(col("c_custkey") % 7 =!= 0), "c_custkey")
    },

    // Cross-table CONSISTENT read (the cut that AVOIDS q66d's skew
    // artifacts): orders replicated to head 1729, customers lagging at 900.
    // Joining each replica at its own head yields an answer that is true at
    // NO point in the log — on this fixture it reports customers 219/240/
    // 262/272/278 as orphaned (false: their inserts exist by 1729, just not
    // applied to the lagging replica) while missing 213/218/220/284 (truly
    // orphaned at 1729) and undercounting the as-of-900 dangling child rows
    // (11 vs 13 — two dangles at 900 were deleted by 1729). readAllAsOf at
    // consistentCutoff(heads)=900 replays BOTH tables to the same seq and
    // returns the true as-of-900 set; once the parent catches up, the same
    // operator at 1729 returns the head truth. FK = the deterministic
    // 200+(id%100) map onto the customers key space; output = (view,
    // orphan keys, child rows) for all three reads.
    QDef.df("q66f_consistent_read",
      s"""$SRC,
         |t AS (SELECT seq,
         |        data['database_name'] || '.' ||
         |          regexp_replace(data['table_name'], '_part_[0-9]+$$', '') AS ftn,
         |        CAST(data['primary_key'] AS VARCHAR) AS pk,
         |        coalesce(CAST(data['metadata']['is_delete'] AS BOOLEAN), false) AS is_del
         |      FROM src),
         |ord_h AS (SELECT pk FROM (SELECT pk, is_del,
         |            row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
         |          FROM t WHERE ftn = 'shop.orders' AND seq <= 1729) z
         |          WHERE rn = 1 AND NOT is_del),
         |ord_c AS (SELECT pk FROM (SELECT pk, is_del,
         |            row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
         |          FROM t WHERE ftn = 'shop.orders' AND seq <= 900) z
         |          WHERE rn = 1 AND NOT is_del),
         |cus_c AS (SELECT pk FROM (SELECT pk, is_del,
         |            row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
         |          FROM t WHERE ftn = 'shop.customers' AND seq <= 900) z
         |          WHERE rn = 1 AND NOT is_del),
         |cus_h AS (SELECT pk FROM (SELECT pk, is_del,
         |            row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
         |          FROM t WHERE ftn = 'shop.customers' AND seq <= 1729) z
         |          WHERE rn = 1 AND NOT is_del),
         |oh AS (SELECT CAST(200 + (CAST(pk AS INTEGER) % 100) AS VARCHAR) AS fk FROM ord_h),
         |oc AS (SELECT CAST(200 + (CAST(pk AS INTEGER) % 100) AS VARCHAR) AS fk FROM ord_c),
         |h AS (SELECT CAST(count(DISTINCT fk) AS BIGINT) AS n_orphan_keys,
         |             CAST(count(*) AS BIGINT) AS n_child_rows
         |      FROM oh WHERE fk NOT IN (SELECT pk FROM cus_c)),
         |c2 AS (SELECT CAST(count(DISTINCT fk) AS BIGINT) AS n_orphan_keys,
         |             CAST(count(*) AS BIGINT) AS n_child_rows
         |      FROM oc WHERE fk NOT IN (SELECT pk FROM cus_c)),
         |h2 AS (SELECT CAST(count(DISTINCT fk) AS BIGINT) AS n_orphan_keys,
         |             CAST(count(*) AS BIGINT) AS n_child_rows
         |      FROM oh WHERE fk NOT IN (SELECT pk FROM cus_h))
         |SELECT 'independent_heads' AS view_name, n_orphan_keys, n_child_rows FROM h
         |UNION ALL
         |SELECT 'consistent_cut' AS view_name, n_orphan_keys, n_child_rows FROM c2
         |UNION ALL
         |SELECT 'consistent_head' AS view_name, n_orphan_keys, n_child_rows FROM h2""".stripMargin) {
      (s, _) =>
        val e = env(s)
        val customersSpec = TableSpec.loadCsv(Fixtures.columnsPath)("shop.customers")
        val heads = Map("shop.orders" -> 1729L, "shop.customers" -> 900L)
        val cut = CdcPipeline.consistentCutoff(heads)
        def fkOf(df: DataFrame) = df.withColumn("fk",
          (lit(200) + col("primary_key").cast("int") % 100).cast("string"))
        def orphanAgg(child: DataFrame, parent: DataFrame, view: String) =
          Inspection.fkOrphans(fkOf(child), "fk", parent, "primary_key", topK = 1000)
            .agg(count(lit(1)).cast("bigint").as("n_orphan_keys"),
              coalesce(sum(col("n_child_rows")), lit(0L)).cast("bigint").as("n_child_rows"))
            .select(lit(view).as("view_name"), col("n_orphan_keys"), col("n_child_rows"))
        val skewed = orphanAgg(
          CdcPipeline.stateAsOf(e, ordersSpec, heads("shop.orders")),
          CdcPipeline.stateAsOf(e, customersSpec, heads("shop.customers")),
          "independent_heads")
        val cons = CdcPipeline.readAllAsOf(e, Seq(ordersSpec, customersSpec), cut)
        val atHead = CdcPipeline.readAllAsOf(
          e, Seq(ordersSpec, customersSpec), heads("shop.orders"))
        skewed
          .unionByName(
            orphanAgg(cons("shop.orders"), cons("shop.customers"), "consistent_cut"))
          .unionByName(
            orphanAgg(atHead("shop.orders"), atHead("shop.customers"), "consistent_head"))
    },

    // Stream-health rate anomaly triage: per (type, hour) event counts
    // ranked by exact ratio to the type's own DISCRETE lower median hour —
    // rank-based baseline (one runaway hour can't drag it), integer
    // score_x1000 = (n*1000) DIV median, top-20 both-tails-visible. The
    // oracle replays the same rank selection from a fresh hourly rollup.
    QDef.df("q66e_rate_anomaly",
      """WITH e AS (SELECT event_type,
        |           epoch_us(date_trunc('hour', make_timestamp(epoch_ns(ts)//1000))) AS hour_us
        |           FROM events),
        |d AS (SELECT event_type, hour_us, count(*) AS n FROM e GROUP BY 1, 2),
        |m AS (SELECT event_type, n AS med FROM (
        |       SELECT event_type, n,
        |              row_number() OVER (PARTITION BY event_type ORDER BY n, hour_us) AS rn,
        |              count(*) OVER (PARTITION BY event_type) AS ct
        |       FROM d) t WHERE rn = (ct + 1) // 2)
        |SELECT event_type, hour_us, CAST(n AS BIGINT) AS n, CAST(med AS BIGINT) AS med,
        |       CAST((n * 1000) // med AS BIGINT) AS score_x1000
        |FROM d JOIN m USING (event_type)
        |ORDER BY score_x1000 DESC, event_type, hour_us LIMIT 20""".stripMargin) { (s, _) =>
      Inspection.rateAnomalies(s.table("events"))
    },

    // R21/R25: value distribution of the derived table name, take-capped.
    QDef.df("q67_value_distribution",
      s"""WITH src AS (SELECT * FROM read_json('${Fixtures.oracleEventsPath}',
         |  format='newline_delimited', union_by_name=true)),
         |t AS (SELECT data['database_name'] || '.' ||
         |             regexp_replace(data['table_name'], '_part_[0-9]+$$', '') AS value
         |      FROM src)
         |SELECT value, count(*) AS cnt FROM t GROUP BY value
         |ORDER BY cnt DESC, value LIMIT 20""".stripMargin) { (s, _) =>
      Inspection.valueDistribution(
        CdcPipeline.withFullTableName(env(s)), col("full_table_name"), 20)
    },

    // R26: include/exclude table filters on discovery.
    QDef.df("q68_include_exclude",
      s"""WITH src AS (SELECT * FROM read_json('${Fixtures.oracleEventsPath}',
         |  format='newline_delimited', union_by_name=true)),
         |t AS (SELECT DISTINCT data['database_name'] || '.' ||
         |             regexp_replace(data['table_name'], '_part_[0-9]+$$', '') AS full_table_name
         |      FROM src)
         |SELECT full_table_name FROM t
         |WHERE full_table_name IN ('shop.orders','shop.customers','crm.leads','shop.audit_log')
         |  AND full_table_name NOT IN ('shop.audit_log')""".stripMargin) { (s, _) =>
      CdcPipeline.includeExclude(
        Inspection.tables(env(s)),
        include = Seq("shop.orders", "shop.customers", "crm.leads", "shop.audit_log"),
        exclude = Seq("shop.audit_log"))
    }
  )
}
