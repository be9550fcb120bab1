package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sink.{DeleteMode, MaterializedAgg, SnapshotParquetSink}

/** Dirty-group-recompute materialized aggregates ([[graft.sink.MaterializedAgg]]):
  * a downstream GROUP BY maintained incrementally from the source table's
  * change feed must equal a from-scratch recompute after every refresh —
  * including the cases delta-based maintenance gets wrong (a deleted max,
  * a row moving between groups, a group vanishing entirely).
  */
class MaterializedAggSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  import spark.implicits._

  // the r14 COST-BASED fold/recompute pick routes this suite's tiny tables
  // to recompute (a full scan of 10 rows beats the fold's extra fixed-cost
  // jobs) — force the fold path suite-wide so these specs keep exercising
  // the extremum-fold machinery they pin; the pick itself is tested below
  // (suites run sequentially in the forked test JVM, so the global prop
  // cannot race another suite)
  override def beforeAll(): Unit = {
    MaterializedAgg.forcedRegime = Some("fold")
    super.beforeAll()
  }
  override def afterAll(): Unit = {
    MaterializedAgg.forcedRegime = None
    super.afterAll()
  }

  /** Runs `body` under the ambient (cost-based) regime pick. */
  private def costBased[A](body: => A): A = withRegime(None)(body)

  private def rows(t: (Int, String, Long, Long)*): DataFrame =
    t.toSeq.toDF("id", "grp", "v", "seq")
      .withColumn("__del", lit(false))

  private def dels(seq: Long, ids: Int*): DataFrame =
    ids.toSeq.map(i => (i, null.asInstanceOf[String], 0L, seq))
      .toDF("id", "grp", "v", "seq")
      .withColumn("__del", lit(true))

  private def mk(tag: String): (SnapshotParquetSink, MaterializedAgg) = {
    val src = new SnapshotParquetSink(tmpDir(s"magg_${tag}_src"), nBuckets = 4)
    val agg = new SnapshotParquetSink(tmpDir(s"magg_${tag}_agg"), nBuckets = 4)
    val m = new MaterializedAgg(src, agg, Seq("grp"),
      Seq(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("v")).as("mn"), max(col("v")).as("mx")))
    (src, m)
  }

  /** From-scratch recompute over the source's live state — the oracle. */
  private def direct(src: SnapshotParquetSink): Set[(String, Long, Long, Long, Long)] =
    src.read(spark, DeleteMode.Hard)
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet

  private def maintained(m: MaterializedAgg): Set[(String, Long, Long, Long, Long)] =
    m.read(spark)
      .select("grp", "n", "sv", "mn", "mx")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet

  test("incremental refresh equals full recompute across inserts, updates, deletes") {
    val (src, m) = mk("ivm")
    // v0: initial state — two groups
    src.merge(rows((1, "a", 10, 1), (2, "a", 20, 2), (3, "b", 5, 3)),
      Seq("id"), "seq", "__del")
    assert(m.refresh(spark) == Some(0L))
    assert(m.appliedVersion == Some(0L))
    assert(maintained(m) == direct(src))
    assert(maintained(m) == Set(("a", 2L, 30L, 10L, 20L), ("b", 1L, 5L, 5L, 5L)))

    // v1: the delta-IVM killer — delete group a's MAX row; min/max must
    // recompute from the survivors, not "roll back" arithmetically
    src.merge(dels(4, 2), Seq("id"), "seq", "__del")
    assert(m.refresh(spark) == Some(1L))
    assert(maintained(m) == direct(src))
    assert(maintained(m) == Set(("a", 1L, 10L, 10L, 10L), ("b", 1L, 5L, 5L, 5L)))

    // v2: a row MOVES between groups (update changes grp): old group must
    // shrink, new group must grow — both sides of the change are dirty
    src.merge(rows((3, "a", 5, 5)), Seq("id"), "seq", "__del")
    assert(m.refresh(spark) == Some(2L))
    assert(maintained(m) == direct(src))
    assert(maintained(m) == Set(("a", 2L, 15L, 5L, 10L)))

    // already current: no-op
    assert(m.refresh(spark).isEmpty)
  }

  test("small-delta and distributed arms agree at every version") {
    // one seeded history — inserts, updates, group-moving updates, deletes,
    // re-inserts, a NULL group and a key under NULL seq — run twice: with
    // the driver-local keyed diff on (local diffs and merges) and off (the
    // planned path). Three views ride it: the rollup under the recompute
    // and the fold regime, and a keyed view.
    def history(): Seq[DataFrame] = {
      val rnd = new scala.util.Random(5)
      var seq = 10L
      def next() = { seq += 1; seq }
      val grps = Seq("a", "b", "c", null)
      def batch(t: (Int, String, Long, Option[Long], Boolean)*): DataFrame =
        t.toSeq.toDF("id", "grp", "v", "seq", "__del")
      val live = scala.collection.mutable.Map.empty[Int, String]
      val out = Seq.newBuilder[DataFrame]
      out += batch((0 until 24).map { i =>
        val g = grps(rnd.nextInt(grps.size)); live(i) = g
        (i, g, rnd.nextInt(50).toLong, Some(1L), false) }: _*)
      out += batch((90, "a", 7L, None, false))
      val deleted = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (round <- 0 until 4) {
        val ids = rnd.shuffle(live.keys.toSeq.sorted).take(3)
        val moved = grps.filterNot(_ == live(ids(1)))(rnd.nextInt(grps.size - 1))
        val fresh = grps(rnd.nextInt(grps.size))
        out += batch(
          (ids(0), live(ids(0)), rnd.nextInt(50).toLong, Some(next()), false),
          (ids(1), moved, rnd.nextInt(50).toLong, Some(next()), false),
          (100 + round, fresh, 3L, Some(next()), false),
          (ids(2), null, 0L, Some(next()), true),
          round match {
            // the NULL-seq key: deleted and re-inserted under NULL seq,
            // then resolved to a value
            case 0 => (90, null, 0L, None, true)
            case 1 => (90, "b", 8L, None, false)
            case 2 => (90, "b", 9L, Some(next()), false)
            // a re-insert of a deleted key
            case _ => (deleted.head, "c", 4L, Some(next()), false)
          })
        live(ids(1)) = moved
        live(100 + round) = fresh
        live -= ids(2)
        deleted += ids(2)
      }
      out.result()
    }
    val rollup = Seq(count(lit(1)).as("n"), sum(col("v")).as("sv"),
      min(col("v")).as("mn"), max(col("v")).as("mx"))
    def rowsOf(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    def run(tag: String, distributed: Boolean): Seq[Seq[Any]] = {
      val src = new SnapshotParquetSink(tmpDir(s"magg_${tag}_src"), nBuckets = 4)
      def view(name: String, groups: Seq[String]) = new MaterializedAgg(src,
        new SnapshotParquetSink(tmpDir(s"magg_${tag}_$name"), nBuckets = 4), groups, rollup)
      val views = Seq(("recompute", view("rc", Seq("grp"))), ("fold", view("fd", Seq("grp"))),
        ("recompute", view("keyed", Seq("id"))))
      def body = history().map { b =>
        src.merge(b, Seq("id"), "seq", "__del")
        val v = src.currentVersion.get
        views.flatMap { case (regime, m) =>
          withRegime(Some(regime))(m.refresh(spark))
          val got = rowsOf(m.read(spark).select((m.groupCols ++ Seq("n", "sv", "mn", "mx")).map(col): _*))
          if (!distributed)
            assert(got == rowsOf(src.read(spark, DeleteMode.Hard).groupBy(m.groupCols.map(col): _*)
              .agg(rollup.head, rollup.tail: _*)), s"$tag v$v ${m.groupCols}")
          Seq(got, m.appliedVersion)
        } :+ (if (v == 0L) Set.empty[String] else rowsOf(src.changesBetween(spark, v - 1, v)))
      }
      if (distributed) withLocalDiffOff(body) else body
    }
    withBulkGateOff {
      val small = run("arms_small", distributed = false)
      val planned = run("arms_dist", distributed = true)
      assert(small.size == planned.size)
      small.zip(planned).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"step $i differs between the arms")
      }
    }
  }

  test("a small recompute refresh merges a driver-local delta: no probe job") {
    val (src, m) = mk("localmerge")
    src.merge(rows((1, "a", 10, 1), (2, "b", 20, 2), (3, "c", 5, 3)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    withRegime(Some("recompute")) { withBulkGateOff {
      src.merge(rows((2, "a", 7, 4)), Seq("id"), "seq", "__del")
      assert(jobDescriptionsDuring { assert(m.refresh(spark) == Some(1L)) }
        .count(_ == "commit:probe") == 0)
      assert(maintained(m) == direct(src))
      src.merge(dels(5, 1), Seq("id"), "seq", "__del")
      withLocalDiffOff {
        assert(jobDescriptionsDuring { assert(m.refresh(spark) == Some(2L)) }
          .count(_ == "commit:probe") >= 1)
      }
      assert(maintained(m) == direct(src))
    } }
  }

  test("a group whose last row is deleted vanishes from the aggregate") {
    val (src, m) = mk("gone")
    src.merge(rows((1, "a", 1, 1), (2, "b", 2, 2)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    src.merge(dels(3, 2), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(maintained(m) == Set(("a", 1L, 1L, 1L, 1L)))
    assert(maintained(m) == direct(src))
    // and the vanished group is a logical delete, not a lost row — time
    // travel still sees it at the earlier agg version
    val v0 = m.sink.readAt(spark, 0L, DeleteMode.Hard)
    assert(v0.filter(col("grp") === "b").count() == 1L)
  }

  test("multi-version catch-up applies several source commits in one refresh") {
    val (src, m) = mk("catchup")
    src.merge(rows((1, "a", 1, 1)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    // three source commits with no refresh in between
    src.merge(rows((2, "a", 2, 2)), Seq("id"), "seq", "__del")
    src.merge(rows((3, "b", 3, 3)), Seq("id"), "seq", "__del")
    src.merge(dels(4, 1), Seq("id"), "seq", "__del")
    assert(m.appliedVersion == Some(0L))
    assert(m.refresh(spark) == Some(3L))
    assert(m.appliedVersion == Some(3L))
    assert(maintained(m) == direct(src))
    assert(maintained(m) == Set(("a", 1L, 2L, 2L, 2L), ("b", 1L, 3L, 3L, 3L)))
  }

  test("a replayed refresh is self-healing: same dirty groups, same seq, same state") {
    val (src, m) = mk("replay")
    src.merge(rows((1, "a", 1, 1), (2, "b", 2, 2)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    src.merge(rows((3, "a", 3, 3)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    val before = maintained(m)
    val aggV = m.sink.currentVersion
    // a crashed driver re-running the same refresh: appliedVersion already
    // covers the source head, so this is a metadata no-op — no new commit
    assert(m.refresh(spark).isEmpty)
    assert(m.sink.currentVersion == aggV)
    assert(maintained(m) == before)

    // the harder replay: the refresh RAN but the caller's bookkeeping was
    // lost — simulate by re-merging the same delta the refresh would build;
    // last-write-wins under the same seq keeps the state byte-equal
    val snap = src.read(spark, DeleteMode.Hard)
    val delta = snap.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
      .withColumn("seq", lit(1L)).withColumn("__del", lit(false))
    m.sink.merge(delta, Seq("grp"), "seq", "__del")
    assert(maintained(m) == before)
  }

  test("null group values are maintained, not dropped") {
    val src = new SnapshotParquetSink(tmpDir("magg_null_src"), nBuckets = 4)
    val agg = new SnapshotParquetSink(tmpDir("magg_null_agg"), nBuckets = 4)
    val m = new MaterializedAgg(src, agg, Seq("grp"),
      Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    src.merge(
      Seq((1, Option("a"), 1L, 1L), (2, Option.empty[String], 5L, 2L))
        .toDF("id", "grp", "v", "seq").withColumn("__del", lit(false)),
      Seq("id"), "seq", "__del")
    m.refresh(spark)
    // the null group's row updates: the dirty-group join must be null-safe
    src.merge(
      Seq((2, Option.empty[String], 9L, 3L))
        .toDF("id", "grp", "v", "seq").withColumn("__del", lit(false)),
      Seq("id"), "seq", "__del")
    m.refresh(spark)
    val got = m.read(spark).select("grp", "n", "sv").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((Some("a"), 1L, 1L), (None, 1L, 9L)))
  }

  test("streaming maintenance: per-micro-batch refresh survives crash replay") {
    val in = tmpDir("magg_s_in")
    val ckpt = tmpDir("magg_s_ck")
    val (src, m) = mk("stream")
    def writeChunk(name: String, lines: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(in, name), "UTF-8")
      try lines.foreach(w.println) finally w.close()
    }
    val stream = spark.readStream
      .schema("id INT, grp STRING, v LONG, seq LONG, is_delete BOOLEAN")
      .json(in)
    def startQ() = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        src.merge(df, Seq("id"), "seq", "is_delete")
        m.refresh(spark)
        ()
      }.start()

    writeChunk("b0.jsonl", Seq(
      """{"id":1,"grp":"a","v":10,"seq":1,"is_delete":false}""",
      """{"id":2,"grp":"a","v":20,"seq":2,"is_delete":false}""",
      """{"id":3,"grp":"b","v":5,"seq":3,"is_delete":false}"""))
    val q1 = startQ()
    try {
      q1.processAllAvailable()
      // b1: delete group a's max and move id 3 to group a
      writeChunk("b1.jsonl", Seq(
        """{"id":2,"grp":null,"v":0,"seq":4,"is_delete":true}""",
        """{"id":3,"grp":"a","v":5,"seq":5,"is_delete":false}"""))
      q1.processAllAvailable()
    } finally { q1.stop(); q1.awaitTermination() }
    assert(maintained(m) == Set(("a", 2L, 15L, 5L, 10L)))

    // crash with b1 fully applied (source merged AND agg refreshed): the
    // replayed micro-batch re-merges identical content, the refresh sees an
    // empty change feed and must not disturb the aggregate
    injectCrash(ckpt)
    writeChunk("b2.jsonl", Seq(
      """{"id":4,"grp":"b","v":7,"seq":6,"is_delete":false}"""))
    val q2 = startQ()
    try q2.processAllAvailable()
    finally { q2.stop(); q2.awaitTermination() }
    assert(maintained(m) == direct(src))
    assert(maintained(m) == Set(("a", 2L, 15L, 5L, 10L), ("b", 1L, 7L, 7L, 7L)))
  }

  test("keyed view (groupCols ⊇ merge keys): changed-bucket recompute stays exact") {
    val src = new SnapshotParquetSink(tmpDir("magg_keyed_src"), nBuckets = 8)
    val agg = new SnapshotParquetSink(tmpDir("magg_keyed_agg"), nBuckets = 8)
    // per-key rollup: the group IS (id, grp) — the refresh's recompute scan
    // takes the changed-bucket path (keys route dirty groups' rows there)
    val m = new MaterializedAgg(src, agg, Seq("id", "grp"),
      Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    src.merge(rows((1, "a", 10, 1), (2, "a", 20, 2), (3, "b", 5, 3)),
      Seq("id"), "seq", "__del")
    m.refresh(spark)
    def direct2 = src.read(spark, DeleteMode.Hard).groupBy("id", "grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    def kept = m.read(spark).select("id", "grp", "n", "sv")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(kept == direct2)
    // update, delete, group-move — each refresh reads only changed buckets
    src.merge(rows((1, "a", 15, 4)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(kept == direct2)
    src.merge(dels(5, 2), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(kept == direct2)
    src.merge(rows((3, "a", 5, 6)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(kept == direct2)
    assert(kept == Set((1, "a", 1L, 15L), (3, "a", 1L, 5L)))
  }

  test("refresh across schema evolution: changed buckets carrying pre-evolution files") {
    val src = new SnapshotParquetSink(tmpDir("magg_evo_src"), nBuckets = 4)
    val agg = new SnapshotParquetSink(tmpDir("magg_evo_agg"), nBuckets = 4)
    import spark.implicits._
    // v0: no `g` column anywhere
    src.merge((0 until 16).map(i => (i, i.toLong, 1L)).toDF("id", "v", "seq")
      .withColumn("__del", lit(false)), Seq("id"), "seq", "__del")
    // v1: evolution adds `g`, touching ONE key — most bucket files stay
    // pre-evolution and are CARRIED into every later manifest
    src.merge(Seq((0, 100L, 2L, "x")).toDF("id", "v", "seq", "g")
      .withColumn("__del", lit(false)), Seq("id"), "seq", "__del")
    val m = new MaterializedAgg(src, agg, Seq("g"),
      Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    m.refresh(spark) // initial build at v1 (g null for untouched rows)
    // v2: update a key in a DIFFERENT bucket — the diff's applied-side
    // file for that bucket predates `g`; the refresh must fall back to
    // full reads on BOTH sides and stay exact
    src.merge(Seq((1, 200L, 3L, "y")).toDF("id", "v", "seq", "g")
      .withColumn("__del", lit(false)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    val direct = src.read(spark, DeleteMode.Hard).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    val kept = m.read(spark).select("g", "n", "sv")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(kept == direct)
    assert(kept.contains((Some("y"), 1L, 200L)))
  }

  test("a vacuumed diff base self-heals: full rebuild, vanished groups tombstoned") {
    val (src, m) = mk("vac")
    // a keyed twin (groups ⊇ the source's merge keys) over the same source
    val keyed = new MaterializedAgg(src,
      new SnapshotParquetSink(tmpDir("magg_vac_keyed"), nBuckets = 4), Seq("id", "grp"),
      Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    def keyedRows(df: DataFrame): Set[(Int, String, Long, Long)] =
      df.select("id", "grp", "n", "sv").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    def keyedDirect: Set[(Int, String, Long, Long)] =
      keyedRows(src.read(spark, DeleteMode.Hard).groupBy("id", "grp")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    src.merge(rows((1, "a", 10, 1), (2, "b", 20, 2)), Seq("id"), "seq", "__del")
    m.refresh(spark) // applied = v0
    keyed.refresh(spark)
    // the view lags while the source advances THREE versions — group b
    // vanishes entirely — and retention drops v0, the view's diff base
    src.merge(rows((3, "c", 7, 3)), Seq("id"), "seq", "__del")
    src.merge(dels(4, 2), Seq("id"), "seq", "__del")
    src.merge(rows((1, "a", 11, 5)), Seq("id"), "seq", "__del")
    src.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    assert(!src.versions.contains(0L), "vacuum should have dropped the base")
    assert(m.refresh(spark) == Some(3L))
    assert(maintained(m) == direct(src))
    assert(maintained(m) == Set(("a", 1L, 11L, 11L, 11L), ("c", 1L, 7L, 7L, 7L)))
    // the vanished group is a logical delete in the view's history
    val logical = m.sink.read(spark, DeleteMode.Logical)
    assert(logical.filter(col("grp") === "b" && col("is_deleted")).count() == 1)
    // the keyed view heals the same way: one full recompute, and the
    // deleted key's group tombstoned
    assert(keyed.refresh(spark) == Some(3L))
    assert(keyedRows(keyed.read(spark)) == keyedDirect)
    assert(keyedDirect == Set((1, "a", 1L, 11L), (3, "c", 1L, 7L)))
    assert(keyed.sink.read(spark, DeleteMode.Logical)
      .filter(col("id") === 2 && col("is_deleted")).count() == 1)
    // subsequent refreshes are incremental again
    src.merge(rows((4, "c", 1, 6)), Seq("id"), "seq", "__del")
    assert(m.refresh(spark) == Some(4L))
    assert(maintained(m) == direct(src))
    assert(keyed.refresh(spark) == Some(4L))
    assert(keyedRows(keyed.read(spark)) == keyedDirect)
  }

  test("aggregate names must be aliased and collision-free") {
    val (src, _) = mk("names")
    val agg = new SnapshotParquetSink(tmpDir("magg_names_agg"), nBuckets = 4)
    src.merge(rows((1, "a", 1, 1)), Seq("id"), "seq", "__del")
    val unaliased = new MaterializedAgg(src, agg, Seq("grp"), Seq(sum(col("v"))))
    intercept[RuntimeException](unaliased.refresh(spark))
    val colliding = new MaterializedAgg(src, agg, Seq("grp"),
      Seq(sum(col("v")).as("grp")))
    intercept[IllegalArgumentException](colliding.refresh(spark))
  }

  // -------------------------------------------------------- delta regime

  /** Nullable-value rows: `v = None` exercises SQL's null-ignoring
    * SUM/COUNT semantics under pure-delta maintenance.
    */
  private def rowsN(t: (Int, String, Option[Long], Long)*): DataFrame =
    t.toSeq.toDF("id", "grp", "v", "seq")
      .withColumn("__del", lit(false))

  private def mkDelta(tag: String): (SnapshotParquetSink, MaterializedAgg) = {
    val src = new SnapshotParquetSink(tmpDir(s"magg_${tag}_src"), nBuckets = 4)
    val agg = new SnapshotParquetSink(tmpDir(s"magg_${tag}_agg"), nBuckets = 4)
    val m = new MaterializedAgg(src, agg, Seq("grp"),
      Seq(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        count(col("v")).as("nv")))
    (src, m)
  }

  private def directDelta(src: SnapshotParquetSink): Set[(String, Long, Any, Long)] =
    src.read(spark, DeleteMode.Hard)
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        count(col("v")).as("nv"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.get(2), r.getLong(3)))
      .toSet

  private def maintainedDelta(m: MaterializedAgg): Set[(String, Long, Any, Long)] =
    m.read(spark).select("grp", "n", "sv", "nv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.get(2), r.getLong(3)))
      .toSet

  test("delta regime: SUM/COUNT views fold arithmetically, no snapshot rescan") {
    val (src, m) = mkDelta("delta")
    src.merge(rows((1, "a", 10, 1), (2, "a", 20, 2), (3, "b", 5, 3)),
      Seq("id"), "seq", "__del")
    assert(m.refresh(spark) == Some(0L))
    assert(m.lastRefreshRegime == Some("initial"))
    assert(maintainedDelta(m) == directDelta(src))

    // update + delete + group move, one wave — all folded by arithmetic
    src.merge(rows((1, "a", 13, 4), (3, "a", 5, 5), (4, "b", 9, 6)),
      Seq("id"), "seq", "__del")
    src.merge(dels(7, 2), Seq("id"), "seq", "__del")
    assert(m.refresh(spark) == Some(2L))
    assert(m.lastRefreshRegime == Some("delta"),
      "a SUM/COUNT view must take the pure-delta path")
    assert(maintainedDelta(m) == directDelta(src))
    assert(maintainedDelta(m) ==
      Set(("a", 2L, 18L, 2L), ("b", 1L, 9L, 1L)))
  }

  test("delta regime: group death and rebirth") {
    val (src, m) = mkDelta("dd")
    src.merge(rows((1, "a", 10, 1), (2, "b", 5, 2)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    // group a's only row deleted — the group must vanish (tombstone)
    src.merge(dels(3, 1), Seq("id"), "seq", "__del")
    assert(m.refresh(spark) == Some(1L))
    assert(m.lastRefreshRegime == Some("delta"))
    assert(maintainedDelta(m) == Set(("b", 1L, 5L, 1L)))
    assert(m.sink.read(spark, DeleteMode.Logical)
      .filter(col("grp") === "a" && col("is_deleted")).count() == 1)
    // rebirth: a returns with fresh arithmetic (no stale residue)
    src.merge(rows((5, "a", 7, 4)), Seq("id"), "seq", "__del")
    assert(m.refresh(spark) == Some(2L))
    assert(m.lastRefreshRegime == Some("delta"))
    assert(maintainedDelta(m) == directDelta(src))
    assert(maintainedDelta(m) == Set(("a", 1L, 7L, 1L), ("b", 1L, 5L, 1L)))
  }

  test("delta regime: all-null SUM stores NULL, recovers when values return") {
    val (src, m) = mkDelta("dn")
    src.merge(rowsN((1, "a", None, 1), (2, "a", Some(4L), 2)),
      Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(maintainedDelta(m) == Set(("a", 2L, 4L, 1L)))
    // the last non-null row leaves: sum must return to SQL's NULL, count
    // of v to 0 — the hidden __nn counter is what makes this exact
    src.merge(dels(3, 2), Seq("id"), "seq", "__del")
    assert(m.refresh(spark) == Some(1L))
    assert(m.lastRefreshRegime == Some("delta"))
    assert(maintainedDelta(m) == directDelta(src))
    assert(maintainedDelta(m) == Set(("a", 1L, null, 0L)))
    // values return: sum rebuilds from 0, not from the displayed NULL
    src.merge(rowsN((4, "a", Some(11L), 4)), Seq("id"), "seq", "__del")
    assert(m.refresh(spark) == Some(2L))
    assert(maintainedDelta(m) == Set(("a", 2L, 11L, 1L)))
  }

  test("delta regime: counters are invisible to read(), present in storage") {
    val (src, m) = mkDelta("dh")
    src.merge(rows((1, "a", 1, 1)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(!m.read(spark).columns.exists(c =>
      c == "__rows" || c.startsWith("__nn_")))
    val stored = m.sink.read(spark, DeleteMode.Hard).columns.toSet
    assert(stored.contains("__rows") && stored.contains("__nn_sv"))
  }

  test("delta regime: vacuumed diff base rebuilds once, then delta resumes") {
    val (src, m) = mkDelta("dv")
    src.merge(rows((1, "a", 10, 1), (2, "b", 5, 2)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    src.merge(rows((3, "c", 7, 3)), Seq("id"), "seq", "__del")
    src.merge(dels(4, 2), Seq("id"), "seq", "__del")
    src.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    assert(m.refresh(spark) == Some(2L))
    assert(m.lastRefreshRegime == Some("recompute"),
      "a vacuumed base must fall back to the rebuild path")
    assert(maintainedDelta(m) == directDelta(src))
    // the rebuild carried the hidden counters, so delta resumes
    src.merge(rows((5, "a", 2, 5)), Seq("id"), "seq", "__del")
    assert(m.refresh(spark) == Some(3L))
    assert(m.lastRefreshRegime == Some("delta"))
    assert(maintainedDelta(m) == directDelta(src))
    assert(maintainedDelta(m) == Set(("a", 2L, 12L, 2L), ("c", 1L, 7L, 1L)))
  }

  test("fold regime: min/max views fold monotonically; non-integer sums stay on recompute") {
    val (src, m) = mk("nrg") // view carries count/sum/min/max
    src.merge(rows((1, "a", 10, 1)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    // an insert that touches neither extremum direction adversarially
    src.merge(rows((2, "a", 20, 2)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(m.lastRefreshRegime == Some("fold"),
      s"min/max view must take the extremum-aware fold: ${m.lastRefreshRegime}")
    assert(maintained(m) == direct(src))

    // double sum: delta arithmetic would drift — must recompute
    val src2 = new SnapshotParquetSink(tmpDir("magg_nrg2_src"), nBuckets = 4)
    val agg2 = new SnapshotParquetSink(tmpDir("magg_nrg2_agg"), nBuckets = 4)
    val md = new MaterializedAgg(src2, agg2, Seq("grp"),
      Seq(sum(col("v").cast("double")).as("sd")))
    src2.merge(rows((1, "a", 10, 1)), Seq("id"), "seq", "__del")
    md.refresh(spark)
    src2.merge(rows((2, "a", 20, 2)), Seq("id"), "seq", "__del")
    md.refresh(spark)
    assert(md.lastRefreshRegime == Some("recompute"))
  }

  test("fold regime: deleting the current min/max rescans exactly (the at-risk path)") {
    val (src, m) = mk("fext")
    src.merge(rows((1, "a", 10, 1), (2, "a", 20, 2), (3, "a", 30, 3),
      (4, "b", 7, 4)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    // delete the group's MIN row: a monotone fold cannot roll 10 back —
    // the at-risk rescan must land min=20 exactly
    src.merge(dels(5, 1), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(m.lastRefreshRegime == Some("fold"))
    assert(maintained(m) == direct(src))
    assert(maintained(m).find(_._1 == "a").get._4 == 20L)
    // delete the MAX row too
    src.merge(dels(6, 3), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(maintained(m) == direct(src))
    assert(maintained(m).find(_._1 == "a").get._5 == 20L)
  }

  test("fold regime: the oversized at-risk FALLBACK (scan-priced semi join) stays exact") {
    // the production path collects at-risk groups (≤65536) and broadcasts
    // them into the rescan's semi join; past the cap it must fall back to
    // an UNHINTED join (a forced broadcast of an unbounded risk frame is a
    // driver OOM, not a plan). The cap is far beyond a spec's budget, so
    // shrink it to 0 via the test hook and re-run the canonical at-risk
    // shape — every risk group now takes the fallback, which must land
    // the same exact state as the broadcast path.
    withCollectCap(0) {
      val (src, m) = mk("fcap")
      src.merge(rows((1, "a", 10, 1), (2, "a", 20, 2), (3, "a", 30, 3),
        (4, "b", 7, 4)), Seq("id"), "seq", "__del")
      m.refresh(spark)
      src.merge(dels(5, 1), Seq("id"), "seq", "__del") // kill group a's MIN
      m.refresh(spark)
      assert(m.lastRefreshRegime == Some("fold"))
      assert(maintained(m) == direct(src))
      assert(maintained(m).find(_._1 == "a").get._4 == 20L)
      src.merge(dels(6, 3), Seq("id"), "seq", "__del") // kill group a's MAX
      m.refresh(spark)
      assert(maintained(m) == direct(src))
      assert(maintained(m).find(_._1 == "a").get._5 == 20L)
    }
  }

  test("fold regime: a removed value TYING the extremum rescans (multiplicity is unknowable)") {
    val (src, m) = mk("ftie")
    // two rows share the min value 5 — deleting ONE must keep min=5
    src.merge(rows((1, "a", 5, 1), (2, "a", 5, 2), (3, "a", 9, 3)),
      Seq("id"), "seq", "__del")
    m.refresh(spark)
    src.merge(dels(4, 1), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(m.lastRefreshRegime == Some("fold"))
    assert(maintained(m) == direct(src))
    assert(maintained(m).find(_._1 == "a").get._4 == 5L)
  }

  test("fold regime: updates moving a value across the extremum stay exact") {
    val (src, m) = mk("fupd")
    src.merge(rows((1, "a", 10, 1), (2, "a", 20, 2)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    // LOWER a non-extremum row below the min: pure monotone fold (no risk)
    src.merge(rows((2, "a", 3, 3)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(m.lastRefreshRegime == Some("fold"))
    assert(maintained(m) == direct(src))
    assert(maintained(m).find(_._1 == "a").get._4 == 3L)
    // RAISE the min row's value: removal ties the stored min → rescan
    src.merge(rows((2, "a", 50, 4)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(maintained(m) == direct(src))
    val a = maintained(m).find(_._1 == "a").get
    assert(a._4 == 10L && a._5 == 50L)
  }

  test("arithmetic regimes: CONCURRENT refreshers apply exactly once (FoldBaseConflict retry)") {
    // two independent handles over the same view race a refresh of the
    // same source commit: the guarded merge (a fold for deltas, a
    // probe-hinted merge for fold absolutes) must refuse the loser's stale
    // write — double-applying a delta, or last-write-winning a stale
    // absolute, would corrupt the view silently
    for ((tag, withExt) <- Seq(("delta", false), ("fold", true))) {
      val srcDir = tmpDir(s"magg_race_${tag}_src")
      val aggDir = tmpDir(s"magg_race_${tag}_agg")
      val aggsOf = if (withExt)
        Seq(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
      else Seq(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val src = new SnapshotParquetSink(srcDir, nBuckets = 4)
      val m1 = new MaterializedAgg(src, new SnapshotParquetSink(aggDir, 4),
        Seq("grp"), aggsOf)
      src.merge(rows((1, "a", 10, 1), (2, "b", 20, 2)), Seq("id"), "seq", "__del")
      m1.refresh(spark)
      // a second commit, then two refreshers race it
      src.merge(rows((3, "a", 5, 3), (2, "b", 25, 4)), Seq("id"), "seq", "__del")
      val m2 = new MaterializedAgg(SnapshotParquetSink.forTable(srcDir),
        SnapshotParquetSink.forTable(aggDir), Seq("grp"), aggsOf)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = Seq(m1, m2).map(m => new Thread(() =>
        try { m.refresh(spark); () } catch { case t: Throwable => errs.add(t); () }))
      ts.foreach(_.start()); ts.foreach(_.join(120000))
      assert(errs.isEmpty, s"$tag: refresher crashed: ${errs.peek()}")
      val got = m1.read(spark).select("grp", "n", "sv").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = src.read(spark, DeleteMode.Hard).groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"$tag: raced refresh diverged: $got vs $want")
      assert(m1.appliedVersion == Some(1L), s"$tag: ${m1.appliedVersion}")
    }
  }

  test("fold regime: group death, rebirth, and a row moving between groups") {
    val (src, m) = mk("fmov")
    src.merge(rows((1, "a", 10, 1), (2, "b", 20, 2)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    // move row 1 from group a to group b: a dies, b's extremums change
    src.merge(rows((1, "b", 10, 3)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(m.lastRefreshRegime == Some("fold"))
    assert(maintained(m) == direct(src))
    assert(!maintained(m).exists(_._1 == "a"), "emptied group must vanish")
    // rebirth: group a returns with fresh extremums
    src.merge(rows((9, "a", 77, 4)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(maintained(m) == direct(src))
    assert(maintained(m).find(_._1 == "a").get._4 == 77L)
  }

  test("fold regime: exhausting a group's extremum buffer in one refresh rescans exactly") {
    // the k-slot buffer absorbs up to k-1 bottom removals; deleting MORE
    // of a group's smallest values than the buffer holds, in ONE refresh,
    // must fall to the at-risk rescan and still land the exact min
    val k = MaterializedAgg.ExtremumBufferK
    val (src, m) = mk("fexh")
    val n = k + 3 // group larger than the buffer, ids 1..k+3, values 10*id
    src.merge(rows((1 to n).map(i => (i, "a", 10L * i, i.toLong)): _*),
      Seq("id"), "seq", "__del")
    m.refresh(spark)
    // delete the k+1 smallest in one commit — buffer (k values) exhausts
    src.merge(dels(100L, (1 to (k + 1)): _*), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(m.lastRefreshRegime == Some("fold"))
    assert(maintained(m) == direct(src))
    assert(maintained(m).find(_._1 == "a").get._4 == 10L * (k + 2),
      "min after buffer exhaustion must come from the rescan")
  }

  test("foldExtremumBuf: removal/addition algebra across the invariant's edges") {
    def fold(s: Seq[Long], r: Seq[Long], a: Seq[Long], nne: Long,
        bottom: Boolean = true) =
      MaterializedAgg.foldExtremumBuf(s, r, a, bottom, 4, nne)
    // plain removal inside the buffer
    assert(fold(Seq(1, 5, 9), Seq(5), Nil, 3) == Seq(1, 9))
    // tie at the boundary removes one occurrence
    assert(fold(Seq(1, 5, 5), Seq(5), Nil, 3) == Seq(1, 5))
    // removal beyond the buffer's last entry is a provable no-op
    assert(fold(Seq(1, 5, 9, 12), Seq(50), Nil, 5) == Seq(1, 5, 9, 12))
    // additions insert sorted and truncate to k
    assert(fold(Seq(2, 4, 6, 8), Nil, Seq(1, 5), 6) == Seq(1, 2, 4, 5))
    // removal on an emptied buffer is unaccountable → null (rescan)
    assert(fold(Seq(3), Seq(3, 7), Nil, 2) == null)
    // removal below last but absent → defensive null
    assert(fold(Seq(5, 9), Seq(7), Nil, 2) == null)
    // top-side (descending) symmetry
    assert(fold(Seq(9, 5, 1), Seq(5), Seq(7), 3, bottom = false) == Seq(9, 7, 1))
    // new group: buffer built from additions alone
    assert(fold(null, null, Seq(3, 8), 0) == Seq(3, 8))
  }

  test("foldExtremumBuf: below-tail additions stay OUT of an incomplete buffer") {
    def fold(s: Seq[Long], r: Seq[Long], a: Seq[Long], nne: Long,
        bottom: Boolean = true) =
      MaterializedAgg.foldExtremumBuf(s, r, a, bottom, 4, nne)
    // the r14 silent-wrong-MIN shape: k=4, live {1..6} (buffer incomplete —
    // 5 and 6 were truncated out), one refresh removes 2 and adds 10.
    // r14 APPENDED, fabricating the false prefix [1,3,4,10] (5 and 6 rank
    // between 4 and 10; later removals of 1,3,4 reported MIN=10). The
    // addition must stay outside the buffer — [1,3,4] remains a valid,
    // exact prefix of the group's live values.
    assert(fold(Seq(1, 2, 3, 4), Seq(2), Seq(10), 6) == Seq(1, 3, 4))
    // same addition against a COMPLETE sub-k buffer (live == length) is
    // absorbed — the buffer IS the group and stays complete
    assert(fold(Seq(1, 2, 3), Seq(2), Seq(10), 3) == Seq(1, 3, 10))
    // at-or-below a FULL buffer's tail: provable no-op
    assert(fold(Seq(1, 2, 3, 4), Nil, Seq(0, 10), 4) == Seq(0, 1, 2, 3))
    assert(fold(Seq(1, 2, 3, 4), Nil, Seq(10), 6) == Seq(1, 2, 3, 4))
    // a mid-buffer insert never needs completeness (prefix stays covered)
    assert(fold(Seq(1, 2, 3, 4), Nil, Seq(2), 6) == Seq(1, 2, 2, 3))
    // top-side symmetry of the below-tail drop
    assert(fold(Seq(100, 90, 80, 70), Seq(90), Seq(5), 6,
      bottom = false) == Seq(100, 80, 70))
    // the buffer never reports an extremum it cannot prove: emptied by
    // removals with live values remaining → empty buffer → at-risk rescan
    assert(fold(Seq(3, 5), Seq(3, 5), Seq(9), 4) == Nil)
  }

  test("fold regime: additions past a shrunken buffer never fabricate the MIN") {
    // end-to-end r14 ADVICE scenario: a group larger than the buffer takes
    // a remove+add refresh that shrinks the buffer then lands an addition
    // past its tail. The pre-fix fold APPENDED the addition ([.., add] —
    // a fabricated prefix) and later removals of the buffered values made
    // the view serve the added value as MIN; the fixed fold leaves the
    // addition outside the buffer, which stays an exact prefix throughout.
    val k = MaterializedAgg.ExtremumBufferK
    val (src, m) = mk("fshrunk")
    val n = k + 2 // live values 10,20,...,10(k+2): buffer holds k smallest
    src.merge(rows((1 to n).map(i => (i, "a", 10L * i, i.toLong)): _*),
      Seq("id"), "seq", "__del")
    m.refresh(spark)
    // one refresh: remove a mid-buffer value AND add one past everything
    src.merge(dels(50L, 2), Seq("id"), "seq", "__del")
    src.merge(rows((100, "a", 100000L, 51L)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(m.lastRefreshRegime == Some("fold"))
    assert(maintained(m) == direct(src))
    // now delete every ORIGINAL small value — the maintained min must come
    // from the values the shrunken buffer never held, not the late addition
    src.merge(dels(60L, (1 to 5): _*), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(maintained(m) == direct(src))
    assert(maintained(m).find(_._1 == "a").get._4 == 60L,
      "min after shrunken-buffer folds must be exact, not the fabricated tail")
  }

  test("fold regime: a live group with a NULL stored buffer rescans on an add-only delta") {
    // lazily-upgraded state (pre-buffer rows, or a view whose extremum list
    // grew: recompute null-fills untouched rows): the stored group is live
    // and correct but carries no buffer. An add-only delta folds from
    // nothing and — pre-fix — overwrote the group's MIN with the delta's
    // own value (nnef > 0 and a non-empty fold result dodge the exhaustion
    // clause). The null-buffer clause must route the group to the rescan.
    val (src, m) = mk("fnullbuf")
    src.merge(rows((1, "a", 3, 1), (2, "a", 7, 2), (3, "b", 5, 3)),
      Seq("id"), "seq", "__del")
    m.refresh(spark)
    // craft the lazily-upgraded state: rewrite group a's stored row with
    // null extremum buffers/counters (same seq; the later commit's __gen
    // wins the tie), exactly what a pre-buffer row reads as after schema
    // evolution null-fills the new columns
    val stored = m.sink.read(spark, DeleteMode.Hard)
    val crafted = stored.filter(col("grp") === "a")
      .withColumn("__bot_mn", lit(null).cast("array<bigint>"))
      .withColumn("__nne_mn", lit(null).cast("bigint"))
      .withColumn("__top_mx", lit(null).cast("array<bigint>"))
      .withColumn("__nne_mx", lit(null).cast("bigint"))
      .withColumn("__del", lit(false))
    m.sink.merge(crafted, Seq("grp"), "seq", "__del")
    // add-only delta: a value WORSE than the group's true extremum on both
    // sides (10 > min 3, 10 > ... below max? use 4: 3 < 4 < 7 — still must
    // not displace either stored extremum)
    src.merge(rows((4, "a", 4, 10L)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(m.lastRefreshRegime == Some("fold"))
    assert(maintained(m) == direct(src))
    val a = maintained(m).find(_._1 == "a").get
    assert(a._4 == 3L && a._5 == 7L,
      s"null-buffer group must rescan, not fold from nothing: $a")
    // and the rescan restored real buffers: the NEXT delta folds exactly
    src.merge(rows((5, "a", 1, 11L)), Seq("id"), "seq", "__del")
    m.refresh(spark)
    assert(maintained(m) == direct(src))
  }

  test("foldExtremumBuf property: the maintained buffer never misreports the extremum") {
    // model-checked against a brute-force live multiset: random initial
    // groups and refresh steps (removals drawn from live, additions with
    // heavy ties), folded through the REAL engine inputs — rem truncated
    // to the k+1 best, add to the k best, nne moved by FULL counts (the
    // dnne contract). After every step the maintained buffer must be a
    // sub-multiset of the live values, priority-sorted, exact at the
    // head, and prefix-complete below its tail; a null/exhausted fold
    // takes the model's rescan exactly where atRiskCond would. This is
    // the invariant both r14 ADVICE bugs violated.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val k = 4
    val smallVal = Gen.choose(0L, 12L) // small domain ⇒ frequent ties
    val genInit = Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, smallVal))
    val genStep = for {
      remCount <- Gen.choose(0, 6)
      remSeed <- Gen.choose(0, Int.MaxValue)
      addCount <- Gen.choose(0, 6)
      adds <- Gen.listOfN(addCount, smallVal)
    } yield (remCount, remSeed, adds)
    val genSteps = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, genStep))
    def subMultiset(small: Seq[Long], big: Seq[Long]): Boolean = {
      val b = big.toBuffer
      small.forall { v =>
        val i = b.indexOf(v); if (i >= 0) { b.remove(i); true } else false
      }
    }
    val prop = Prop.forAll(genInit, genSteps, Gen.oneOf(true, false)) {
      (init, steps, bottom) =>
        def pri(s: Seq[Long]) = if (bottom) s.sorted else s.sorted.reverse
        var live: Vector[Long] = init.toVector
        var buf: Seq[Long] = pri(live).take(k) // exact initial build
        var nne: Long = live.size.toLong
        var ok = true
        for ((remCount, remSeed, adds) <- steps if ok) {
          val rnd = new scala.util.Random(remSeed)
          val removed = rnd.shuffle(live).take(math.min(remCount, live.size))
          val rest = live.toBuffer
          removed.foreach { r => rest.remove(rest.indexOf(r)); () }
          live = rest.toVector ++ adds
          val out = MaterializedAgg.foldExtremumBuf(buf,
            pri(removed).take(k + 1), pri(adds).take(k), bottom, k, nne)
          nne = nne - removed.size + adds.size
          ok = ok && nne == live.size.toLong // dnne bookkeeping stays exact
          if (out == null || (out.isEmpty && nne > 0)) {
            buf = pri(live).take(k) // the at-risk rescan recomputes exactly
          } else {
            buf = out
            ok = ok && subMultiset(buf, live) && buf == pri(buf)
            if (buf.nonEmpty) {
              ok = ok && buf.head == (if (bottom) live.min else live.max)
              val better = live.filter(v =>
                if (bottom) v < buf.last else v > buf.last)
              ok = ok && subMultiset(better, buf)
            } else ok = ok && live.isEmpty
          }
        }
        ok
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(r.passed, r.status.toString)
  }

  test("delta regime: a benign refresh reads NOTHING proportional to the source") {
    // the pure-delta (SUM/COUNT) twin of the fold IO guard: a one-key
    // upsert must read only the changed slices + dirty agg buckets
    val n = 200000L
    val src = new SnapshotParquetSink(tmpDir("magg_dnoio_src"), nBuckets = 16)
    val agg = new SnapshotParquetSink(tmpDir("magg_dnoio_agg"), nBuckets = 4)
    val m = new MaterializedAgg(src, agg, Seq("grp"),
      Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    val big = spark.range(n).select(
      col("id").cast("int").as("id"),
      concat(lit("g"), pmod(col("id"), lit(20000L))).as("grp"),
      col("id").as("v"), lit(1L).as("seq"), lit(false).as("__del"))
    src.merge(big, Seq("id"), "seq", "__del")
    m.refresh(spark)
    src.merge(rows((7, "g7", 500, 2L)), Seq("id"), "seq", "__del")
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (te.taskMetrics != null)
          read.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      m.refresh(spark)
      var last = -1L
      var spins = 0
      while (read.get() != last && spins < 25) {
        last = read.get(); Thread.sleep(200L); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(m.lastRefreshRegime == Some("delta"))
    val g7 = m.read(spark).filter(col("grp") === "g7")
      .select("n", "sv").head()
    assert(g7.getLong(0) == 10L && g7.getLong(1) == (7L + 20007L + 40007L +
      60007L + 80007L + 100007L + 120007L + 140007L + 160007L + 180007L
      - 7L + 500L))
    val r = read.get()
    assert(r < 100000L,
      s"benign delta refresh read $r records — a source-proportional scan leaked in")
  }

  test("fold regime: a benign refresh reads NOTHING proportional to the source") {
    // the fold's scale contract: when no group's buffer exhausts, the
    // refresh touches only the changed slices + the dirty view/agg buckets
    // — the at-risk rescan's source scan must not run. Measured via task
    // input metrics: a source-proportional read here is the difference
    // between O(changed) and O(source) at every refresh.
    val n = 200000L
    val src = new SnapshotParquetSink(tmpDir("magg_noio_src"), nBuckets = 16)
    val agg = new SnapshotParquetSink(tmpDir("magg_noio_agg"), nBuckets = 4)
    val m = new MaterializedAgg(src, agg, Seq("grp"),
      Seq(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("v")).as("mn"), max(col("v")).as("mx")))
    // v = id keeps every group's values DISTINCT: the update below must
    // fold exactly (remove found in buffer, add a mid-range value), never
    // trip the at-risk rescan — which WOULD legitimately scan the source
    val big = spark.range(n).select(
      col("id").cast("int").as("id"),
      concat(lit("g"), pmod(col("id"), lit(20000L))).as("grp"),
      col("id").as("v"), lit(1L).as("seq"), lit(false).as("__del"))
    src.merge(big, Seq("id"), "seq", "__del")
    m.refresh(spark)
    // one benign change: update id 7 (group g7's min, values 7, 20007,
    // 40007, …) to a value inside the bottom buffer and far from the top
    src.merge(rows((7, "g7", 500, 2L)), Seq("id"), "seq", "__del")
    val read = new java.util.concurrent.atomic.AtomicLong
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (te.taskMetrics != null) {
          read.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
          byStage.merge(te.stageId, te.taskMetrics.inputMetrics.recordsRead,
            (a, b) => a + b)
          ()
        }
      }
      override def onStageSubmitted(
          ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        stageName.put(ss.stageInfo.stageId, ss.stageInfo.name.take(120))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      m.refresh(spark)
      // no public listener-bus flush: poll until the metric stabilizes
      var last = -1L
      var spins = 0
      while (read.get() != last && spins < 25) {
        last = read.get(); Thread.sleep(200L); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(m.lastRefreshRegime == Some("fold"))
    assert(maintained(m) == direct(src))
    // budget: 2 changed-slice reads (≤ 2 source buckets ≈ 25k) + dirty
    // view/agg buckets (≈ 2 × 5k) + merge re-reads; a leaked source scan
    // adds the full 200k and must fail this
    val r = read.get()
    import scala.jdk.CollectionConverters._
    lazy val breakdown = byStage.asScala.toSeq.sortBy(-_._2).take(8).map {
      case (sid, n) => s"stage $sid ($n rows): ${stageName.getOrDefault(sid, "?")}"
    }.mkString("\n  ")
    assert(r < 100000L,
      s"benign fold refresh read $r records — a source-proportional scan " +
        s"leaked in:\n  $breakdown")
  }

  test("cost-based pick: tiny source takes recompute, view ≪ source takes fold") {
    costBased {
      // tiny source: one full scan beats the fold's fixed-cost jobs — the
      // byte model (view bytes + fixed-equiv vs source bytes) must say so
      val (src, m) = mk("cost1")
      src.merge(rows((1, "a", 10, 1), (2, "a", 20, 2), (3, "b", 5, 3)),
        Seq("id"), "seq", "__del")
      m.refresh(spark)
      src.merge(rows((2, "a", 25, 4)), Seq("id"), "seq", "__del")
      m.refresh(spark)
      assert(m.lastRefreshRegime == Some("recompute"),
        s"tiny source must cost-pick recompute: ${m.lastRefreshRegime}")
      assert(maintained(m) == direct(src))

      // source ≫ view with the fixed-cost term zeroed: the O(dirty-bucket)
      // fold read undercuts the full source scan — fold must win the pick
      val src2 = new SnapshotParquetSink(tmpDir("magg_cost2_src"), nBuckets = 8)
      val agg2 = new SnapshotParquetSink(tmpDir("magg_cost2_agg"), nBuckets = 4)
      val m2 = new MaterializedAgg(src2, agg2, Seq("grp"),
        Seq(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          min(col("v")).as("mn"), max(col("v")).as("mx")))
      val big = spark.range(20000).select(
        col("id").cast("int").as("id"),
        concat(lit("g"), pmod(col("id"), lit(3))).as("grp"),
        (col("id") % 1000L).as("v"), lit(1L).as("seq"),
        lit(false).as("__del"))
      src2.merge(big, Seq("id"), "seq", "__del")
      m2.refresh(spark)
      src2.merge(rows((7, "g1", 999999, 2)), Seq("id"), "seq", "__del")
      spark.conf.set("spark.graft.ivm.foldFixedCostBytes", "0")
      try {
        m2.refresh(spark)
        assert(m2.lastRefreshRegime == Some("fold"),
          s"view ≪ source must cost-pick fold: ${m2.lastRefreshRegime}")
      } finally spark.conf.unset("spark.graft.ivm.foldFixedCostBytes")
      val want = src2.read(spark, DeleteMode.Hard).groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          min(col("v")).as("mn"), max(col("v")).as("mx")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      val got = m2.read(spark).select("grp", "n", "sv", "mn", "mx").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got == want)
    }
  }

  test("delta regime: user aggregates may not use the __ namespace") {
    val (src, _) = mk("ns")
    val agg = new SnapshotParquetSink(tmpDir("magg_ns_agg"), nBuckets = 4)
    src.merge(rows((1, "a", 1, 1)), Seq("id"), "seq", "__del")
    val shadowing = new MaterializedAgg(src, agg, Seq("grp"),
      Seq(sum(col("v")).as("__rows")))
    intercept[IllegalArgumentException](shadowing.refresh(spark))
  }
}
