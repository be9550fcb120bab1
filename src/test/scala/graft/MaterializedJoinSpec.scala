package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sink.{DeleteMode, MaterializedJoin, SnapshotParquetSink}

/** Dirty-key-recompute materialized join views ([[graft.sink.MaterializedJoin]]):
  * fact ⋈ dim maintained incrementally from BOTH sides' changes must equal
  * a from-scratch join after every refresh — including dim updates fanning
  * out to every referencing fact row, dim deletes (nulls under left_outer,
  * tombstones under inner), fact rows re-pointing at a different dim key,
  * and fact deletions.
  */
class MaterializedJoinSpec extends SparkSpec {

  import spark.implicits._

  private def facts(t: (Int, String, Long, Long)*): DataFrame =
    t.toSeq.toDF("id", "ck", "v", "seq").withColumn("__fdel", lit(false))

  private def factDels(seq: Long, ids: Int*): DataFrame =
    ids.toSeq.map(i => (i, null.asInstanceOf[String], 0L, seq))
      .toDF("id", "ck", "v", "seq").withColumn("__fdel", lit(true))

  private def dims(t: (String, String, Long)*): DataFrame =
    t.toSeq.toDF("ck", "cname", "seq").withColumn("__ddel", lit(false))

  private def dimDels(seq: Long, cks: String*): DataFrame =
    cks.toSeq.map(c => (c, null.asInstanceOf[String], seq))
      .toDF("ck", "cname", "seq").withColumn("__ddel", lit(true))

  private def mk(tag: String, joinType: String = "left_outer")
      : (SnapshotParquetSink, SnapshotParquetSink, MaterializedJoin) = {
    val f = new SnapshotParquetSink(tmpDir(s"mjoin_${tag}_f"), nBuckets = 4)
    val d = new SnapshotParquetSink(tmpDir(s"mjoin_${tag}_d"), nBuckets = 4)
    val v = new SnapshotParquetSink(tmpDir(s"mjoin_${tag}_v"), nBuckets = 4)
    (f, d, new MaterializedJoin(f, d, v, Seq("ck"), Seq("cname"), joinType))
  }

  /** From-scratch join over the live states — the oracle. */
  private def direct(f: SnapshotParquetSink, d: SnapshotParquetSink,
      joinType: String): Set[(Int, Option[String], Long, Option[String])] =
    f.read(spark, DeleteMode.Hard)
      .join(d.read(spark, DeleteMode.Hard).select("ck", "cname"), Seq("ck"), joinType)
      .select("id", "ck", "v", "cname")
      .collect()
      .map(r => (r.getInt(0), Option(r.getString(1)), r.getLong(2),
        Option(r.getString(3)))).toSet

  private def maintained(m: MaterializedJoin): Set[(Int, Option[String], Long, Option[String])] =
    m.read(spark)
      .select("id", "ck", "v", "cname")
      .collect()
      .map(r => (r.getInt(0), Option(r.getString(1)), r.getLong(2),
        Option(r.getString(3)))).toSet

  test("incremental refresh equals full recompute across both sides' changes") {
    val (f, d, m) = mk("ivm")
    d.merge(dims(("a", "Acme", 1), ("b", "Bolt", 2)), Seq("ck"), "seq", "__ddel")
    f.merge(facts((1, "a", 10, 1), (2, "a", 20, 2), (3, "b", 5, 3), (4, "z", 7, 4)),
      Seq("id"), "seq", "__fdel")
    assert(m.refresh(spark) == Some((0L, 0L)))
    assert(m.appliedVersions == Some((0L, 0L)))
    assert(maintained(m) == direct(f, d, "left_outer"))
    // id 4 references a dim that does not exist: left_outer keeps it, null
    assert(maintained(m).contains((4, Some("z"), 7L, None)))

    // dim UPDATE fans out to every referencing fact row
    d.merge(dims(("a", "Acme Corp", 5)), Seq("ck"), "seq", "__ddel")
    assert(m.refresh(spark) == Some((0L, 1L)))
    assert(maintained(m) == direct(f, d, "left_outer"))
    assert(maintained(m).count(_._4.contains("Acme Corp")) == 2)

    // fact re-points to another dim; fact delete; dim delete → nulls
    f.merge(facts((1, "b", 10, 5)), Seq("id"), "seq", "__fdel")
    f.merge(factDels(6, 2), Seq("id"), "seq", "__fdel")
    d.merge(dimDels(7, "b"), Seq("ck"), "seq", "__ddel")
    assert(m.refresh(spark) == Some((2L, 2L)))
    assert(maintained(m) == direct(f, d, "left_outer"))
    assert(maintained(m) == Set(
      (1, Some("b"), 10L, None), (3, Some("b"), 5L, None), (4, Some("z"), 7L, None)))

    // already current
    assert(m.refresh(spark).isEmpty)
  }

  test("inner join tombstones facts whose dim vanished") {
    val (f, d, m) = mk("inner", "inner")
    d.merge(dims(("a", "Acme", 1), ("b", "Bolt", 2)), Seq("ck"), "seq", "__ddel")
    f.merge(facts((1, "a", 10, 1), (2, "b", 20, 2), (3, "z", 5, 3)),
      Seq("id"), "seq", "__fdel")
    m.refresh(spark)
    // id 3 never joins under inner
    assert(maintained(m) == direct(f, d, "inner"))
    assert(maintained(m).map(_._1) == Set(1, 2))
    d.merge(dimDels(4, "b"), Seq("ck"), "seq", "__ddel")
    m.refresh(spark)
    assert(maintained(m) == direct(f, d, "inner"))
    assert(maintained(m).map(_._1) == Set(1))
    // the lost row is a logical delete, not a lost row — time travelable
    val logical = m.sink.read(spark, DeleteMode.Logical)
    assert(logical.filter(col("id") === 2 && col("is_deleted")).count() == 1)
  }

  test("a replayed refresh is self-healing: same delta, same packed seq, same state") {
    val (f, d, m) = mk("replay")
    d.merge(dims(("a", "Acme", 1)), Seq("ck"), "seq", "__ddel")
    f.merge(facts((1, "a", 10, 1)), Seq("id"), "seq", "__fdel")
    m.refresh(spark)
    f.merge(facts((2, "a", 20, 2)), Seq("id"), "seq", "__fdel")
    m.refresh(spark)
    val before = maintained(m)
    val versionsBefore = m.sink.versions
    // replay: a second view handle re-runs the same refresh (crash between
    // the view merge and the caller recording progress)
    val m2 = new MaterializedJoin(f, d, m.sink, Seq("ck"), Seq("cname"))
    assert(m2.refresh(spark).isEmpty) // bookkeeping says current
    assert(maintained(m) == before)
    assert(m.sink.versions == versionsBefore)
  }

  test("dim advancing alone re-enriches only referencing facts") {
    val (f, d, m) = mk("dimonly")
    d.merge(dims(("a", "Acme", 1), ("b", "Bolt", 2)), Seq("ck"), "seq", "__ddel")
    f.merge(facts((1, "a", 10, 1), (2, "b", 20, 2)), Seq("id"), "seq", "__fdel")
    m.refresh(spark)
    d.merge(dims(("b", "Bolt v2", 3)), Seq("ck"), "seq", "__ddel")
    assert(m.refresh(spark) == Some((0L, 1L)))
    assert(maintained(m) == direct(f, d, "left_outer"))
    assert(m.appliedVersions == Some((0L, 1L)))
  }

  test("a non-unique dim fails loudly instead of silently dropping rows") {
    val (f, d, m) = mk("dup")
    // two live rows for ck=a: key id makes them distinct dim rows
    val dupDim = Seq(("a", "Acme", 1L, 1), ("a", "Other", 2L, 2))
      .toDF("ck", "cname", "seq", "did").withColumn("__ddel", lit(false))
    d.merge(dupDim, Seq("ck", "did"), "seq", "__ddel")
    f.merge(facts((1, "a", 10, 1)), Seq("id"), "seq", "__fdel")
    val e = intercept[IllegalArgumentException] { m.refresh(spark) }
    assert(e.getMessage.contains("merged by"))
  }

  test("views compose: an aggregate view maintained ON TOP of the join view") {
    val (f, d, m) = mk("cascade")
    d.merge(dims(("a", "Acme", 1), ("b", "Bolt", 2)), Seq("ck"), "seq", "__ddel")
    f.merge(facts((1, "a", 10, 1), (2, "a", 20, 2), (3, "b", 5, 3)),
      Seq("id"), "seq", "__fdel")
    m.refresh(spark)
    // the join view's sink is a plain snapshot table — an agg view stacks
    // on it (grouped by the DIM attribute the join materialized)
    val top = new graft.sink.MaterializedAgg(m.sink,
      new SnapshotParquetSink(tmpDir("mjoin_cascade_top"), nBuckets = 4),
      Seq("cname"), Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")),
      seqCol = "__vseq")
    top.refresh(spark)
    def topState = top.read(spark).select("cname", "n", "sv").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(topState == Set((Some("Acme"), 2L, 30L), (Some("Bolt"), 1L, 5L)))
    // a dim rename propagates through BOTH views, bottom-up
    d.merge(dims(("a", "Acme Corp", 4)), Seq("ck"), "seq", "__ddel")
    m.refresh(spark)
    top.refresh(spark)
    assert(topState == Set((Some("Acme Corp"), 2L, 30L), (Some("Bolt"), 1L, 5L)))
    // and the rewrite answers a GROUP BY over the JOIN VIEW from the top
    graft.sink.MaterializedAgg.register(top)
    try {
      val q = m.sink.read(spark, DeleteMode.Hard)
        .groupBy("cname")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val scans = q.queryExecution.optimizedPlan.collectLeaves().flatMap {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.toSeq.map(_.toUri.getPath)
            case _ => Nil
          }
        case o => Seq(o.nodeName)
      }
      assert(scans.nonEmpty && scans.forall(_.startsWith(top.sink.dir)),
        s"expected top-view scan, got $scans")
      assert(q.collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getLong(2))).toSet == topState)
    } finally graft.sink.MaterializedAgg.unregister(top)
  }

  test("a vacuumed diff base self-heals: full rebuild, dropped facts tombstoned") {
    val (f, d, m) = mk("vac")
    d.merge(dims(("a", "Acme", 1), ("b", "Bolt", 2)), Seq("ck"), "seq", "__ddel")
    f.merge(facts((1, "a", 10, 1), (2, "b", 20, 2)), Seq("id"), "seq", "__fdel")
    m.refresh(spark) // applied = (0, 0)
    // fact advances past retention while the view lags: id 2 deleted, a dim
    // renamed, a new fact arrives — then the diff base vacuums away
    f.merge(factDels(3, 2), Seq("id"), "seq", "__fdel")
    f.merge(facts((3, "b", 7, 4)), Seq("id"), "seq", "__fdel")
    d.merge(dims(("a", "Acme Corp", 5)), Seq("ck"), "seq", "__ddel")
    f.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    assert(!f.versions.contains(0L))
    assert(m.refresh(spark) == Some((2L, 1L)))
    assert(maintained(m) == direct(f, d, "left_outer"))
    assert(maintained(m) == Set(
      (1, Some("a"), 10L, Some("Acme Corp")), (3, Some("b"), 7L, Some("Bolt"))))
    // the dropped fact is a logical delete in the view's history
    val logical = m.sink.read(spark, DeleteMode.Logical)
    assert(logical.filter(col("id") === 2 && col("is_deleted")).count() == 1)
    // and maintenance is incremental again afterwards
    d.merge(dims(("b", "Bolt v2", 6)), Seq("ck"), "seq", "__ddel")
    assert(m.refresh(spark) == Some((2L, 2L)))
    assert(maintained(m) == direct(f, d, "left_outer"))
  }

  test("refresh merges are probe-hinted except on dim-driven advances") {
    val (f, d, m) = mk("hint")
    // a view at another bucket count routes facts elsewhere: never hinted
    val m8 = new MaterializedJoin(f, d, new SnapshotParquetSink(tmpDir("mjoin_hint_v8"),
      nBuckets = 8), Seq("ck"), Seq("cname"), "left_outer")
    d.merge(dims(("a", "Acme", 1), ("b", "Bolt", 2)), Seq("ck"), "seq", "__ddel")
    f.merge(facts((1, "a", 10, 1), (2, "a", 20, 2), (3, "b", 5, 3)),
      Seq("id"), "seq", "__fdel")
    // initial build: delta buckets ⊆ fact-manifest buckets — hinted
    assert(jobDescriptionsDuring { assert(m.refresh(spark).isDefined) }
      .count(_ == "commit:probe") == 0, "initial build must ride the hint")
    assert(maintained(m) == direct(f, d, "left_outer"))
    assert(jobDescriptionsDuring { assert(m8.refresh(spark).isDefined) }
      .count(_ == "commit:probe") >= 1, "an 8-bucket view's initial build must probe")
    assert(maintained(m8) == direct(f, d, "left_outer"))
    // fact-only advance: delta buckets ⊆ changed fact buckets — hinted
    f.merge(facts((1, "b", 11, 4)), Seq("id"), "seq", "__fdel")
    assert(jobDescriptionsDuring { assert(m.refresh(spark).isDefined) }
      .count(_ == "commit:probe") == 0, "fact-only advance must ride the hint")
    assert(maintained(m) == direct(f, d, "left_outer"))
    // (the distributed arm: a driver-local delta is probed on the driver)
    withLocalDiffOff {
      assert(jobDescriptionsDuring { assert(m8.refresh(spark).isDefined) }
        .count(_ == "commit:probe") >= 1, "an 8-bucket view's fact-only advance must probe")
    }
    assert(maintained(m8) == direct(f, d, "left_outer"))
    // dim-driven INCREMENTAL advance: updates fan out to arbitrary fact
    // buckets — the distributed arm probes. (The bulk gate would otherwise
    // route this tiny dim's advance to the rebuild arm, which is
    // legitimately hinted.)
    d.merge(dims(("a", "Acme Corp", 5)), Seq("ck"), "seq", "__ddel")
    withBulkGateOff {
      withLocalDiffOff {
        assert(jobDescriptionsDuring { assert(m.refresh(spark).isDefined) }
          .count(_ == "commit:probe") >= 1, "distributed dim-driven advance must probe")
      }
      assert(maintained(m) == direct(f, d, "left_outer"))
      // the small-delta arm computes the affected buckets on the driver
      d.merge(dims(("a", "Acme Inc", 6)), Seq("ck"), "seq", "__ddel")
      assert(jobDescriptionsDuring { assert(m.refresh(spark).isDefined) }
        .count(_ == "commit:probe") == 0, "small dim-driven advance must not probe")
    }
    assert(maintained(m) == direct(f, d, "left_outer"))
  }

  test("small-delta and distributed arms agree at every version, left_outer and inner") {
    // one seeded history, run twice: with the driver-local keyed diff on
    // (local diffs, broadcast key joins, local merge) and off (shuffled
    // diffs and key joins, probing merge)
    def history(): Seq[(String, DataFrame)] = {
      val rnd = new scala.util.Random(11)
      var seq = 10L
      def next() = { seq += 1; seq }
      val cks = Seq("a", "b", "c", "d")
      val live = scala.collection.mutable.Map.empty[Int, String]
      val out = Seq.newBuilder[(String, DataFrame)]
      out += "d" -> dims(("a", "Acme", 1), ("b", "Bolt", 2), ("c", "Coil", 3))
      out += "f" -> facts((0 until 24).map { i =>
        val ck = cks(rnd.nextInt(cks.size)); live(i) = ck; (i, ck, i.toLong, 1L) }: _*)
      // NULL-seq fact key: inserted, deleted and re-inserted under NULL
      // seq, then resolved to a value
      def nullSeqFact(id: Int, ck: String, del: Boolean): DataFrame =
        Seq((id, ck, 7L)).toDF("id", "ck", "v")
          .withColumn("seq", lit(null).cast("long")).withColumn("__fdel", lit(del))
      out += "f" -> nullSeqFact(90, "a", del = false)
      // fact commits that rewrite a bucket but change no live row: a
      // delete of an absent key, a replayed row under an older seq
      out += "f" -> factDels(next(), 999)
      out += "f" -> facts((0, live(0), 0L, 0L))
      val deleted = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (round <- 0 until 4) {
        val ids = rnd.shuffle(live.keys.toSeq.sorted).take(3)
        // an update, a re-pointing update, an insert of a new key, a
        // delete, and one step of the NULL-seq key's history (deleted and
        // re-inserted under NULL seq, then resolved to a value) or a
        // re-insert of a deleted key
        out += "f" -> facts(
          (ids(0), live(ids(0)), rnd.nextInt(100).toLong, next()),
          (ids(1), cks(rnd.nextInt(cks.size)), 5L, next()),
          (100 + round, cks(rnd.nextInt(cks.size)), 1L, next()))
          .unionByName(factDels(next(), ids(2)))
          .unionByName(round match {
            case 0 => nullSeqFact(90, "a", del = true)
            case 1 => nullSeqFact(90, "b", del = false)
            case 2 => facts((90, "b", 9L, next()))
            case _ => facts((deleted.head, "c", 3L, next()))
          })
        live(100 + round) = "x"
        live -= ids(2)
        deleted += ids(2)
        out += "d" -> (round match {
          case 1 => dimDels(next(), "b") // a referenced dim vanishes
          case 2 => dims(("b", "Bolt II", next()), ("d", "Dyne", next()))
          case _ => dims((cks(rnd.nextInt(3)), s"n$round", next()))
        })
      }
      out.result()
    }
    type Snap = (Set[(Int, Option[String], Long, Option[String])], Option[(Long, Long)],
      Set[(Int, String, Option[Long], Option[Long])])
    def run(tag: String, joinType: String, distributed: Boolean): Seq[Snap] = {
      val (f, d, m) = mk(tag, joinType)
      def body = history().flatMap { case (side, batch) =>
        if (side == "f") f.merge(batch, Seq("id"), "seq", "__fdel")
        else d.merge(batch, Seq("ck"), "seq", "__ddel")
        if (f.currentVersion.isEmpty || d.currentVersion.isEmpty) Nil
        else {
          m.refresh(spark)
          if (!distributed)
            assert(maintained(m) == direct(f, d, joinType), s"$tag v${m.appliedVersions}")
          val fv = f.currentVersion.get
          val feed =
            if (fv == 0L) Set.empty[(Int, String, Option[Long], Option[Long])]
            else f.changesBetween(spark, fv - 1, fv).collect().map(r =>
              (r.getInt(0), r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
                Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
          Seq((maintained(m), m.appliedVersions, feed))
        }
      }
      if (distributed) withLocalDiffOff(body) else body
    }
    withBulkGateOff {
      for (jt <- Seq("left_outer", "inner")) {
        val small = run(s"arms_small_$jt", jt, distributed = false)
        val planned = run(s"arms_dist_$jt", jt, distributed = true)
        assert(small.size == planned.size)
        small.zip(planned).zipWithIndex.foreach { case ((a, b), i) =>
          assert(a == b, s"$jt: step $i differs between the arms")
        }
      }
    }
  }

  test("a dim key fanning out past the collect cap takes the distributed arm") {
    val (f, d, m) = mk("fanout")
    d.merge(dims(("a", "Acme", 1), ("b", "Bolt", 2)), Seq("ck"), "seq", "__ddel")
    f.merge(facts((0 until 20).map(i => (i, if (i < 12) "a" else "b", i.toLong, 1L)): _*),
      Seq("id"), "seq", "__fdel")
    m.refresh(spark)
    withBulkGateOff(withCollectCap(5) {
      // 12 facts reference "a": past the cap of 5, the distributed arm runs
      d.merge(dims(("a", "Acme Corp", 3)), Seq("ck"), "seq", "__ddel")
      assert(jobDescriptionsDuring { assert(m.refresh(spark).isDefined) }
        .count(_ == "commit:probe") >= 1, "past the cap the planned delta must probe")
      assert(maintained(m) == direct(f, d, "left_outer"))
      assert(maintained(m).count(_._4.contains("Acme Corp")) == 12)
      // under the cap: the local arm, no probe
      f.merge(factDels(4, 13), Seq("id"), "seq", "__fdel")
      assert(jobDescriptionsDuring { assert(m.refresh(spark).isDefined) }
        .count(_ == "commit:probe") == 0, "a small delta under the cap must not probe")
      assert(maintained(m) == direct(f, d, "left_outer"))
    })
  }

  test("version pairs pack monotonically and round-trip") {
    val (f, d, m) = mk("pack")
    d.merge(dims(("a", "Acme", 1)), Seq("ck"), "seq", "__ddel")
    f.merge(facts((1, "a", 10, 1)), Seq("id"), "seq", "__fdel")
    m.refresh(spark)
    f.merge(facts((2, "a", 11, 2)), Seq("id"), "seq", "__fdel")
    m.refresh(spark)
    d.merge(dims(("a", "A2", 3)), Seq("ck"), "seq", "__ddel")
    m.refresh(spark)
    assert(m.appliedVersions == Some((1L, 1L)))
    assert(maintained(m) == direct(f, d, "left_outer"))
  }
}
