package graft

import org.apache.spark.sql.DataFrame
import graft.sink.{ConcurrentPinException, DeleteMode, PinConflict, SnapshotCatalog, SnapshotParquetSink}

/** The catalog's contract: a catalog version is an atomic, immutable
  * cross-table cut — torn reads are impossible through it, concurrent
  * commits never lose, and vacuum keeps what pinned history needs.
  */
class SnapshotCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, Long, String, Boolean)*): DataFrame =
    rows.toSeq.toDF("primary_key", "seq", "val", "is_delete")

  private def keysOf(df: DataFrame): Set[String] =
    df.select("primary_key").collect().map(_.getString(0)).toSet

  test("catalog cut survives a crashed half-transaction on one table") {
    val cat = new SnapshotCatalog(tmpDir("cat") + "/c")
    val a = cat.table("a", nBuckets = 2); val b = cat.table("b", nBuckets = 2)
    a.merge(batch(("a1", 0, "x", false)), Seq("primary_key"), "seq", "is_delete")
    b.merge(batch(("b1", 1, "y", false)), Seq("primary_key"), "seq", "is_delete")
    val v0 = cat.commitCurrent(Seq("a", "b"))
    // crashed transaction: a advances, b and the catalog don't
    a.merge(batch(("a2", 2, "x2", false)), Seq("primary_key"), "seq", "is_delete")
    val view = cat.readAll(spark)
    assert(keysOf(view("a")) == Set("a1"), "catalog reader must not see the unpinned commit")
    assert(keysOf(view("b")) == Set("b1"))
    // retried transaction completes
    b.merge(batch(("b2", 3, "y2", false)), Seq("primary_key"), "seq", "is_delete")
    val v1 = cat.commitCurrent(Seq("a", "b"))
    assert(v1 == v0 + 1)
    assert(keysOf(cat.readAll(spark)("a")) == Set("a1", "a2"))
    // the old cut stays readable (time travel at catalog level)
    assert(keysOf(cat.readAllAt(spark, v0)("a")) == Set("a1"))
  }

  test("commit refuses an unpublished pin; names are validated") {
    val cat = new SnapshotCatalog(tmpDir("cat") + "/c")
    cat.table("a", 2).merge(batch(("k", 0, "v", false)), Seq("primary_key"), "seq", "is_delete")
    intercept[IllegalArgumentException](cat.commit(Map("a" -> 7L)))
    intercept[IllegalArgumentException](cat.table("_sneaky"))
    intercept[IllegalArgumentException](cat.table("a/b"))
    intercept[IllegalArgumentException](cat.commit(Map.empty))
  }

  test("concurrent catalog commits: both land, neither lost") {
    val dir = tmpDir("cat") + "/c"
    val cat = new SnapshotCatalog(dir)
    cat.table("a", 2).merge(batch(("k", 0, "v", false)), Seq("primary_key"), "seq", "is_delete")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // two independent handles (no shared instance lock) race the publish
      val futs = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = new SnapshotCatalog(dir).commitCurrent(Seq("a"))
        })
      }
      val got = futs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)).toSet
      assert(got == Set(0L, 1L), s"exactly versions 0 and 1 expected, got $got")
      assert(cat.versions == Seq(0L, 1L))
      assert(cat.pins(0L) == Map("a" -> 0L) && cat.pins(1L) == Map("a" -> 0L))
    } finally pool.shutdownNow()
  }

  test("multi-writer catalog: disjoint transactions interleave, every cut sees the whole warehouse") {
    val dir = tmpDir("catmw") + "/c"
    val cat = new SnapshotCatalog(dir)
    // writer 1 owns a, writer 2 owns b — independent transactions
    cat.table("a", 2).merge(batch(("k", 0, "a0", false)), Seq("primary_key"), "seq", "is_delete")
    cat.commitEpoch(Seq("a"), "w1", 0L)
    cat.table("b", 2).merge(batch(("k", 0, "b0", false)), Seq("primary_key"), "seq", "is_delete")
    cat.commitEpoch(Seq("b"), "w2", 0L)
    // w2's cut CARRIES w1's pin: the catalog version describes the whole
    // warehouse, not just the committing transaction's tables
    assert(cat.pins(1L) == Map("a" -> 0L, "b" -> 0L), cat.pins(1L).toString)
    cat.openTable("a").merge(batch(("k", 1, "a1", false)), Seq("primary_key"), "seq", "is_delete")
    cat.commitEpoch(Seq("a"), "w1", 1L)
    assert(cat.pins(2L) == Map("a" -> 1L, "b" -> 0L))
    // epoch stamps carry to the head manifest — every writer's last batch
    // is readable from one file
    assert(cat.epochs(2L) == Map("w1" -> 1L, "w2" -> 0L))
    assert(cat.lastEpoch("w2").contains(0L))
    // a reader of the head cut sees BOTH writers' tables, each at its most
    // recently pinned version
    val view = cat.readAllAt(spark, 2L)
    assert(view.keySet == Set("a", "b"))
    assert(view("a").select("val").head.getString(0) == "a1")
    assert(view("b").select("val").head.getString(0) == "b0")
    // replayed epoch from either writer publishes nothing
    assert(cat.commitEpoch(Seq("a"), "w1", 1L).isEmpty)
    assert(cat.versions.size == 3)
    // carried pins keep their table versions retained through the vacuum
    // handshake: a@0 is still pinned by cut v1
    assert(cat.retainedVersions(keepLast = cat.versions.size)("a").contains(0L))

    // RACING writers: both cuts land in some order; the loser's carry
    // re-reads the winner's pins, so the final head unions both
    cat.openTable("a").merge(batch(("k", 2, "a2", false)), Seq("primary_key"), "seq", "is_delete")
    cat.openTable("b").merge(batch(("k", 2, "b2", false)), Seq("primary_key"), "seq", "is_delete")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit(new java.util.concurrent.Callable[Option[Long]] {
        def call(): Option[Long] = new SnapshotCatalog(dir).commitEpoch(Seq("a"), "w1", 2L)
      })
      val f2 = pool.submit(new java.util.concurrent.Callable[Option[Long]] {
        def call(): Option[Long] = new SnapshotCatalog(dir).commitEpoch(Seq("b"), "w2", 2L)
      })
      val got = Set(f1.get(60, java.util.concurrent.TimeUnit.SECONDS),
        f2.get(60, java.util.concurrent.TimeUnit.SECONDS)).flatten
      assert(got == Set(3L, 4L), s"both racing cuts must land: $got")
    } finally pool.shutdownNow()
    // a is at its 3rd table version (a0,a1,a2), b at its 2nd (b0,b2)
    assert(cat.pins(4L) == Map("a" -> 2L, "b" -> 1L),
      s"the second cut must carry the first's fresh pin: ${cat.pins(4L)}")
  }

  test("same-table pin conflict: Advance never regresses, Refuse throws, LastWins overrides") {
    val dir = tmpDir("catpc") + "/c"
    val cat = new SnapshotCatalog(dir)
    val a = cat.table("a", 2)
    a.merge(batch(("k", 0, "v0", false)), Seq("primary_key"), "seq", "is_delete") // a@0
    cat.commitCurrent(Seq("a"))                                 // cat v0 -> a@0
    a.merge(batch(("k", 1, "v1", false)), Seq("primary_key"), "seq", "is_delete") // a@1
    a.merge(batch(("k", 2, "v2", false)), Seq("primary_key"), "seq", "is_delete") // a@2
    cat.commit(Map("a" -> 2L))                                  // writer B pins a@2
    // writer A is STALE (observed a@1). Default Advance: the commit lands
    // but resolves to the newer pin — the catalog view never rolls back
    // over B's update (per-table history is linear, a@2 contains a@1)
    val v = cat.commit(Map("a" -> 1L))
    assert(cat.pins(v) == Map("a" -> 2L), cat.pins(v).toString)
    // Refuse: strict transactions get a loud conflict naming the table
    val e = intercept[ConcurrentPinException](
      cat.commit(Map("a" -> 1L), onConflict = PinConflict.Refuse))
    assert(e.getMessage.contains("'a'") && e.getMessage.contains("v2"))
    assert(cat.currentVersion.contains(v), "a refused commit publishes nothing")
    // LastWins: the deliberate-override path (admin re-pin / time travel)
    val v2 = cat.commit(Map("a" -> 1L), onConflict = PinConflict.LastWins)
    assert(cat.pins(v2) == Map("a" -> 1L))
  }

  test("same-table race: two writers commit concurrently, the head never regresses") {
    val dir = tmpDir("catrace") + "/c"
    val cat = new SnapshotCatalog(dir)
    val a = cat.table("a", 2)
    a.merge(batch(("k", 0, "v0", false)), Seq("primary_key"), "seq", "is_delete") // a@0
    a.merge(batch(("k", 1, "v1", false)), Seq("primary_key"), "seq", "is_delete") // a@1
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // stale writer pins a@0, fresh writer pins a@1, racing in any order —
      // whichever lands second, the final head must pin a@1
      val futs = Seq(0L, 1L).map { tv =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = new SnapshotCatalog(dir).commit(Map("a" -> tv))
        })
      }
      val got = futs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)).toSet
      assert(got == Set(0L, 1L), s"both commits must land: $got")
    } finally pool.shutdownNow()
    assert(cat.pins(cat.currentVersion.get) == Map("a" -> 1L),
      s"head regressed: ${cat.pins(cat.currentVersion.get)}")
  }

  test("epoch GC: stamps older than the vacuum horizon stop carrying; live writers keep protection") {
    // floor 0 = the pure horizon-coupled regime (historical behavior)
    val cat = new SnapshotCatalog(tmpDir("categc") + "/c", epochCarryMinVersions = 0)
    cat.table("a", 2).merge(batch(("k", 0, "v", false)), Seq("primary_key"), "seq", "is_delete")
    cat.commitEpoch(Seq("a"), "w1", 0L) // v0: w1 stamped at v0
    cat.commitEpoch(Seq("a"), "w2", 0L) // v1: w2 stamped, w1 carried
    cat.commitEpoch(Seq("a"), "w2", 1L) // v2
    assert(cat.epochStamps(2L).keySet == Set("w1", "w2"), "carry keeps both on the head")
    cat.vacuum(keepLast = 1, minOrphanAgeMs = 0L) // retained: {v2}; w1's stamping version (v0) expired
    cat.commitEpoch(Seq("a"), "w2", 2L) // v3: carry must DROP w1 (stamped below the horizon)
    assert(cat.epochStamps(3L).keySet == Set("w2"),
      s"idle writer's stamp must GC: ${cat.epochStamps(3L)}")
    cat.vacuum(keepLast = 1, minOrphanAgeMs = 0L) // retained: {v3}
    assert(cat.lastEpoch("w2").contains(2L), "live writer keeps replay protection")
    assert(cat.lastEpoch("w1").isEmpty, "idle-past-horizon writer's protection expired")
  }

  test("epoch carry floor: a slow writer survives keepLast=1 vacuums; past the floor it GCs") {
    // the default-regime fix: replay protection must NOT ride the vacuum
    // horizon — a writer cutting every N batches while another cuts every
    // batch would otherwise lose its stamp after ONE intervening
    // commit + vacuum(keepLast=1) cycle, and its crash replay would
    // publish a duplicate cut (commitEpoch Some instead of None)
    val cat = new SnapshotCatalog(tmpDir("catef") + "/c", epochCarryMinVersions = 3)
    cat.table("a", 2).merge(batch(("k", 0, "v", false)), Seq("primary_key"), "seq", "is_delete")
    cat.commitEpoch(Seq("a"), "slow", 7L) // v0: the slow writer's only cut
    (0L to 1L).foreach { b =>
      cat.commitEpoch(Seq("a"), "fast", b)
      cat.vacuum(keepLast = 1, minOrphanAgeMs = 0L) // horizon passes v0 immediately
    }
    // v2 is the head; slow's stamp (at=0, head-at-carry 2 ≤ floor 3) carried
    assert(cat.lastEpoch("slow").contains(7L),
      "slow writer keeps protection within the floor despite keepLast=1 vacuums")
    // its crash replay is still recognized as a duplicate
    assert(cat.commitEpoch(Seq("a"), "slow", 7L).isEmpty,
      "replayed batch must not publish a duplicate cut")
    // beyond the floor the stamp finally GCs (bounded carry, not immortal)
    (2L to 5L).foreach(b => cat.commitEpoch(Seq("a"), "fast", b))
    cat.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
    cat.commitEpoch(Seq("a"), "fast", 6L)
    assert(cat.lastEpoch("slow").isEmpty,
      s"stamp must GC once idle past the floor: ${cat.epochStamps(cat.currentVersion.get)}")
  }

  test("chaos: vacuumAll racing a live writer never strands a surviving cut's pins") {
    // the TOCTOU seams under test: (1) a cut published between the catalog
    // expire and the pin listing must keep its pinned table versions —
    // vacuumAll re-lists survivors after the expire; (2) a table version
    // committed/pinned mid-vacuum is protected by the manifest age floor
    // (minOrphanAgeMs) even when the pin listing predates it
    val dir = tmpDir("catchaos") + "/c"
    val cat = new SnapshotCatalog(dir)
    val a = cat.table("a", 2)
    a.merge(batch(("k", 0, "v0", false)), Seq("primary_key"), "seq", "is_delete")
    cat.commitCurrent(Seq("a"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try {
        val wcat = new SnapshotCatalog(dir)
        val wa = SnapshotParquetSink.forTable(s"$dir/a")
        var i = 1L
        while (!stop.get()) {
          wa.merge(batch(("k", i, s"v$i", false)),
            Seq("primary_key"), "seq", "is_delete")
          wcat.commitCurrent(Seq("a"))
          i += 1L
        }
      } catch { case t: Throwable => writerErr.set(t) }
    })
    writer.start()
    try {
      // age floor 1500ms: history older than the floor is droppable while
      // anything the racing writer just committed stays protected — the
      // expire → per-table window is far inside the floor
      val results = (0 until 12).map { _ =>
        Thread.sleep(400L)
        cat.vacuumAll(keepLast = 1, minOrphanAgeMs = 1500L)
      }
      stop.set(true); writer.join(30000L)
      assert(writerErr.get() == null, s"writer crashed: ${writerErr.get()}")
      // the vacuum must have actually done work (not a vacuous pass)
      assert(results.map(_("_catalog")._1).sum > 0, "catalog history never expired")
      assert(results.flatMap(_.get("a")).map(_._1).sum > 0, "table history never expired")
      // invariant: EVERY surviving cut fully resolves — no stranded pin
      val survivors = cat.versions
      assert(survivors.nonEmpty)
      survivors.foreach { v =>
        cat.pins(v).foreach { case (name, tv) =>
          assert(SnapshotParquetSink.versions(s"$dir/$name").contains(tv),
            s"cut v$v pins $name@v$tv but the table version was vacuumed")
        }
      }
      // and the head cut reads coherently end-to-end
      val head = cat.readAll(spark)("a").collect()
      assert(head.length == 1 && head.head.getString(0) == "k")
    } finally { stop.set(true); writer.join() }
  }

  test("graft-catalog DSv2: SQL reads resolve through the catalog's consistent cut") {
    val dir = tmpDir("catsql") + "/c"
    val cat = new SnapshotCatalog(dir)
    val a = cat.table("a", nBuckets = 2)
    a.merge(batch(("k1", 0, "v0", false)), Seq("primary_key"), "seq", "is_delete")
    cat.commitCurrent(Seq("a"))                       // catalog v0 -> a@0
    a.merge(batch(("k2", 1, "v1", false)), Seq("primary_key"), "seq", "is_delete")
    // unpinned table commit: SQL through the catalog must NOT see it
    val cur = spark.read.format("graft-catalog").option("table", "a").load(dir)
    assert(keysOf(cur.filter(!$"__is_deleted")) == Set("k1"))
    cat.commitCurrent(Seq("a"))                       // catalog v1 -> a@1
    val head = spark.read.format("graft-catalog").option("table", "a").load(dir)
    assert(keysOf(head.filter(!$"__is_deleted")) == Set("k1", "k2"))
    // catalog-level time travel from SQL
    val old = spark.read.format("graft-catalog")
      .option("table", "a").option("asOfCatalog", "0").load(dir)
    assert(keysOf(old.filter(!$"__is_deleted")) == Set("k1"))
    // unknown member / bad version fail loudly
    intercept[Exception] {
      spark.read.format("graft-catalog").option("table", "zzz").load(dir).collect()
    }
    intercept[Exception] {
      spark.read.format("graft-catalog").option("table", "a")
        .option("asOfCatalog", "9").load(dir).collect()
    }
  }

  test("graft-catalog routes and prunes like graft-snapshot: clustered and bloom members") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("catroute") + "/c"
    val cat = new SnapshotCatalog(dir)
    // a member Z-order-clustered on its key: routing ignores the key hash
    new SnapshotParquetSink(s"$dir/zc", nBuckets = 16,
      clusterBy = Seq(SnapshotParquetSink.ClusterCol("id", 0L, 1000L)))
      .merge(spark.range(1000).select(col("id"), lit(0L).as("seq"),
        lit(false).as("is_delete")), Seq("id"), "seq", "is_delete")
    new SnapshotParquetSink(s"$dir/bf", nBuckets = 8, bloomCols = Seq("ext"))
      .merge(spark.range(512).select(col("id"), lit(0L).as("seq"),
        concat(lit("e"), col("id")).as("ext"), lit(false).as("is_delete")),
        Seq("id"), "seq", "is_delete")
    cat.commitCurrent(Seq("zc", "bf"))
    def viaCatalog(t: String) = spark.read.format("graft-catalog").option("table", t).load(dir)
    def viaSnapshot(t: String) = spark.read.format("graft-snapshot").option("asOf", 0L)
      .load(s"$dir/$t")
    def planned(df: DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.inputFiles.toSeq
          }
      }.flatten.sorted
    assert(viaCatalog("zc").count() == 1000L)
    val hit = viaCatalog("zc").filter($"id" === 777L)
    assert(hit.select("id").collect().map(_.getLong(0)).toSeq == Seq(777L),
      "a key equality on a clustered member must route by its cluster spec")
    assert(planned(hit).size == 1)
    assert(planned(hit) == planned(viaSnapshot("zc").filter($"id" === 777L)))
    // a batched point lookup routes each value through the same spec
    val batch = viaCatalog("zc").filter($"id".isin(3L, 777L))
    assert(batch.count() == 2L)
    assert(planned(batch).size == 2)
    val ext = viaCatalog("bf").filter($"ext" === "e37")
    assert(ext.count() == 1L)
    assert(planned(ext).size < 8, "bloom sidecars must prune catalog reads")
    assert(planned(ext) == planned(viaSnapshot("bf").filter($"ext" === "e37")))
  }

  test("retainedVersions + vacuum: pinned table versions are reported; history expires") {
    val cat = new SnapshotCatalog(tmpDir("cat") + "/c")
    val a = cat.table("a", 2)
    a.merge(batch(("k", 0, "v0", false)), Seq("primary_key"), "seq", "is_delete")
    cat.commitCurrent(Seq("a"))                 // catalog v0 -> a@0
    a.merge(batch(("k", 1, "v1", false)), Seq("primary_key"), "seq", "is_delete")
    cat.commitCurrent(Seq("a"))                 // catalog v1 -> a@1
    a.merge(batch(("k", 2, "v2", false)), Seq("primary_key"), "seq", "is_delete")
    cat.commitCurrent(Seq("a"))                 // catalog v2 -> a@2
    assert(cat.retainedVersions(keepLast = 2) == Map("a" -> Set(1L, 2L)))
    assert(cat.vacuum(keepLast = 2, minOrphanAgeMs = 0L) == 1)
    assert(cat.versions == Seq(1L, 2L))
    // the surviving cuts still resolve
    assert(cat.readAllAt(spark, 1L)("a").collect().map(_.getString(2)).toSeq == Seq("v1"))
    // pin-aware TABLE vacuum: keep exactly what catalog history references
    val (mDropped, _) = a.vacuumKeeping(cat.retainedVersions(keepLast = 2)("a"),
      minOrphanAgeMs = 0L)
    assert(mDropped == 1 && a.versions == Seq(1L, 2L)) // a@0 expired, pins intact
    assert(cat.readAllAt(spark, 1L)("a").collect().map(_.getString(2)).toSeq == Seq("v1"))
    intercept[IllegalArgumentException](a.vacuumKeeping(Set(99L)))
  }

  test("vacuumAll: one call expires catalog history and vacuums members to pinned versions") {
    val cat = new SnapshotCatalog(tmpDir("catva") + "/c")
    val a = cat.table("a", 2)
    for (i <- 0 until 3) {
      a.merge(batch(("k", i.toLong, s"v$i", false)), Seq("primary_key"), "seq", "is_delete")
      cat.commitCurrent(Seq("a"))                // cut i -> a@i
    }
    // an advanced-but-UNPINNED head commit: vacuumAll must keep it readable
    a.merge(batch(("k", 9L, "head", false)), Seq("primary_key"), "seq", "is_delete") // a@3
    val r = cat.vacuumAll(keepLast = 2, minOrphanAgeMs = 0L)
    assert(r("_catalog")._1 == 1, r.toString)            // cut v0 expired
    assert(r("a")._1 == 1, r.toString)                   // a@0 expired
    assert(cat.versions == Seq(1L, 2L))
    assert(a.versions == Seq(1L, 2L, 3L), "pinned versions + the unpinned head survive")
    // every surviving cut still resolves; the invariant held mid-flight
    assert(cat.readAllAt(spark, 1L)("a").collect().map(_.getString(2)).toSeq == Seq("v1"))
    assert(cat.readAllAt(spark, 2L)("a").collect().map(_.getString(2)).toSeq == Seq("v2"))
    // the next transaction pins the head and the loop continues
    cat.commitCurrent(Seq("a"))
    assert(cat.pins(3L) == Map("a" -> 3L))
  }
}
