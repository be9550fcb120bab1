package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions=graft.GraftExtensions` must install the engine's
  * Catalyst extensions at session build — no imperative register calls.
  * The suite builds its own session (sharing the JVM's SparkContext) and
  * restores the default session afterwards.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("extensions conf installs cosine_sim and the as-of planner strategy") {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // withExtensions exercises the same injection seam the
    // spark.sql.extensions conf resolves to; the conf string itself is only
    // read when the SparkContext is first created, which a shared-JVM test
    // suite can't control deterministically.
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val c = s2.sql(
        "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c").head.getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
      assert(s2.sessionState.planner.strategies.contains(graft.plans.AsOfJoinStrategy))
      // runtime-filter pair round-trips through SQL: build a bloom over
      // 0..99, probe a member and a non-member (probe type must match the
      // build side's — xxhash64 of INT and BIGINT differ, same as any
      // hash-join key contract)
      val probes = s2.sql(
        """SELECT bloom_might_contain((SELECT bloom_build(id, 100) FROM range(100)),
          |                           CAST(50 AS BIGINT)) AS yes,
          |       bloom_might_contain((SELECT bloom_build(id, 100) FROM range(100)),
          |                           CAST(12345 AS BIGINT)) AS no
          |""".stripMargin).head
      assert(probes.getBoolean(0))
      assert(!probes.getBoolean(1))
      // BloomPrune's production shape (a literal filter probed by a column)
      // must compile: with the codegen fallback off, a janino failure
      // throws instead of silently running interpreted
      s2.conf.set("spark.sql.codegen.fallback", "false")
      try {
        val big = s2.range(1000).toDF("id")
        val small = s2.range(0, 1000, 7).toDF("k")
        assert(graft.engine.BloomPrune.semiFilter(big, big("id"), small, small("k"), 1000L)
          .count() >= 143L)
        assert(graft.engine.BloomPrune.prunedJoin(big, small, "id", "k", 1000L).count() == 143L)
      } finally s2.conf.unset("spark.sql.codegen.fallback")
      // codegen hamming: distance, zero, and the unequal-length null
      val h = s2.sql(
        "SELECT hamming('abcdef', 'abXdeY') AS d, hamming('a', 'a') AS z, " +
          "hamming('ab', 'abc') AS n").head
      assert(h.getInt(0) == 2 && h.getInt(1) == 0 && h.isNullAt(2))
      // codegen and interpreted paths agree over a value sweep
      import s2.implicits._
      val sweep = (0 until 64).map(i => (f"v$i%02d-fixed", f"v${i ^ 9}%02d-fixed"))
        .toDF("a", "b")
      val viaExpr = sweep.selectExpr("hamming(a, b) AS d").collect().map(_.getInt(0))
      val viaSubstr = sweep.selectExpr(
        "aggregate(sequence(1, length(a)), 0, " +
          "(acc, i) -> acc + IF(substring(a, i, 1) = substring(b, i, 1), 0, 1)) AS d")
        .collect().map(_.getInt(0))
      assert(viaExpr.toSeq == viaSubstr.toSeq)
      // codegen bmp_ahash through the SQL seam: the 2x2 seed-0 fixture
      // hand-computed in LlmSpec (gray [3,4,0,1], mean 2 → ahash 3),
      // bytes from the engine's own encoder
      import graft.multimodal.Multimodal
      val enc = Seq((2, 2, 0L)).toDF("w", "h", "seed")
        .select(Multimodal.encodeBmp($"w", $"h", $"seed").as("m"))
      enc.createOrReplaceTempView("bmp_t")
      assert(s2.sql("SELECT bmp_ahash(m) AS a FROM bmp_t").head.getLong(0) == 3L)

      // ---- TABLE functions: the SQL-only pipeline surface. Each TVF must
      // return exactly what its Scala twin returns over the same stores.
      val base = java.nio.file.Files.createTempDirectory("graft_tvf").toString
      // a small text index
      // docs 0 and 2 share an IDENTICAL token set, so every minhash band
      // collides — lsh_candidates must surface at least that pair
      val docs = Seq(
        (0L, "merge sort stream merge"), (1L, "stream filter"),
        (2L, "stream merge sort stream"), (3L, "hash join probe"))
        .toDF("doc_id", "text")
      val tidx = new graft.sink.TextIndexStore(s"$base/tidx")
      tidx.append(docs, batchId = 0L)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows(s2.sql(s"SELECT * FROM bm25_search('$base/tidx', 'merge sort', 10)"))
        == rows(tidx.search(s2, Seq("merge", "sort"), 10)))
      assert(rows(s2.sql(s"SELECT * FROM phrase_search('$base/tidx', 'merge sort', 10)"))
        == rows(tidx.phraseSearch(s2, Seq("merge", "sort"), 10)))
      // a small vector index
      val vecs = (0 until 12).map(i =>
        (i.toLong, Array.tabulate(4)(d => if (d == i % 2) 1.0f else 0.05f * i)))
        .toDF("vec_id", "embedding")
      val vidx = new graft.sink.VectorIndexStore(s"$base/vidx")
      vidx.init(vecs, k = 2, iters = 2)
      vidx.append(vecs, 0L)
      val viaSql = s2.sql(
        s"SELECT * FROM knn_search('$base/vidx', array(1.0F, 0.0F, 0.0F, 0.0F), 3, 1)")
        .collect().map(r => (r.getLong(0), r.getDecimal(1).toString)).toSeq
      val viaScala = vidx.search(s2,
          Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
          k = 3, nProbe = 1)
        .collect().map(r => (r.getLong(1), r.getDecimal(2).toString)).toSeq
      assert(viaSql == viaScala && viaSql.nonEmpty)
      // LSH candidate generation over a view — the dedup entry point
      docs.createOrReplaceTempView("tvf_docs")
      val sqlPairs = s2.sql("SELECT i, j FROM lsh_candidates('tvf_docs')")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val scalaPairs = graft.llm.Dedup.minhashLsh(docs, dictionary = false)(identity)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(sqlPairs == scalaPairs && sqlPairs.nonEmpty)
      // non-literal arguments refuse loudly instead of silently misplanning
      val bad = intercept[Exception](
        s2.sql("SELECT * FROM bm25_search(concat('a', text), 'x', 1) JOIN tvf_docs"))
      assert(bad.getMessage != null)

      // ---- the SQL-ONLY client story end-to-end: dedup candidates feed a
      // keep-first-seen anti-join, the survivors' ids fuse with retrieval —
      // one pipeline, zero Scala operator calls
      val surviving = s2.sql(
        """SELECT d.doc_id FROM tvf_docs d
          |LEFT ANTI JOIN (SELECT j AS doc_id FROM lsh_candidates('tvf_docs')) dup
          |ON d.doc_id = dup.doc_id""".stripMargin)
        .collect().map(_.getLong(0)).toSet
      assert(!surviving.contains(2L) && surviving.contains(0L),
        s"keep-first-seen must drop the later twin, got $surviving")
      val fused = s2.sql(
        s"""SELECT b.doc_id FROM bm25_search('$base/tidx', 'merge sort', 10) b
           |JOIN (SELECT * FROM tvf_docs) d ON d.doc_id = b.doc_id
           |ORDER BY b.score DESC, b.doc_id""".stripMargin)
        .collect().map(_.getLong(0)).toSeq
      assert(fused.nonEmpty && fused.toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prev.foreach { p => SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p) }
    }
  }

  test("SQL-only table DML: snapshot_merge upserts, table_follow chains a hop") {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s2.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_dml").toString
      def bronze = s"snapshot_read('$base/t')"
      def silver = s"snapshot_read('$base/s')"

      Seq((1L, 1L, "a1", false), (2L, 1L, "a2", false))
        .toDF("id", "seq", "note", "is_delete").createOrReplaceTempView("w1")
      val st1 = s2.sql(
        s"SELECT * FROM snapshot_merge('$base/t', 'w1', 'id', 'seq', 'is_delete', 8)").head
      assert(st1.getLong(1) == 0L, s"first merge publishes v0: $st1")

      // wave 2: an update, a delete, an insert — then read back through the
      // snapshot_read TVF (the DSv2 scan underneath, zero Scala reads)
      Seq((1L, 2L, "b1", false), (2L, 2L, "gone", true), (3L, 2L, "b3", false))
        .toDF("id", "seq", "note", "is_delete").createOrReplaceTempView("w2")
      assert(s2.sql(
        s"SELECT * FROM snapshot_merge('$base/t', 'w2', 'id', 'seq', 'is_delete')")
        .head.getLong(1) == 1L)
      val live = s2.sql(
        s"SELECT id, note FROM $bronze WHERE NOT __is_deleted ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(live == Seq((1L, "b1"), (3L, "b3")), s"got $live")
      // time travel through the same TVF
      val v0 = s2.sql(s"SELECT id, note FROM snapshot_read('$base/t', 0) " +
        "WHERE NOT __is_deleted ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(v0 == Seq((1L, "a1"), (2L, "a2")), s"got $v0")

      // one bronze→silver hop with a SQL transform; deletes must forward
      val f1 = s2.sql(s"SELECT * FROM table_follow('$base/t', '$base/s', " +
        "'silver', 'id', 'seq', '*; upper(note) AS note_u')").head
      assert(f1.getLong(2) == 1L && f1.getBoolean(3), s"hop must advance: $f1")
      val down = s2.sql(
        s"SELECT id, note_u FROM $silver WHERE NOT __is_deleted ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(down == Seq((1L, "B1"), (3L, "B3")), s"got $down")

      // already current: the second call reports no advance
      val f2 = s2.sql(s"SELECT * FROM table_follow('$base/t', '$base/s', " +
        "'silver', 'id', 'seq', '*; upper(note) AS note_u')").head
      assert(!f2.getBoolean(3) && f2.getLong(2) == 1L, s"must be current: $f2")

      // a third upstream wave flows through the same SQL-only loop
      Seq((1L, 3L, "c1", false))
        .toDF("id", "seq", "note", "is_delete").createOrReplaceTempView("w3")
      s2.sql(s"SELECT * FROM snapshot_merge('$base/t', 'w3', 'id')").collect()
      val f3 = s2.sql(s"SELECT * FROM table_follow('$base/t', '$base/s', " +
        "'silver', 'id', 'seq', '*; upper(note) AS note_u')").head
      assert(f3.getBoolean(3) && f3.getLong(2) == 2L)
      assert(s2.sql(s"SELECT note_u FROM $silver WHERE id = 1 AND NOT __is_deleted")
        .head.getString(0) == "C1")

      // ops introspection: per-bucket layout + skipping coverage from SQL
      val tf = s2.sql(s"SELECT * FROM table_files('$base/t')").collect()
      assert(tf.nonEmpty && tf.forall(r => r.getLong(3) > 0L),
        "every listed bucket has bytes on disk")
      val tf0 = s2.sql(s"SELECT count(*) AS c FROM table_files('$base/t', 0)")
        .head.getLong(0)
      assert(tf0 >= 1L, "time-travel listing works")
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prev.foreach { p => SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p) }
    }
  }

  test("SQL-only layout declaration: snapshot_merge layout arg and writer options record skipping config") {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s2.implicits._
      import graft.sink.SnapshotParquetSink
      val base = java.nio.file.Files.createTempDirectory("graft_layout").toString
      Seq((1L, 1L, "e1", 10L, false), (2L, 1L, "e2", 20L, false))
        .toDF("id", "seq", "ext", "v", "is_delete").createOrReplaceTempView("lw1")
      // TVF path: 7th layout arg, first commit only
      s2.sql(s"SELECT * FROM snapshot_merge('$base/t', 'lw1', 'id', 'seq', " +
        "'is_delete', 8, 'stats=v;bloom=ext')").collect()
      assert(SnapshotParquetSink.declaredStatsCols(s"$base/t", 0L) == Seq("v"))
      assert(SnapshotParquetSink.declaredBloomCols(s"$base/t", 0L) == Seq("ext"))
      assert(SnapshotParquetSink.manifestStats(s"$base/t", 0L)
        .values.exists(_.contains("v")), "stats lines recorded from the first commit")
      // a later layout-less SQL merge must keep the declaration
      Seq((3L, 2L, "e3", 30L, false))
        .toDF("id", "seq", "ext", "v", "is_delete").createOrReplaceTempView("lw2")
      s2.sql(s"SELECT * FROM snapshot_merge('$base/t', 'lw2', 'id')").collect()
      assert(SnapshotParquetSink.declaredBloomCols(s"$base/t", 1L) == Seq("ext"))
      // DataFrameWriter path: same options at creation
      Seq((1L, 1L, "x1", 5L, false))
        .toDF("id", "seq", "ext", "v", "is_delete")
        .write.format("graft-snapshot")
        .option("keys", "id").option("deleteCol", "is_delete")
        .option("nBuckets", "4").option("statsCols", "v").option("bloomCols", "ext")
        .mode("append").save(s"$base/w")
      assert(SnapshotParquetSink.declaredStatsCols(s"$base/w", 0L) == Seq("v"))
      assert(SnapshotParquetSink.declaredBloomCols(s"$base/w", 0L) == Seq("ext"))
      // bad layout key fails loudly
      val e = intercept[Exception](
        s2.sql(s"SELECT * FROM snapshot_merge('$base/z', 'lw1', 'id', 'seq', " +
          "'is_delete', 8, 'zorder=v')").collect())
      assert(e.getMessage.contains("stats|bloom|cluster")
        || Option(e.getCause).exists(_.getMessage.contains("stats|bloom|cluster")),
        e.toString)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prev.foreach { p => SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p) }
    }
  }

  test("SQL-only catalog transactions: catalog_commit cuts, catalog_read time-travels, refuse throws") {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s2.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_cat_sql").toString
      Seq((1L, 1L, "a1", false), (2L, 1L, "a2", false))
        .toDF("id", "seq", "note", "is_delete").createOrReplaceTempView("cw1")
      s2.sql(s"SELECT * FROM snapshot_merge('$base/orders', 'cw1', 'id', 'seq', 'is_delete', 4)").collect()
      val c0 = s2.sql(s"SELECT * FROM catalog_commit('$base', 'orders')").collect()
      assert(c0.map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toSeq
        == Seq((0L, "orders", 0L)), c0.mkString(","))
      // advance the table, cut again under the STRICT mode (advancing pins pass)
      Seq((1L, 2L, "b1", false))
        .toDF("id", "seq", "note", "is_delete").createOrReplaceTempView("cw2")
      s2.sql(s"SELECT * FROM snapshot_merge('$base/orders', 'cw2', 'id')").collect()
      val c1 = s2.sql(s"SELECT * FROM catalog_commit('$base', 'orders', 'refuse')").collect()
      assert(c1.head.getLong(1) == 1L && c1.head.getLong(3) == 1L, c1.mkString(","))
      // read through both cuts from SQL
      val head = s2.sql(s"SELECT note FROM catalog_read('$base', 'orders') " +
        "WHERE id = 1 AND NOT __is_deleted").head.getString(0)
      assert(head == "b1")
      val old = s2.sql(s"SELECT note FROM catalog_read('$base', 'orders', 0) " +
        "WHERE id = 1 AND NOT __is_deleted").head.getString(0)
      assert(old == "a1")
      // a stale writer under 'refuse': simulate by pinning the OLD version
      // through the Scala API while the SQL face holds the head
      val cat = new graft.sink.SnapshotCatalog(base)
      intercept[graft.sink.ConcurrentPinException](
        cat.commit(Map("orders" -> 0L), onConflict = graft.sink.PinConflict.Refuse))
      // ops introspection: one row per (cut, table) pin, manifests only
      val hist = s2.sql(s"SELECT * FROM catalog_history('$base') " +
        "ORDER BY catalog_version").collect()
      assert(hist.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
        == Seq((0L, "orders", 0L), (1L, "orders", 1L)), hist.mkString(","))
      // bad mode name fails loudly at analysis
      val e = intercept[Exception](
        s2.sql(s"SELECT * FROM catalog_commit('$base', 'orders', 'zzz')").collect())
      assert(e.getMessage.contains("advance|refuse|lastwins")
        || Option(e.getCause).exists(_.getMessage.contains("advance|refuse|lastwins")),
        e.toString)
      // side-effect DEFERRAL: the commit is a Command — EXPLAIN (and any
      // other analysis-only pass) must publish NOTHING; running it again
      // publishes exactly one more cut
      val beforeExplain = cat.versions.size
      s2.sql(s"EXPLAIN EXTENDED SELECT * FROM catalog_commit('$base', 'orders')").collect()
      assert(cat.versions.size == beforeExplain,
        "EXPLAIN of catalog_commit published a catalog version")
      s2.sql(s"SELECT * FROM catalog_commit('$base', 'orders')").collect()
      assert(cat.versions.size == beforeExplain + 1,
        "executing catalog_commit must publish exactly one cut")
      // RETENTION faces: destructive side effects also defer — EXPLAIN of
      // a vacuum deletes nothing; execution drops history and reports it
      val tableVs = graft.sink.SnapshotParquetSink.versions(s"$base/orders")
      assert(tableVs.size > 1, s"need history to vacuum: $tableVs")
      s2.sql(s"EXPLAIN SELECT * FROM snapshot_vacuum('$base/orders', 1, 0)").collect()
      assert(graft.sink.SnapshotParquetSink.versions(s"$base/orders") == tableVs,
        "EXPLAIN of snapshot_vacuum deleted table history")
      val catVs = cat.versions
      s2.sql(s"EXPLAIN SELECT * FROM catalog_vacuum_all('$base', 1, 0)").collect()
      assert(cat.versions == catVs, "EXPLAIN of catalog_vacuum_all deleted history")
      // execute warehouse-wide retention: catalog expires to 1 cut, the
      // member vacuums to its pinned versions + head; results reported
      val va = s2.sql(s"SELECT * FROM catalog_vacuum_all('$base', 1, 0)").collect()
        .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
      assert(va.contains("_catalog") && va.contains("orders"), va.toString)
      assert(cat.versions.size == 1, s"catalog must keep 1 cut: ${cat.versions}")
      // every surviving pin still resolves and the head still reads
      cat.pins(cat.versions.head).foreach { case (t, tv) =>
        assert(graft.sink.SnapshotParquetSink.versions(s"$base/$t").contains(tv)) }
      assert(s2.sql(s"SELECT count(*) FROM catalog_read('$base', 'orders')")
        .head.getLong(0) > 0L)
      // per-table face reports drops on a fresh commit + vacuum cycle
      Seq((9L, 9L, "z9", false))
        .toDF("id", "seq", "note", "is_delete").createOrReplaceTempView("cw3")
      s2.sql(s"SELECT * FROM snapshot_merge('$base/orders', 'cw3', 'id')").collect()
      val sv = s2.sql(s"SELECT * FROM snapshot_vacuum('$base/orders', 1, 0)").head
      assert(sv.getString(0).endsWith("/orders"))
      assert(graft.sink.SnapshotParquetSink.versions(s"$base/orders").size <= 2,
        "vacuum must expire unpinned history (pinned + head survive)")
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prev.foreach { p => SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p) }
    }
  }
}
