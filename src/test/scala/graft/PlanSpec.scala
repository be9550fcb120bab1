package graft

import org.apache.spark.sql.execution.ExplainMode
import graft.queries.Registry

/** Physical-plan regression guards: the properties that matter at 100 TB —
  * pushdown, pruning, broadcast, map-side combine, top-k — asserted on the
  * actual plans so a refactor can't silently regress them.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.byName(name).build(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q01: count reads zero columns (ReadSchema pruned to empty)") {
    assert(plan("q01_count").contains("ReadSchema: struct<>"))
  }

  test("q04: compound predicate is pushed to the parquet scan") {
    val p = plan("q04_compound_predicate")
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(l_returnflag,R)"))
    assert(!p.contains("ReadSchema: struct<l_orderkey")) // pruned: no key columns read
  }

  test("q11: dimension join is a BroadcastHashJoin with pruned scans") {
    val p = plan("q11_broadcast_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_extendedprice:double>"))
  }

  test("q12: merge hint produces a SortMergeJoin") {
    assert(plan("q12_sortmerge_join").contains("SortMergeJoin"))
  }

  test("q20: aggregation is partial+final around one exchange (map-side combine)") {
    val p = plan("q20_tpch_q1")
    assert("HashAggregate".r.findAllIn(p.linesIterator.filter(_.contains("+- ")).mkString("\n")).size >= 2)
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) == 1)
  }

  test("q41: global top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan("q41_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.linesIterator.exists(_.trim.startsWith("+- Sort ")))
  }

  test("q82: similarity scan broadcasts the query side (corpus never shuffles)") {
    val p = plan("q82_cosine_all")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("q98: histogram reads only the text column, partial+final aggregation") {
    val p = plan("q98_length_hist")
    assert(p.contains("ReadSchema: struct<text:string>"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2) // map-side combine
  }

  test("q48b: correlated EXISTS decorrelates to a semi join with pushed date range") {
    val p = plan("q48b_tpch_q4")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p) // date range at the scan
  }

  test("q48d: dimension tables broadcast in the 7-way join") {
    val p = plan("q48d_tpch_q8")
    // part/supplier/customer/nation/region sides all broadcast; lineitem and
    // orders are the only fact-sized inputs
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
  }

  test("q48e: NOT IN resolves to a hash anti join, not a nested-loop scan") {
    val p = plan("q48e_tpch_q16")
    // s_suppkey is non-null, so the null-aware anti join must stay a
    // broadcast HASH join — a BroadcastNestedLoopJoin here would be
    // O(lineitem × suppliers) at scale
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q48i: the whole Q6 predicate reaches the parquet scan, pruned columns") {
    val p = plan("q48i_tpch_q6")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1996-01-01"), p)
    assert(p.contains("LessThan(l_quantity,24.0)"), p)
    assert(p.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"), p)
  }

  test("q48r: disjunctive brackets stay ONE hash join with pushed per-side filters") {
    val p = plan("q48r_tpch_q19")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the OR-of-brackets pushes a per-table disjunction into each scan
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"), p)
    assert(p.contains("Or(Or(And(EqualTo(p_brand,Brand#1)"), p)
  }

  test("q48t: both correlated subqueries decorrelate to hash semi/anti joins") {
    val p = plan("q48t_tpch_q21")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q48k: quarterly top-20 is TakeOrderedAndProject with the date range at the scan") {
    val p = plan("q48k_tpch_q10")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,1996-10-01"), p)
  }

  test("q54c: centroid accumulation is partial+final (map-side combine before the shuffle)") {
    val p = plan("q54c_label_centroids")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange""")) == 1, p)
  }

  test("q84d: candidate recount joins through a broadcast, not a shuffle of the tail") {
    val p = plan("q84d_heavy_hitters_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // top-20 never globally sorts
  }

  test("q97: split assignment reads only doc_id, single exchange") {
    val p = plan("q97_split")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange""")) == 1, p)
  }

  test("q97d: mix-sample side frames broadcast; the corpus is never shuffle-joined") {
    val p = plan("q97d_mix_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q40b: z-order tiling is one partial+final aggregation around one exchange") {
    val p = plan("q40b_zorder_layout")
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange""")) == 1, p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>"), p)
  }

  test("q98c: chunking is narrow per-row work — no exchange, no window, pruned scan") {
    val p = plan("q98c_chunk_overlap")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("Generate"), p) // sequence-explode, not a per-token shuffle
  }

  test("q88b: shingle construction is per-row — no window; only the dedup/count exchanges") {
    val p = plan("q88b_span_dedup")
    assert(!p.contains("Window"), p)
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange""")) <= 2, p)
  }

  test("q90e: the whole filter gate is per-row — no exchange, no join, no window") {
    val p = plan("q90e_filter_pipeline")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("directory-partitioned layout prunes at planning: one partition scanned of six") {
    // The storage-layout contract directory-partitioned tables rely on: an
    // equality predicate on the partition column must resolve to PartitionFilters
    // (directory pruning — Spark never lists the other partitions' files),
    // not PushedFilters (row-group skipping inside files already opened).
    val tmp = java.nio.file.Files.createTempDirectory("graft_prune").toString
    try {
      spark.read.parquet(s"$dir/orders.parquet")
        .write.partitionBy("o_orderpriority").parquet(s"$tmp/orders_p")
      val scan = spark.read.parquet(s"$tmp/orders_p")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val p = scan.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("PartitionFilters:") && p.contains("1-URGENT"), p)
      // the partition predicate must NOT degrade into a data filter
      assert(!p.linesIterator.exists(l =>
        l.contains("PushedFilters:") && l.contains("o_orderpriority")), p)
      scan.collect() // execute so scan metrics populate
      val exec = scan.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      val allFiles = spark.read.parquet(s"$tmp/orders_p").inputFiles.length
      assert(exec.metrics("numFiles").value < allFiles,
        s"pruned scan read ${exec.metrics("numFiles").value} of $allFiles files")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("k-means assignment is narrow: no join, no exchange, no window over the corpus") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val m = graft.llm.KMeans.train(emb, k = 4, iters = 1)
    val p = m.assigned.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("q12c: bucketed sort-merge join is Exchange-free on the join key") {
    graft.engine.Tables.ensureBucketed(spark, dir)
    val j = spark.table("bq12c_lineitem").hint("merge")
      .join(spark.table("bq12c_orders"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
    val p = j.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("SortMergeJoin"), p)
    // both scans are bucketed on the key: the join's distribution is already
    // satisfied, so no Exchange may appear anywhere in the join subtree
    assert(!p.contains("Exchange"), p)
  }

  test("q88e: linkage candidates meet on a segment equi-join, never a cartesian") {
    val p = plan("q88e_record_linkage")
    // the blocking's entire value: candidates are a hash join on
    // (seg, segtxt, len) — a constant segment (the dead-padding bug) or a
    // lost join key would surface here as a nested-loop/cartesian
    assert(!p.contains("CartesianProduct"), p)
    // the two single-row aggregate frames legitimately cross-join; the
    // million-row candidate join must not be a nested loop over data rows
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q90g: duplication matrix joins sources by equi-key, never a cartesian") {
    val p = plan("q90g_cross_source_dups")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semanticDedup: candidate pairs meet on a cell equi-join, never a cartesian") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val verdict = graft.llm.Dedup.semanticDedup(emb, k = 4, iters = 1, threshold = 0.3)
    verdict.collect()
    val p = verdict.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the within-cell self-join must hash on the cell id — the whole point
    // of cluster-then-prune is that the corpus is never all-paired
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("IVF assignment is narrow: no join, no exchange, no window, no sort") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val m = graft.llm.Ivf.train(emb, nCells = 4, iters = 1)
    try {
      // nearest-cell selection must be a per-row expression against the
      // centroid literal — the corpus is never crossed, shuffled, ranked
      // or sorted (the earlier cross-join + row_number shape did all four)
      val p = m.assigned.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("Join"), p)
      assert(!p.contains("Exchange"), p)
      assert(!p.contains("Window"), p)
      assert(!p.contains("Sort"), p)
    } finally m.close()
  }

  test("every crossJoin in src/main is broadcast-wrapped or comment-bounded") {
    // a bare crossJoin relies on AQE to notice the 1-row side at runtime;
    // intent must be explicit — broadcast(...) — or the line must carry a
    // `bounded` comment stating why the cross is safe at scale
    // anchored on user.dir (sbt sets it to the project root), walking
    // upward as a fallback — a relative path silently walks nothing when
    // tests run from elsewhere, and an empty walk must FAIL, not pass
    val srcRoot = Iterator.iterate(
        java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).take(4)
      .map(_.resolve("src/main/scala"))
      .find(java.nio.file.Files.isDirectory(_))
      .getOrElse(fail(s"src/main/scala not found from user.dir=${sys.props("user.dir")}"))
    var scanned = 0
    val offenders = scala.collection.mutable.ListBuffer[String]()
    val walk = java.nio.file.Files.walk(srcRoot)
    try walk.forEach { p =>
      if (p.toString.endsWith(".scala")) {
        scanned += 1
        // whole-file text with whitespace stripped: a scalafmt line-wrap
        // between crossJoin( and broadcast( must not flip the verdict
        val flat = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8).replaceAll("\\s+", "")
        var i = flat.indexOf("crossJoin(")
        while (i >= 0) {
          val rest = flat.substring(i + "crossJoin(".length)
          // `bounded` within the following comment-distance marks a
          // deliberately-unbroadcast cross (the writer must justify it)
          if (!rest.startsWith("broadcast(")
              && !flat.substring(i, math.min(flat.length, i + 160))
                .toLowerCase.contains("bounded"))
            offenders += s"$p: ...${flat.substring(math.max(0, i - 30), i + 40)}..."
          i = flat.indexOf("crossJoin(", i + 1)
        }
      }
    } finally walk.close()
    assert(scanned >= 10,
      s"lint walked only $scanned .scala files under $srcRoot — wrong root?")
    assert(offenders.isEmpty,
      "bare crossJoin (no broadcast hint, no `bounded` comment):\n" +
        offenders.mkString("\n"))
  }

  test("q84m: tf-idf pairs meet on the term equi-join, never a cartesian") {
    val p = plan("q84m_tfidf_pairs")
    // the df-cut's entire value: pair generation is a hash join on the
    // term; losing the join key would degrade to a nested loop over docs.
    // (the ONE BroadcastNestedLoopJoin is the broadcast 1-row n_docs frame
    // — data-sized frames must still meet on hash joins)
    assert(!p.contains("CartesianProduct"), p)
    // formatted explain prints each node in the tree AND the detail list —
    // count distinct node ids, not substring hits
    val bnlj = "\\((\\d+)\\) BroadcastNestedLoopJoin".r.findAllMatchIn(p)
      .map(_.group(1)).toSet
    // the weight frame's 1-row n_docs cross appears on BOTH sides of the
    // self-join (DataFrame self-joins expand the subtree, no CTE reuse) —
    // two 1-row nested loops, never a third
    assert(bnlj.size <= 2, s"extra nested-loop joins beyond the 1-row stats frame: $bnlj\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q82d: JL projection is narrow per-row work — no exchange, no join") {
    val p = plan("q82d_random_projection")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q84o: phrase scan is per-row until the top-k — no join, no window") {
    val p = plan("q84o_phrase_search")
    // the positional scan must stay inside the row: any Join/Window here
    // means the occurrence count degraded to an explode + self-join
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q90h/q90i: surprisal meets the vocabulary on hash equi-joins, never a cartesian") {
    for (q <- Seq("q90h_unigram_surprisal", "q90i_bigram_surprisal")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q\n$p")
      // the ONE nested loop is the broadcast 1-row corpus-stats frame
      // (q90h only); the token/bigram stream itself must meet its counts
      // on a hash join
      val bnlj = "\\((\\d+)\\) BroadcastNestedLoopJoin".r.findAllMatchIn(p)
        .map(_.group(1)).toSet
      assert(bnlj.size <= 1, s"$q: data-sized nested loop: $bnlj\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), s"$q\n$p")
    }
  }

  test("q89h: index search joins candidates via the broadcast query side") {
    val p = plan("q89h_vector_index")
    // candidates × queries must be a broadcast nested loop on the
    // QUERY-sized side (the array_contains probe condition is non-equi by
    // design); the store side must never be the build side of a cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // cell pruning reaches the scan as a partition filter
    assert(p.contains("PartitionFilters") && p.contains("cell"), p)
  }

  test("q88f: duplicate spans meet on the shingle equi-join, never doc-pairwise") {
    val p = plan("q88f_dup_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q90j: NB scoring broadcasts the class-stats frame; counts meet on hash joins") {
    val p = plan("q90j_nb_confusion")
    assert(!p.contains("CartesianProduct"), p)
    // exactly the |sources|-row class-stats frame (with its 1-row vocab
    // cross inside) may nested-loop; the (tok, src) vocabulary join is
    // data-sized and must be a hash join
    val bnlj = "\\((\\d+)\\) BroadcastNestedLoopJoin".r.findAllMatchIn(p)
      .map(_.group(1)).toSet
    assert(bnlj.size <= 2, s"data-sized nested loop: $bnlj\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q93c/q93d: pair generation broadcasts one side; the corpus never hash-shuffles pairs") {
    for (q <- Seq("q93c_mutual_knn", "q93d_knn_outliers")) {
      val p = plan(q)
      // the bounded self-join must be the declared broadcast nested loop —
      // a CartesianProduct here means the broadcast hint was lost
      assert(!p.contains("CartesianProduct"), s"$q\n$p")
      assert(p.contains("BroadcastNestedLoopJoin"), s"$q\n$p")
    }
  }

  test("q66e: rate anomaly joins the |types|-row baseline via broadcast") {
    val p = plan("q66e_rate_anomaly")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q84q/q84r: index reads push the term predicate to the postings scan") {
    for (q <- Seq("q84q_proximity_search", "q84r_compacted_bm25")) {
      val p = plan(q)
      // the whole point of the store: only the query terms' posting rows
      // are read — the tok predicate must reach the parquet reader
      assert(p.linesIterator.exists(l =>
        l.contains("PushedFilters:") && l.contains("tok")), s"$q\n$p")
      assert(!p.contains("CartesianProduct"), s"$q\n$p")
    }
  }

  test("q95g: perceptual-hash pairs block on the (w,h) dims equi-join") {
    val p = plan("q95g_phash_neardup")
    // pair generation must key on the decoded dims — a cartesian here
    // means the blocking key was lost and every image meets every image
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }
}
