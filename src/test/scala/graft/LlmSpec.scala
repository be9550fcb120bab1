package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Similarity, TextAnalysis}
import graft.multimodal.Multimodal

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "completely different words entirely here now"),
    (3L, "the quick brown fox jumps over the lazy dog") // exact dup of 0
  ).toDF("doc_id", "text")

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)), (2L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" === 0).select($"embedding".as("qe"))
    val cos = Similarity.cosineAll(df, q).select($"vec_id", $"cos")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(cos(0L) - 1.0) < 1e-12)
    assert(math.abs(cos(1L)) < 1e-12)
    assert(math.abs(cos(2L) - 1.0) < 1e-12)
  }

  test("LSH ANN finds the same top-1 as brute force on separable data") {
    val emb = Tables.embeddings(spark)
    val queries = emb.filter($"vec_id" < 3)
    val bf = Similarity.annBruteForce(emb, queries, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // top-1 is always the vector itself (cos=1) — LSH must agree since the
    // query lands in its own bucket
    val lsh = Similarity.annLsh(emb, queries, 1, dim = 64, nPlanes = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bf.keySet == lsh.keySet)
    bf.keys.foreach(k => assert(bf(k) == k && lsh(k) == k))
  }

  private object Tables {
    def embeddings(s: org.apache.spark.sql.SparkSession) =
      s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  }

  test("two cosine_sim instances in one codegen scope compile (freshName locals)") {
    graft.functions.GraftFunctions.register(spark)
    // CODEGEN_ONLY turns a generated-code compile failure into a thrown
    // error instead of a silent interpreted fallback
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val emb = Tables.embeddings(spark).limit(10)
        .select($"vec_id", $"embedding".as("a"), $"embedding".as("b"))
      val rows = emb.selectExpr("cosine_sim(a, b) AS c1", "cosine_sim(b, a) AS c2").collect()
      rows.foreach { r =>
        assert(math.abs(r.getDouble(0) - 1.0) < 1e-9 && math.abs(r.getDouble(1) - 1.0) < 1e-9)
      }
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("IVF ANN: self is always top-1; recall overlaps brute force") {
    val emb = Tables.embeddings(spark)
    val model = graft.llm.Ivf.train(emb, nCells = 8, iters = 2)
    assert(model.centroids.count() == 8)
    val queries = emb.filter($"vec_id" < 10)
    val ivf = graft.llm.Ivf.search(model, queries, k = 3, nProbe = 2).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // a query's own cell is its nearest centroid's cell, so self (cos=1) is
    // always among the candidates and must rank first
    val top1 = graft.llm.Ivf.search(model, queries, k = 1, nProbe = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach(q => assert(top1(q) == q, s"query $q"))
    // probing 2 of 8 cells should still recover some true neighbors
    val bf = Similarity.annBruteForce(emb, queries, 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = (0L until 10L).map(q => (ivf(q) & bf(q)).size).sum / 30.0
    assert(recall >= 0.3, s"recall $recall")
    model.close()
    assert(leakedCaches.isEmpty,
      "Model.close() must release the cached centroids and assignments")
  }

  test("minhash estimate is 1.0 for identical docs and low for disjoint docs") {
    val est = Dedup.minhashLsh(docs, dictionary = true)(_.collect())
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est((0L, 3L)) == 1.0)         // exact dups always collide
    assert(!est.contains((0L, 2L)) || est((0L, 2L)) < 0.3) // disjoint rarely candidates
    // near-dups (8/9 shared tokens ⇒ J≈0.8): estimate should be high
    assert(est.getOrElse((0L, 1L), 0.0) > 0.5)
  }

  test("MinHashAggregator produces identical signatures to the explode formulation") {
    val codes = Dedup.dictionaryCodes(Dedup.tokenSets(docs))
    val viaExplode = Dedup.minhashSignatures(codes).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaAgg = graft.llm.MinHashAggregator.signatures(codes).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaAgg == viaExplode)
  }

  test("connectedComponents: min-reachable-id clusters, singletons kept, cache released") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("i", "j")
    val nodes = (1L to 7L).toDF("doc_id")
    val clusters = Dedup.connectedComponents(pairs, nodes) { labels =>
      labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    assert(leakedCaches.isEmpty,
      "connectedComponents must release every cached round on exit")
    // a chain spanning several hops still collapses to its minimum
    val chain = Seq((3L, 4L), (2L, 3L), (1L, 2L)).toDF("i", "j")
    val chainClusters = Dedup.connectedComponents(chain, (1L to 4L).toDF("doc_id")) { labels =>
      labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(chainClusters.values.toSet == Set(1L))
  }

  test("connectedComponents: min-reachable-id clusters on the forced BSP arm") {
    withLocalComponentsOff {
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("i", "j")
      val (clusters, rounds) = Dedup.connectedComponentsStats(pairs, (1L to 7L).toDF("doc_id")) {
        (labels, r) => (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, r)
      }
      assert(rounds > 0, "the forced BSP arm runs at least one round")
      assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
        5L -> 5L, 6L -> 5L, 7L -> 7L))
      assert(leakedCaches.isEmpty)
      val chain = Seq((3L, 4L), (2L, 3L), (1L, 2L)).toDF("i", "j")
      val chainClusters = Dedup.connectedComponents(chain, (1L to 4L).toDF("doc_id")) { labels =>
        labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(chainClusters.values.toSet == Set(1L))
    }
  }

  /** A seeded random pair graph and its node list: chains, stars,
    * self-loops, duplicate and reversed edges, endpoints absent from the
    * nodes, null endpoints, duplicate node ids and (every 5th seed) a null
    * node id; seed 0 has no edges. Ids are Int on seeds ≡ 1 (mod 4), Int
    * edges over Long nodes on seeds ≡ 3 (mod 4), Long otherwise. The nodes
    * are a local frame, or on seeds ≡ 2 (mod 3) a repartitioned one (so
    * the local arm runs its membership job).
    */
  private def randomGraph(seed: Int): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    val n = 20 + rnd.nextInt(40)
    val edges = scala.collection.mutable.ArrayBuffer[(Option[Long], Option[Long])]()
    def id(): Long = 1L + rnd.nextInt(n + 8) // ids above n are absent from the nodes
    if (seed > 0) (0 until 1 + rnd.nextInt(6)).foreach { _ =>
      rnd.nextInt(3) match {
        case 0 => // chain
          val start = id(); val len = 1 + rnd.nextInt(8)
          (0 until len).foreach(k => edges += ((Some(start + k), Some(start + k + 1))))
        case 1 => // star
          val hub = id(); (0 until 1 + rnd.nextInt(5)).foreach(_ => edges += ((Some(hub), Some(id()))))
        case _ => // random edges
          (0 until 1 + rnd.nextInt(6)).foreach(_ => edges += ((Some(id()), Some(id()))))
      }
    }
    if (edges.nonEmpty) {
      val some = edges(rnd.nextInt(edges.size))
      edges += some += some.swap += ((some._1, some._1)) // duplicate, reversed, self-loop
      edges += ((None, Some(id()))) += ((Some(id()), None)) += ((None, None))
    }
    val shuffled = rnd.shuffle(edges.toSeq)
    val nodeIds = (1L to n.toLong).map(Option(_)) ++
      Seq.fill(3)(Option(1L + rnd.nextInt(n))) ++ (if (seed % 5 == 4) Seq(None) else Nil)
    val intEdges = seed % 4 == 1 || seed % 4 == 3
    val pairs =
      if (intEdges) shuffled.map { case (a, b) => (a.map(_.toInt), b.map(_.toInt)) }.toDF("i", "j")
      else shuffled.toDF("i", "j")
    val local =
      if (seed % 4 == 1) nodeIds.map(_.map(_.toInt)).toDF("doc_id") else nodeIds.toDF("doc_id")
    (pairs, if (seed % 3 == 2) local.repartition(2) else local)
  }

  test("connectedComponents: the driver-local and BSP arms agree on random graphs") {
    def run(pairs: DataFrame, nodes: DataFrame) = {
      val (labels, schema, rounds) = Dedup.connectedComponentsStats(pairs, nodes) {
        (l, r) => (l.collect().map(_.toString).sorted.toSeq, l.schema, r) }
      val docs = nodes.withColumn("text",
        concat_ws(" ", array_repeat(lit("w"), (coalesce(col("doc_id"), lit(0)) % 4 + 1).cast("int"))))
      val verdict = Dedup.dedupVerdict(docs, pairs)(_.collect().map(_.toString).sorted.toSeq)
      assert(leakedCaches.isEmpty)
      (labels, schema, rounds, verdict)
    }
    (0 until 24).foreach { seed =>
      val (pairs, nodes) = randomGraph(seed)
      val local = run(pairs, nodes)
      val bsp = withLocalComponentsOff(run(pairs, nodes))
      assert(local._3 == 0, s"seed $seed: local pairs must take the driver-local arm")
      assert(bsp._3 > 0, s"seed $seed: the forced arm must run BSP rounds")
      assert(local._1 == bsp._1, s"seed $seed: labels differ")
      assert(local._2 == bsp._2, s"seed $seed: label schemas differ")
      assert(local._4 == bsp._4, s"seed $seed: verdicts differ")
      assert(local._1.size == nodes.count(), s"seed $seed: one label per node row")
    }
  }

  test("connectedComponents: the local arm's only job before consume is the membership filter") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 9L)).toDF("i", "j")
    val seen = jobDescriptionsDuring {
      Dedup.connectedComponentsStats(pairs, spark.range(1, 8).toDF("doc_id")) { (_, r) =>
        assert(r == 0) }
    }
    assert(seen == Seq("components:members"), s"jobs: $seen")
    // local nodes too: no job at all
    val none = jobDescriptionsDuring {
      Dedup.connectedComponentsStats(pairs, (1L to 7L).toDF("doc_id")) { (_, r) => assert(r == 0) }
    }
    assert(none.isEmpty, s"jobs: $none")
    val labels = Dedup.connectedComponents(pairs, spark.range(1, 8).toDF("doc_id")) {
      _.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap }
    // 9 is no node: the edge (6, 9) links nothing
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    assert(leakedCaches.isEmpty)
  }

  test("connectedComponents: edges over the cap and non-local edges take the BSP arm") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("i", "j")
    val nodes = (1L to 7L).toDF("doc_id")
    def rounds(p: DataFrame) = Dedup.connectedComponentsStats(p, nodes) {
      (l, r) => (l.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, r) }
    val local = rounds(pairs)
    assert(local._2 == 0)
    val over = withLocalComponentsMaxEdges(2)(rounds(pairs))
    assert(over._2 > 0, "3 local edges over a cap of 2 must take the BSP arm")
    assert(over._1 == local._1)
    val ranged = rounds(spark.range(1, 3).selectExpr("id as i", "id + 1 as j"))
    assert(ranged._2 > 0, "a non-local edge frame must take the BSP arm")
    assert(ranged._1 == local._1 - 5L - 6L ++ Map(5L -> 5L, 6L -> 6L))
    assert(leakedCaches.isEmpty)
  }

  test("verdictFromLabels: struct-min canonical pick equals the rn=1 window shape") {
    // the q96c rewrite's equivalence pin: the representative per cluster is
    // the (tokens DESC, doc_id) leader — a total order (ids unique), so the
    // partial-aggregable min(struct(-tokens, doc_id)) + join-back must
    // reproduce the former window's keep flags exactly, ties included
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), // tie on tokens -> smaller id keeps
      (3L, "a b"), (4L, "x y z q w"), (5L, "x"), (6L, "solo doc here")
    ).toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 6L))
      .toDF("doc_id", "cluster")
    val got = Dedup.verdictFromLabels(docs, labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("tokens").desc, col("doc_id"))
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("bigint").as("tokens"))
    val expect = labels.join(toks, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster"), col("tokens"), (col("rn") === 1).as("keep"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == expect)
    assert(got.count(_._4) == 3) // one keeper per cluster
    assert(got.filter(_._4).map(_._1) == Set(1L, 4L, 6L)) // tie -> doc 1
  }

  test("connectedComponents: O(log n) star rounds on a diameter-10^4 path graph") {
    // the q88d sorted-neighborhood chain shape: a path graph where diameter
    // equals component size, so min-label propagation would need n rounds —
    // alternating large-star/small-star must converge within 2·log2(n)
    val n = 10000
    val pairs = spark.range(1, n).selectExpr("id as i", "id + 1 as j")
    val nodes = spark.range(1, n + 1L).toDF("doc_id")
    // shallowRounds = 0 measures the star guarantee on its own
    val (clusters, rounds) = Dedup.connectedComponentsStats(pairs, nodes,
      shallowRounds = 0) { (labels, r) =>
      (labels.select("cluster").distinct().collect().map(_.getLong(0)).toSet, r)
    }
    assert(clusters == Set(1L), "the whole path is one component labeled by its minimum")
    val bound = 2 * math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt
    assert(rounds <= bound, s"took $rounds star rounds; O(log n) bound is $bound")
    assert(leakedCaches.isEmpty,
      "connectedComponentsStats must release the per-round cache on exit")
    // the default hybrid (min-label warm-up, then star on the label
    // quotient) must produce the identical labeling on the same chain
    val hybrid = Dedup.connectedComponentsStats(pairs, nodes) { (labels, r) =>
      assert(r <= 4 + bound, s"hybrid took $r rounds")
      labels.select("cluster").distinct().collect().map(_.getLong(0)).toSet
    }
    assert(hybrid == Set(1L))
    assert(leakedCaches.isEmpty)
  }

  test("incrementalLshCandidates: batch-vs-store equals full-corpus pairs touching the batch") {
    // 60 docs built from 6 near-dup families (±noise) so bands actually
    // collide; split 0-39 = standing corpus, 40-59 = incoming batch
    val corpus = (0L until 60L).map { i =>
      val fam = i % 6
      val noise = if (i % 3 == 0) s" x$i" else ""
      (i, s"family $fam shares almost all of its tokens with siblings$noise")
    }.toDF("doc_id", "text")
    val codes = Dedup.hashCodes(Dedup.tokenSets(corpus))
    val bands = Dedup.bandKeys(graft.llm.MinHashAggregator.signatures(codes))
    val full = Dedup.lshCandidates(bands).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (i, j) => i >= 40 || j >= 40 }
    val got = Dedup.incrementalLshCandidates(
      bands.filter(col("doc_id") >= 40), bands.filter(col("doc_id") < 40))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.nonEmpty, "fixture must produce batch-touching collisions")
    // disjoint batch: only within-batch pairs remain
    val onlyNew = Dedup.incrementalLshCandidates(
      bands.filter(col("doc_id") >= 40), bands.filter(col("doc_id") < 0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(onlyNew == full.filter { case (i, j) => i >= 40 && j >= 40 })
  }

  test("incrementalLshCandidatesCapped: a hot STORE bucket is excised, report combines sides") {
    // the long-running-stream hazard: the standing corpus has accumulated
    // 500 identical-fingerprint docs; a new batch touching that bucket
    // would fan out 500-fold per matching band without the store-side cap
    val corpus = (0L until 40L).map { i =>
      (i, s"family ${i % 4} shares almost all of its tokens with siblings")
    }.toDF("doc_id", "text")
    val bands = Dedup.bandKeys(graft.llm.MinHashAggregator.signatures(
      Dedup.hashCodes(Dedup.tokenSets(corpus))))
    val batch = bands.filter($"doc_id" >= 36)
    val store = bands.filter($"doc_id" < 36)
    // inflate one store bucket: clone doc 0's band rows under 500 fresh ids
    val hotStore = store.unionByName(
      store.filter($"doc_id" === 0).crossJoin(
          spark.range(1000, 1500).select($"id".as("nid")))
        .select($"nid".as("doc_id"), $"band", $"bkey"))
    val (cand, report) = Dedup.incrementalLshCandidatesCapped(batch, hotStore, cap = 50)
    assert(!report.clean && report.droppedRows >= 500, report.toString)
    // no candidate references the cloned hot-bucket ids
    val ids = cand.select("i", "j").collect().flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    assert(!ids.exists(_ >= 1000L), s"hot store bucket leaked: ${ids.filter(_ >= 1000L).take(5).mkString(",")}")
    // generous cap: parity with the uncapped operator on the same inputs
    val (candOpen, reportOpen) =
      Dedup.incrementalLshCandidatesCapped(batch, hotStore, cap = 100000)
    assert(reportOpen.clean)
    val open = candOpen.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.incrementalLshCandidates(batch, hotStore)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(open == uncapped)
  }

  test("capBuckets: 10^3 identical fingerprints bound the candidate join, drop reported") {
    // the degenerate slice: 1000 boilerplate docs sharing one fingerprint
    // would make the band join quadratic (4 bands × ~500k pairs); the cap
    // excises the hot buckets and says so
    val fps = spark.range(0, 1000).selectExpr("id AS doc_id", "CAST(42 AS LONG) AS fp")
      .union(Seq((2000L, 0L), (2001L, 1L)).toDF("doc_id", "fp")) // hamming 1 pair survives
    val (cand, report) = Dedup.simhashBandCandidatesCapped(fps, maxHamming = 3, cap = 10)
    assert(!report.clean && report.cap == 10)
    // every populated bucket is hot here: (band0, 42) holds the 1000 clones,
    // and the three high bands are 0 for ALL fingerprints (42 >> 16 = 0), so
    // those buckets hold 1002 rows; docs 2000/2001 survive only in their
    // singleton band-0 buckets — zero candidate pairs remain
    val pairs = cand.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.isEmpty, s"hot-bucket pairs leaked: ${pairs.take(5).mkString(",")}")
    assert(report.droppedRows > 1000, s"report undercounts: $report")
    // a generous cap changes nothing: parity with the uncapped operator
    val (candOpen, reportOpen) = Dedup.simhashBandCandidatesCapped(fps, 3, cap = 5000)
    assert(reportOpen.clean)
    assert(candOpen.select("i", "j").collect().toSet ==
      Dedup.simhashBandCandidates(fps, 3).select("i", "j").collect().toSet)
  }

  test("capBuckets guards the minhash and embedding LSH paths too") {
    // minhash: identical docs share every band key
    val many = (0L until 200L).map(i => (i, "the same boilerplate text"))
      .toDF("doc_id", "text")
    val sig = graft.llm.MinHashAggregator.signatures(Dedup.hashCodes(Dedup.tokenSets(many)))
    val bands = Dedup.bandKeys(sig)
    val (cand, rep) = Dedup.lshCandidatesCapped(bands, cap = 10)
    assert(cand.count() == 0 && !rep.clean && rep.droppedBuckets == 4)
    val (candOpen, repOpen) = Dedup.lshCandidatesCapped(bands, cap = 500)
    assert(repOpen.clean && candOpen.count() == 200L * 199 / 2)
    // embedding: identical vectors share the hyperplane bucket
    val vecs = (0L until 50L).map(i => (i, Seq.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val (ecand, erep) = Dedup.embeddingNearDupLshCapped(
      vecs, threshold = 0.9, dim = 8, nPlanes = 4, cap = 10)
    assert(ecand.count() == 0 && !erep.clean)
  }

  test("repetitionRatio: repeated trigrams counted, fully-unique docs score 0") {
    val d = Seq((0L, "a b a b a b"), (1L, "u v w x y z")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionRatio(d, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDecimal(3).doubleValue)).toMap
    // "a b a b a b" trigrams: [a b a, b a b, a b a, b a b] -> 4 total, 2 distinct
    assert(got(0L) == ((4L, 2L, 0.5)))
    assert(got(1L) == ((4L, 4L, 0.0)))
  }

  test("scrubPii redacts all email/phone spans and counts them") {
    val d = Seq((0L, "write a@b.co or c.d@e.org call 555-1234"),
      (1L, "no pii here")).toDF("doc_id", "text")
    val got = TextAnalysis.scrubPii(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(0L) == ((2L, 1L, "write <EMAIL> or <EMAIL> call <PHONE>")))
    assert(got(1L) == ((0L, 0L, "no pii here")))
  }

  test("deterministicSplit partitions completely and reproducibly") {
    val split1 = TextAnalysis.deterministicSplit(docs).select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val split2 = TextAnalysis.deterministicSplit(docs).select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split1 == split2 && split1.keySet == Set(0L, 1L, 2L, 3L))
    assert(split1.values.forall(Set("train", "val", "test")))
  }

  test("epochShuffle: bijection, contiguous per-shard positions, seed changes the order") {
    val ids = spark.range(0, 500).toDF("doc_id")
    def perm(seed: Long) = TextAnalysis.epochShuffle(ids, seed, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val e1 = perm(1L)
    // every input id appears exactly once
    assert(e1.map(_._1).sorted.toSeq == (0L until 500L))
    // positions within each shard are contiguous 1..n
    e1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length.toLong))
    }
    // reruns reproduce the identical permutation; a new seed does not
    assert(perm(1L).sortBy(_._1).toSeq == e1.sortBy(_._1).toSeq)
    assert(perm(2L).sortBy(_._1).toSeq != e1.sortBy(_._1).toSeq)
    // the within-shard window is partitioned — never a global window
    val plan = TextAnalysis.epochShuffle(ids, 1L, 4)
    plan.collect()
    val globalWindows = plan.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty)
  }

  test("lengthHistogram buckets by token count with an overflow bucket") {
    val d = Seq((0L, Seq.fill(10)("t").mkString(" ")),   // 10 tokens -> bucket 0
      (1L, Seq.fill(40)("t").mkString(" ")),             // 40 -> bucket 1
      (2L, Seq.fill(600)("t").mkString(" "))             // 600 -> capped at 15
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lengthHistogram(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(0L -> ((1L, 10L, 10L)), 1L -> ((1L, 40L, 40L)), 15L -> ((1L, 600L, 600L))))
  }

  test("media fixture: committed parquet matches its generator byte-for-byte") {
    val onDisk = spark.read.parquet(graft.queries.Cdc.Fixtures.mediaPath)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_._1).toSeq
    val expected = graft.fixtures.FixtureGen.mediaRows.map { case (i, t, b) => (i, t, b.toSeq) }
    assert(onDisk == expected)
  }

  test("dictionary ranking balances a prefix-skewed vocabulary") {
    // 8000 tokens all sharing the prefix "th" — natural-language mass
    // concentration. The 2-char-prefix bucketing this replaced put every one
    // of them through a single window task; range partitioning samples real
    // boundaries, so the rank work spreads across all partitions.
    val toks = spark.range(8000).select(format_string("th%05d", col("id")).as("tok"))
    graft.engine.Ranking.withGlobalIndex(toks.distinct(), Seq(col("tok"))) { indexed =>
      val sizes = indexed.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect()
      assert(sizes.count(_ > 0) == 4, s"expected 4 busy partitions, got ${sizes.mkString(",")}")
      assert(sizes.max <= 3000, s"skewed partition sizes: ${sizes.mkString(",")}")
    }
    // and the codes are still the exact 1-based dense rank
    val docs1 = toks.select(lit(0L).as("doc_id"), col("tok"))
    val codes = Dedup.dictionaryCodes(docs1)
    assert(codes.agg(max("code"), min("code"), count(lit(1))).collect().head.toSeq ==
      Seq(8000L, 1L, 8000L))
  }

  test("dictionaryCodes equals the global dense_rank, with no global-window operator") {
    import org.apache.spark.sql.expressions.Window
    val toks = Dedup.tokenSets(docs)
    val got = Dedup.dictionaryCodes(toks)
    val expected = toks.join(
        toks.select("tok").distinct()
          .withColumn("code", dense_rank().over(Window.orderBy("tok")).cast("long")),
        "tok").select(col("doc_id"), col("code"))
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      expected.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    // the engine path must not contain a single-partition (global) window
    got.collect() // finalize adaptive plan
    val globalWindows = got.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty)
  }

  test("embedding near-dup: exact duplicates found; LSH path is a subset with full recall on dups") {
    val emb = Tables.embeddings(spark)
    // plant an exact duplicate of vector 0
    val dup = emb.filter($"vec_id" === 0).withColumn("vec_id", lit(9999L))
    val withDup = emb.unionByName(dup)
    val exact = graft.llm.Dedup.embeddingNearDupPairs(withDup, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((0L, 9999L)))
    val lsh = graft.llm.Dedup.embeddingNearDupLsh(withDup, 0.999, dim = 64, nPlanes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((0L, 9999L)))  // identical vectors always share a bucket
    assert(lsh.subsetOf(exact))        // LSH never invents pairs
  }

  test("semanticDedup: duplicates share a cell, exactly the lowest id survives") {
    val emb = Tables.embeddings(spark)
    // plant two exact duplicates of vector 0 — identical vectors quantize
    // identically, so k-means MUST co-locate them, and cos=1 ≥ threshold
    // means the greedy rule keeps only the lowest id of the three
    val dups = emb.filter($"vec_id" === 0)
      .withColumn("vec_id", explode(array(lit(9998L), lit(9999L))))
    val verdict = graft.llm.Dedup.semanticDedup(
      emb.unionByName(dups), k = 4, iters = 1, threshold = 0.999)
    val rows = verdict.filter($"vec_id".isin(0L, 9998L, 9999L))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 9998L, 9999L))
    assert(rows.map(_._2).distinct.length == 1)          // one shared cell
    assert(rows.map(t => t._1 -> t._3).toMap == Map(     // only id 0 kept
      0L -> true, 9998L -> false, 9999L -> false))
    // verdict covers every input exactly once
    assert(verdict.count() == emb.count() + 2)
  }

  test("PQ: codes deterministic across reruns, duplicates code identically, ADC ranks self-dup first") {
    val emb = Tables.embeddings(spark)
    // plant an exact duplicate of vector 0 — identical vectors quantize to
    // identical subvectors, so every subspace MUST assign the same code
    val withDup = emb.unionByName(
      emb.filter($"vec_id" === 0).withColumn("vec_id", lit(9999L)))
    def codesOf() = graft.llm.Pq.train(withDup, dim = 64, nSub = 8, kSub = 8, iters = 1)
    val m1 = codesOf()
    val c1 = m1.codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(c1.values.forall(_.length == 8))
    assert(c1(0L) == c1(9999L))                        // dup codes identically
    val c2 = codesOf().codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(c1 == c2)                                   // rerun-deterministic
    // ADC: querying with vector 0 puts its duplicate at the SAME (minimal)
    // approximate distance — both carry identical codes
    val res = graft.llm.Pq.search(m1, withDup.filter($"vec_id" === 0), k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(res.map(_._1).toSet == Set(0L, 9999L), res.mkString(","))
    assert(res.map(_._2).distinct.length == 1)         // equal adist
  }

  test("IVFPQ: probed-cell ADC results are a subset of full-ADC candidates, self-dup found") {
    val emb = Tables.embeddings(spark)
    val withDup = emb.unionByName(
      emb.filter($"vec_id" === 0).withColumn("vec_id", lit(9999L)))
    val pq = graft.llm.Pq.train(withDup, dim = 64, nSub = 8, kSub = 8, iters = 1)
    val ivf = graft.llm.Ivf.train(withDup, nCells = 4, iters = 1)
    try {
      val queries = withDup.filter($"vec_id" === 0)
      val ivfpq = graft.llm.Pq.searchIvf(pq, ivf, queries, k = 2, nProbe = 2)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      // the exact duplicate shares the query's cell (identical vectors
      // assign identically) AND its codes — minimal adist, always found
      assert(ivfpq.map(_._1).toSet == Set(0L, 9999L), ivfpq.mkString(","))
      // cell pruning never invents results: every IVFPQ hit also appears
      // in the unpruned ADC ranking with the same approximate distance
      val full = graft.llm.Pq.search(pq, queries, k = 20)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
      ivfpq.foreach { case (id, d) => assert(full.get(id).contains(d)) }
    } finally ivf.close()
  }

  test("hammingLink: planted typos found at exact distance, no cross-length matches") {
    val left = Seq((1L, "ABCDEF"), (2L, "GHIJKL"), (3L, "SHORT")).toDF("lid", "s")
    val right = Seq((10L, "ABCDEF"),   // exact: dist 0
      (11L, "ABXDEF"),                 // one substitution: dist 1
      (12L, "ABXDYF"),                 // two substitutions: dist 2
      (13L, "QRXDYF"),                 // four: beyond maxDist
      (14L, "SHORTY")                  // different length: never matches
    ).toDF("rid", "s")
    val got = graft.llm.Dedup.hammingLink(left, right, maxDist = 2, "lid", "s", "rid", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 10L) -> 0L, (1L, 11L) -> 1L, (1L, 12L) -> 2L))
  }

  test("simhash: identical docs get identical fingerprints, disjoint differ") {
    val fp = Dedup.simhash64(Dedup.dictionaryCodes(Dedup.tokenSets(docs)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(3L))
    assert(fp(0L) != fp(2L))
  }

  test("simhash banding: candidate count stays ~linear on spread fingerprints") {
    import spark.implicits._
    // 2000 spread 64-bit fingerprints (xxhash64 of the id — deterministic).
    // With 16-bit bands, expected band collisions ≈ 4·C(2000,2)/65536 ≈ 122;
    // the r2 16-bit fingerprint (4-bit bands, 16 values) would have produced
    // ~500k candidates here. The 2500 bound (1.25·n) is the scale guard: a
    // band-cardinality regression blows past it by orders of magnitude.
    val n = 2000
    val fps = spark.range(n).select(col("id").as("doc_id"), xxhash64(col("id")).as("fp"))
    val cands = Dedup.simhashBandCandidates(fps, maxHamming = 3).count()
    assert(cands < 2500, s"banding produced $cands candidates for $n docs — quadratic blowup")
  }

  test("simhash64 bit-63 band: negative fingerprints extract unsigned bands") {
    import spark.implicits._
    // fps with the sign bit set: arithmetic shift would sign-extend band 3
    // into values outside [0, 2^16) and merge distinct high bands
    val fps = Seq((0L, 0x8000000000000000L), (1L, 0x8000000000000001L),
      (2L, 0x7FFF000000000000L)).toDF("doc_id", "fp")
    val got = Dedup.simhashNearDup(fps, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 1L) -> 1L)) // 0↔2 differ in 16 bits, excluded
  }

  test("simhashNearDup banding equals brute-force hamming (pigeonhole, zero recall loss)") {
    import spark.implicits._
    // fingerprints engineered around the hamming boundary
    val fps = Seq(
      (0L, 0x0000L), (1L, 0x0001L),      // hamming 1
      (2L, 0x0007L),                     // hamming 3 from 0, 2 from 1
      (3L, 0x00FFL),                     // hamming 8 from 0 — out
      (4L, 0xF0F0L), (5L, 0xF0F1L)       // hamming 1
    ).toDF("doc_id", "fp")
    val got = Dedup.simhashNearDup(fps, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rows = fps.collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (i, a) <- rows; (j, b) <- rows if i < j
      h = java.lang.Long.bitCount(a ^ b) if h <= 3
    } yield (i, j) -> h.toLong).toMap
    assert(got == brute)
    assert(got((0L, 1L)) == 1L && got((0L, 2L)) == 3L && !got.contains((0L, 3L)))
  }

  test("3-gram shingles preserve order and count") {
    val sh = Dedup.shingles(docs.filter($"doc_id" === 0), 3).collect().map(_.getString(1))
    assert(sh.length == 7) // 9 tokens → 7 trigrams
    assert(sh.contains("the quick brown") && sh.contains("the lazy dog"))
  }

  test("quality metrics") {
    val q = TextAnalysis.quality(docs).filter($"doc_id" === 0).collect().head
    assert(q.getAs[Long]("tokens") == 9L)
    assert(q.getAs[Long]("chars") == 43L)
    assert(q.getAs[java.math.BigDecimal]("stop_ratio").doubleValue() > 0.2) // 2×"the" / 9
  }

  test("fingerprint is order-sensitive") {
    val d2 = Seq((0L, "alpha beta"), (1L, "beta alpha")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(d2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) != fp(1L))
  }

  test("multimodal stub: schema contract, deterministic meta, frame sampling") {
    val packed = Multimodal.packFromText(docs, "text", "video")
    val meta = Multimodal.withMeta(packed)
    val r = meta.filter($"doc_id" === 0).select("meta.*").collect().head
    assert(r.getAs[Long]("n_bytes") == 43L)
    assert(r.getAs[Int]("width") >= 1 && r.getAs[Int]("width") <= 1920)
    // deterministic: same bytes → same meta
    val r2 = Multimodal.withMeta(packed).filter($"doc_id" === 3).select("meta.*").collect().head
    assert(r.getAs[Int]("width") == r2.getAs[Int]("width")) // doc 3 is an exact dup of doc 0
    val frames = Multimodal.frameSample(meta, everyMs = 60000L)
    assert(frames.count() > 0)
    val feat = packed.select(Multimodal.featureStub($"media", 8).as("f")).collect().head
    assert(feat.getSeq[Float](0).length == 8)
  }

  test("sniffType detects real signatures; short and empty blobs are unknown") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val rows = Seq(
      (0L, b(0xFF, 0xD8, 0xFF, 0xE0, 1, 2)), // jpeg
      (1L, "RIFF1234WAVEdata".getBytes("US-ASCII")), // wav
      (2L, "RIFF1234AVI LIST".getBytes("US-ASCII")), // avi
      (3L, b(0, 0, 0, 0x18) ++ "ftypisom".getBytes("US-ASCII")), // mp4
      (4L, b(0x1A, 0x45, 0xDF, 0xA3, 9)), // mkv
      (5L, "RIFF".getBytes("US-ASCII")), // truncated RIFF: no subtype -> unknown
      (6L, b(0xFF)), // 1 byte, prefix of nothing
      (7L, Array.empty[Byte]))
    val got = rows.toDF("id", "media")
      .select($"id", Multimodal.sniffType($"media").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(0L -> "jpeg", 1L -> "wav", 2L -> "avi", 3L -> "mp4",
      4L -> "mkv", 5L -> "unknown", 6L -> "unknown", 7L -> "unknown"))
  }

  test("encodeBmp emits valid BMPs the JDK's own reader decodes pixel-identically") {
    // the independent check: javax.imageio ships a BMP reader — if OUR
    // byte-level encoder disagrees with the JDK's decoder on any header
    // field, stride pad, row order or channel order, this fails. Widths
    // 1..5 sweep every 4-byte row-padding case (pad 1, 2, 3, 0, 1)
    val cases = for (w <- 1 to 5; h <- Seq(1, 3)) yield (w, h, 11L * w + h)
    val enc = cases.toDF("w", "h", "seed")
      .select($"w", $"h", $"seed",
        Multimodal.encodeBmp($"w", $"h", $"seed").as("media"))
      .collect()
    for (r <- enc) {
      val (w, h, seed) = (r.getInt(0), r.getInt(1), r.getLong(2))
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("media")))
      assert(img != null, s"JDK reader rejected the ${w}x$h BMP")
      assert(img.getWidth == w && img.getHeight == h)
      for (x <- 0 until w; y <- 0 until h) {
        val rgb = img.getRGB(x, y)
        // encoder writes file rows h-1..0 (bottom-up storage), so pattern y
        // IS the top-down image y the JDK hands back
        assert((rgb & 0xFF) == (3 * x + y) % 251, s"B at ($x,$y) ${w}x$h")
        assert(((rgb >> 8) & 0xFF) == (x + 7 * y) % 251, s"G at ($x,$y) ${w}x$h")
        assert(((rgb >> 16) & 0xFF) == ((x + y + seed) % 251).toInt, s"R at ($x,$y) ${w}x$h")
      }
    }
  }

  test("decodeBmpMeta and bmpChannelSum parse the real bytes; non-BMP decodes null") {
    val cases = Seq((1, 1, 7L), (3, 2, 0L), (5, 4, 250L))
    val got = cases.toDF("w", "h", "seed")
      .withColumn("media", Multimodal.encodeBmp($"w", $"h", $"seed"))
      .select($"w", $"h", $"seed",
        Multimodal.decodeBmpMeta($"media").as("meta"),
        Multimodal.bmpChannelSum($"media", 0).as("sb"),
        Multimodal.bmpChannelSum($"media", 1).as("sg"),
        Multimodal.bmpChannelSum($"media", 2).as("sr"))
      .collect()
    for (r <- got) {
      val (w, h, seed) = (r.getInt(0), r.getInt(1), r.getLong(2))
      val meta = r.getStruct(3)
      assert(meta.getAs[Int]("width") == w && meta.getAs[Int]("height") == h)
      assert(meta.getAs[Int]("bpp") == 24 && meta.getAs[Long]("data_offset") == 54L)
      val xy = for (x <- 0 until w; y <- 0 until h) yield (x, y)
      assert(r.getLong(4) == xy.map { case (x, y) => (3 * x + y) % 251 }.sum.toLong)
      assert(r.getLong(5) == xy.map { case (x, y) => (x + 7 * y) % 251 }.sum.toLong)
      assert(r.getLong(6) == xy.map { case (x, y) => (x + y + seed) % 251 }.sum)
    }
    // wrong magic → null meta, the sniff-then-decode contract
    val junk = Seq(Tuple1("notabmp".getBytes("US-ASCII"))).toDF("media")
      .select(Multimodal.decodeBmpMeta($"media").as("meta")).collect().head
    assert(junk.isNullAt(0))
  }

  test("chunk: exact 32-byte slices with a ragged tail; empty blob keeps one empty chunk") {
    val blob = Array.tabulate(70)(_.toByte)
    val d = Seq((0L, blob), (1L, Array.empty[Byte])).toDF("id", "media")
    val got = Multimodal.chunk(d, "media", chunkBytes = 32)
      .select($"id", $"chunk_idx", $"chunk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Array[Byte]](2).toSeq).toMap
    assert(got.keySet == Set((0L, 0L), (0L, 1L), (0L, 2L), (1L, 0L)))
    assert(got((0L, 0L)) == blob.slice(0, 32).toSeq)
    assert(got((0L, 1L)) == blob.slice(32, 64).toSeq)
    assert(got((0L, 2L)) == blob.slice(64, 70).toSeq) // 6-byte tail, not padded
    assert(got((1L, 0L)).isEmpty) // zero-length media is kept, not dropped
  }

  test("heavy hitters: Misra-Gries guarantees and the exact two-pass top-m") {
    import graft.llm.HeavyHitters
    // 3 hot items (600/500/400 of n=2500) over a 1000-item tail
    val rows =
      Seq.fill(600)("alpha") ++ Seq.fill(500)("beta") ++ Seq.fill(400)("gamma") ++
        (0 until 1000).map(i => s"tail_$i")
    val df = rows.toDF("item").repartition(8) // force multi-partition merges
    val n = rows.size
    val k = 20
    val sk = HeavyHitters.sketch(df, $"item", k).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sk.size <= k)
    // every item with true freq > n/(k+1) must be present...
    assert(Set("alpha", "beta", "gamma").subsetOf(sk.keySet))
    // ...and estimates underestimate by at most n/(k+1)
    val bound = n / (k + 1)
    for ((item, truth) <- Seq("alpha" -> 600L, "beta" -> 500L, "gamma" -> 400L)) {
      assert(sk(item) <= truth && sk(item) >= truth - bound,
        s"$item est ${sk(item)} outside [${truth - bound}, $truth]")
    }
    // the exact second pass returns true counts in true order
    val top = HeavyHitters.topExact(df, $"item", m = 3, k = k).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top == Seq(("alpha", 600L), ("beta", 500L), ("gamma", 400L)))
  }

  test("inference batches: fixed-size, id-aligned feature arrays") {
    val emb = Tables.embeddings(spark).limit(25)
      .select($"vec_id", $"embedding")
    val batches = Multimodal.inferenceBatches(emb, "vec_id", "embedding", batchSize = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1),
          r.getSeq[scala.collection.Seq[Float]](2).map(_.toVector), r.getLong(3))).toMap
    assert(batches.keySet == Set(0L, 1L, 2L))
    assert(batches(0L)._3 == 10L && batches(1L)._3 == 10L && batches(2L)._3 == 5L)
    // ids sorted and aligned with features: ids[i]'s embedding is features[i]
    val (ids, feats, _) = batches(1L)
    assert(ids == ids.sorted)
    val lookup = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    ids.zip(feats).foreach { case (id, f) => assert(f == lookup(id), s"id $id misaligned") }
  }

  test("incremental corpus dedup: fingerprint store in the snapshot sink filters re-ingestion") {
    // the continuous-ingestion composition: the historical fingerprint set
    // lives in a snapshot-sink table; each incoming batch anti-joins it,
    // survivors' fingerprints are upserted — dedup against EVERYTHING ever
    // ingested with per-batch work O(batch), and replay-idempotent via the
    // sink's merge semantics.
    import graft.sink.{DeleteMode, SnapshotParquetSink}
    val sink = new SnapshotParquetSink(tmpDir("fp_store"), nBuckets = 4)
    def ingest(docs: org.apache.spark.sql.DataFrame): Set[Long] = {
      val fps = TextAnalysis.fingerprint(docs) // (doc_id, fp), fp text-derived
      val fresh =
        if (sink.currentVersion.isEmpty) fps
        else fps.join(sink.read(spark, DeleteMode.Hard).select("fp"), Seq("fp"), "left_anti")
      val kept = fresh.select("doc_id", "fp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      if (kept.nonEmpty) sink.merge(
        kept.toDF("doc_id", "fp")
          .select($"fp", $"doc_id", lit(0L).as("seq"), lit(false).as("is_delete")),
        Seq("fp"), "seq", "is_delete")
      kept.map(_._1).toSet
    }
    val b0 = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("doc_id", "text")
    assert(ingest(b0) == Set(1L, 2L))
    // doc 3 re-ingests doc 1's text (identical fingerprint); doc 4 is new
    val b1 = Seq((3L, "alpha beta gamma"), (4L, "zeta eta")).toDF("doc_id", "text")
    assert(ingest(b1) == Set(4L))
    // replaying the whole batch is a no-op — everything is fingerprinted now
    assert(ingest(b1) == Set.empty[Long])
    assert(sink.read(spark, DeleteMode.Hard).count() == 3)
  }

  test("tokenDiversity: Simpson numerator separates repeated from diverse docs") {
    val docs = Seq((1L, "a a a a"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenDiversity(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((4L, 1L, 16L))) // maximal concentration: Σcnt² = n²
    assert(out(2L) == ((4L, 4L, 4L)))  // maximal diversity: Σcnt² = n
  }

  test("mixSample realizes the exact target ratio, bottlenecked by the scarcest stratum") {
    // a: 10 docs, b: 9 docs; weights 2:3 → scale = min(10/2, 9/3) = 3 → keep 6 a + 9 b
    val docs = (0L until 10L).map(i => (i, "a")) ++ (100L until 109L).map(i => (i, "b")) ++
      Seq((500L, "dropped"))
    val df = docs.toDF("doc_id", "source")
    val out = TextAnalysis.mixSample(df, "source", Map("a" -> 2, "b" -> 3))
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("a" -> 6L, "b" -> 9L))
    // deterministic: rerun over a different partitioning keeps the same ids
    val ids1 = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = TextAnalysis.mixSample(df.repartition(5), "source", Map("a" -> 2, "b" -> 3))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("rareTokenStats counts occurrences and types of corpus-rare tokens") {
    val docs = Seq(
      (1L, "the the qzx"),     // 'the' cf=4, 'qzx' cf=1
      (2L, "the wvu wvu qpr"), // 'wvu' cf=2, 'qpr' cf=1
      (3L, "the")).toDF("doc_id", "text")
    val out = TextAnalysis.rareTokenStats(docs, rareMax = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((3L, 1L, 1L))) // qzx
    assert(out(2L) == ((4L, 3L, 2L))) // wvu ×2 + qpr, 2 distinct rare types
    assert(out(3L) == ((1L, 0L, 0L)))
  }

  test("normalize: unit length after, zero vectors pass through") {
    val df = Seq((0L, Array(3.0f, 4.0f)), (1L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", Similarity.normalize($"embedding").as("nv"),
        Similarity.l2Norm($"embedding").as("nrm"))
    val rows = df.collect().map(r =>
      r.getLong(0) -> (r.getSeq[Double](1), r.getDouble(2))).toMap
    assert(rows(0L)._2 == 5.0)
    assert(rows(0L)._1 == Seq(0.6, 0.8))
    assert(rows(1L)._1 == Seq(0.0, 0.0)) // no NaN from 0/0
  }

  test("sampleChunks: stride-3 indices, byte-identical to the full chunking at those offsets") {
    val df = Seq((1L, ("x" * 100).getBytes), (2L, Array[Byte]()))
      .toDF("media_id", "media")
    val full = Multimodal.chunk(df, "media", 16).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("chunk_idx")) ->
        r.getAs[Array[Byte]]("chunk").toSeq).toMap
    val sampled = Multimodal.sampleChunks(df, "media", chunkBytes = 16, everyN = 3).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("chunk_idx")) ->
        r.getAs[Array[Byte]]("chunk").toSeq).toMap
    // 100 bytes / 16 = 7 chunks → sampled indices 0, 3, 6; empty blob keeps chunk 0
    assert(sampled.keySet == Set((1L, 0L), (1L, 3L), (1L, 6L), (2L, 0L)))
    sampled.foreach { case (k, bytes) => assert(bytes == full(k), s"chunk $k differs") }
  }

  test("fixed-point k-means: separable clusters recovered; exact determinism under repartition") {
    import graft.llm.KMeans
    // two tight groups in 4-d; ids interleaved so the lowest-id init picks
    // one point from each group
    val pts = Seq(
      (0L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (1L, Array(-1.0f, -1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 1.1f, 0.1f, -0.1f)),
      (3L, Array(-1.1f, -0.9f, -0.1f, 0.1f)),
      (4L, Array(1.1f, 0.9f, -0.1f, 0.1f)),
      (5L, Array(-0.9f, -1.1f, 0.1f, -0.1f))).toDF("vec_id", "embedding")
    val m = KMeans.train(pts, k = 2, iters = 2)
    val cells = m.assigned.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(Seq(0L, 2L, 4L).map(cells).distinct.size == 1, "even ids split across cells")
    assert(Seq(1L, 3L, 5L).map(cells).distinct.size == 1, "odd ids split across cells")
    assert(cells(0L) != cells(1L), "groups collapsed into one cell")
    // bit-exact determinism: a different physical partitioning must produce
    // the identical assignment AND distances (no accumulation-order drift)
    val m2 = KMeans.train(pts.repartition(7), k = 2, iters = 2)
    val a1 = m.assigned.select("vec_id", "cell", "d2").collect().map(_.toSeq).toSet
    val a2 = m2.assigned.select("vec_id", "cell", "d2").collect().map(_.toSeq).toSet
    assert(a1 == a2)
  }

  test("k-means floored mean matches Math.floorDiv on negative non-divisible sums") {
    import graft.llm.KMeans
    // quantized: floor(-1.0*4096) = -4096, floor(-0.3*4096) = -1229,
    // floor(0.4*4096) = 1638 → sum -3687 over n=3: floorDiv = -1229
    // (truncating division would give -1228 and break oracle parity)
    val pts = Seq((0L, Array(-1.0f)), (1L, Array(-0.3f)), (2L, Array(0.4f)))
      .toDF("vec_id", "embedding")
    val m = KMeans.train(pts, k = 1, iters = 1)
    val centroid = m.centroids.collect()(0).getSeq[Long](1)
    assert(centroid == Seq(Math.floorDiv(-4096L - 1229L + 1638L, 3L)))
    assert(centroid == Seq(-1229L))
  }

  test("editDistanceNearDup: bin banding finds every boundary-straddling pair (brute-force parity)") {
    val strs = Seq("ab", "abcd", "abce", "xyz", "xy", "abcdef", "qqqqqqqqq", "qqqqqqqq")
    val d = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val got = Dedup.editDistanceNearDup(d, maxDist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val brute = (for {
      i <- strs.indices; j <- strs.indices if i < j
      dist = lev(strs(i), strs(j)) if dist <= 2
    } yield (i.toLong, j.toLong, dist.toLong)).toSet
    assert(got == brute)
    // the boundary-straddling pair ("ab" len 2 bin 0, "abcd" len 4 bin 1) is present
    assert(brute.contains((0L, 1L, 2L)) && got.contains((0L, 1L, 2L)))
  }

  test("spanDedup: cross-doc spans surface once, within-doc repeats don't count") {
    val d = Seq(
      (0L, "the quick brown fox"),
      (1L, "a quick brown fox jumps"),
      (2L, "p q p q p q"), // repeats its own spans, shares none
      (3L, "x y z")).toDF("doc_id", "text")
    val got = Dedup.spanDedup(d, k = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map("quick brown fox" -> ((2L, 0L, 1L))))
  }

  test("chunkWithOverlap: stride-aligned starts, truncated tail, md5 of the joined span") {
    val d = Seq((0L, (0 until 10).map(i => s"t$i").mkString(" ")), (1L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkWithOverlap(d, chunkTokens = 4, strideTokens = 3)
      .orderBy("doc_id", "chunk_idx").collect()
    val doc0 = got.filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // 10 tokens, starts 0,3,6,9; last chunk truncates to 1 token
    assert(doc0.toSeq == Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L), (3L, 9L, 1L)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val last = got.filter(r => r.getLong(0) == 0L && r.getLong(1) == 3L).head
    assert(last.getString(4) == md5hex("t9"))
    // empty text = one chunk holding the single empty token (tokens() convention)
    val doc1 = got.filter(_.getLong(0) == 1L).map(r => (r.getLong(1), r.getLong(3)))
    assert(doc1.toSeq == Seq((0L, 1L)))
    assert(got.filter(_.getLong(0) == 1L).head.getString(4) == md5hex(""))
  }

  test("filterPipeline: first-failing-rule reasons, exact integer thresholds") {
    val ok = "the " + (0 until 30).map(i => s"word$i of").mkString(" ") // stopwords + varied
    val d = Seq(
      (0L, "tiny doc"),                        // 2 tokens < 10 → too_short
      (1L, (0 until 20).map(_ => "abcdefghijklmnopqrstuvwxyz").mkString(" ")), // avg len 26 → tok_len
      (2L, (0 until 40).map(i => s"w$i").mkString(" ")), // no stopwords → low_stopwords
      (3L, "the cat sat " * 30),                // trigram-repetitive but stopword-rich
      (4L, ok)).toDF("doc_id", "text")
    val got = TextAnalysis.filterPipeline(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    assert(got(0L) == (("too_short", false)))
    assert(got(1L) == (("tok_len", false)))
    assert(got(2L) == (("low_stopwords", false)))
    assert(got(3L) == (("repetitive", false)))
    assert(got(4L) == (("ok", true)))
  }

  test("int8 quantize: exact codes, order-pinning weighted sum, zero-vector safe") {
    val d = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f)),
      (1L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8Profile(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // absmax=1.0 → codes floor([127, -63.5, 31.75]) = [127, -64, 31]
    assert(got(0L) == ((10000L, 127L - 64L + 31L, -64L + 62L, -64L, 127L)))
    assert(got(1L) == ((0L, 0L, 0L, 0L, 0L)))
  }

  test("BPE learn: textbook merge sequence with lexicographic tie-breaks") {
    import graft.llm.Bpe
    val d = Seq(
      (0L, "low low low low low"), (1L, "lower lower"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest widest")).toDF("doc_id", "text")
    val (merges, table) = Bpe.learn(d, iters = 3)
    // pair counts: e-s 9 ties s-t 9 → 'e'<'s'; then es-t 9; then l-o 7 ties o-w 7
    assert(merges.map(m => (m.a, m.b, m.cnt)) ==
      Seq(("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L)))
    val sym = table.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(sym("newest") == Seq("n", "e", "w", "est"))
    assert(sym("widest") == Seq("w", "i", "d", "est"))
    assert(sym("low") == Seq("lo", "w"))
  }

  test("BPE learn runs past the lineage-checkpoint boundary to full collapse") {
    import graft.llm.Bpe
    val d = Seq(
      (0L, "low low low low low"), (1L, "lower lower"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest widest")).toDF("doc_id", "text")
    // enough iterations to cross the localCheckpoint boundary several
    // times AND exhaust every pair: each pre-token collapses to one symbol
    val (merges, table) = Bpe.learn(d, iters = 25, checkpointEvery = 4)
    val sym = table.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(sym.forall { case (pt, ss) => ss == Seq(pt) }, sym)
    assert(merges.size >= 8 && merges.size <= 25, merges.size.toString)
  }

  test("BPE encode: learned merges tokenize a corpus losslessly, in doc order") {
    import graft.llm.Bpe
    val train = Seq(
      (0L, "low low low low low"), (1L, "lower lower"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest widest")).toDF("doc_id", "text")
    val (merges, _) = Bpe.learn(train, iters = 3)
    // encode a DIFFERENT corpus (held-out words share subword structure)
    val corpus = Seq((10L, "lowest low"), (11L, "newest widest"), (12L, "zzz"))
      .toDF("doc_id", "text")
    val got = Bpe.encode(corpus, merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // merges: (e,s) (es,t) (l,o): "lowest" -> lo w est; "low" -> lo w
    assert(got(10L) == Seq("lo", "w", "est", "lo", "w"), got(10L).toString)
    assert(got(11L) == Seq("n", "e", "w", "est", "w", "i", "d", "est"))
    assert(got(12L) == Seq("z", "z", "z")) // unseen word: char fallback
    // lossless: concatenated tokens reproduce the pre-token stream verbatim
    val roundTrip = got.map { case (id, toks) => id -> toks.mkString }
    assert(roundTrip == Map(10L -> "lowestlow", 11L -> "newestwidest", 12L -> "zzz"))
    // a doc with zero pre-tokens surfaces with an empty array, never drops
    val withEmpty = Bpe.encode(
      Seq((20L, "low"), (21L, ""), (22L, "   ")).toDF("doc_id", "text"), merges)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2))).sortBy(_._1)
    assert(withEmpty.map(_._1).toSeq == Seq(20L, 21L, 22L))
    assert(withEmpty.map(_._3).toSeq == Seq(2L, 0L, 0L))
  }

  test("BPE merge application is greedy left-to-right (overlapping pairs)") {
    import graft.llm.Bpe
    val d = Seq((Seq("a", "a", "a"), 0), (Seq("x", "a", "a", "y"), 1))
      .toDF("symbols", "id")
    val got = d.withColumn("m", expr(Bpe.mergeExpr("symbols", "a", "a")))
      .orderBy("id").collect().map(_.getSeq[String](2))
    assert(got(0) == Seq("aa", "a")) // greedy: first pair merges, tail survives
    assert(got(1) == Seq("x", "aa", "y"))
  }

  test("filter gate runs unchanged on a stream and matches the batch decisions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fixtures = Seq(
      (0L, "tiny doc"),
      (1L, (0 until 40).map(i => s"w$i").mkString(" ")),
      (2L, "the " + (0 until 30).map(i => s"word$i of").mkString(" ")))
    val mem = MemoryStream[(Long, String)]
    val gate = TextAnalysis.filterPipeline(mem.toDF().toDF("doc_id", "text"))
    val q = gate.writeStream.format("memory").queryName("gate_out")
      .outputMode("append").start()
    try { mem.addData(fixtures: _*); q.processAllAvailable() }
    finally { q.stop(); q.awaitTermination() }
    val streamed = spark.table("gate_out").collect().map(_.toSeq).toSet
    val batch = TextAnalysis.filterPipeline(fixtures.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("invertedIndex: df-bounded postings, sorted ids, head tokens excluded") {
    val d = Seq((0L, "a b"), (1L, "a c"), (2L, "a d"), (3L, "b b"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.invertedIndex(d, minDf = 2, maxDf = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // df(a)=3 exceeds maxDf, df(c)=df(d)=1 below minDf; b appears in docs 0,3
    // (twice in doc 3 — postings are per-doc distinct)
    assert(got == Map("b" -> ((2L, "0,3"))))
  }

  test("noveltyScore: shingle is novel only in its min-doc_id document") {
    val d = Seq(
      (0L, "a b c d"),   // shingles: "a b c", "b c d" — both first here
      (1L, "a b c x"),   // "a b c" seen in 0; "b c x" novel
      (2L, "a b c d"),   // exact dup of 0 — zero novel
      (3L, "z")          // too short for a 3-gram — absent from output
    ).toDF("doc_id", "text")
    val got = Dedup.noveltyScore(d, 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(0L -> ((2L, 2L)), 1L -> ((2L, 1L)), 2L -> ((2L, 0L))))
  }

  test("sortedNeighborhood: brute-force parity on the rank window, no duplicate pairs") {
    // sort key with ties and ids deliberately out of sort order
    val d = Seq((10L, "cc"), (11L, "aa"), (12L, "bb"), (13L, "aa"), (14L, "dd"),
      (15L, "ee"), (16L, "ab")).toDF("doc_id", "text")
    val rows = Dedup.sortedNeighborhood(d, col("text"), w = 2)(p => p.collect().toSeq)
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.size == got.toSet.size, "duplicate candidate pairs")
    // expected: rank order by (text, id) = 11,13,16,12,10,14,15
    val order = Seq(11L, 13L, 16L, 12L, 10L, 14L, 15L)
    val brute = (for {
      a <- order.indices; b <- order.indices if b > a && b - a <= 2
    } yield (math.min(order(a), order(b)), math.max(order(a), order(b)), (b - a).toLong)).toSet
    assert(got.toSet == brute)
  }

  test("weightedSystematicSample: span-crossing selection, heavy docs always in") {
    val d = Seq((1L, 500L), (2L, 600L), (3L, 100L), (4L, 1000L), (5L, 2500L))
      .toDF("doc_id", "w")
    val got = TextAnalysis.weightedSystematicSample(d, $"w", step = 1000L) { s =>
      s.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    // prefix sums: 1->0, 2->500, 3->1100, 4->1200, 5->2200; spans crossing
    // a multiple of 1000: doc 2 (500..1100), doc 4 (1200..2200), doc 5
    // (2200..4700, w >= step is always selected)
    assert(got == Set((2L, 600L, 500L), (4L, 1000L, 1200L), (5L, 2500L, 2200L)))
    assert(leakedCaches.isEmpty)
  }

  test("containingAll: all-terms predicate, duplicates in query collapse") {
    val d = Seq(
      (0L, "the table has a key to merge on"),
      (1L, "key merge"),                       // missing 'table'
      (2L, "merge table merge key table")      // duplicates inside the doc
    ).toDF("doc_id", "text")
    val got = TextAnalysis.containingAll(d, Seq("table", "key", "merge", "merge"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 2L))
  }

  test("capPerGroup: k smallest ids survive per group, short groups intact") {
    val d = (0L until 9L).map(i => (i, if (i < 6) "big" else "small", s"t$i"))
      .toDF("doc_id", "source", "text")
    val kept = TextAnalysis.capPerGroup(d, "source", k = 4)
      .collect().map(r => r.getString(1) -> r.getLong(0))
    assert(kept.collect { case ("big", id) => id }.sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    assert(kept.collect { case ("small", id) => id }.sorted.toSeq == Seq(6L, 7L, 8L))
    // full rows survive the semi-join (text column intact)
    assert(TextAnalysis.capPerGroup(d, "source", k = 4).columns.toSeq ==
      Seq("doc_id", "source", "text"))
  }

  test("bm25Search: rare terms outweigh common, shorter docs outrank at equal tf") {
    import spark.implicits._
    val docs = Seq(
      // 'apple' appears ONLY here (rare → high idf); one banana
      (1L, "apple banana pear pear"),
      // many bananas, no apple — common-term bulk must not beat the rare hit
      (2L, "banana banana banana banana banana banana banana banana"),
      // same tf('pear')=2 as doc 1 but twice the length → length-normalized lower
      (3L, "pear pear kiwi kiwi kiwi kiwi kiwi kiwi"),
      (4L, "kiwi kiwi kiwi kiwi")).toDF("doc_id", "text")
    val scores = TextAnalysis.bm25Search(docs, Seq("apple", "banana"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 (rare apple + one banana) must outrank doc 2 (banana bulk)
    assert(scores(1L) > scores(2L), scores.toString)
    assert(!scores.contains(3L) && !scores.contains(4L)) // no query term → absent
    // length normalization: equal tf, shorter doc scores strictly higher
    val pear = TextAnalysis.bm25Search(docs, Seq("pear"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pear(1L) > pear(3L), pear.toString)
    // determinism: identical call, identical scores (pure integer path)
    val again = TextAnalysis.bm25Search(docs, Seq("apple", "banana"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == scores)
  }

  test("TextIndexStore: store-backed BM25 is bit-identical to the one-shot scan") {
    val corpus = Seq(
      (0L, "apple banana pear"),
      (1L, "apple apple cherry"),
      (2L, "banana cherry cherry plum"),
      (3L, "plum plum plum"),
      (4L, "apple plum")).toDF("doc_id", "text")
    val dir = tmpDir("text_index")
    val store = new graft.sink.TextIndexStore(dir)
    store.append(corpus.filter($"doc_id" < 2), batchId = 0L)
    store.append(corpus.filter($"doc_id" >= 2), batchId = 1L)
    val fromStore = store.search(spark, Seq("apple", "plum"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val oneShot = TextAnalysis.bm25Search(corpus, Seq("apple", "plum"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(fromStore == oneShot, s"store=$fromStore oneShot=$oneShot")
    assert(fromStore.nonEmpty)
    // replayed append (crash-recovery path): same batch, same content —
    // results must be unchanged
    store.append(corpus.filter($"doc_id" >= 2), batchId = 1L)
    val replayed = store.search(spark, Seq("apple", "plum"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(replayed == oneShot)
  }

  test("TextIndexStore.phraseSearch: positional intersection equals the scan") {
    val corpus = Seq(
      (0L, "a a a"),
      (1L, "a b a a b"),
      (2L, "b a b"),
      (3L, "a"),
      (4L, "x a a y a a z"),
      (5L, "a b c a b c a b")).toDF("doc_id", "text")
    val dir = tmpDir("pos_index")
    val store = new graft.sink.TextIndexStore(dir)
    store.append(corpus.filter($"doc_id" < 3), batchId = 0L)
    store.append(corpus.filter($"doc_id" >= 3), batchId = 1L)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // repeated-token phrase (overlapping matches) and a 3-token phrase:
    // the index-side shifted-intersection must equal a fresh scan exactly
    for (phrase <- Seq(Seq("a", "a"), Seq("a", "b", "c"), Seq("a", "b"))) {
      val idx = res(store.phraseSearch(spark, phrase, k = 10))
      val scan = res(TextAnalysis.phraseSearch(corpus, phrase, k = 10))
      assert(idx == scan, s"phrase=$phrase idx=$idx scan=$scan")
      assert(idx.nonEmpty, s"phrase=$phrase")
    }
    // BM25 still works over the positional postings (tf untouched)
    assert(store.search(spark, Seq("a"), k = 10).count() > 0)
  }

  test("TextIndexStore.compact: one batch dir, identical results, crash-recoverable") {
    val corpus = Seq(
      (0L, "a b a c"), (1L, "b c d"), (2L, "a a b"),
      (3L, "c d e a"), (4L, "e a b c")).toDF("doc_id", "text")
    val dir = tmpDir("cidx")
    val store = new graft.sink.TextIndexStore(dir)
    for (b <- 0L until 3L)
      store.append(corpus.filter(pmod($"doc_id", lit(3)) === b), b)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bm = res(store.search(spark, Seq("a", "d"), k = 10))
    val ph = res(store.phraseSearch(spark, Seq("a", "b"), k = 10))
    val px = res(store.proximitySearch(spark, "a", "c", slop = 3, k = 10))
    store.compact(spark)
    // the compaction published a new GENERATION whose sub-stores hold
    // exactly one committed batch dir each; the old generation's flat dirs
    // survive for in-flight readers until the age-guarded vacuum
    assert(store.liveGen == 1L)
    for (sub <- Seq("postings", "doclens"))
      assert(new java.io.File(s"$dir/gen=1/$sub").listFiles()
        .count(_.getName.startsWith("batch=")) == 1, sub)
    assert(new java.io.File(s"$dir/postings").exists(),
      "superseded generation must survive the flip for in-flight readers")
    assert(res(store.search(spark, Seq("a", "d"), k = 10)) == bm)
    assert(res(store.phraseSearch(spark, Seq("a", "b"), k = 10)) == ph)
    assert(res(store.proximitySearch(spark, "a", "c", slop = 3, k = 10)) == px)
    // idempotent: compacting a compacted store changes nothing
    store.compact(spark)
    assert(store.liveGen == 2L)
    assert(res(store.search(spark, Seq("a", "d"), k = 10)) == bm)
    // crash simulation, generation style: a partially-written next
    // generation WITHOUT a published manifest is invisible — searches are
    // safe DURING compaction (the property the old two-rename swap lacked)
    val partial = new java.io.File(s"$dir/gen=3/postings/batch=9")
    assert(partial.mkdirs())
    assert(store.liveGen == 2L)
    assert(res(store.search(spark, Seq("a", "d"), k = 10)) == bm)
    // the next compact clears the partial and completes
    store.compact(spark)
    assert(store.liveGen == 3L)
    assert(res(store.search(spark, Seq("a", "d"), k = 10)) == bm)
    // age-guarded vacuum reclaims everything superseded
    assert(store.vacuumGenerations(minAgeMs = 0L) >= 1)
    assert(!new java.io.File(s"$dir/postings").exists())
    assert(!new java.io.File(s"$dir/gen=1").exists())
    assert(res(store.search(spark, Seq("a", "d"), k = 10)) == bm)
  }

  test("weightedQuantiles: exact cumulative-weight order statistics") {
    // values/weights (1,1) (2,1) (3,2): total 4; cum 1, 2, 4
    // p250 -> 1 (cum 1*1000 >= 1000); p500 -> 2 (2000 >= 2000); p750 -> 3
    val df = Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("v", "w")
    val got = graft.engine.Ranking.weightedQuantiles(df, $"v", $"w", Seq(250, 500, 750))
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((1L, 2L, 3L)),
      got.toString)
  }

  test("blocklistGate: occurrence totals, earliest-position first, lexicographic ties") {
    val corpus = Seq(
      (0L, "x table hash y dup"), // two phrases; "table hash" earlier
      (1L, "dupdup"),             // overlapping-free double count
      (2L, "ab c"),               // both "ab" and "ab c" match at pos 1 → tie
      (3L, "clean text")).toDF("doc_id", "text")
    val got = TextAnalysis.blocklistGate(corpus, Seq("table hash", "dup"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((0L, 2L, "table hash"), (1L, 2L, "dup")), got.toString)
    val tie = TextAnalysis.blocklistGate(corpus, Seq("ab c", "ab"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // doc 2: both phrases match at position 1 → tie → lexicographic "ab";
    // doc 0: "ab" also matches inside "tABle" — substring semantics
    assert(tie == Set((2L, 2L, "ab"), (0L, 1L, "ab")), tie.toString)
  }

  test("snippets: first-occurrence window, clipped at edges, tf ranking") {
    val corpus = Seq(
      (0L, "q a b c d e"),             // left-edge hit: TRUE ±2 clip, no
                                       // borrowed right context
      (1L, "a b c d q e f g h"),       // interior: full ±2 window
      (2L, "a b c q"),                 // right-clipped
      (3L, "q x q y q"),               // tf 3 → ranks first; window from FIRST hit
      (4L, "no match here")).toDF("doc_id", "text")
    val got = TextAnalysis.snippets(corpus, "q", window = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(
      (3L, 3L, "q x q"),
      (0L, 1L, "q a b"),
      (1L, 1L, "c d q e f"),
      (2L, 1L, "b c q")), got.toString)
  }

  test("decontaminate: leaky train docs dropped, test/val immutable") {
    // split membership is the deterministic hash: ids 0-5 are train,
    // 26-28 test, 24-25 val. Train doc 0 copies test doc 26 verbatim
    // (shares >= 2 distinct 3-shingles); train doc 1 is clean.
    val corpus = Seq(
      (0L, "w x y z q"),   // train, leaks 26's shingles → dropped
      (1L, "a b c d e"),   // train, clean → kept
      (26L, "w x y z q"),  // test (ground truth, never dropped)
      (24L, "w x y z q")   // val: shares with test but val is NOT removed
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.decontaminate(corpus, n = 3, minShared = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(kept == Map(1L -> "train", 26L -> "test", 24L -> "val"), kept.toString)
  }

  test("relatedTerms: lift over chance, presence not frequency, minCo floor") {
    // seed 's' appears in docs 0-3; 'x' co-occurs in all 4 (df 4 → lift
    // 6000/4... compute: N=6, df_seed=4): x: co=4, df=4 → (4*6*1000)/(4*4)
    // = 1500; 'y' co-occurs in 2 of its df=4 docs → (2*6*1000)/(4*4) = 750;
    // 'z' co 1 < minCo → excluded; repeated tokens count once per doc
    val corpus = Seq(
      (0L, "s x x x y"), (1L, "s x"), (2L, "s x y"), (3L, "s x z"),
      (4L, "y q"), (5L, "y q")).toDF("doc_id", "text")
    val got = TextAnalysis.relatedTerms(corpus, "s", minCo = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    assert(got == Seq(("x", 4L, 1500L), ("y", 2L, 750L)), got.toString)
  }

  test("centroidDrift: zero on identical halves, exact L1 on a known shift") {
    // halves identical → per-dim means equal → drift 0
    val same = Seq(
      (0L, Seq(0.5f, -0.25f)), (1L, Seq(0.5f, -0.25f)),
      (2L, Seq(1.0f, 0.75f)), (3L, Seq(1.0f, 0.75f))).toDF("vec_id", "embedding")
    val z = Similarity.centroidDrift(same, pmod($"vec_id", lit(2))).collect().head
    assert((z.getLong(0), z.getLong(1), z.getLong(2), z.getLong(3)) ==
      ((2L, 2L, 2L, 0L)), z.toString)
    // half 1 shifted by +1.0 in dim 0 only: quantized means differ by 4096
    val shifted = Seq(
      (0L, Seq(0.5f, 0.25f)), (2L, Seq(0.5f, 0.25f)),
      (1L, Seq(1.5f, 0.25f)), (3L, Seq(1.5f, 0.25f))).toDF("vec_id", "embedding")
    val d = Similarity.centroidDrift(shifted, pmod($"vec_id", lit(2))).collect().head
    assert(d.getLong(3) == 4096L, d.toString)
    // an EMPTY partition (monitor runs before any "after" data) reports
    // dims = 0, drift = 0 — a well-defined row, not a null NPE trap
    val e = Similarity.centroidDrift(same.filter($"vec_id" % 2 === 0),
      pmod($"vec_id", lit(2))).collect().head
    assert((e.getLong(0), e.getLong(1), e.getLong(2), e.getLong(3)) ==
      ((2L, 0L, 0L, 0L)), e.toString)
  }

  test("spellSuggest: distance first, frequency breaks ties, common words win") {
    val corpus = Seq(
      (0L, "hello hello hello jello help"),
      (1L, "jello hello yellow")).toDF("doc_id", "text")
    val got = TextAnalysis.spellSuggest(corpus, Seq("hellp"), maxDist = 2, k = 3)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // dist 1: hello(freq 4) and help(freq 1) — hello first on frequency;
    // dist 2: jello(freq 2) third
    assert(got == Seq(("hello", 1L, 4L), ("help", 1L, 1L), ("jello", 2L, 2L)),
      got.toString)
  }

  test("BmpAHash.hash: hostile headers (negative/absurd dims) return 0, never loop") {
    def header(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](54)
      b(0) = 'B'; b(1) = 'M'
      def le32(pos: Int, v: Int): Unit =
        (0 until 4).foreach(i => b(pos + i) = ((v >> (8 * i)) & 0xFF).toByte)
      le32(10, 54); le32(18, w); le32(22, h)
      b
    }
    // top-down BMP: negative height read unsigned would be ~4e9 pixels
    assert(graft.functions.BmpAHash.hash(header(2, -7)) == 0L)
    assert(graft.functions.BmpAHash.hash(header(-1, 3)) == 0L)
    assert(graft.functions.BmpAHash.hash(header(1 << 20, 1 << 20)) == 0L)
    assert(graft.functions.BmpAHash.hash("notabmp".getBytes("US-ASCII")) == 0L)
  }

  test("proximitySearch: ordered pairs within slop; index equals the scan") {
    // slop 2 counts ordered pairs with j − i ∈ {1, 2}
    val corpus = Seq(
      (0L, "a x b b"),     // a@1; b@3 Δ2 in, b@4 Δ3 out → 1
      (1L, "a b a b"),     // a@1: b@2 Δ1, b@4 Δ3(out); a@3: b@4 Δ1 → 2
      (2L, "b x a"),       // b BEFORE a only — ordered search → 0 (absent)
      (3L, "a"),           // second term never occurs → absent
      (4L, "a a b")        // a@1: b@3 Δ2; a@2: b@3 Δ1 → 2
    ).toDF("doc_id", "text")
    val scan = TextAnalysis.proximitySearch(corpus, "a", "b", slop = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(scan == Seq((1L, 2L), (4L, 2L), (0L, 1L)), scan.toString)
    // index-accelerated path over a 2-batch store must agree exactly
    val dir = tmpDir("prox_index")
    val store = new graft.sink.TextIndexStore(dir)
    store.append(corpus.filter($"doc_id" < 2), batchId = 0L)
    store.append(corpus.filter($"doc_id" >= 2), batchId = 1L)
    val idx = store.proximitySearch(spark, "a", "b", slop = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(idx == scan, s"idx=$idx scan=$scan")
  }

  test("rrfFuse: exact integer fusion, missing-list docs contribute nothing") {
    val sparse = Seq((10L, 1L), (20L, 2L)).toDF("doc_id", "rank")
    val dense = Seq((20L, 1L), (30L, 2L)).toDF("doc_id", "rank")
    val fused = TextAnalysis.rrfFuse(Seq(sparse, dense), topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val c61 = 1000000000000L / 61 // rank 1
    val c62 = 1000000000000L / 62 // rank 2
    // doc 20 is rank 2 sparse + rank 1 dense; 10/30 appear in one list each
    assert(fused.toSeq == Seq((20L, c61 + c62), (10L, c61), (30L, c62)))
  }

  test("randomProject: basis vectors recover the exact plane weights") {
    val basis = (0 until 4).map { i =>
      (i.toLong, Seq.tabulate(4)(d => if (d == i) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val got = Similarity.randomProject(basis, outDim = 3, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == 12)
    for (i <- 0 until 4; j <- 0 until 3) {
      val expect = math.floor(Similarity.planeWeight(j, i) * 10000).toLong
      assert(got((i.toLong, j.toLong)) == expect, s"vec $i plane $j")
    }
  }

  test("annCoarseRerank: coarseK = corpus size degenerates to exact brute force") {
    val emb = Tables.embeddings(spark)
    val n = emb.count().toInt
    val queries = emb.filter($"vec_id" < 3)
    val brute = Similarity.annBruteForce(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2))).toSet
    // with every vector surviving the coarse stage, the rerank IS brute force
    val full = Similarity.annCoarseRerank(emb, queries, k = 3, coarseK = n,
        outDim = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(full == brute)
    // a tight coarse stage must still return k rows per query and find the
    // self-match (cos = 1) — separable fixture data
    val tight = Similarity.annCoarseRerank(emb, queries, k = 3, coarseK = 20,
        outDim = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tight.size == 9)
    (0L until 3L).foreach(q => assert(tight.contains((q, q)), s"query $q lost its self-match"))
  }

  test("tfidfPairs: df-cut drops head terms; weights are exact tf*idf") {
    val corpus = Seq(
      (0L, "zebra apple common"),
      (1L, "zebra banana common"),
      (2L, "apple banana common"),
      (3L, "solo")).toDF("doc_id", "text")
    // n_docs=4: zebra/apple/banana df=2 → idf = (1000*2) DIV 3 = 666;
    // common df=3 > maxDf=2 → dropped BEFORE the join (its idf would be
    // 250, so inclusion would visibly inflate every pair by 62500)
    val dots = TextAnalysis.tfidfPairs(corpus, minDot = 1L, maxDf = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDecimal(2).longValueExact()).toMap
    val w = 666L * 666L
    assert(dots == Map((0L, 1L) -> w, (0L, 2L) -> w, (1L, 2L) -> w), dots.toString)
    // raising the cut to 3 admits common: every pair gains exactly 250²
    val dots3 = TextAnalysis.tfidfPairs(corpus, minDot = 1L, maxDf = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDecimal(2).longValueExact()).toMap
    assert(dots3 == dots.map { case (k, v) => k -> (v + 250L * 250L) }, dots3.toString)
  }

  test("surprisal: exact bit costs, both tails ranked by the scaled mean") {
    // N = 8 tokens; c(a) = 6, c(b) = c(c) = 1
    // sur(a) = floor(log2(8/6)) = floor(log2(1)) = 0; sur(b) = sur(c) = 3
    val corpus = Seq(
      (0L, "a a a a"), // all common → mean 0 (the boilerplate tail)
      (1L, "a b"),     // one rare token → (0+3)*1000 DIV 2 = 1500
      (2L, "c a")      // same mean; tiebreak by doc_id
    ).toDF("doc_id", "text")
    val got = TextAnalysis.surprisal(corpus, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 3L, 1500L), (2L, 2L, 3L, 1500L),
      (0L, 4L, 0L, 0L)), got.toSeq.toString)
  }

  test("bigramSurprisal: conditional bit costs; sub-2-token docs drop out") {
    // bigrams: doc0 = (x,y),(y,x),(x,y),(y,x); doc1 = (x,y),(y,z)
    // c12(x,y)=3 c12(y,x)=2 c12(y,z)=1; c1(x)=3 c1(y)=3
    // sur(x,y)=floor(log2(3/3))=0; sur(y,x)=floor(log2(3 DIV 2))=0;
    // sur(y,z)=floor(log2(3))=1
    val corpus = Seq(
      (0L, "x y x y x"),
      (1L, "x y z"),
      (2L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramSurprisal(corpus, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc1: 2 bigrams, total 1, mean 500; doc0: 4 bigrams, total 0;
    // doc2 has no bigrams and is absent
    assert(got.toSeq == Seq((1L, 2L, 1L, 500L), (0L, 4L, 0L, 0L)), got.toSeq.toString)
  }

  test("mmrSelect: diversification flips the pick; lambda=1 is pure relevance") {
    // v1 ≈ the query, v2 a near-duplicate of v1, v3 genuinely different
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.995f, 0.0998f)),
      (3L, Seq(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val query = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // λ=0.3 weights diversity: after v1, the near-dup v2's max-sim penalty
    // (≈0.995) outweighs its relevance edge and v3 is picked second
    val diverse = Similarity.mmrSelect(corpus, query, candK = 3, selectK = 3, lamX10 = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(diverse.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)), diverse.toSeq.toString)
    // λ=1.0: zero diversity penalty — selection order IS the relevance order
    val pure = Similarity.mmrSelect(corpus, query, candK = 3, selectK = 3, lamX10 = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rel = Similarity.annBruteForce(corpus, query, 3)
      .collect().map(r => r.getLong(1))
    assert(pure.toSeq.map(_._2) == rel.toSeq, s"pure=${pure.toSeq} rel=${rel.toSeq}")
    // step-1 score is λ·rel with an empty-selection penalty of zero
    val step1 = Similarity.mmrSelect(corpus, query, candK = 3, selectK = 1, lamX10 = 3)
      .collect().head
    assert(step1.getDecimal(2) ==
      new java.math.BigDecimal("3.0000"), step1.getDecimal(2).toString)
  }

  test("phraseSearch: overlapping matches count, short docs gate out") {
    val corpus = Seq(
      (0L, "a a a"),        // overlapping starts: positions 1 and 2
      (1L, "a b a a b"),    // one occurrence
      (2L, "b a b"),        // tokens present, never adjacent in order
      (3L, "a"),            // shorter than the phrase — gated, no phantom
      (4L, "x a a y a a z") // two non-overlapping occurrences
    ).toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(corpus, Seq("a", "a"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 2L), (4L, 2L), (1L, 1L)), got.toSeq.toString)
    // a 3-token phrase through the same path
    val tri = TextAnalysis.phraseSearch(corpus, Seq("a", "a", "y"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tri.toSeq == Seq((4L, 1L)), tri.toSeq.toString)
  }

  test("hardNegatives: same-label rows (including the anchor) never surface") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), 0),   // same label as anchor — excluded at cos 1
      (2L, Seq(0.9f, 0.44f), 1),
      (3L, Seq(0.0f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val anchor = Seq((0L, Seq(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(corpus, anchor, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 2L), (0L, 3L)), got.toSeq.toString)
  }

  test("labelPrototypes: floored integer means (negatives included), exact inertia") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.5f, 0.0f), 0),
      (2L, Seq(-0.25f, 0.75f), 1),
      // -1025/4096 is float-exact; the label-2 mean -2049/2 exercises the
      // mode-free floor on a negative odd sum: floor(-1024.5) = -1025
      (3L, Seq(-0.25f, 0.0f), 2),
      (4L, Seq(-0.250244140625f, 0.0f), 2)).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelPrototypes(corpus)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // label 0: qv (4096,0) and (2048,0) → proto (3072,0); d2 = 1024² each
    assert(got(0L) == ((2L, 3072L, 2L * 1024L * 1024L)), got.toString)
    // label 1: singleton is its own prototype
    assert(got(1L) == ((1L, 2048L, 0L)), got.toString)
    // label 2: proto (-1025, 0); d2 = 1 + 0
    assert(got(2L) == ((2L, -1025L, 1L)), got.toString)
  }

  test("VectorIndexStore: batch splits are invisible; full probe = brute force; pruned reads") {
    val emb = Tables.embeddings(spark)
    val queries = emb.filter($"vec_id" < 3)
    val k = 4
    // one store ingested as a single batch, one as three — frozen centroids
    // make the accumulated state identical, so searches must agree exactly
    val oneDir = tmpDir("vindex_one") + "/s"
    val one = new graft.sink.VectorIndexStore(oneDir)
    one.init(emb, k = k, iters = 2)
    one.append(emb, batchId = 0L)
    val threeDir = tmpDir("vindex_three") + "/s"
    val three = new graft.sink.VectorIndexStore(threeDir)
    three.init(emb, k = k, iters = 2)
    for (b <- 0L until 3L) three.append(emb.filter(pmod($"vec_id", lit(3)) === b), b)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toString)).toSeq
    val rOne = res(one.search(spark, queries, k = 3, nProbe = 2))
    val rThree = res(three.search(spark, queries, k = 3, nProbe = 2))
    assert(rOne == rThree, s"one=$rOne three=$rThree")
    assert(rOne.size == 9)
    // probing every cell degenerates to exact brute force (set equality —
    // candidate order inside a tie band differs but ranks are pinned)
    val full = res(three.search(spark, queries, k = 3, nProbe = k))
    val brute = res(Similarity.annBruteForce(emb, queries, 3))
    assert(full.toSet == brute.toSet, s"full=$full brute=$brute")
    // partition pruning is real: a 1-cell probe LISTS every committed file
    // (inputFiles is pre-pruning) but READS only the probed cell's files —
    // scan metrics are the ground truth (AQE off so the executed plan's
    // leaves are the scans themselves)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val narrowDf = three.search(spark, queries.limit(1), k = 3, nProbe = 1)
      narrowDf.collect()
      val readFiles = narrowDf.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("/vectors")) =>
          f.metrics("numFiles").value
      }.sum
      val allFiles = narrowDf.inputFiles.count(_.contains("/vectors/"))
      // 3 batches × k cells of committed files; a 1-cell probe reads ≤ 3
      assert(readFiles > 0 && readFiles < allFiles,
        s"probed scan read $readFiles of $allFiles files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // replayed append (crash recovery): identical content, identical results
    three.append(emb.filter(pmod($"vec_id", lit(3)) === 2L), 2L)
    assert(res(three.search(spark, queries, k = 3, nProbe = 2)) == rThree)
  }

  test("VectorIndexStore.cellHistogram: counts tile the corpus, balance exact") {
    val emb = Tables.embeddings(spark)
    val dir = tmpDir("vindex_hist") + "/s"
    val store = new graft.sink.VectorIndexStore(dir)
    store.init(emb, k = 4, iters = 2)
    store.append(emb.filter(pmod($"vec_id", lit(2)) === 0L), 0L)
    store.append(emb.filter(pmod($"vec_id", lit(2)) === 1L), 1L)
    val got = store.cellHistogram(spark)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val total = emb.count()
    assert(got.values.map(_._1).sum == total, got.toString)
    val k = got.size.toLong
    for ((_, (n, hot)) <- got) assert(hot == n * k * 1000 / total)
  }

  test("VectorIndexStore filtered ANN: predicate pre-rerank, pushed to the scan") {
    val emb = Tables.embeddings(spark)
    val queries = emb.filter($"vec_id" < 3)
    val dir = tmpDir("vindex_filter") + "/s"
    val store = new graft.sink.VectorIndexStore(dir)
    store.init(emb, k = 4, iters = 2)
    store.append(emb, batchId = 0L)
    // full probe + filter ≡ brute force over the label-restricted corpus
    val got = store.search(spark, queries, k = 3, nProbe = 4,
        candidateFilter = Some($"label" === 2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toString)).toSet
    val brute = Similarity.annBruteForce(emb.filter($"label" === 2), queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toString)).toSet
    assert(got == brute, s"got=$got brute=$brute")
    assert(got.nonEmpty)
    // the payload predicate reaches the parquet reader as a pushed filter
    val p = store.search(spark, queries, k = 3, nProbe = 2,
        candidateFilter = Some($"label" === 2))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters:") && l.contains("label")), p)
  }

  test("annRecall: hit counts equal the brute∩LSH overlap; zero-overlap reports 0") {
    val emb = Tables.embeddings(spark)
    val queries = emb.filter($"vec_id" < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.annBruteForce(emb, queries, 10).select("q_id", "n_id"))
    val lsh = pairs(Similarity.annLsh(emb, queries, 10, dim = 64, nPlanes = 4)
      .select("q_id", "n_id"))
    val got = Similarity.annRecall(emb, queries, k = 10, dim = 64, nPlanes = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L))
    for ((q, (h, k, rec)) <- got) {
      val expect = (brute & lsh).count(_._1 == q).toLong
      assert(h == expect, s"q=$q got=$h expect=$expect")
      assert(k == 10L && rec == h * 1000 / 10)
    }
  }

  test("truncationRecall: full-dim truncation is the identity (recall 1000)") {
    val emb = Tables.embeddings(spark)
    val queries = emb.filter($"vec_id" < 5)
    val full = Similarity.truncationRecall(emb, queries, k = 10, dims = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(full.values.forall(_ == 1000L), full.toString)
    // a 16-dim prefix loses information: recall in [0, 1000], and the hit
    // count matches an independent overlap recomputation
    val got = Similarity.truncationRecall(emb, queries, k = 10, dims = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.annBruteForce(emb, queries, 10).select("q_id", "n_id"))
    val tr16 = pairs(Similarity.annBruteForce(
      emb.withColumn("e16", slice($"embedding", 1, 16)),
      queries.withColumn("e16", slice($"embedding", 1, 16)), 10, embCol = "e16")
      .select("q_id", "n_id"))
    for ((q, h) <- got)
      assert(h == (truth & tr16).count(_._1 == q).toLong, s"q=$q")
  }

  test("duplicateSpans: diagonal runs find the longest shared span; dfCap excises") {
    // doc0..doc1 share the 4-token run "p q r s" (= three consecutive
    // 2-shingles on diagonal -1); doc0..doc2 share "r s t" (run 2);
    // doc1..doc2 share only the single shingle "r s" (span 2)
    val corpus = Seq(
      (0L, "p q r s t"),
      (1L, "x p q r s y"),
      (2L, "r s t u")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(corpus, k = 2, dfCap = 20, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 1L, 4L, 1L), (0L, 2L, 3L, 1L), (1L, 2L, 2L, 1L)),
      got.toSeq.toString)
    // dfCap = 2: "r s" occurs in all three docs and is excised as
    // boilerplate — the (0,1) span shrinks to "p q r" and (1,2) vanishes
    val capped = Dedup.duplicateSpans(corpus, k = 2, dfCap = 2, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(capped.toSeq == Seq((0L, 1L, 3L), (0L, 2L, 2L)), capped.toSeq.toString)
  }

  test("mutualKnnGraph: only mutual top-k pairs survive (hub edges dropped)") {
    // k=1: knn(1)=2, knn(2)=1 (mutual); knn(3)=2 but knn(2)≠3 — the
    // one-directional hub edge (2,3) must NOT appear
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.95f, 0.31f)),
      (3L, Seq(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val got = Similarity.mutualKnnGraph(corpus, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)), got.toSeq.toString)
    // k=2 on three vectors: every knn list holds both others — all three
    // edges are mutual
    val full = Similarity.mutualKnnGraph(corpus, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == Set((1L, 2L), (1L, 3L), (2L, 3L)), full.toString)
  }

  test("nbSourceConfusion: exact smoothed bit costs; ties to the smallest source") {
    // V=3, N_srcA=6 (+V=9), N_srcB=4 (+V=7)
    // srcA: c(a)=3 c(b)=3 → cost 9 DIV 4 = 2 → 1 bit; c(c)=0 → 9 → 3 bits
    // srcB: c(c)=3 → 7 DIV 4 → 0 bits; c(b)=1 → 7 DIV 2 → 1; c(a)=0 → 7 → 2
    // "b b": srcA 2 bits = srcB 2 bits → tie → lexicographically srcA
    val corpus = Seq(
      (0L, "a a", "srcA"), (1L, "a b", "srcA"), (2L, "b b", "srcA"),
      (3L, "c c", "srcB"), (4L, "c b", "srcB")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.nbSourceConfusion(corpus)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("srcA", "srcA", 3L), ("srcB", "srcB", 2L)), got.toString)
  }

  test("bmpAHash: hand-computed bits on 2x2; JDK-decoded replication on padded widths") {
    graft.functions.GraftFunctions.register(spark)
    // 2x2 seed 0: gray (file order, bottom-up rows) = [3, 4, 0, 1],
    // mean = 8 DIV 4 = 2 → bits 1,1,0,0 → ahash = 1 + 2 = 3
    val tiny = Seq((2, 2, 0L)).toDF("w", "h", "seed")
      .select(Multimodal.bmpAHash(Multimodal.encodeBmp($"w", $"h", $"seed")).as("ah"))
      .collect().head.getLong(0)
    assert(tiny == 3L, tiny.toString)
    // independent replication: decode with the JDK's BMP reader, recompute
    // gray/mean/bit-packing in plain Scala — exercises stride padding
    // (w=1..5) and the 63-bit cap (12x7 = 84 pixels > 63); the codegen
    // expression and the builtin-HOF composition must agree bit-for-bit
    val cases = for (w <- 1 to 5; h <- Seq(1, 3)) yield (w, h, 17L * w + h)
    val all = (cases :+ ((12, 7, 42L))).toDF("w", "h", "seed")
      .select($"w", $"h", $"seed",
        Multimodal.encodeBmp($"w", $"h", $"seed").as("media"))
      .withColumn("ah", Multimodal.bmpAHash($"media"))
      .withColumn("ahHof", Multimodal.bmpAHashHof($"media"))
      .collect()
    for (r <- all)
      assert(r.getAs[Long]("ah") == r.getAs[Long]("ahHof"),
        s"codegen vs HOF at ${r.getInt(0)}x${r.getInt(1)}")
    for (r <- all) {
      val (w, h) = (r.getInt(0), r.getInt(1))
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("media")))
      // file order: bottom-up rows → image y = h-1-fileRow
      val gray = for (fr <- 0 until h; x <- 0 until w) yield {
        val rgb = img.getRGB(x, h - 1 - fr)
        (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
      }
      val mean = gray.sum / gray.size
      val expect = gray.take(math.min(gray.size, 63)).zipWithIndex
        .map { case (g, i) => if (g > mean) 1L << i else 0L }.sum
      assert(r.getAs[Long]("ah") == expect, s"${w}x$h")
    }
  }
}
