package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.types.UdtMapper

/** Property-based coverage (SURVEY §5.3): the R3 calculated-field round
  * trip, udt-mapper totality, and upsert order-invariance (the latter also
  * exercised with concrete batch orders in SnapshotParquetSinkSpec).
  */
class PropertySpec extends SparkSpec {

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  private val tableName =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).suchThat(_.nonEmpty)

  test("R3 round-trip: regexp_replace(x || '_part_' || n, suffix, '') == x") {
    check(Prop.forAll(tableName, Gen.choose(0, 9999)) { (name, n) =>
      // holds unless the base name itself ends in _part_N — exactly the
      // reference's documented stripping semantics
      name.matches(".*_part_[0-9]+$") ||
        s"${name}_part_$n".replaceAll("_part_[0-9]+$", "") == name
    })
  }

  test("R3 round-trip holds through the engine expression too") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val names = Seq("orders", "a", "x_part_y", "t2", "part", "audit_log")
    val df = names.zipWithIndex.toDF("name", "shard")
    val out = df.select(col("name"),
        regexp_replace(concat(col("name"), lit("_part_"), col("shard")),
          "_part_[0-9]+$", "").as("rt")).collect()
    out.foreach(r => assert(r.getString(1) == r.getString(0), r))
  }

  test("udt mapper is total: any string maps, arrays always variant, flags consistent") {
    check(Prop.forAll(Gen.alphaStr, Gen.oneOf(true, false)) { (udt, arr) =>
      val raw = if (arr) "_" + udt else udt
      val m = UdtMapper.map(raw)
      m.isArray == raw.startsWith("_") &&
        (!m.isArray || (m.dbType == "DbVariant" && m.logicalType.endsWith("[]") && !m.isDate)) &&
        Set("DbBigInt", "DbDouble", "DbString", "DbBoolean", "DbTimestamp", "DbDate", "DbVariant")
          .contains(m.dbType) &&
        m.isDate == (m.dbType == "DbDate")
    })
  }

  test("splitHash maps any id range onto well-spread percent buckets") {
    import org.apache.spark.sql.functions._
    // strided ids are exactly the adversarial input for the naive
    // (id*K) % 100 formulation — every bucket must still be hit
    for (stride <- Seq(1L, 100L, 1000L)) {
      val ids = spark.range(0, 10000).select((col("id") * stride).as("doc_id"))
      val buckets = ids.select(graft.llm.TextAnalysis.splitHash(col("doc_id")).as("h"))
        .groupBy("h").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(buckets.size == 100, s"stride $stride hit only ${buckets.size} buckets")
      assert(buckets.values.max <= 300 && buckets.values.min >= 20,
        s"stride $stride skew: min=${buckets.values.min} max=${buckets.values.max}")
    }
  }

  test("scd2 intervals tile the per-key event sequence") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gen = Gen.listOfN(40, for {
      key <- Gen.choose(0, 5)
      del <- Gen.prob(0.2)
    } yield (key.toString, del))
    check(Prop.forAll(gen) { events =>
      val numbered = events.zipWithIndex.map { case ((k, d), i) => (k, i.toLong, d) }
      val df = numbered.toDF("primary_key", "seq", "is_delete")
      val scd = graft.cdc.CdcPipeline.scd2(df, Seq("primary_key"))
        .select("primary_key", "valid_from_seq", "valid_to_seq", "is_current").collect()
        .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_ => r.getLong(2)),
          r.getBoolean(3)))
      val byKey = scd.groupBy(_._1)
      byKey.forall { case (k, versions) =>
        val allEvents = numbered.filter(_._1 == k).map(_._2).sorted
        val sortedV = versions.sortBy(_._2)
        // each version closes at the NEXT event on the key (any kind);
        // at most one open (is_current) version, and only as the last one
        sortedV.zipWithIndex.forall { case ((_, from, to, current), i) =>
          val nextEvent = allEvents.find(_ > from)
          to == nextEvent && current == to.isEmpty
        } && sortedV.count(_._4) <= 1
      }
    })
  }

  test("last-write-wins is permutation-invariant (CdcPipeline.latest)") {
    import spark.implicits._
    // scalacheck generates the event set; Spark round-trips a shuffle of it
    val gen = Gen.listOfN(12, Gen.zip(Gen.choose(0, 3), Gen.choose(0, 100)))
    val samples = Iterator.continually(gen.sample).flatten.take(8).toSeq
    for (pairs <- samples if pairs.nonEmpty) {
      val events = pairs.zipWithIndex.map { case ((k, v), seq) => (k.toString, seq.toLong, v) }
      val expected = events.groupBy(_._1).view.mapValues(_.maxBy(_._2)._3).toMap
      val shuffled = scala.util.Random.shuffle(events)
      val got = graft.cdc.CdcPipeline
        .latest(shuffled.toDF("primary_key", "seq", "v"), Seq("primary_key"))
        .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
      assert(got == expected, s"events: $events")
    }
  }

  test("bounded top-k aggregator equals the window formulation on random groups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val gen = Gen.listOfN(60, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 9L), Gen.choose(0L, 500L)))
    val rows = Iterator.continually(gen.sample).flatten.take(1).next()
      .zipWithIndex.map { case ((g, v, _), i) => (g, v, i.toLong) } // unique tie ids
    val df = rows.toDF("g", "v", "tie").repartition(7)
    val got = graft.engine.TopKAggregator.topKPerGroup(df, "g", col("v"), col("tie"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = rows.groupBy(_._1).flatMap { case (g, es) =>
      es.map(e => (e._2, e._3)).sortBy { case (v, t) => (-v, t) }.take(3)
        .map { case (v, t) => (g, v, t) }
    }.toSet
    assert(got == expected)
  }

  test("z-order interleave matches the bit-math reference on random coordinates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ref(a: Long, b: Long): Long =
      (0 until 10).map(j => (((a >> j) & 1L) << (2 * j)) | (((b >> j) & 1L) << (2 * j + 1)))
        .reduce(_ | _)
    assert(ref(5L, 3L) == 27L) // 101 ⋈ 011 = 011011
    val gen = Gen.zip(Gen.choose(0L, 1023L), Gen.choose(0L, 1023L))
    val pairs = (Iterator.continually(gen.sample).flatten.take(40).toSeq ++
      Seq((0L, 0L), (1023L, 1023L), (512L, 1L))).distinct
    val got = pairs.toDF("x", "y")
      .withColumn("z", graft.engine.ZOrder.interleave2(col("x"), col("y"), 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (x, y) => assert(got((x, y)) == ref(x, y), s"($x, $y)") }
    // injectivity over the sampled set (interleaving is a bijection)
    assert(got.values.toSeq.distinct.size == pairs.size)
  }

  test("chunkWithOverlap: full coverage, stride-aligned starts, tail truncation — random docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random token counts, incl. the 1-token edge
    val lens = Seq(1, 2, 47, 48, 49, 63, 64, 65, 96, 97, 113, 200)
    val docs = lens.zipWithIndex
      .map { case (n, i) => (i.toLong, (0 until n).map(k => s"t$k").mkString(" ")) }
      .toDF("doc_id", "text")
    val chunks = graft.llm.TextAnalysis
      .chunkWithOverlap(docs, chunkTokens = 64, strideTokens = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    lens.zipWithIndex.foreach { case (n, i) =>
      val cs = chunks(i.toLong).sortBy(_._2)
      // starts are 0, 48, 96, ... and every start is < n
      assert(cs.map(_._3).toSeq == cs.indices.map(_ * 48L), s"doc $i")
      assert(cs.forall(c => c._3 < n), s"doc $i start beyond end")
      // full coverage: union of [start, start+n_toks) is [0, n)
      val covered = cs.flatMap(c => c._3 until (c._3 + c._4)).toSet
      assert(covered == (0L until n.toLong).toSet, s"doc $i coverage")
      // every chunk truncates at the document end: length = min(64, n − start)
      assert(cs.forall(c => c._4 == math.min(64L, n - c._3)), s"doc $i chunk lengths")
    }
  }

  test("exactQuantiles parity with sorted order statistics on adversarial distributions") {
    import spark.implicits._
    val qs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val rng = new scala.util.Random(7)
    // constant column, two-point mass, heavy duplicates, skewed tail, tiny n
    val cases: Seq[Seq[Long]] = Seq(
      Seq.fill(500)(42L),
      Seq.fill(300)(1L) ++ Seq.fill(200)(2L),
      (0 until 1000).map(_ => rng.nextInt(5).toLong),
      (0 until 1000).map(i => if (i % 100 == 0) 1000000L + i else i.toLong % 50),
      Seq(9L),
      Seq(3L, 1L))
    cases.zipWithIndex.foreach { case (vals, ci) =>
      val sorted = vals.sorted
      val got = graft.engine.Ranking.exactQuantiles(vals.toDF("v"),
        org.apache.spark.sql.functions.col("v"), qs).map(_.get.asInstanceOf[Long])
      qs.zip(got).foreach { case (q, g) =>
        val want = sorted(math.floor((vals.size - 1) * q).toInt)
        assert(g == want, s"case $ci q=$q: got $g want $want")
      }
    }
  }

  test("capBuckets invariants: kept-bucket sizes bounded, report partitions the input") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(11)
    val rows = (0 until 2000).map { i =>
      // Zipf-ish bucket assignment: bucket 0 hot, tail sparse
      val b = if (rng.nextInt(4) == 0) 0L else rng.nextInt(200).toLong
      (i.toLong, b)
    }.toDF("doc_id", "bucket")
    for (cap <- Seq(2, 5, 25, 1000)) {
      val (kept, report) = graft.llm.Dedup.capBuckets(rows, Seq("bucket"), cap)
      val sizes = kept.groupBy("bucket").count().collect().map(_.getLong(1))
      assert(sizes.forall(_ <= cap), s"cap=$cap leaked a hot bucket")
      // dropped rows + kept rows account for every input row
      assert(report.droppedRows + kept.count() == 2000, s"cap=$cap report mismatch")
      assert(report.clean == (report.droppedBuckets == 0L))
      // monotonicity: a bucket over the cap is exactly one the input had over it
      val hotInput = rows.groupBy("bucket").count().filter(col("count") > cap).count()
      assert(report.droppedBuckets == hotInput)
    }
  }

  test("semanticDedup invariant: dropped <=> some lower-id cellmate above threshold") {
    import spark.implicits._
    // deterministic pseudo-random corpus with planted duplicate pairs so
    // both verdict branches are exercised
    val rng = new scala.util.Random(7)
    val base = (0 until 60).map(i => (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1)))
    val dups = (0 until 10).map(i => (100L + i, base(i)._2)) // exact copies
    val all = base ++ dups
    val df = all.toDF("vec_id", "embedding")
    val verdict = graft.llm.Dedup.semanticDedup(df, k = 4, iters = 2, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(verdict.length == all.length)
    // recompute the rule independently: cell from the returned assignment,
    // cosine from scratch on the driver
    val cellOf = verdict.map(v => v._1 -> v._2).toMap
    val vecOf = all.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    verdict.foreach { case (id, cell, kept) =>
      val hasLowerDup = all.exists { case (o, v) =>
        o < id && cellOf(o) == cell && cos(v, vecOf(id)) >= 0.95
      }
      assert(kept == !hasLowerDup, s"vec $id: kept=$kept but lower-dup=$hasLowerDup")
    }
    // the planted copies actually exercised the drop branch
    assert(verdict.count(!_._3) >= 10)
  }

  test("spanDedup parity with brute force on pseudo-random small corpora") {
    import spark.implicits._
    // deterministic corpus with engineered overlaps: token vocab of 6, so
    // 3-spans repeat across docs by construction
    val rng = new scala.util.Random(42)
    val docs = (0 until 20).map { i =>
      (i.toLong, (0 until 8 + rng.nextInt(8)).map(_ => s"w${rng.nextInt(6)}").mkString(" "))
    }
    val got = graft.llm.Dedup.spanDedup(docs.toDF("doc_id", "text"), k = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val spansByDoc = docs.map { case (id, text) =>
      id -> text.split(" ").sliding(3).map(_.mkString(" ")).toSet
    }
    val brute = spansByDoc.flatMap { case (id, spans) => spans.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2))
      .filter(_._2.size >= 2)
      .map { case (sp, ids) => sp -> ((ids.size.toLong, ids.min, ids.max)) }.toMap
    assert(got == brute)
    assert(brute.nonEmpty, "fixture must actually produce shared spans")
  }

  test("duplicateSpans parity with longest-common-substring brute force") {
    import spark.implicits._
    // small vocab forces cross-doc overlaps; dfCap high so nothing is excised
    val rng = new scala.util.Random(7)
    val docs = (0 until 12).map { i =>
      (i.toLong, (0 until 6 + rng.nextInt(10)).map(_ => s"w${rng.nextInt(4)}").mkString(" "))
    }
    val k = 2
    val got = graft.llm.Dedup
      .duplicateSpans(docs.toDF("doc_id", "text"), k = k, dfCap = 1000, topN = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // token-level longest common substring per pair, classic DP
    def lcs(a: Array[String], b: Array[String]): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      var best = 0
      for (i <- 1 to a.length; j <- 1 to b.length)
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          best = math.max(best, dp(i)(j))
        }
      best
    }
    val toks = docs.map { case (id, t) => id -> t.split(" ") }.toMap
    val brute = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      l = lcs(toks(a), toks(b)) if l >= k
    } yield (a, b) -> l.toLong).toMap
    assert(got == brute, s"got=$got brute=$brute")
    assert(brute.nonEmpty, "fixture must actually produce shared spans")
  }

  test("nbSourceConfusion conserves documents; predictions stay in the label set") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val srcs = Seq("alpha", "beta", "gamma")
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until 3 + rng.nextInt(6)).map(_ => s"t${rng.nextInt(8)}").mkString(" "),
        srcs(rng.nextInt(3)))
    }
    val got = graft.llm.TextAnalysis.nbSourceConfusion(docs.toDF("doc_id", "text", "source"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._3).sum == docs.size.toLong, got.toSeq.toString)
    assert(got.forall(g => srcs.contains(g._1) && srcs.contains(g._2)), got.toSeq.toString)
    // per-actual marginals match the corpus label counts
    val marginal = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val expect = docs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    assert(marginal == expect, s"marginal=$marginal expect=$expect")
  }

  test("proximitySearch parity with the pairwise brute count on random docs") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val docs = (0 until 25).map { i =>
      (i.toLong, (0 until 4 + rng.nextInt(12)).map(_ => s"v${rng.nextInt(3)}").mkString(" "))
    }
    val slop = 3
    val got = graft.llm.TextAnalysis
      .proximitySearch(docs.toDF("doc_id", "text"), "v0", "v1", slop = slop, k = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = docs.map { case (id, t) =>
      val ts = t.split(" ")
      id -> (for {
        i <- ts.indices if ts(i) == "v0"
        j <- (i + 1) to math.min(i + slop, ts.length - 1) if ts(j) == "v1"
      } yield 1).size.toLong
    }.filter(_._2 > 0).toMap
    assert(got == brute, s"got=$got brute=$brute")
    assert(brute.nonEmpty)
  }

  test("fimTransform: PSM reassembly is lossless on random docs") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val docs = (0 until 40).map { i =>
      (i.toLong, rng.alphanumeric.take(rng.nextInt(30)).mkString) // incl. empty
    }
    val got = graft.llm.TextAnalysis
      .fimTransform(docs.toDF("doc_id", "text"), preTag = "", sufTag = "",
        midTag = "")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    val byId = docs.toMap
    for ((id, fim, np, nm, ns) <- got) {
      val text = byId(id)
      assert(np + nm + ns == text.length.toLong, s"doc $id lengths")
      // parse <PRE>P<SUF>S<MID>M with sentinel tags the corpus can't contain
      val body = fim.drop(1)
      val (p, rest) = body.splitAt(body.indexOf(''))
      val (s2, m) = rest.drop(1).splitAt(rest.drop(1).indexOf(''))
      assert(p + m.drop(1) + s2 == text, s"doc $id reassembly")
    }
  }

  test("mixBudget: floor budget is tight, never oversamples, replayable") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val srcs = Seq("a", "b", "c")
    val shares = Map("a" -> 500L, "b" -> 300L, "c" -> 200L)
    val docs = (0 until 200).map(i => (i.toLong, srcs(rng.nextInt(3))))
    val got = graft.llm.TextAnalysis
      .mixBudget(docs.toDF("doc_id", "source"), shares, labelCol = "source")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(4)))
      .toMap
    val cnt = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val t = srcs.map(s => cnt(s) * 1000 / shares(s)).min
    for (s <- srcs) {
      val (c, take, rate) = got(s)
      assert(c == cnt(s))
      assert(take == shares(s) * t / 1000, s"src $s take")
      assert(take <= c, s"src $s oversampled")
      assert(rate == take * 1000 / c && rate <= 1000)
    }
    // the binding source is fully (or near-fully, modulo flooring) consumed
    val binding = srcs.minBy(s => cnt(s) * 1000 / shares(s))
    assert(got(binding)._2 >= cnt(binding) - 1, s"budget not tight at $binding")
    // a DECLARED source with zero documents makes the mixture unachievable:
    // it must surface with cnt=0 and clamp every take (and rate) to 0, not
    // silently drop out of the join
    val withAbsent = graft.llm.TextAnalysis
      .mixBudget(docs.toDF("doc_id", "source"),
        Map("a" -> 400L, "b" -> 300L, "c" -> 200L, "zzz" -> 100L),
        labelCol = "source")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(4)))
      .toMap
    assert(withAbsent.keySet == Set("a", "b", "c", "zzz"))
    assert(withAbsent("zzz") == ((0L, 0L, 0L)))
    for (s <- srcs) assert(withAbsent(s) == ((cnt(s), 0L, 0L)), s"src $s must clamp to 0")
  }

  test("isqrtSql: exact floor(sqrt) including perfect-square boundaries") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // adversarial set WITHIN the documented [0, 2^62) domain: perfect
    // squares and their neighbors, where the double estimate is most
    // likely off by one (2147483647 = the largest root whose square stays
    // under 2^62; beyond the domain the correction squares would overflow)
    val xs = (Seq(0L, 1L, 2L, 3L) ++
      Seq(10L, 1000L, 1000000L, 2147483647L).flatMap { r =>
        Seq(r * r - 1, r * r, r * r + 1)
      } ++ Seq((1L << 62) - 1)).distinct
    val got = xs.toDF("x")
      .selectExpr("x", graft.llm.TextAnalysis.isqrtSql("x") + " AS s")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    xs.foreach { x =>
      val s = BigInt(got(x))
      assert(s * s <= x && (s + 1) * (s + 1) > x, s"isqrt($x) = $s not floor(sqrt)")
    }
  }

  test("mixTemperature: sqrt-flattened shares, never oversamples, deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // skewed strata: 400 / 100 / 25 docs -> isqrt weights 20 / 10 / 5
    val docs = ((0 until 400).map(i => (i.toLong, "big")) ++
      (400 until 500).map(i => (i.toLong, "mid")) ++
      (500 until 525).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val kept = graft.llm.TextAnalysis.mixTemperature(docs, "source")
    val byS = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // scale = min(400/20, 100/10, 25/5) = 5 -> keeps 100 / 50 / 25
    assert(byS == Map("big" -> 100L, "mid" -> 50L, "small" -> 25L))
    // flattening: realized shares 4:2:1 vs raw 16:4:1 — tail lifted
    assert(byS("big") <= 400 && byS("mid") <= 100 && byS("small") <= 25)
    // deterministic: identical id set across reruns
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = graft.llm.TextAnalysis.mixTemperature(docs, "source")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("prefixJaccardJoin: exact — equals the brute-force threshold join") {
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 60)
    val got = graft.llm.Dedup.prefixJaccardJoin(docs, num = 1L, den = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: token-level all-pairs with the same rational threshold
    val brute = graft.llm.Dedup.jaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"prefix join missed ${brute -- got}, extra ${got -- brute}")
    // and the verified ratios really clear the threshold
    graft.llm.Dedup.prefixJaccardJoin(docs, 1L, 2L).collect().foreach { r =>
      assert(r.getLong(2) * 2 >= r.getLong(3), s"pair below threshold: $r")
    }
  }

  test("lshCalibration: bounded buckets, inter <= union, pair count conserved") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 80)
    graft.llm.Dedup.lshCalibration(docs) { curve =>
      val rows = curve.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.nonEmpty)
      rows.foreach { case (agree, n, si, su) =>
        assert(agree >= 0 && agree <= graft.llm.Dedup.NumHashes)
        assert(n > 0 && si >= 0 && si <= su, s"bucket $agree: inter $si > union $su")
      }
      // the curve covers exactly the LSH candidate pairs
      val nPairs = graft.llm.Dedup.minhashLsh(docs, dictionary = true)(_.count())
      assert(rows.map(_._2).sum == nPairs)
    }
  }

  test("saltFactorFor: bounded, balanced-is-1, hot-key coverage, monotone") {
    import graft.engine.Skew.saltFactorFor
    val counts = Gen.choose(0L, 1000000L)
    check(Prop.forAll(counts, counts, counts, Gen.choose(1, 64)) {
      (nRows, nKeys, maxCnt, cap) =>
        val f = saltFactorFor(nRows, nKeys, maxCnt, cap)
        val avg = if (nKeys == 0) 0L else math.max(1L, nRows / nKeys)
        val degenerate = nRows == 0 || nKeys == 0 || maxCnt == 0
        // always within [1, cap]
        f >= 1 && f <= math.max(1, cap) &&
        // degenerate or balanced input never salts
        (!(degenerate || (!degenerate && maxCnt <= avg)) || f == 1) &&
        // the factor levels the hot key to ~avg load, unless capped
        (degenerate || f == cap || f.toLong * avg >= maxCnt) &&
        // more skew never yields a smaller factor (monotone in maxCnt)
        (degenerate || maxCnt == 0 ||
          saltFactorFor(nRows, nKeys, math.min(maxCnt * 2, Long.MaxValue / 2), cap) >= f)
    })
  }

  private def checkFew(p: Prop): Unit = {
    // Spark-action-per-sample properties: fewer samples, same shrinking
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(r.passed, r.status.toString)
  }

  test("rrfFuse parity with the closed form; list order never matters") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    // two candidate lists over a small id space, distinct ids, 1-based ranks
    val ranking = Gen.choose(1, 6).flatMap(n =>
      Gen.pick(n, 0L to 9L).map(_.toSeq.zipWithIndex.map { case (id, i) => (id, i + 1L) }))
    checkFew(Prop.forAll(ranking, ranking) { (a, b) =>
      val fused = TextAnalysis.rrfFuse(
          Seq(a.toDF("doc_id", "rank"), b.toDF("doc_id", "rank")), topK = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val swapped = TextAnalysis.rrfFuse(
          Seq(b.toDF("doc_id", "rank"), a.toDF("doc_id", "rank")), topK = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = (a ++ b).groupBy(_._1).map { case (id, rs) =>
        id -> rs.map { case (_, rank) => 1000000000000L / (60L + rank) }.sum
      }
      fused == expect && swapped == expect
    })
  }

  test("tfidfPairs parity with a brute-force reference on random corpora") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val doc = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.choose(3, 6).flatMap(n => Gen.listOfN(n, doc))
    checkFew(Prop.forAll(corpus, Gen.choose(1L, 5L)) { (docs, maxDf) =>
      // shrinking escapes the generator's domain toward empty/whitespace
      // strings, where JVM split() (drops trailing empties) and Spark
      // split() (keeps them) legitimately disagree — not the property
      val wellFormed = docs.nonEmpty && docs.forall(_.matches("[a-z]+( [a-z]+)*"))
      Prop.propBoolean(wellFormed) ==> {
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = TextAnalysis.tfidfPairs(df, minDot = 1L, maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDecimal(2).longValueExact()).toMap
      // brute force with the same integer idf: (1000*(N-df)) DIV (df+1)
      val n = docs.size.toLong
      val tf = docs.zipWithIndex.flatMap { case (t, i) =>
        t.split(" ").groupBy(identity).map { case (w, os) => ((i.toLong, w), os.length.toLong) }
      }.toMap
      val dfreq = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
      // Seq, not Map: a Map comprehension collapses same-(i,j) entries and
      // silently drops every shared term after the first
      val w = tf.toSeq.collect { case ((id, t), f) if dfreq(t) <= maxDf =>
        (id, t) -> f * (1000L * (n - dfreq(t)) / (dfreq(t) + 1)) }
      val expect = (for {
        ((i, t), wi) <- w; ((j, t2), wj) <- w if t2 == t && i < j
      } yield ((i, j), wi * wj)).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).sum }.filter(_._2 >= 1L)
      Prop(got == expect)
      }
    })
  }

  test("randomProject recovers exact scaled plane weights on sparse vectors") {
    import spark.implicits._
    import graft.llm.Similarity
    val gen = for {
      dimIdx <- Gen.choose(0, 7)
      s <- Gen.choose(-100, 100)
    } yield (dimIdx, s)
    checkFew(Prop.forAll(gen) { case (dimIdx, s) =>
      val v = Seq.tabulate(8)(d => if (d == dimIdx) s.toFloat else 0.0f)
      val got = Similarity.randomProject(Seq((0L, v)).toDF("vec_id", "embedding"),
          outDim = 2, dim = 8)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      // single nonzero entry: the fold is s·w plus exact zero terms, so the
      // engine's double op sequence is reproducible literally
      (0 until 2).forall { p =>
        got(p.toLong) ==
          math.floor((s.toDouble * Similarity.planeWeight(p, dimIdx)) * 10000).toLong
      }
    })
  }
}
