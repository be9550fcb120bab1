package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Dedup, Ivf, MinHashAggregator, Similarity}

/** `llm_corpus`: the LLM-data operators, with no commits. Steps cycle
  * through one corpus shard's duplicate-span mining (op3), one `Ivf.train`
  * (op4) and a batch of ANN queries through `Ivf.search` (op2), and the
  * same shard's MinHash-LSH dedup (op: candidates, connected components,
  * the dedup verdict). Planted truth makes quality a metric: a speed-up
  * that loses recall shows, and recall below a floor fails the run.
  */
final class LlmCorpus(seed: Long, seconds: Double, scale: Double) extends Workload {
  private val docsPerShard = math.max(200, (3000 * scale).toInt)
  // shard 0 warms the pipeline during set-up; each round takes one shard
  override val roundS = 12.5
  private val nShards = Main.rounds(seconds, roundS) + 1
  private val corpusGen = new CorpusGen(seed, docsPerShard, nShards)
  // every ANN step runs the same query batch, so brute force runs once
  private val embGen = new EmbeddingGen(seed, corpusSize = math.max(1000, (5000 * scale).toInt),
    nQueries = math.max(10, (100 * scale).toInt))
  // ~70 vectors per cell at every scale, so a small run's recall matches a
  // full one's (with sqrt(n) cells a 1,000-vector corpus had 32 per cell
  // and recall@10 fell from ~0.98 to ~0.83)
  private val nCells = math.max(4, embGen.corpus.length / 70)
  private val nProbe = math.max(2, nCells / 10)
  private val k = 10
  /** Pairs with estimated Jaccard at or above this become dedup edges. */
  private val threshold = 0.7
  /** Recall floors that catch a collapse, below what every seed measured
    * (dedup ~0.78 at full scale and ~0.9 at the tests' scale; ANN
    * recall@10 ~0.98 and ~0.9). The quality metrics catch smaller drops.
    */
  private val minDedupRecall = 0.6
  private val minAnnRecall = 0.8
  override val probePairs = 3
  private val searchesPerTrain = 3
  private var inputs: File = _
  private var next = 0

  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val embSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Neighbour ids per query of every ANN step, for recall. */
  private val annResults = mutable.ArrayBuffer.empty[Map[Long, Set[Long]]]

  override def generate(dir: File): Unit = {
    inputs = dir
    corpusGen.write(dir)
    embGen.write(dir)
  }

  /** Set-up has no tables to load: it runs shard 0 through every op once,
    * so the loop measures a warm pipeline.
    */
  override def setup(spark: SparkSession, root: String): Unit = {
    dedup(spark, 0, new Spans(None), new Results)
    spanMining(spark, 0, new Spans(None))
    ann(spark, new Spans(None), new Results)
    next = 3
    annResults.clear()
  }

  private def json(spark: SparkSession, f: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(new File(inputs, f).getAbsolutePath)

  private def docs(spark: SparkSession, s: Int): DataFrame =
    json(spark, f"shard_$s%05d.jsonl", docSchema)

  override def betweenRounds: Boolean = next % 3 == 0

  /** Steps cycle through span mining of a shard, one ANN query batch, and
    * dedup of the same shard. Dedup goes last: after a warm-up pass its
    * first run was still ~20% slow, and it gains most from the warm-up the
    * two other ops give.
    */
  override def step(spark: SparkSession, spans: Spans, res: Results): Boolean = {
    val s = next / 3
    if (s >= nShards) return false
    next % 3 match {
      case 0 => res.attempt(s"spans shard $s")(res.timed(res.op3)(spanMining(spark, s, spans)))
      case 1 => res.attempt(s"ann step $s")(ann(spark, spans, res))
      case _ => res.attempt(s"dedup shard $s")(res.timed(res.op)(dedup(spark, s, spans, res)))
    }
    next += 1
    true
  }

  /** MinHash-LSH candidates, connected components and the dedup verdict
    * of one shard, with the verdict's recall of the planted pairs.
    */
  private def dedup(spark: SparkSession, s: Int, spans: Spans, res: Results): Unit = {
    import spark.implicits._
    val truth = corpusGen.shards(s)
    val d = docs(spark, s)
    def lsh(): Array[(Long, Long)] = Dedup.minhashLsh(d, dictionary = false) { est =>
      est.filter(col("est") >= threshold).select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val pairs = spans.tracer match {
      case None => lsh()
      case Some(t) =>
        // the LSH stages are lazy: each is timed as a noop write of its
        // prefix, and its self time is its prefix minus its input's
        val toks = Dedup.tokenSets(d)
        val pTok = t.stage("llm.tokenize", toks, None)
        val sig = MinHashAggregator.signatures(Dedup.hashCodes(toks))
        val pSig = t.stage("llm.signature", sig, Some(pTok))
        val cands = Dedup.lshCandidates(Dedup.bandKeys(sig))
        val pBand = t.stage("llm.band", cands, Some(pSig))
        val c = cands.collect().map(r => (r.getLong(0), r.getLong(1)))
        val good = truth.pairs.collect { case (i, j, jac) if jac >= threshold => (i, j) }.toSet
        res.add("_docs", docsPerShard.toDouble)
        res.add("_candidates", c.length.toDouble)
        res.add("_true_candidates", c.count(good).toDouble)
        val (p, pLsh) = t.measure(lsh())
        t.record("llm.estimate", pLsh.minus(pBand))
        p
    }
    val edges = pairs.toSeq.toDF("i", "j")
    val rounds = spans("llm.components")(Dedup.connectedComponentsStats(edges, d.select("doc_id")) {
      (labels, r) => labels.count(); r })
    if (spans.traced) { res.add("_cc_rounds", rounds.toDouble); res.add("_cc_runs", 1.0) }
    val verdict = spans("llm.verdict")(Dedup.dedupVerdict(d, edges) { v =>
      v.select("doc_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap })
    require(verdict.size == truth.docs.length, s"verdict covers ${verdict.size} of ${truth.docs.length} docs")
    val planted = truth.pairs.filter(_._3 >= threshold)
    res.add("_planted", planted.length.toDouble)
    res.add("_merged", planted.count { case (i, j, _) => verdict.get(i) == verdict.get(j) }.toDouble)
  }

  /** Duplicate-span mining of one shard. Unrelated documents share no
    * 8-token run, so every reported pair must sit inside one planted cluster.
    */
  private def spanMining(spark: SparkSession, s: Int, spans: Spans): Unit = {
    val truth = corpusGen.shards(s)
    val dup = spans("llm.spans")(Dedup.duplicateSpans(docs(spark, s), k = 8, dfCap = 20, topN = 100)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))))
    val stray = dup.filterNot { case (a, b) => truth.cluster.get(a).exists(truth.cluster.get(b).contains) }
    require(stray.isEmpty, s"duplicateSpans reported unplanted pairs ${stray.take(5).mkString(",")}")
    require(dup.nonEmpty, "duplicateSpans found no planted span")
  }

  /** Span mining of the warm-up shard: it changes nothing, so it can be
    * repeated.
    */
  override def probe(spark: SparkSession, spans: Spans): Unit = spanMining(spark, 0, spans)

  /** `Ivf.train` timed as op4, then the query batch through `Ivf.search`
    * [[searchesPerTrain]] times, each timed as op2: the first search after
    * a train is ~40% slower than the next ones, and the median drops it.
    */
  private def ann(spark: SparkSession, spans: Spans, res: Results): Unit = {
    val corpus = json(spark, "emb_corpus.jsonl", embSchema)
    val queries = json(spark, "emb_queries.jsonl", embSchema)
    val got = spans("llm.ann") {
      val model = res.timed(res.op4)(Ivf.train(corpus, nCells, iters = 2))
      try Seq.fill(searchesPerTrain)(
        res.timed(res.op2)(Ivf.search(model, queries, k, nProbe).select("q_id", "n_id").collect()))
      finally model.close()
    }
    got.foreach(g => annResults += g.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet })
  }

  override def check(spark: SparkSession, res: Results): Unit = {
    val brute = Similarity.annBruteForce(json(spark, "emb_corpus.jsonl", embSchema),
        json(spark, "emb_queries.jsonl", embSchema), k)
      .select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    embGen.queries.foreach { case (q, _) =>
      res.expect(s"query $q: brute force misses its planted neighbours")(
        brute.get(q).contains(embGen.plantedOf(q).toSet))
    }
    val hits = annResults.map(got => brute.map { case (q, want) =>
      (got.getOrElse(q, Set.empty) intersect want).size }.sum).sum
    val annRecall = hits.toDouble / (annResults.size * brute.values.map(_.size).sum)
    res.layer("_ann_recall") = annRecall
    res.expect(s"ANN recall@$k $annRecall is below $minAnnRecall")(annRecall >= minAnnRecall)
    val dedupRecall = res.layer.getOrElse("_merged", 0.0) / res.layer.getOrElse("_planted", Double.NaN)
    res.expect(s"dedup pair recall $dedupRecall is below $minDedupRecall")(dedupRecall >= minDedupRecall)
  }

  override def quality(res: Results): (Double, Double) =
    (res.layer.getOrElse("_merged", 0.0) / res.layer.getOrElse("_planted", Double.NaN),
      res.layer.getOrElse("_ann_recall", Double.NaN))

  override def finishLayers(spark: SparkSession, res: Results): Unit = {
    val l = res.layer
    def g(key: String) = l.getOrElse(key, 0.0)
    if (g("_docs") > 0) {
      l("llm.candidates_per_kdoc") = g("_candidates") / g("_docs") * 1000.0
      l("llm.candidate_precision") = g("_true_candidates") / math.max(1.0, g("_candidates"))
    }
    if (g("_cc_runs") > 0) l("llm.components_rounds") = g("_cc_rounds") / g("_cc_runs")
  }
}
