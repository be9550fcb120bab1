package perfbench

import java.io.File

/** Metric names and units — the same lists as BENCHMARK.json, which a test
  * of the benchmark compares against.
  */
object Metrics {

  /** Every workload prints every end-to-end metric; what each one measures
    * in a workload is in [[Summary.meaning]]. An `op*_s` metric is the
    * median latency of one op kind over the run.
    */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ok_op_share" -> "ratio",
    "op_s" -> "s", "op2_s" -> "s", "op3_s" -> "s", "op4_s" -> "s",
    "quality" -> "ratio", "quality2" -> "ratio")

  val spans: Seq[String] = Seq(
    "cdc.transform", "sink.merge", "sink.catalog_commit", "sink.matagg_refresh",
    "sink.matjoin_refresh", "streaming.follower_catchup", "sink.lookup", "sources.scan",
    "sink.changes", "llm.tokenize", "llm.signature", "llm.band", "llm.estimate",
    "llm.components", "llm.verdict", "llm.spans", "llm.ann")

  /** Spans recorded as a lazy stage's self time (prefix cost minus the
    * input's prefix cost) rather than as one eager call.
    */
  val lazyStages: Set[String] =
    Set("cdc.transform", "llm.tokenize", "llm.signature", "llm.band", "llm.estimate")

  private val spanFields: Seq[(String, String, Sample => Double)] = Seq(
    ("wall_s", "s", _.wallS), ("jobs", "count", _.jobs), ("driver_gap_s", "s", _.driverGapS),
    ("task_cpu_s", "s", _.taskCpuS), ("shuffle_mb", "MB", _.shuffleMb))

  val ratios: Seq[(String, String)] = Seq(
    "sink.merge.rows_written_per_row_changed" -> "ratio",
    "sink.merge.buckets_rewritten_share" -> "ratio",
    "sink.merge.rebases" -> "count",
    "sink.bytes_per_live_row" -> "B",
    "sink.lookup.bytes_read_per_row" -> "B",
    "plans.matview_hit_ratio" -> "ratio",
    "sink.matagg.fold_share" -> "ratio",
    "cdc.rows_per_event" -> "ratio",
    "llm.candidates_per_kdoc" -> "1/kdoc",
    "llm.candidate_precision" -> "ratio",
    "llm.components_rounds" -> "count",
    "engine.driver_gap_share" -> "ratio",
    "trace.overhead_share" -> "ratio")

  /** Per span, the median over its calls of each field; 0 for a span whose
    * layer does not run in the workload.
    */
  def perLayer(t: Tracer, res: Results): Seq[(String, Double, String)] = {
    val eager = t.samples.filter { case (n, _) => !lazyStages(n) }.values.flatten
    val wall = eager.map(_.wallS).sum
    res.layer("engine.driver_gap_share") =
      if (wall > 0) eager.map(_.driverGapS).sum / wall else 0.0
    val lookups = t.samples.getOrElse("sink.lookup", Nil)
    if (lookups.nonEmpty)
      res.layer("sink.lookup.bytes_read_per_row") =
        lookups.map(_.inputMb).sum * 1048576.0 / math.max(1.0, res.layer.getOrElse("_lookup_rows", 0.0))
    val spanMetrics = spans.flatMap { s =>
      val xs = t.samples.getOrElse(s, Nil)
      spanFields.map { case (f, u, get) =>
        (s"$s.$f", if (xs.isEmpty) 0.0 else Main.median(xs.map(get)), u)
      }
    }
    spanMetrics ++ ratios.map { case (n, u) => (n, res.layer.getOrElse(n, 0.0), u) }
  }
}

/** The result line, the human-readable report before it, and the per-run
  * summary JSON written under the output directory.
  */
object Summary {

  /** Per workload, what each generic end-to-end metric measures. */
  val meaning: Map[String, Map[String, String]] = Map(
    "cdc_serving" -> Map(
      "op_s" -> "batch_p50_s: batch read start to catalog cut published, micro and bulk batches",
      "op2_s" -> "view_fresh_s after a micro orders commit: rollup, join view and replica current",
      "op3_s" -> "read mix of a step: 3 lookups, a dashboard GROUP BY and a table_changes read",
      "op4_s" -> "view_fresh_s after a bulk orders commit (every bucket changed)",
      "quality" -> "plans.matview_hit_ratio: dashboard queries answered from the rollup",
      "quality2" -> "raw row bytes per stored byte over the warehouse tables at the last cut"),
    "llm_corpus" -> Map(
      "op_s" -> "one shard through MinHash-LSH, components and the verdict",
      "op2_s" -> "one ANN query batch through Ivf.search",
      "op3_s" -> "one shard through duplicate-span mining",
      "op4_s" -> "one Ivf.train of the ANN index",
      "quality" -> "dedup_pair_recall: planted pairs at or above the threshold merged by the verdict",
      "quality2" -> "ann_recall_at_10 against Similarity.annBruteForce"))

  /** The layer each per-layer prefix belongs to, and the end-to-end metric
    * it should move, by workload (BENCHMARK's layer map).
    */
  val layerTargets: Seq[(String, String, String)] = Seq(
    ("cdc", "cdc.", "cdc_serving: op_s"),
    ("sink commit", "sink.merge / sink.catalog_commit / sink.bytes_per_live_row",
      "cdc_serving: op_s (volume-bound), op2_s (fixed-cost-bound), quality2"),
    ("sink IVM", "sink.matagg_refresh / sink.matjoin_refresh / sink.matagg.", "cdc_serving: op2_s (micro), op4_s (bulk)"),
    ("streaming", "streaming.", "cdc_serving: op2_s, op4_s"),
    ("sources/plans", "sink.lookup / sources.scan / sink.changes / plans.", "cdc_serving: op3_s, quality"),
    ("llm", "llm.", "llm_corpus: op_s, op2_s, op3_s, op4_s, without lowering quality or quality2"),
    ("engine", "*.driver_gap_s / *.jobs / engine.", "cdc_serving: op2_s most, then op_s; llm_corpus least"))

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def resultLine(ok: Boolean, res: Results, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $ok, "attempted": ${res.attempted}, "failed": ${res.failed}, "metrics": {""" +
      metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
        .mkString(", ") + "}}"

  def write(a: Main.Args, metrics: Seq[(String, Double, String)], res: Results,
      setupS: Double, sessionS: Double, genS: Double, loopS: Double, checkS: Double): Unit = {
    val m = meaning(a.workload)
    metrics.foreach { case (n, v, u) =>
      println(f"$n%-48s ${num(v)}%-24s $u%-8s ${m.getOrElse(n, "")}")
    }
    val body = Seq(
      s""""workload": ${str(a.workload)}""",
      s""""seed": ${a.seed}""",
      s""""trace": ${a.trace}""",
      s""""seconds": ${num(a.seconds)}""",
      s""""scale": ${num(a.scale)}""",
      s""""loop_s": ${num(loopS)}""",
      s""""check_s": ${num(checkS)}""",
      s""""session_s": ${num(sessionS)}""",
      s""""generate_s": ${num(genS)}""",
      s""""setup_s": ${num(setupS)}""",
      s""""op_s": [${res.op.map(num).mkString(", ")}]""",
      s""""op2_s": [${res.op2.map(num).mkString(", ")}]""",
      s""""op3_s": [${res.op3.map(num).mkString(", ")}]""",
      s""""op4_s": [${res.op4.map(num).mkString(", ")}]""",
      s""""steps": [${res.steps.mkString(", ")}]""",
      s""""attempted": ${res.attempted}""",
      s""""failed": ${res.failed}""",
      s""""failures": [${res.failures.take(50).map(str).mkString(", ")}]""",
      s""""metrics": {${metrics.map { case (n, v, u) =>
        s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }.mkString(", ")}}""",
      s""""meaning": {${m.toSeq.sorted.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(", ")}}""",
      s""""layer_targets": [${layerTargets.map { case (l, p, t) =>
        s"""{"layer": ${str(l)}, "metrics": ${str(p)}, "should_move": ${str(t)}}""" }.mkString(", ")}]""")
    a.out.mkdirs()
    val kind = if (a.trace) "trace" else "run"
    Gen.writeLines(new File(a.out, s"${kind}_${a.workload}.json"), Seq(body.mkString("{\n  ", ",\n  ", "\n}")))
  }
}
