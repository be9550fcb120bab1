package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run accumulates: latencies of its four op kinds,
  * attempted/failed op counts and the check results.
  */
final class Results {
  val op = mutable.ArrayBuffer.empty[Double]
  val op2 = mutable.ArrayBuffer.empty[Double]
  val op3 = mutable.ArrayBuffer.empty[Double]
  val op4 = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Per-layer ratios and counters, filled by the workload. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** One JSON object per measured step, for the summary file. */
  val steps = mutable.ArrayBuffer.empty[String]

  def fail(msg: String): Unit = { failed += 1; failures += msg }

  /** Adds `v` to the per-layer counter `k`. */
  def add(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v

  /** Runs `f`, appending its wall time in seconds to `into`. */
  def timed[A](into: mutable.ArrayBuffer[Double])(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    into += (System.nanoTime() - t0) / 1e9
    a
  }

  /** One output check, counted as an op; a mismatch is a failed op. */
  def expect(what: => String)(ok: Boolean): Boolean = {
    attempted += 1
    if (!ok) fail(what)
    ok
  }

  /** Runs one op, counting it; an exception is a failed op. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch { case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }
}

/** A closed-loop workload: inputs are generated before any timing, then
  * the set-up runs, then one client thread issues rounds of steps.
  */
trait Workload {
  /** Writes every input file under `dir`. Pure Scala, untimed. */
  def generate(dir: File): Unit
  /** The set-up: tables and views under `root`, warm code paths. */
  def setup(spark: SparkSession, root: String): Unit
  /** One closed-loop step; false when the generated inputs are used up. */
  def step(spark: SparkSession, spans: Spans, res: Results): Boolean
  /** Whether the steps so far form whole rounds of the workload's op kinds. */
  def betweenRounds: Boolean = true
  /** Seconds one round takes on a 4-core box. A run of `--seconds` runs
    * `seconds / roundS` rounds (at least one), so every run measures the
    * same work: a slower host stretches the run, it does not shrink it.
    */
  def roundS: Double
  /** Output checks after the loop; each mismatch is a failed op. */
  def check(spark: SparkSession, res: Results): Unit
  /** `quality` and `quality2`, after [[check]]. */
  def quality(res: Results): (Double, Double)
  /** A call that leaves the tables as they were, repeated untraced and
    * traced after the loop to measure what a span costs.
    */
  def probe(spark: SparkSession, spans: Spans): Unit
  /** Untraced/traced pairs of [[probe]] in a traced run. */
  def probePairs: Int
  /** Per-layer ratios that need a last look at the tables (traced runs). */
  def finishLayers(spark: SparkSession, res: Results): Unit = ()
}

/** Writes one workload's input files and exits — what the determinism test
  * compares: `--workload --seed --seconds --scale --out`.
  */
object Generate {
  def main(argv: Array[String]): Unit = {
    val kv = Main.options(argv)
    Main.workload(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("scale").toDouble)
      .generate(new File(kv("out")))
  }
}

object Main {

  def options(argv: Array[String]): Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: Double, work: File, out: File)

  def parse(argv: Array[String]): Args = {
    val kv = options(argv)
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      kv.get("scale").map(_.toDouble).getOrElse(1.0), new File(get("work")), new File(get("out")))
  }

  def workload(name: String, seed: Long, seconds: Double, scale: Double): Workload = name match {
    case "cdc_serving" => new CdcServing(seed, seconds, scale)
    case "llm_corpus" => new LlmCorpus(seed, seconds, scale)
    case other => sys.error(s"unknown workload '$other' (cdc_serving, llm_corpus)")
  }

  /** Rounds a run of `seconds` makes of a workload whose round takes
    * `roundS` seconds on a 4-core box (at least one).
    */
  def rounds(seconds: Double, roundS: Double): Int = math.max(1, math.round(seconds / roundS).toInt)

  /** Extra wall-time share a span adds to a call: [[Workload.probe]]
    * untraced and traced in alternating order, after one untimed call that
    * warms it, the traced calls under a tracer of their own whose samples
    * are dropped.
    */
  def traceOverhead(spark: SparkSession, wl: Workload, res: Results): Double = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    def untracedCall(): Unit = res.timed(plain)(wl.probe(spark, new Spans(None)))
    def tracedCall(): Unit = {
      val t = new Tracer(spark)
      try res.timed(traced)(wl.probe(spark, new Spans(Some(t))))
      finally t.close()
    }
    wl.probe(spark, new Spans(None))
    (0 until wl.probePairs).foreach { i =>
      if (i % 2 == 0) { untracedCall(); tracedCall() } else { tracedCall(); untracedCall() }
    }
    median(traced) / median(plain) - 1.0
  }

  /** NaN on no samples. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val processStart = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    val a = parse(argv)
    val wl = workload(a.workload, a.seed, a.seconds, a.scale)
    val inputs = new File(a.work, "inputs")
    val g0 = System.nanoTime()
    wl.generate(inputs)
    val genS = (System.nanoTime() - g0) / 1e9

    // two task threads leave the calling thread, JIT and GC a core each on a
    // 4-core box: with four, run-to-run spread of the step times doubled
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val spark = graft.engine.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.GraftSession.configure(spark)
    val sessionS = (System.currentTimeMillis() - processStart) / 1000.0 - genS

    val s0 = System.nanoTime()
    wl.setup(spark, new File(a.work, "tables").getAbsolutePath)
    // setup_s: process start to the first timed op, less input generation
    val setupS = sessionS + (System.nanoTime() - s0) / 1e9

    val res = new Results
    // a traced run traces every round, then measures the tracing overhead
    // on repeated calls of a probe
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val spans = new Spans(tracer)
    val l0 = System.nanoTime()
    var more = true
    var r = 0
    while (more && r < rounds(a.seconds, wl.roundS)) {
      // a collection between steps, so no step pays for its predecessor's garbage
      do { System.gc(); more = wl.step(spark, spans, res) } while (more && !wl.betweenRounds)
      r += 1
    }
    val loopS = (System.nanoTime() - l0) / 1e9
    tracer.foreach(_.close())
    if (a.trace) res.layer("trace.overhead_share") = traceOverhead(spark, wl, res)

    val k0 = System.nanoTime()
    wl.check(spark, res)
    val checkS = (System.nanoTime() - k0) / 1e9
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val (q, q2) = wl.quality(res)
        val e = Map("op_s" -> median(res.op), "op2_s" -> median(res.op2),
          "op3_s" -> median(res.op3), "op4_s" -> median(res.op4), "quality" -> q, "quality2" -> q2)
        e.toSeq.sorted.foreach { case (n, v) =>
          res.expect(s"metric $n has no samples")(!v.isNaN && !v.isInfinite) }
        Seq(("setup_s", setupS, "s"),
          ("ok_op_share", 1.0 - res.failed.toDouble / math.max(1L, res.attempted), "ratio")) ++
          Metrics.endToEnd.filterNot(m => m._1 == "setup_s" || m._1 == "ok_op_share")
            .map { case (n, u) => (n, e(n), u) }
      } else {
        wl.finishLayers(spark, res)
        Metrics.perLayer(tracer.get, res)
      }
    spark.stop()

    val ok = res.failed == 0
    res.failures.take(20).foreach(f => System.err.println(s"FAILED: $f"))
    Summary.write(a, metrics, res, setupS, sessionS, genS, loopS, checkS)
    // the result line: last line of stdout
    println(Summary.resultLine(ok, res, metrics))
    sys.exit(if (ok) 0 else 1)
  }
}
