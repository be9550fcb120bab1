package graft

/** Benchmark main: runs every declared query at SPARK_GRAFT_SF_DIR and emits
  * ONE JSON line {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}
  * — written to bench.json in the working directory AND printed as the only
  * stdout line (logs go to stderr), so a tail capture of either channel sees
  * the full object. A query that throws is reported as null in the queries
  * map and listed under "failed" instead of contributing a bogus timing.
  *
  * JVM is warmed with one throwaway Q01 run (BASELINE.md protocol); each
  * query is then timed wall-clock THREE times and the MEDIAN is reported,
  * drained via count() so the full plan executes. Timing once let background
  * machine load write garbage into the official artifact (BENCH_r02 recorded
  * a 30-minute suite for a binary that runs in 51 s idle); the median of
  * three absorbs a contended run, and the emitted "spread_max_sec" (largest
  * per-query WARM spread — runs 2..n; run 1's one-time codegen is a
  * deterministic cost, not contention) plus the per-query "queries_spread"
  * map let a reader see contention directly.
  *
  * "bench_schema" versions the capture format so cross-round comparisons
  * never silently mix metric definitions under one key:
  *   1 (implied; captures without the field, ≤ r12) — spread/contended
  *     computed over ALL runs including run 1's warm-up.
  *   2 — spread/contended computed over WARM runs only (2..n).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // cached plans coalesce adaptively too (GraftSession.builder note)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        graft.engine.GraftSession.cachedPlanAqe)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions) // SQL faces: functions + TVFs
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // optional comma-separated prefix filter (iteration aid — the driver
    // runs unfiltered; a filtered artifact still carries every field, the
    // CDC benches as null: timing one query must not pay the million-event
    // throughput protocol)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).filter(_.nonEmpty)

    // the sink comparison runs FIRST: after the full query suite the JVM
    // carries enough codegen/GC pressure to inflate per-job overheads and
    // drown the signal of the many-small-jobs partitioned path
    val incr = if (only.isEmpty) Some(cdcIncrementalMergeSpeedup(spark)) else None
    val qs = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    // warm-up: session init + codegen + parquet footer cache
    try SparkEntry.queries.get("q01_count").foreach(_(spark, sfDir).count())
    catch { case _: Throwable => }

    // min-of-N is the contention antidote: on a box with neighbor load,
    // raising N (SPARK_GRAFT_RUNS) recovers clean per-query mins without
    // waiting for an idle window; the driver's default stays 3
    val runs = sys.env.get("SPARK_GRAFT_RUNS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(3)

    // SPARK_GRAFT_SPILL=1: per-query Tungsten spill accounting (memory- and
    // disk-spilled bytes summed over the query's timed runs) — the
    // memory-pressure evidence mode. Run it with a constrained heap (e.g.
    // -Xmx2g) over the heavy tail: zero failed queries + nonzero spill
    // bytes MEASURES the "aggregation spills instead of OOMing" claim.
    val spillMode = sys.env.get("SPARK_GRAFT_SPILL").contains("1")
    val spillListener = if (spillMode) {
      val l = new org.apache.spark.scheduler.SparkListener {
        val mem = new java.util.concurrent.atomic.AtomicLong
        val disk = new java.util.concurrent.atomic.AtomicLong
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            mem.addAndGet(m.memoryBytesSpilled)
            disk.addAndGet(m.diskBytesSpilled)
            ()
          }
        }
      }
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    def spillSnapshot(): (Long, Long) = spillListener match {
      case Some(l) =>
        org.apache.spark.graftbridge.Listeners.drain(spark.sparkContext)
        (l.mem.get, l.disk.get)
      case None => (0L, 0L)
    }

    val suiteT0 = System.nanoTime()
    val spillByQuery = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    // per query: `runs` timings; (median, min, max−min) on success
    val results: Seq[(String, Option[(Double, Double, Double)])] = qs.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (m0, d0) = spillSnapshot()
      val times = (1 to runs).iterator.map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) } catch {
          case e: Throwable => System.err.println(s"[bench] $name failed: $e"); None
        }
      }.takeWhile(_.isDefined).flatten.toSeq // one failure condemns the query — stop re-running it
      if (spillMode) {
        val (m1, d1) = spillSnapshot()
        spillByQuery(name) = (m1 - m0, d1 - d0)
      }
      // any throwing run marks the query failed — a partially-failing query
      // must not masquerade as a timing. Spread (the contention signal) is
      // computed over the WARM runs only (2..n): run 1 pays the query's
      // one-time whole-stage codegen and cache warm-up BY DESIGN — a
      // deterministic cost, not box noise — and counting it branded
      // provably-idle captures contended as the suite's share of heavy
      // store-lifecycle queries grew (r11/r12 openers: load 0.2 box,
      // rerun_divergent empty, yet 18-31 queries with >1 s run1-vs-min
      // gaps). Median and min still cover all runs.
      val warmSpread =
        if (times.size >= 2) times.tail.max - times.tail.min else 0.0
      name -> (if (times.size == runs)
        Some((times.sorted.apply(runs / 2), times.min, warmSpread)) else None)
    }
    val suiteWall = (System.nanoTime() - suiteT0) / 1e9

    // SUITE-STATE SELF-DIAGNOSIS (round 10): a query can measure slow
    // IN-SUITE from accumulated JVM/GC/codegen state or a transient
    // co-tenant spike, and the artifact previously could not distinguish
    // that from a code regression (r9's q90h read 1.16 s in-suite, 0.28 s
    // isolated). After the suite, the N slowest queries (by in-suite min)
    // are re-run and their fresh mins emitted as "rerun_min"; a divergence
    // (in-suite min ≫ rerun min) is then visible in the artifact itself and
    // is machine state, not code. "queries_pos" records each query's run
    // position so order-correlated effects are also readable.
    val rerunN = 5
    val slowest = results.collect { case (k, Some((_, mn, _))) => k -> mn }
      .sortBy(-_._2).take(rerunN).map(_._1)
    val rerunMin: Seq[(String, Option[Double])] = slowest.map { name =>
      val fn = qs(name)
      val times = (1 to runs).iterator.map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
      }.takeWhile(_.isDefined).flatten.toSeq
      name -> (if (times.size == runs) Some(times.min) else None)
    }
    // in-suite min ≫ fresh min = the suite measurement was state, not code
    val divergent = rerunMin.collect {
      case (k, Some(fresh)) =>
        val inSuite = results.collectFirst { case (`k`, Some((_, mn, _))) => mn }.get
        (k, inSuite, fresh)
    }.collect { case (k, inSuite, fresh) if inSuite > 2 * fresh + 0.2 => k }
    // Locale.ROOT: f"%.3f" under a comma-decimal default locale would emit
    // invalid JSON
    def num(fmt: String, v: Double): String = String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    val qjson = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(m => num("%.3f", m._1)).getOrElse("null")
    }.mkString("{", ",", "}")
    val qminJson = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(m => num("%.3f", m._2)).getOrElse("null")
    }.mkString("{", ",", "}")
    val qposJson = results.zipWithIndex.map { case ((k, _), i) =>
      "\"" + k + "\":" + (i + 1)
    }.mkString("{", ",", "}")
    // per-query warm spread: lets a reader audit exactly which queries the
    // contended flag counted instead of trusting one aggregate
    val qspreadJson = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(m => num("%.3f", m._3)).getOrElse("null")
    }.mkString("{", ",", "}")
    val rerunJson = rerunMin.map { case (k, v) =>
      "\"" + k + "\":" + v.map(m => num("%.3f", m)).getOrElse("null")
    }.mkString("{", ",", "}")
    val divergentJson = divergent.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }.mkString("[", ",", "]")
    val total = results.flatMap(_._2.map(_._1)).sum
    val totalMin = results.flatMap(_._2.map(_._2)).sum
    val spreads = results.flatMap(_._2.map(_._3))
    val spreadMax = (0.0 +: spreads).max
    // median-of-3 absorbs ONE slow run; a loaded machine contaminates two of
    // three, so the artifact self-declares contention (spread far beyond
    // idle-box jitter) and a reader then trusts the min column — the best
    // run is the one closest to what the binary does on an idle box.
    // Contention is a SUITE-WIDE signal: concurrent load inflates runs
    // across many queries, while a single-query outlier (one GC pause, one
    // JIT recompile) says nothing about machine state — keying the flag on
    // the single largest spread branded otherwise-idle captures contended.
    // Both the robust count and the raw max are emitted so a reader can
    // tell the two cases apart from the artifact alone.
    val nSpreadGt1 = spreads.count(_ > 1.0)
    val contended = nSpreadGt1 > 4
    val eps = if (only.isEmpty) Some(cdcThroughput(spark)) else None
    val epsJson = eps.map(num("%.0f", _)).getOrElse("null")
    val incrJson = incr.map(i => num("%.1f", i._1)).getOrElse("null")
    val incrLegsJson = incr.map(i =>
      s""","cdc_incr_full_sec":${num("%.3f", i._2)},"cdc_incr_sec":${num("%.3f", i._3)}""")
      .getOrElse("")
    // every capture is self-identifying: a wall-clock UTC timestamp plus a
    // short id derived from it. SURVEY/BASELINE quote the id, so "which
    // capture does this number come from" is answerable from the artifact
    // alone (round 7 committed one capture and quoted another — untraceable
    // after the fact without an id)
    val captureMs = System.currentTimeMillis()
    val captureTs = java.time.Instant.ofEpochMilli(captureMs).toString
    val captureId = java.lang.Long.toHexString(captureMs)
    // spill evidence block (only in SPARK_GRAFT_SPILL=1 captures): the JVM
    // heap the run was constrained to, suite-total spilled bytes, and the
    // per-query disk-spill map for the nonzero spillers
    val spillJson = if (spillMode) {
      val totalMem = spillByQuery.valuesIterator.map(_._1).sum
      val totalDisk = spillByQuery.valuesIterator.map(_._2).sum
      val perQ = spillByQuery.iterator.filter { case (_, (m, d)) => m > 0 || d > 0 }
        .map { case (k, (m, d)) => "\"" + k + "\":[" + m + "," + d + "]" }
        .mkString("{", ",", "}")
      s""","spill":{"heap_max_bytes":${Runtime.getRuntime.maxMemory},"mem_bytes":$totalMem,"disk_bytes":$totalDisk,"by_query_mem_disk":$perQ}"""
    } else ""
    // CANARY vs the last committed idle capture (round 15): a STEADY
    // whole-capture handicap — wrong driver heap (r14 ran under sbt's 8g
    // fork default and read 1.23× across unchanged queries), throttled
    // CPU, constant background load — inflates every query uniformly, and
    // spread-based contention detection only catches INTERMITTENT load.
    // SPARK_GRAFT_CANARY_BASELINE names a previous idle capture; this
    // capture then emits per-canary min ratios (now/baseline) over five
    // code-stable queries spanning scan/agg/join/scalar/hash shapes, and
    // self-flags (canary_ok=false) when the MEDIAN ratio exceeds 1.15 —
    // a machine-detectable "this capture is uniformly handicapped".
    val canaryQueries = Seq("q01_count", "q20_tpch_q1", "q48i_tpch_q6",
      "q50_string_suite", "q87_simhash")
    val canaryJson = sys.env.get("SPARK_GRAFT_CANARY_BASELINE").flatMap { p =>
      try {
        val txt = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
          java.nio.charset.StandardCharsets.UTF_8)
        val marker = "\"queries_min\":{"
        val start = txt.indexOf(marker)
        if (start < 0) None
        else {
          val s = start + marker.length
          val baseMins = txt.substring(s, txt.indexOf('}', s)).split(',')
            .flatMap(_.split(':') match {
              case Array(k, v) => v.toDoubleOption.map(
                k.trim.stripPrefix("\"").stripSuffix("\"") -> _)
              case _ => None
            }).toMap
          val ratios = canaryQueries.flatMap { q =>
            for {
              b <- baseMins.get(q) if b > 0.0
              cur <- results.collectFirst { case (`q`, Some((_, mn, _))) => mn }
            } yield q -> cur / b
          }
          if (ratios.isEmpty) None
          else {
            val sorted = ratios.map(_._2).sorted
            val median = sorted(sorted.size / 2)
            val rjson = ratios.map { case (q, r) =>
              "\"" + q + "\":" + num("%.3f", r) }.mkString("{", ",", "}")
            Some(s""","canary_baseline":"$p","canary_min_ratio":$rjson,""" +
              s""""canary_median_ratio":${num("%.3f", median)},""" +
              s""""canary_ok":${median <= 1.15}""")
          }
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] canary baseline unreadable: $e"); None
      }
    }.getOrElse("")
    val json =
      s"""{"metric":"total","value":${num("%.3f", total)},"unit":"sec","bench_schema":2,"capture_id":"$captureId","capture_ts":"$captureTs","runs":$runs,"total_min_sec":${num("%.3f", totalMin)},"contended":$contended,"spread_max_sec":${num("%.3f", spreadMax)},"n_spread_gt_1s":$nSpreadGt1,"suite_wall_sec":${num("%.3f", suiteWall)},"queries":$qjson,"queries_min":$qminJson,"queries_pos":$qposJson,"queries_spread":$qspreadJson,"rerun_min":$rerunJson,"rerun_divergent":$divergentJson,"failed":$failed,"cdc_events_per_sec":$epsJson,"cdc_incremental_merge_speedup":$incrJson$incrLegsJson$spillJson$canaryJson,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    System.out.flush()
    spark.stop()
  }

  private def wipe(f: java.io.File): Unit = { graft.engine.Fs.deleteTree(f); () }

  /** BASELINE.md protocol: CDC upsert throughput over a ≥1M-event generated
    * stream (seeded, generation excluded) — full Q61 path: JSONL file read →
    * parse → per-table filter → flatten → typed cast → last-write-wins →
    * snapshot sink merge.
    *
    * Measurement protocol (cache-deterministic): the generated JSONL is
    * re-read once untimed so the timed runs hit a warm page cache (the
    * round-1 number varied 20x with filesystem state, measuring the disk
    * rather than the engine); one untimed warm-up run compiles the codegen;
    * then the MEDIAN of three timed runs is reported.
    */
  private def cdcThroughput(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.cdc.CdcPipeline
    import graft.model.{ColSpec, TableSpec}
    import graft.sink.SnapshotParquetSink
    val n = 1000000L
    val keys = 200000L
    try {
      val js = format_string(
        """{"seq":%d,"data":{"database_name":"shop","table_name":"orders_part_%d","primary_key":"%d","metadata":{"is_delete":false},"row":{"id":"%d","amount":"%d.50","qty":"%d"}}}""",
        col("id"), pmod(col("id"), lit(5)), pmod(col("id"), lit(keys)),
        pmod(col("id"), lit(keys)), pmod(col("id"), lit(1000)), pmod(col("id"), lit(20)))
      val envSchema = StructType(Seq(
        StructField("seq", LongType),
        StructField("data", StructType(Seq(
          StructField("database_name", StringType),
          StructField("table_name", StringType),
          StructField("primary_key", StringType),
          StructField("metadata", StructType(Seq(StructField("is_delete", BooleanType)))),
          StructField("row", StructType(Seq(
            StructField("id", StringType),
            StructField("amount", StringType),
            StructField("qty", StringType)))))))))
      val spec = TableSpec("shop.orders", Seq(
        ColSpec("id", "int", isPrimaryKey = true),
        ColSpec("amount", "decimal", isPrimaryKey = false),
        ColSpec("qty", "smallint", isPrimaryKey = false)))
      // fixed, wiped base dir (pid-suffixed so concurrent sessions don't
      // collide) — fresh temp dirs would accumulate ~1M-row copies across
      // bench runs
      val base = sys.props("java.io.tmpdir") + "/graft_cdc_bench_" + ProcessHandle.current().pid()
      wipe(new java.io.File(base))
      val jsonDir = s"$base/events"
      spark.range(n).select(js.as("value")).write.text(jsonDir) // untimed generation

      // untimed page-cache warm: touch every byte of the JSONL input so the
      // timed runs measure the pipeline, not cold-file I/O
      spark.read.text(jsonDir).count()

      def run(sinkDir: String): Double = {
        val t0 = System.nanoTime()
        val env = spark.read.schema(envSchema).json(jsonDir)
        val flat = CdcPipeline.expanded(CdcPipeline.forTable(env, "shop.orders"))
        new SnapshotParquetSink(sinkDir)
          .merge(CdcPipeline.typed(flat, spec), Seq("primary_key"), "seq", "is_delete")
        (System.nanoTime() - t0) / 1e9
      }
      run(s"$base/warm") // codegen warm-up, untimed
      val times = (1 to 3).map { i => wipe(new java.io.File(s"$base/timed")); run(s"$base/timed") }
      val median = times.sorted.apply(times.size / 2)
      val eps = n / median
      wipe(new java.io.File(base))
      eps
    } catch { case e: Throwable =>
      System.err.println(s"[bench] cdc throughput failed: $e")
      -1.0
    }
  }

  /** Incremental-merge scale story: with an 8M-key, 64-char-payload table
    * in place, merge a 10-key micro-batch (a hot-key update — the realistic
    * steady-state CDC trigger) into two snapshot tables: one bucket (every
    * merge rewrites the whole table) vs 128 buckets. The 128-bucket merge
    * reads and rewrites ≤ 10 of 128 buckets, so its cost tracks the
    * affected fraction of the table, not its size — the full-rewrite side
    * is O(table), so the gap widens with volume. Below ~4M rows scheduler
    * fixed costs swamp the signal (measured: the bucketed side is flat
    * ~1.3 s of per-job overhead regardless of table size), which is why
    * the table here is 8M.
    * A batch whose keys hash across every bucket degrades to a full
    * rewrite — hash layout prunes by key count, not key range.
    *
    * Statistic: MIN of five interleaved timed pairs, after two untimed
    * warm-up merges per sink. The full-rewrite side keeps getting faster
    * for several merges (page cache + JIT warm gradually over a multi-
    * hundred-MB rewrite), so a median sampled mid-curve moves 2-3× between
    * runs; the min takes the end-of-warm-up asymptote on both sides and is
    * the stable, conservative estimate of the sustained gap.
    */
  /** Returns (fullRewrite/incremental ratio, fullRewrite sec, incremental
    * sec). The RATIO is machine-state-sensitive at this table size — the
    * 8M-row full rewrite swings ~1.5 s (everything page-cached, idle 24g
    * heap) to >20 s (cold cache / co-tenant load) while the bucket-pruned
    * incremental path stays flat around 1 s — so the artifact reports the
    * ABSOLUTE legs too: the flat incremental time is the design claim, the
    * ratio is what a given box happens to make of the full-path cost.
    */
  private def cdcIncrementalMergeSpeedup(
      spark: org.apache.spark.sql.SparkSession): (Double, Double, Double) = {
    import org.apache.spark.sql.functions._
    import graft.sink.SnapshotParquetSink
    try {
      val base = sys.props("java.io.tmpdir") + "/graft_cdc_incr_" + ProcessHandle.current().pid()
      wipe(new java.io.File(base))
      def seed(n: Long, offset: Long) = spark.range(n)
        .select((col("id") + offset).cast("string").as("primary_key"),
          (col("id") + offset).as("seq"),
          sha2(concat(lit("v"), col("id")), 256).as("val"), // 64-char payload
          lit(false).as("is_delete"))
      val full = new SnapshotParquetSink(s"$base/full", nBuckets = 1)
      val incr = new SnapshotParquetSink(s"$base/incr", nBuckets = 128)
      val hotKeys = seed(10, 50000) // 10 existing keys updated
      for (sink <- Seq(full, incr)) {
        sink.merge(seed(8000000, 0), Seq("primary_key"), "seq", "is_delete") // untimed load
        sink.merge(hotKeys, Seq("primary_key"), "seq", "is_delete") // warm-up (codegen)
        sink.merge(hotKeys, Seq("primary_key"), "seq", "is_delete") // warm-up (cache)
      }
      // interleaved timings so environment drift (page cache, GC) hits both
      // sinks equally; each superseded version is vacuumed untimed so the
      // full-rewrite side holds one copy of the table on disk, not seven
      def timed(sink: SnapshotParquetSink): Double = {
        val t0 = System.nanoTime()
        sink.merge(hotKeys, Seq("primary_key"), "seq", "is_delete")
        val t = (System.nanoTime() - t0) / 1e9
        sink.vacuum(keepLast = 1, minOrphanAgeMs = 0L)
        t
      }
      val pairs = (1 to 5).map(_ => (timed(full), timed(incr)))
      System.err.println(s"[bench] incr pairs (full, incr): " +
        pairs.map(p => f"(${p._1}%.2f, ${p._2}%.2f)").mkString(" "))
      val tFull = pairs.map(_._1).min
      val tIncr = pairs.map(_._2).min
      wipe(new java.io.File(base))
      (tFull / tIncr, tFull, tIncr)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] incremental merge bench failed: $e")
      (-1.0, -1.0, -1.0)
    }
  }
}
