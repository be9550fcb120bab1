package graft

import org.apache.spark.sql.functions._

/** Bench-only scale ladder for the IVM + change-feed family (SURVEY §8.12):
  * deterministic synthetic tables at 1×/10×/100× a base row count, a FIXED
  * 20-key change set, buckets sized to constant volume per rung (as any
  * 100 TB layout does: more data ⇒ more buckets, not bigger ones).
  *
  * THREE regimes, with distinct honest claims:
  *   - `ivm_delta` (SUM/COUNT-only view — [[graft.sink.MaterializedAgg]]'s
  *     pure-delta path): refresh folds the changed-bucket slices into the
  *     stored values arithmetically, touching NOTHING proportional to the
  *     source — measured refresh wall is FLAT (~3 s of fixed job latency
  *     at every rung, BENCH_ivm_scale_r13) while `recompute_sec` grows
  *     with the table, so `speedup` (recompute/refresh) widens with scale:
  *     on this box the crossover lands between the 10M and 30M rungs and
  *     refresh wins ~1.5–3× at 30M. (The round-12 artifact showed the
  *     pre-delta engine losing at EVERY rung with refresh cost GROWING —
  *     this regime is the fix; below the crossover the loss is bounded
  *     fixed seconds, above it the win is unbounded in table size.)
  *   - `ivm_rollup` (cross-key view carrying min/max): the EXTREMUM-AWARE
  *     FOLD regime — sums/counts fold as deltas, min/max fold
  *     monotonically, and only groups whose REMOVED values threaten the
  *     stored extremum rescan (none in this ladder's change set). The
  *     stored-row join costs a column-pruned O(view) read, so refresh
  *     grows with the VIEW (n/10) while recompute grows with the SOURCE
  *     (n) — `speedup` bends upward with scale (0.17→0.26→0.47 measured
  *     r13; the r12 recompute regime flatlined ≤0.39) and the asymptote
  *     is the group-cardinality factor. Write side unchanged:
  *     `agg_changed_files` stays ~20 of B.
  *   - `ivm_keyed` (groups ⊇ merge keys, with min/max): the recompute scan
  *     itself prunes to changed buckets, so refresh stays O(changed) even
  *     with non-delta-able aggregates.
  *
  * Shared claims: `changed_files` (manifest diff plans ≈20 of B buckets,
  * independent of table size) and `feed_sec`
  * ([[graft.sink.SnapshotParquetSink.changesBetween]] is bucket-pruned the
  * same way).
  *
  * Synthesis is pure integer arithmetic (no RNG). Emits ONE JSON line:
  * {"ivm_delta":{...},"ivm_rollup":{...},"ivm_keyed":{...}}
  */
object BenchIvmScale {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = args.headOption.map(_.toLong).getOrElse(100000L)
    val mults = if (args.length > 1) args(1).split(',').toSeq.map(_.toLong)
      else Seq(1L, 10L, 100L)
    def num(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val scratch = java.nio.file.Files.createTempDirectory("ivmscale").toString

    // groups at n/10 cardinality — the per-entity rollup shape IVM exists
    // for: the maintained view is itself large, so a from-scratch refresh
    // rewrites n/10 rows where the incremental path merges ~20
    def table(n: Long, seq: Long) = spark.range(n).select(
      col("id"),
      pmod(xxhash64(col("id")), lit(math.max(1000L, n / 10L))).as("grp"),
      (xxhash64(col("id"), lit(seq)) % 1000000L).as("v"),
      lit(seq).as("seq"),
      lit(false).as("__del"))

    // the FIXED change set: 20 keys spread across the id space
    def changes(n: Long, seq: Long) =
      table(n, seq).filter(pmod(col("id"), lit(n / 20L)) === 0)

    // warm-up rung (untimed): codegen + shuffle machinery
    locally {
      val s = new graft.sink.SnapshotParquetSink(s"$scratch/warm", 8)
      s.merge(table(5000L, 1L), Seq("id"), "seq", "__del")
      val a = new graft.sink.SnapshotParquetSink(s"$scratch/warm_agg", 8)
      val m = new graft.sink.MaterializedAgg(s, a, Seq("grp"),
        Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
      m.refresh(spark)
      s.merge(changes(5000L, 2L), Seq("id"), "seq", "__del")
      m.refresh(spark)
      ()
    }

    def rung(tag: String, n: Long, groupCols: Seq[String],
        deltaOnly: Boolean = false, recomputeTwin: Boolean = false): String = {
      // constant-volume buckets: ~25k rows per bucket at every rung
      val nBuckets = math.max(8, (n / 25000L).toInt)
      val src = new graft.sink.SnapshotParquetSink(s"$scratch/${tag}_src_$n", nBuckets)
      // view bucket sizing: a refresh's write amplification is (dirty
      // groups' buckets) × (bucket size), so a MAINTAINED view wants
      // smaller buckets than a fact table — ~2.5k-row view buckets keep a
      // 20-group delta's rewrite O(dirty), where fact-sized 25k-row
      // buckets would rewrite ~10× the rows per refresh
      val agg = new graft.sink.SnapshotParquetSink(s"$scratch/${tag}_agg_$n",
        if (groupCols.contains("id")) nBuckets
        else if (deltaOnly) nBuckets
        else math.max(8, nBuckets / 8))
      val viewAggs =
        if (deltaOnly) Seq(count(lit(1)).as("n_rows"), sum(col("v")).as("sv"))
        else Seq(count(lit(1)).as("n_rows"), sum(col("v")).as("sv"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
      val m = new graft.sink.MaterializedAgg(src, agg, groupCols, viewAggs)
      // the OPPOSITE-regime TWIN (a second view of the SAME source): the
      // "chosen regime >= the alternative at every rung" claim needs the
      // alternative MEASURED, not argued. The chosen view refreshes FIRST
      // so JIT/page-cache warmth biases toward the twin, against the claim.
      val twin = if (!recomputeTwin) None else Some {
        val aggT = new graft.sink.SnapshotParquetSink(
          s"$scratch/${tag}_aggtwin_$n", math.max(8, nBuckets / 8))
        new graft.sink.MaterializedAgg(src, aggT, groupCols, viewAggs)
      }
      src.merge(table(n, 1L), Seq("id"), "seq", "__del")
      val (_, buildSec) = timed(m.refresh(spark))
      twin.foreach(_.refresh(spark))
      src.merge(changes(n, 2L), Seq("id"), "seq", "__del")
      val changedFiles = src.changedEntriesAt(1L, 0L).length
      // THREE measured rounds, min per variant: round 1 runs the chosen
      // view cold and the twin warm (bias AGAINST the chosen pick); rounds
      // 2-3 are warm for both, so the min strips the ordering asymmetry
      // that made the crossover rung flap ±20% between invocations. Three
      // rounds buy the tighter 1.05 not-worse slack (r14 used 1.15 over
      // two rounds — the slack is part of the claim and stated with it).
      def timedRefresh(v: graft.sink.MaterializedAgg,
          force: Option[String]): Double = {
        graft.sink.MaterializedAgg.forcedRegime = force
        try timed(v.refresh(spark))._2
        finally graft.sink.MaterializedAgg.forcedRegime = None
      }
      var refreshSec = timedRefresh(m, None)
      val regime = m.lastRefreshRegime.getOrElse("none")
      val opposite = if (regime == "fold") "recompute" else "fold"
      var twinSec = twin.map(t => timedRefresh(t, Some(opposite)))
      if (twin.isDefined) {
        for (round <- Seq(3L, 4L)) {
          src.merge(changes(n, round), Seq("id"), "seq", "__del")
          refreshSec = math.min(refreshSec, timedRefresh(m, Some(regime)))
          twinSec = twinSec.map(s =>
            math.min(s, timedRefresh(twin.get, Some(opposite))))
        }
      }
      val twinJson = twinSec.map { s =>
        s""","twin_regime":"$opposite","twin_refresh_sec":${num(s)},"chosen_not_worse":${refreshSec <= s * 1.05}"""
      }.getOrElse("")
      // write-side volumes: the incremental path rewrites only the agg
      // buckets the ~20 dirty groups hash to; a from-scratch refresh
      // rewrites the whole n/10-row view
      val aggChangedFiles = agg.changedEntriesAt(agg.versions.last,
        agg.versions.head).length
      val viewRows = m.read(spark).count()
      val (feedRows, feedSec) = timed(
        src.changesBetween(spark, 0L, 1L).count())
      val (_, recomputeSec) = timed(
        src.read(spark, graft.sink.DeleteMode.Hard)
          .groupBy(groupCols.map(col): _*)
          .agg(viewAggs.head, viewAggs.tail: _*)
          .write.mode("overwrite").parquet(s"$scratch/${tag}_full_$n"))
      s""""$n":{"rows":$n,"nbuckets":$nBuckets,"regime":"$regime",
         |"changed_files":$changedFiles,
         |"agg_changed_files":$aggChangedFiles,"view_rows":$viewRows,
         |"feed_rows":$feedRows,"build_sec":${num(buildSec)},
         |"refresh_sec":${num(refreshSec)},"feed_sec":${num(feedSec)},
         |"recompute_sec":${num(recomputeSec)},
         |"speedup":${num(recomputeSec / math.max(refreshSec, 1e-9))},
         |"speedup_vs_rebuild":${num(buildSec / math.max(refreshSec, 1e-9))}$twinJson}"""
        .stripMargin.replaceAll("\n", "")
    }
    // three regimes (scaladoc): pure-delta SUM/COUNT views, cross-key
    // rollups with min/max (write-side win only), keyed views
    // the delta ladder climbs one rung further (30x the top shared mult):
    // the crossover vs recompute lands between the 10M and 30M rungs on
    // this box and the gap must be shown WIDENING past it
    // PROFILING knobs (never set for artifact captures): GRAFT_IVM_FAMS
    // comma-filters the families, GRAFT_IVM_NO_EXTEND drops the 3× tail
    // rung — single-rung single-family iteration while tuning the fold
    val fams = sys.env.get("GRAFT_IVM_FAMS")
      .map(_.split(',').toSet).getOrElse(Set("delta", "rollup", "keyed"))
    val deltaMults =
      if (sys.env.contains("GRAFT_IVM_NO_EXTEND")) mults
      else mults ++ mults.lastOption.map(_ * 3L).toSeq
    val delta = if (!fams("delta")) Nil else deltaMults.map(m =>
      rung("delta", base * m, Seq("grp"), deltaOnly = true))
    // the rollup ladder climbs to 30M too, and every rung carries a
    // forced-recompute twin so the cost-based pick's "chosen regime is
    // never worse" claim is MEASURED per rung, not argued
    val rollup = if (!fams("rollup")) Nil else deltaMults.map(m =>
      rung("rollup", base * m, Seq("grp"), recomputeTwin = true))
    val keyed = if (!fams("keyed")) Nil
      else mults.map(m => rung("keyed", base * m, Seq("id", "grp")))
    println(s"""{"ivm_delta":{${delta.mkString(",")}},""" +
      s""""ivm_rollup":{${rollup.mkString(",")}},""" +
      s""""ivm_keyed":{${keyed.mkString(",")}}}""")
    graft.engine.Fs.deleteTree(new java.io.File(scratch))
    spark.stop()
  }
}
