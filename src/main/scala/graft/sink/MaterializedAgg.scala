package graft.sink

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Expression, GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Incrementally-maintained materialized aggregate over a snapshot table —
  * the "never recompute the world" leg of the table-format family: a
  * downstream GROUP BY is kept in its own [[SnapshotParquetSink]] and
  * advanced per source version by ONE OF THREE regimes, picked
  * automatically from the declared aggregates:
  *
  *   - **PURE DELTA** ([[deltaRefresh]]) when every aggregate is an
  *     integer SUM or COUNT: per-group deltas fold out of the two
  *     versions' changed-bucket slices alone and ADD into the stored
  *     values — no snapshot rescan, no recompute, O(changed) end to end.
  *     Hidden counters (`__rows` per group, `__nn_*` per sum) keep
  *     group-death and all-null-sum semantics exact; integer addition
  *     keeps the folded value bit-equal to a recompute. (Float sums would
  *     drift and decimal sums re-widen — those stay on recompute.)
  *   - **EXTREMUM-AWARE FOLD** ([[foldRefresh]]) for CROSS-KEY rollups
  *     where integer MIN/MAX ride alongside delta-able SUM/COUNTs:
  *     sums/counts fold as above, and an extremum folds monotonically
  *     (`least`/`greatest` with the new slice's candidate) — which is
  *     exact UNLESS a REMOVED value ties-or-crosses the stored extremum
  *     (deleting a group's current `max` leaves a value no arithmetic can
  *     roll back, and a removed tie has unknowable multiplicity). Exactly
  *     those groups — typically none — rescan from the source restricted
  *     to them; everything else is O(changed) + one column-pruned O(view)
  *     stored-row join, the view being smaller than the source by the
  *     group-cardinality factor. (KEYED min/max views skip the fold: their
  *     recompute scan already prunes to changed buckets — O(changed) beats
  *     the O(view) stored read.)
  *   - **DIRTY-GROUP RECOMPUTE** otherwise — the strategy that stays
  *     EXACT for arbitrary aggregates (float/decimal sums, avg,
  *     count_distinct, UDAFs): the groups the change feed touched
  *     recompute from the source's current snapshot (O(changed groups'
  *     rows) with changed-bucket pruning for keyed views; one
  *     column-pruned scan for cross-key rollups).
  *
  * The recompute regime per [[refresh]]:
  *   1. a keyed diff of the live states at the last applied version and
  *      the current version ([[SnapshotParquetSink.keyedDiff]]: presence
  *      diff + null-safe seq inequality) names the dirty GROUPS in one
  *      column-pruned pass — BOTH sides' group values count, because an
  *      update can MOVE a row between groups (the old group must shrink
  *      and the new one grow);
  *   2. dirty groups recompute from the source's current snapshot and
  *      MERGE into the aggregate table (affected buckets only); groups
  *      with no remaining rows merge as logical deletes. When the diff came
  *      back driver-local (a small change), so does the dirty set, and the
  *      delta — one row per dirty group — is collected and merged as a
  *      driver-local batch (no persist, no merge probe job).
  *
  * The applied-version bookkeeping is the aggregate table's own manifest:
  * every refreshed row carries `seq` = the source version it was computed
  * at, so the agg manifest's `maxseq` IS the applied version — recorded
  * atomically with the data by the same commit, which makes a crashed or
  * replayed refresh self-healing: it recomputes the same dirty groups and
  * merges identical content under the same seq (last-write-wins keeps the
  * state; a replay after the commit is a metadata no-op).
  *
  * Retention contract: [[refresh]] reads the source AT the last applied
  * version, so the source must retain every version back to it — vacuum
  * the source with `keepLast` covering the refresh cadence (the
  * [[SnapshotCatalog.retainedVersions]] handshake shape).
  *
  * Scale shape at 100 TB: the change feed and dirty-key semi-joins
  * shuffle on the source merge key (the same join any consumer diff
  * pays); the recompute scan reads only group/agg columns and — under a
  * group-correlated layout (`clusterBy` on the group columns, or manifest
  * stats that happen to correlate) — only the buckets holding dirty
  * groups. The merge rewrites only the agg buckets the dirty groups hash
  * to. Nothing is proportional to table size except the one column-pruned
  * recompute scan, and nothing is ever proportional to history length.
  */
/** A view maintained by incremental refresh — what a transactional pipeline
  * ([[graft.streaming.CatalogTxnStream]]) needs to advance views inside a
  * cut without knowing their shape: [[MaterializedAgg]] (one source) and
  * [[MaterializedJoin]] (two) both qualify; cascaded views stack by
  * declaring them in bottom-up order.
  */
trait MaintainedView {
  def sink: SnapshotParquetSink

  /** Refresh when every source has a committed version; no-op before the
    * first source data arrives.
    */
  def refreshIfReady(spark: SparkSession): Unit
}

final class MaterializedAgg(
    val source: SnapshotParquetSink,
    val sink: SnapshotParquetSink,
    val groupCols: Seq[String],
    val aggs: Seq[Column],
    seqCol: String = "seq") extends MaintainedView {

  override def refreshIfReady(spark: SparkSession): Unit =
    if (source.currentVersion.nonEmpty) {
      refresh(spark)
      ()
    }

  require(groupCols.nonEmpty, "materialized aggregate needs group columns")
  require(aggs.nonEmpty, "materialized aggregate needs aggregate columns")

  /** Telemetry: which maintenance regime the last [[refresh]] ran —
    * "initial" (first build), "delta" (pure arithmetic fold), "recompute"
    * (dirty-group rescan), None before any refresh. Tests assert the delta
    * fast path actually engages for SUM/COUNT views.
    */
  @volatile var lastRefreshRegime: Option[String] = None

  /** The source version the aggregate table currently reflects — the agg
    * manifest's recorded max seq (every refresh stamps its rows with the
    * source version, so this never needs a data read).
    */
  def appliedVersion: Option[Long] =
    sink.currentVersion.flatMap(v =>
      SnapshotParquetSink.manifestMaxSeq(sink.dir, v))

  private def grouped(rows: DataFrame): DataFrame = groupedWith(rows, Nil)

  /** The declared GROUP BY, optionally extended with maintenance aggregates
    * (the delta regime's hidden counters) — extras are appended AFTER the
    * user-name validation so `__`-prefixed bookkeeping never collides.
    */
  private def groupedWith(rows: DataFrame, extra: Seq[Column]): DataFrame = {
    val user = rows.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    require(user.columns.toSeq.distinct.size == user.columns.length,
      s"aggregate names collide with group columns: ${user.columns.toSeq}")
    val names = user.columns.toSeq.filterNot(groupCols.contains)
    // unaliased aggregates get generated names like `sum(v)` — illegal in
    // parquet field names and useless downstream; demand explicit aliases
    names.foreach(n => require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"aggregate columns must be aliased (.as(...)): got '$n'"))
    val reserved = Set("seq", "__del", "__present")
    require(names.forall(n => !reserved(n)),
      s"aggregate names $names collide with bookkeeping columns $reserved")
    // `__` is the maintenance namespace (delta-regime hidden counters live
    // under `__rows`/`__nn_*`) — a user aggregate there would be silently
    // shadowed, so refuse loudly
    require(names.forall(n => !n.startsWith("__")),
      s"aggregate names must not start with '__' (reserved for view " +
        s"maintenance bookkeeping): $names")
    if (extra.isEmpty) user
    else rows.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, (aggs.tail ++ extra): _*)
  }

  private def aggNamesOf(g: DataFrame): Seq[String] =
    g.columns.toSeq.filterNot(groupCols.contains)

  // null-safe group equality: group columns may legitimately hold nulls
  // (groupBy keeps a null group; a plain equi-join would drop it)
  private def groupCond(left: DataFrame, right: DataFrame) =
    groupCols.map(k => left(k) <=> right(k)).reduce(_ && _)

  // ------------------------------------------------------------ delta path

  /** One delta-maintainable SUM: the view column name and the summed child
    * expression's SQL (re-evaluated over change slices). `__nn_<name>`
    * tracks the group's non-null input count so the stored value can return
    * to SQL's `sum over all-null = NULL` when the last non-null row leaves.
    */
  private case class SumSpec(name: String, childSql: String)

  /** One delta-maintainable COUNT: `condSql` is the non-null test over the
    * counted children (None = count(*)/count(non-null literal) — every row
    * counts).
    */
  private case class CountSpec(name: String, condSql: Option[String])

  /** One MIN or MAX the fold regime maintains monotonically: candidates
    * fold with least/greatest; only a REMOVED value tying the stored
    * extremum forces a rescan of that group (multiplicity is unknowable
    * from deltas — two rows may share the extremum).
    */
  private case class ExtSpec(name: String, childSql: String)

  /** The view qualifies for arithmetic maintenance: every aggregate is a
    * top-level aliased SUM, COUNT, MIN or MAX (no DISTINCT, no FILTER)
    * over exact integer values. `refs` = source columns the agg inputs
    * read. mins/maxs empty ⇒ the PURE-DELTA regime; non-empty ⇒ the FOLD
    * regime (extremum-aware, rescans only threatened groups).
    */
  private case class DeltaSpec(sums: Seq[SumSpec], counts: Seq[CountSpec],
      refs: Seq[String], mins: Seq[ExtSpec] = Nil, maxs: Seq[ExtSpec] = Nil)

  /** Analyze the declared aggregates against the source's schema — None
    * unless EVERY aggregate is delta-able. Restricted to LongType results
    * (integral sums, counts): delta arithmetic on floats would drift from
    * a recompute (non-associative addition), and decimal sums re-widen
    * precision per addition — both stay on the exact dirty-group-recompute
    * regime. Driver-side analysis only (the probe frame is never executed).
    */
  private def deltaSpec(sourceShaped: DataFrame): Option[DeltaSpec] =
    try {
      val analyzed = grouped(sourceShaped.limit(0)).queryExecution.analyzed
      val agg = analyzed.collectFirst { case a: Aggregate => a }.getOrElse(return None)
      val groupNames = groupCols.toSet
      def stripCast(e: Expression): Expression = e match {
        case c: Cast if c.child.dataType == c.dataType => stripCast(c.child)
        case other => other
      }
      val sums = Seq.newBuilder[SumSpec]
      val counts = Seq.newBuilder[CountSpec]
      val mins = Seq.newBuilder[ExtSpec]
      val maxs = Seq.newBuilder[ExtSpec]
      val refs = Seq.newBuilder[String]
      agg.aggregateExpressions.foreach {
        case a: org.apache.spark.sql.catalyst.expressions.Attribute
            if groupNames(a.name) => // grouping key pass-through
        case Alias(child, name) => stripCast(child) match {
          case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
            ae.aggregateFunction match {
              case s: Sum if ae.dataType == LongType =>
                sums += SumSpec(name, s.child.sql)
                refs ++= s.child.references.map(_.name)
              case m: Min if ae.dataType == LongType =>
                mins += ExtSpec(name, m.child.sql)
                refs ++= m.child.references.map(_.name)
              case m: Max if ae.dataType == LongType =>
                maxs += ExtSpec(name, m.child.sql)
                refs ++= m.child.references.map(_.name)
              case c: Count =>
                val nonLit = c.children.filterNot(ch =>
                  ch.foldable && ch.eval(null) != null)
                if (nonLit.isEmpty) counts += CountSpec(name, None)
                else {
                  counts += CountSpec(name,
                    Some(nonLit.map(ch => s"(${ch.sql}) IS NOT NULL")
                      .mkString(" AND ")))
                  refs ++= nonLit.flatMap(_.references.map(_.name))
                }
              case _ => return None
            }
          case _ => return None
        }
        case _ => return None
      }
      val spec = DeltaSpec(sums.result(), counts.result(),
        refs.result().distinct, mins.result(), maxs.result())
      // round-trip check: every extracted SQL fragment must re-parse and
      // resolve against the source shape, or the view is not delta-able
      val probeSel = spec.sums.map(s => expr(s.childSql)) ++
        spec.counts.flatMap(_.condSql).map(expr) ++
        (spec.mins ++ spec.maxs).map(m => expr(m.childSql))
      if (probeSel.nonEmpty)
        sourceShaped.limit(0).select(probeSel: _*).schema
      Some(spec)
    } catch { case NonFatal(_) => None }

  /** The hidden per-group counters a delta-regime view stores alongside the
    * user aggregates: `__rows` (group liveness — 0 live rows ⇒ the group
    * tombstones), `__nn_<sum>` (non-null input count per SUM — 0 ⇒ the
    * stored sum displays as NULL, SQL's empty-sum semantics), and per
    * MIN/MAX the extremum BUFFER (`__bot_<name>` / `__top_<name>`, the k
    * best values with multiplicity — [[MaterializedAgg.ExtremumBufferK]])
    * plus its non-null input count `__nne_<name>` (0 ⇒ NULL extremum,
    * distinguishing "all inputs null" from "buffer exhausted → rescan").
    */
  private def hiddenAggs(spec: DeltaSpec,
      withExtBufs: Boolean = true): Seq[Column] = {
    val k = MaterializedAgg.ExtremumBufferK
    def nne(e: ExtSpec) =
      sum(when(expr(e.childSql).isNotNull, 1L).otherwise(0L)).as(s"__nne_${e.name}")
    val base = count(lit(1)).as("__rows") +: spec.sums.map(s =>
      sum(when(expr(s.childSql).isNotNull, 1L).otherwise(0L))
        .as(s"__nn_${s.name}"))
    // extremum buffers exist FOR the fold regime; a keyed view never folds
    // (its recompute is already O(changed)), so building them there would
    // tax every build/refresh with a non-codegen UDAF pass for nothing —
    // measured 4.3× on a 9M-row keyed build
    if (!withExtBufs) return base
    base ++
      // cast: the UDAF emits array<bigint NOT NULL> while the fold UDF
      // emits nullable elements — one stored type, or schema-evolution
      // checks refuse the merge
      spec.mins.flatMap(e => Seq(
        graft.engine.BoundedExtremesAgg.bottomK(expr(e.childSql), k)
          .cast("array<bigint>").as(s"__bot_${e.name}"), nne(e))) ++
      spec.maxs.flatMap(e => Seq(
        graft.engine.BoundedExtremesAgg.topK(expr(e.childSql), k)
          .cast("array<bigint>").as(s"__top_${e.name}"), nne(e)))
  }

  /** Does the view's CURRENT committed schema carry the delta counters? A
    * table built before the delta regime (or by a non-delta-able spec)
    * lacks them and must stay on the recompute regime — merging
    * counter-less rows into a counter-bearing table (or vice versa) would
    * null-fill and corrupt later delta arithmetic.
    */
  private def storedHasHidden: Boolean =
    sink.currentVersion.exists(
      SnapshotParquetSink.manifestSchema(sink.dir, _).fieldNames.contains("__rows"))

  /** Does the view's committed SCHEMA carry the extremum buffers the fold
    * regime folds against? A pre-buffer table (r13 format, or built by a
    * non-delta spec) stays on recompute — which, when the spec qualifies,
    * writes the buffers for the groups it rewrites, upgrading the view
    * lazily (untouched groups carry null buffers until first dirty, when
    * the fold's null-buffer rescan recomputes them exactly).
    */
  private def storedHasExtBufs(spec: DeltaSpec): Boolean = {
    val need = spec.mins.map(e => s"__bot_${e.name}") ++
      spec.maxs.map(e => s"__top_${e.name}") ++
      (spec.mins ++ spec.maxs).map(e => s"__nne_${e.name}")
    sink.currentVersion.exists { v =>
      need.forall(SnapshotParquetSink.manifestSchema(sink.dir, v).fieldNames.toSet)
    }
  }

  /** Advances the aggregate table to the source's current version.
    * Returns Some(appliedSourceVersion) when a refresh ran, None when
    * already current. A first call on an empty aggregate table builds it
    * fully from the source's current snapshot.
    */
  def refresh(spark: SparkSession): Option[Long] = refreshAttempt(spark, 0, None)

  /** [[refresh]] bounded to a specific RETAINED source version — the
    * streaming follower's per-commit advance ([[graft.streaming.MatViewStream]]
    * admits upstream commits one version at a time and refreshes to each),
    * and the replay primitive for tests that pin per-version view states.
    */
  def refreshTo(spark: SparkSession, sourceVersion: Long): Option[Long] =
    refreshAttempt(spark, 0, Some(sourceVersion))

  /** Bounded applied-head-conflict retry: a refresh whose guarded merge
    * lost the head race re-reads and goes again, but only [[MaxConflictRetries]]
    * times with linear backoff — two refreshers under sustained alternating
    * contention must surface an error, not livelock (and the old unbounded
    * recursion grew the stack one frame per conflict).
    */
  private def retryConflict(spark: SparkSession, attempt: Int,
      target: Option[Long]): Option[Long] = {
    if (attempt >= MaterializedAgg.MaxConflictRetries)
      throw new IllegalStateException(
        s"refresh of ${sink.dir} lost the applied-head race " +
          s"${MaterializedAgg.MaxConflictRetries} times in a row — " +
          "a concurrent refresher is starving this one; serialize refreshers " +
          "or widen the refresh interval")
    Thread.sleep(50L * (attempt + 1))
    refreshAttempt(spark, attempt + 1, target)
  }

  private def refreshAttempt(spark: SparkSession, attempt: Int,
      target: Option[Long]): Option[Long] = synchronized {
    val srcV = target.getOrElse(source.currentVersion.getOrElse(
      sys.error(s"source table at ${source.dir} has no committed version")))
    target.foreach(v => require(source.versions.contains(v),
      s"cannot refresh to source version $v at ${source.dir} — not published " +
        "or vacuumed"))
    lazy val spec = deltaSpec(source.emptyAt(spark, srcV))
    appliedVersion match {
      case Some(applied) if applied >= srcV => None
      case None =>
        lastRefreshRegime = Some("initial")
        // initial build: the whole current snapshot, one grouped pass —
        // plus the delta regime's hidden counters when the view qualifies,
        // so every later refresh can advance by pure arithmetic.
        // Persisted because merge evaluates its input several times
        // (affected buckets, max seq, write) — O(groups) rows, spillable.
        // extremum buffers only for FOLD-ELIGIBLE (cross-key) views — a
        // keyed view's recompute never needs them (see hiddenAggs)
        val crossKey =
          !SnapshotParquetSink.manifestKeys(source.dir, srcV).forall(groupCols.contains)
        val full = groupedWith(source.readAt(spark, srcV, DeleteMode.Hard),
            spec.map(hiddenAggs(_, withExtBufs = crossKey)).getOrElse(Nil))
          .withColumn("seq", lit(srcV))
          .withColumn("__del", lit(false))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink.merge(full, groupCols, "seq", "__del")
          Some(srcV)
        } finally {
          full.unpersist()
          ()
        }
      case Some(applied) =>
        val srcKeys = SnapshotParquetSink.manifestKeys(source.dir, srcV)
        // regime pick: pure-delta needs (a) a delta-able spec, (b) a view
        // that stores the hidden counters (a pre-delta table must stay on
        // recompute — merging counter-less rows would corrupt arithmetic),
        // (c) a retained diff base. Anything else falls to the exact
        // dirty-group recompute — carrying the counters forward iff the
        // table already stores them.
        val deltaReady = spec.isDefined && storedHasHidden
        val baseRetained0 = source.versions.contains(applied)
        if (deltaReady && baseRetained0) {
          val sp = spec.get
          if (sp.mins.isEmpty && sp.maxs.isEmpty)
            return deltaRefresh(spark, sp, applied, srcV, srcKeys, attempt)
          // extremum fold reads dirty view buckets (O(dirty), bucket-pruned)
          // where cross-key recompute must rescan the SOURCE for its dirty
          // groups (group values scatter across source buckets) — but fold
          // pays extra fixed-latency jobs (bucket probe, persists), so on
          // a SMALL source the recompute's single scan wins. The pick is
          // COST-BASED on driver-side manifest file sizes (no data IO):
          // fold's read estimate is OPTIMISTIC (one view bucket — the
          // bucket-pruned read scales with dirty groups, which a steady
          // refresh keeps far below the bucket count; a pessimistic
          // whole-view estimate was measured to skip fold exactly where it
          // wins, a near-keyed 27M rung where fold ran 0.66× recompute's
          // wall). Keyed views (srcKeys ⊆ groups) never fold: their
          // recompute scan already prunes to changed buckets, O(changed).
          if (!srcKeys.forall(groupCols.contains) &&
              storedHasExtBufs(sp)) {
            val fixedEquiv = spark.conf.getOption(
              "spark.graft.ivm.foldFixedCostBytes").map(_.toLong)
              .getOrElse(MaterializedAgg.FoldFixedCostBytes)
            val estFold = sink.currentVersion.map(v =>
              sink.bytesAt(v) / math.max(1, sink.bucketCount)).getOrElse(0L) +
              fixedEquiv
            val estRecompute = source.bytesAt(srcV)
            if (sys.props.contains("graft.ivm.debug"))
              System.err.println(s"[pick] estFold=$estFold (bucket+" +
                s"$fixedEquiv fixed) estRecompute=$estRecompute")
            val forced = sys.props.get("graft.ivm.forceRegime") // bench/test twin knob
            val pickFold = forced match {
              case Some("fold")      => true
              case Some("recompute") => false
              case _                 => estFold < estRecompute
            }
            if (pickFold)
              return foldRefresh(spark, sp, applied, srcV, srcKeys, attempt)
          }
        }
        lastRefreshRegime = Some("recompute")
        val extraAggs =
          if (deltaReady)
            hiddenAggs(spec.get, withExtBufs = !srcKeys.forall(groupCols.contains))
          else Nil
        // self-healing when the diff base is GONE (the view lagged past the
        // source's vacuum retention): every group on either side — current
        // view, current snapshot — is dirty, and the normal recompute +
        // outer-join machinery below rebuilds live groups and tombstones
        // vanished ones. Costs one full pass; the fix for recurrence is
        // retention covering the refresh cadence (class scaladoc).
        val baseRetained = baseRetained0
        def rebuildDirty(): DataFrame =
          read(spark).select(groupCols.map(col): _*)
            .unionByName(source.readAt(spark, srcV, DeleteMode.Hard)
              .select(groupCols.map(col): _*))
            .distinct()
        // COST GATE on the dirty probe (driver-side, manifest-only): when
        // most source buckets changed between the two versions, the keyed
        // diff reads ~2× the changed bytes plus a key-level full-outer join
        // to learn what rebuildDirty learns from one grouped pass (view
        // groups ∪ source groups — a correct SUPERSET of the truly-dirty
        // set; recomputing a clean group reproduces its stored values).
        // Break-even is ~half the table (diff reads both sides of every
        // changed bucket). CROSS-KEY views only: their recompute scans the
        // full snapshot either way, so a superset dirty set costs nothing
        // extra — a keyed view's recompute prunes its scan to changed
        // buckets and must keep the exact diff (an all-groups dirty set
        // against a pruned scan would tombstone clean groups).
        if (baseRetained && !srcKeys.forall(groupCols.contains) &&
            MaterializedAgg.bulkChanged(source.dir, applied, srcV)) {
          // DIRECT bulk recompute: with (nearly) every bucket changed, the
          // dirty set is (nearly) every group — so skip the dirty
          // bookkeeping altogether. ONE snapshot scan recomputes every
          // live group (the dirty-gated shape scanned the source twice:
          // once for rebuildDirty's group distinct, once for the
          // semi-joined recompute); dead groups come from a tiny
          // anti-join of the view's group list against the recompute.
          // Correctness matches the dirty machinery with dirty = all
          // groups on either side: recomputing a clean group reproduces
          // its stored row, vanished groups tombstone.
          val recomputed = groupedWith(
            source.readAt(spark, srcV, DeleteMode.Hard), extraAggs)
          val names = aggNamesOf(recomputed)
          val rG = recomputed.select(groupCols.map(col): _*)
          val vG = read(spark).select(groupCols.map(col): _*)
          val gone = vG.join(rG, groupCond(vG, rG), "left_anti")
          val goneFull = names.foldLeft(gone)((df, n) =>
            df.withColumn(n, lit(null).cast(recomputed.schema(n).dataType)))
          val delta = recomputed.withColumn("__del", lit(false))
            .unionByName(goneFull.withColumn("__del", lit(true)))
            .withColumn("seq", lit(srcV))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            sink.merge(delta, groupCols, "seq", "__del")
            return Some(srcV)
          } finally {
            delta.unpersist()
            ()
          }
        }
        // dirty groups = groups of the changed keys' rows at EITHER version
        // (an update can move a row between groups; a delete's group is
        // only visible on the from side): one keyed diff carrying both
        // sides' group columns. A driver-local diff yields a driver-local
        // dirty set (no persist needed); otherwise the set is persisted,
        // since the recompute below reads it twice.
        val diff = if (baseRetained) Some(source.keyedDiff(
          spark, applied, srcV, srcKeys, seqCol, groupCols.map(col))) else None
        val localDirty = diff.flatMap(localDirtyGroups(spark, _))
        val dirty = localDirty.getOrElse(diff.map(dirtyGroups).getOrElse(rebuildDirty())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        try {
          // KEYED VIEWS (groupCols ⊇ merge keys — per-key rollups): a dirty
          // group's rows all share its key, the key routes to one bucket,
          // and that bucket's file changed with the key — so the recompute
          // scan itself reads only CHANGED buckets and the whole refresh is
          // O(changed), never O(table). Cross-key rollups must scan the
          // snapshot (exact min/max needs every surviving row of a dirty
          // group, and those live anywhere). The changed slice carries every
          // column under the recorded schema.
          val keyDetermined = baseRetained && srcKeys.forall(groupCols.contains)
          def fullSnap = source.readAt(spark, srcV, DeleteMode.Hard)
          val snap =
            if (keyDetermined)
              source.readChangedAt(spark, srcV, applied, DeleteMode.Hard)
                .getOrElse(fullSnap.filter(lit(false)))
            else fullSnap
          val touched = snap.join(dirty, groupCond(snap, dirty), "left_semi")
          val recomputed = groupedWith(touched, extraAggs)
          val names = aggNamesOf(recomputed)
          // one outer join covers both cases: dirty groups that still have
          // rows get their recomputed aggregates; groups with no remaining
          // rows (marker null) merge as logical deletes so history stays
          // time-travelable. Seq-only churn (dirty empty) flows through as
          // an empty delta — merge's affected-buckets check no-ops it.
          val marked = recomputed.withColumn("__present", lit(true))
          val delta = dirty
            .join(marked, groupCond(dirty, marked), "left_outer")
            .select(groupCols.map(dirty(_)) ++ names.map(marked(_)) :+
              marked("__present").isNull.as("__del"): _*)
            .withColumn("seq", lit(srcV))
          if (localDirty.isDefined) {
            // one row per dirty group, at most the collect cap's: collected
            // and merged as a driver-local batch — no persist, no probe job
            sink.merge(SnapshotParquetSink.localFrame(spark, delta.schema,
              delta.queryExecution.toRdd.map(_.copy()).collect().toSeq),
              groupCols, "seq", "__del")
            Some(srcV)
          } else {
            // merge walks this several times; without the persist every walk
            // re-runs the whole recompute join pipeline — O(dirty groups)
            delta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              sink.merge(delta, groupCols, "seq", "__del")
              Some(srcV)
            } finally {
              delta.unpersist()
              ()
            }
          }
        } finally {
          dirty.unpersist()
          ()
        }
    }
  }

  /** The distinct groups of a keyed diff's present sides, planned. */
  private def dirtyGroups(diff: DataFrame): DataFrame = {
    def groupsIfPresent(t: String) =
      when(col(s"__${t}_present"),
        struct(groupCols.map(g => col(s"__${t}_$g").as(g)): _*))
    diff.select(explode(array(groupsIfPresent("a"), groupsIfPresent("b"))).as("g"))
      .filter(col("g").isNotNull)
      .select(groupCols.map(g => col(s"g.$g").as(g)): _*).distinct()
  }

  /** [[dirtyGroups]] of a driver-local diff, computed on the driver into a
    * driver-local frame — None unless the diff is local, every group
    * column is [[SnapshotParquetSink.byteComparable]] (the distinct is by
    * bytes; Spark's distinct equates -0.0 and 0.0) and there are at most
    * [[MaterializedAgg.collectCap]] groups (the recompute collects one row
    * per dirty group).
    */
  private def localDirtyGroups(spark: SparkSession, diff: DataFrame): Option[DataFrame] =
    SnapshotParquetSink.localRows(diff).flatMap { rows =>
      val s = diff.schema
      val types = groupCols.map(g => s(s"__b_$g").dataType)
      if (!types.forall(SnapshotParquetSink.byteComparable)) None
      else {
        val id = SnapshotParquetSink.rowIdentity(types.zipWithIndex.map(_.swap))
        val sides = Seq("a", "b").map(t =>
          (s.fieldIndex(s"__${t}_present"), groupCols.map(g => s.fieldIndex(s"__${t}_$g"))))
        val groups = scala.collection.mutable.LinkedHashMap.empty[UnsafeRow, InternalRow]
        for (r <- rows; (present, at) <- sides if r.getBoolean(present)) {
          val g = new GenericInternalRow(at.zip(types).map { case (i, dt) => r.get(i, dt) }.toArray)
          groups.getOrElseUpdate(id(g), g)
        }
        if (groups.size > MaterializedAgg.collectCap) None
        else Some(SnapshotParquetSink.localFrame(spark,
          StructType(groupCols.zip(types).map { case (n, dt) => StructField(n, dt) }),
          groups.values.toSeq))
      }
    }

  /** Pure-delta refresh for SUM/COUNT views — NO snapshot rescan, NO
    * dirty-group recompute, NO view read outside the commit's own rewrite:
    * the change is derived from the two versions' CHANGED-BUCKET slices
    * alone and folded into the stored values inside the merge.
    *
    *   1. old/new changed-bucket slices join full-outer on the merge keys;
    *      genuinely changed rows (presence diff or seq inequality — the
    *      same change test as [[SnapshotParquetSink.changesBetween]])
    *      explode into SIGNED images: old image weight −1, new image +1.
    *   2. one GROUP BY over the signed rows yields per-group deltas:
    *      Δrows = Σw, Δsum = Σ(±input), Δnn = Σ(w · input-not-null),
    *      Δcount = Σ(w · counted).
    *   3. the delta batch ships to [[SnapshotParquetSink.mergeFold]],
    *      which COMBINES matching keys inside the affected-bucket rewrite
    *      the commit already pays (stored rows re-encode as addable parts;
    *      everything is a commutative integer monoid): a group whose
    *      `__rows` reaches 0 folds to a logical delete; a SUM whose `__nn`
    *      reaches 0 stores NULL (SQL's empty-sum), rebuilt from 0 when
    *      rows return. The fold is guarded by the applied head
    *      (`requireBaseSeq`) so a concurrent refresher can never
    *      double-apply a delta — the loser recomputes and retries.
    *
    * Exactness: restricted to LongType sums and counts (integer addition is
    * associative/commutative — the folded value is bit-equal to a
    * recompute; floats would drift, decimals re-widen — both excluded by
    * [[deltaSpec]]).
    *
    * Scale shape: the changed slices feed ONE signed partial aggregation
    * (no key-level join — unchanged keys cancel exactly under integer
    * addition, so the exchange carries one combined row per group per map
    * task); the merge rewrites only the agg buckets net-nonzero groups
    * hash to. NOTHING reads the source snapshot — the pre-round-13
    * cross-key regime
    * re-scanned it per refresh and measurably LOST to a from-scratch
    * recompute (BENCH_ivm_scale_r12 speedup 0.18–0.39); this path is what
    * makes refresh O(changed) end to end for the delta-able majority
    * (every declared q61 view is SUM/COUNT-shaped).
    */
  private def deltaRefresh(spark: SparkSession, spec: DeltaSpec,
      applied: Long, srcV: Long, srcKeys: Seq[String],
      attempt: Int): Option[Long] = {
    lastRefreshRegime = Some("delta")
    val dbg = new graft.engine.Dbg("graft.ivm.debug", "[ivm]")
    val oldSlice = source.readChangedAt(spark, applied, srcV, DeleteMode.Hard)
    val newSlice = source.readChangedAt(spark, srcV, applied, DeleteMode.Hard)
    // prefix-aliased projections: group values and PRECOMPUTED aggregate
    // inputs per side, column-pruned at the scan. NO key columns and NO
    // key-level join: for pure SUM/COUNT deltas the unchanged keys of the
    // changed buckets CANCEL EXACTLY in the signed aggregation below —
    // integer addition, the same property that makes the fold bit-equal
    // to a recompute — so the former full-outer join (two shuffles of
    // every changed-bucket row plus the per-key image explode) collapses
    // into one UNION feeding one partial-aggregable GROUP BY (guide
    // §2.3/§2.4: aggregate before you shuffle; the exchange now carries
    // one partially-combined row per group per map task, not every key).
    // The two slices read the SAME symmetric changed-bucket set, which is
    // exactly what made the old presence-diff correct, and value change
    // without a seq change is excluded by the stored-state invariant —
    // so a key appears identical on both sides or genuinely changed.
    def side(part: Option[DataFrame], w: Long): DataFrame = {
      val rows = part.getOrElse(
        source.readAt(spark, srcV, DeleteMode.Hard).filter(lit(false)))
      rows.select(
        groupCols.map(g => col(g).as(s"__g_$g")) ++
          spec.sums.zipWithIndex.map { case (s, i) =>
            expr(s.childSql).as(s"__v$i") } ++
          spec.counts.zipWithIndex.map { case (c, i) =>
            (c.condSql match {
              case None      => lit(1L)
              case Some(sql) => when(expr(sql), 1L).otherwise(0L)
            }).as(s"__c$i") } :+
          lit(w).as("__w"): _*)
    }
    val signed = side(oldSlice, -1L).unionByName(side(newSlice, 1L))
    val dAggCols =
      Seq(sum(col("__w")).as("__drows")) ++
        spec.sums.zipWithIndex.flatMap { case (_, i) => Seq(
          sum(when(col(s"__v$i").isNotNull,
            when(col("__w") === 1L, col(s"__v$i")).otherwise(-col(s"__v$i"))))
            .as(s"__dv$i"),
          sum(when(col(s"__v$i").isNotNull, col("__w")).otherwise(0L))
            .as(s"__dnn$i")) } ++
        spec.counts.indices.map(i =>
          sum(col(s"__c$i") * col("__w")).as(s"__dc$i"))
    // the delta batch, DELTA-ENCODED in the stored schema: sums carry the
    // raw signed delta (never null — coalesced to 0), counters carry their
    // deltas. The fold with the stored values happens INSIDE the merge's
    // affected-bucket rewrite (mergeFold) — the commit's own read is the
    // only read, so NOTHING here is proportional to the view, let alone
    // the source. Persisted: merge walks the batch several times.
    // groups whose contributions FULLY CANCEL (only unchanged keys, or
    // pure churn that nets to zero) are dropped before the merge: the old
    // join shape never emitted unchanged keys, so without this filter a
    // micro-commit would dirty every group sharing a changed source
    // bucket and the fold would rewrite their agg buckets for a no-op
    val allZero = (col("__drows") === 0L) &&
      (spec.sums.indices.map(i =>
        coalesce(col(s"__dv$i"), lit(0L)) === 0L && col(s"__dnn$i") === 0L) ++
        spec.counts.indices.map(i => col(s"__dc$i") === 0L))
        .foldLeft(lit(true))(_ && _)
    val delta = signed.groupBy(groupCols.map(g => col(s"__g_$g")): _*)
      .agg(dAggCols.head, dAggCols.tail: _*)
      .filter(!allZero)
      .select(
        groupCols.map(g => col(s"__g_$g").as(g)) ++
          spec.sums.zipWithIndex.map { case (s, i) =>
            coalesce(col(s"__dv$i"), lit(0L)).as(s.name) } ++
          spec.counts.zipWithIndex.map { case (c, i) =>
            col(s"__dc$i").as(c.name) } ++
          spec.sums.zipWithIndex.map { case (s, i) =>
            col(s"__dnn$i").as(s"__nn_${s.name}") } ++
          Seq(col("__drows").as("__rows"), lit(false).as("__del"),
            lit(srcV).as("seq")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    /** One row per group from stored state ⊎ delta parts: everything is a
      * commutative integer monoid — stored live rows re-encode as parts
      * (raw sum = coalesce(stored, 0), counters as-is), tombstones and
      * nothing-to-fold groups contribute zeros, deltas add. Death (`__rows`
      * = 0) and the all-null sum (`__nn` = 0 ⇒ NULL) are decided by the
      * folded counters, bit-equal to a recompute.
      */
    def foldReduce(all: DataFrame): DataFrame = {
      val dead = col("__is_deleted")
      def part(c: Column) = sum(when(dead, lit(0L)).otherwise(coalesce(c, lit(0L))))
      val folded =
        Seq(part(col("__rows")).as("__rows_f")) ++
          spec.sums.map(s => part(col(s.name)).as(s"__raw_${s.name}")) ++
          spec.sums.map(s => part(col(s"__nn_${s.name}")).as(s"__nnf_${s.name}")) ++
          spec.counts.map(c => part(col(c.name)).as(s"__cf_${c.name}")) ++
          Seq(max(col("seq")).as("__seq_f"), max(col("__gen")).as("__gen_f"))
      all.groupBy((col("__bucket") +: groupCols.map(col)): _*)
        .agg(folded.head, folded.tail: _*)
        .select(
          (col("__bucket") +: groupCols.map(col)) ++
            spec.sums.map(s =>
              when(col(s"__nnf_${s.name}") === 0L, lit(null).cast(LongType))
                .otherwise(col(s"__raw_${s.name}")).as(s.name)) ++
            spec.counts.map(c => col(s"__cf_${c.name}").as(c.name)) ++
            spec.sums.map(s => col(s"__nnf_${s.name}").as(s"__nn_${s.name}")) ++
            Seq(col("__rows_f").as("__rows"),
              (col("__rows_f") === 0L).as("__is_deleted"),
              col("__seq_f").as("seq"), col("__gen_f").as("__gen")): _*)
    }
    try {
      if (sys.props.contains("graft.ivm.debug")) dbg("materialize")(delta.count())
      dbg("mergeFold")(
        sink.mergeFold(delta, groupCols, "seq", "__del", Some(applied))(foldReduce))
      Some(srcV)
    } catch {
      case _: SnapshotParquetSink.FoldBaseConflict =>
        // someone advanced the view while this delta was in flight (a
        // concurrent refresher, or a replay racing one) — re-read the
        // applied head and go again, bounded (the synchronized refresh
        // re-enters on the same thread), re-targeting the same version
        retryConflict(spark, attempt, Some(srcV))
    } finally {
      delta.unpersist()
      ()
    }
  }

  /** Extremum-aware FOLD refresh for views carrying MIN/MAX alongside
    * SUM/COUNT — the regime between pure-delta and dirty-group recompute:
    *
    *   1. per-group deltas come from the changed keys'
    *      ([[SnapshotParquetSink.keyedDiff]]) signed images — the old side
    *      weighted −1, the new +1 — in one GROUP BY, like
    *      [[deltaRefresh]]'s, extended with
    *      per-extremum CANDIDATES (min/max over the NEW side) and REMOVAL
    *      bounds (min/max over the OLD side — values that left the group).
    *   2. the stored dirty-group rows join in (a column-pruned read of the
    *      VIEW — O(view), which for a cross-key rollup is the small side
    *      by construction; never the source snapshot). Sums/counts fold
    *      arithmetically; extremums fold monotonically:
    *      `min' = least(stored, candidate)` is exact UNLESS a removed
    *      value ties-or-crosses the stored extremum — multiplicity is
    *      unknowable from deltas (two rows may share the min), so exactly
    *      those groups are AT RISK.
    *   3. at-risk groups (typically none: most changes don't touch a
    *      group's extremum) recompute from the source snapshot restricted
    *      to them — the only O(source-scan) step, skipped entirely when
    *      the at-risk set is empty.
    *   4. one guarded merge ([[SnapshotParquetSink.mergeGuardedHinted]]) ships
    *      the ABSOLUTE folded rows; a concurrent refresher moving the
    *      applied head throws FoldBaseConflict and this refresh re-reads
    *      and retries (same protocol as the delta regime).
    *
    * Exactness: sums/counts are the delta regime's integer arithmetic;
    * extremums are either monotone folds (provably equal to a recompute
    * when no removal threatens) or actual recomputes. Group death
    * (`__rows` = 0) tombstones; rebirth folds from nothing.
    */
  private def foldRefresh(spark: SparkSession, spec: DeltaSpec,
      applied: Long, srcV: Long, srcKeys: Seq[String],
      attempt: Int): Option[Long] = {
    lastRefreshRegime = Some("fold")
    val dbg = new graft.engine.Dbg("graft.ivm.debug", "[fold]")
    val exts = spec.mins.map(("mn", _)) ++ spec.maxs.map(("mx", _))
    // the changed keys with each side's signed-image inputs
    val changed = source.keyedDiff(spark, applied, srcV, srcKeys, seqCol,
      groupCols.map(g => col(g).as(s"__g_$g")) ++
        spec.sums.zipWithIndex.map { case (s, i) =>
          expr(s.childSql).as(s"__v$i") } ++
        spec.counts.zipWithIndex.map { case (c, i) =>
          (c.condSql match {
            case None      => lit(1L)
            case Some(sql) => when(expr(sql), 1L).otherwise(0L)
          }).as(s"__c$i") } ++
        exts.zipWithIndex.map { case ((_, e), i) =>
          expr(e.childSql).as(s"__e$i") })
    val valueFields = groupCols.map(g => s"__g_$g") ++
      spec.sums.indices.map(i => s"__v$i") ++
      spec.counts.indices.map(i => s"__c$i") ++
      exts.indices.map(i => s"__e$i")
    def image(t: String, w: Long) =
      when(col(s"__${t}_present"),
        struct(lit(w).as("__w") +: valueFields.map(f => col(s"__${t}_$f").as(f)): _*))
    val signed = changed
      .select(explode(array(image("a", -1L), image("b", 1L))).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.__w").as("__w") +: valueFields.map(f => col(s"r.$f").as(f)): _*)
    val dAggCols =
      Seq(sum(col("__w")).as("__drows")) ++
        spec.sums.zipWithIndex.flatMap { case (_, i) => Seq(
          sum(when(col(s"__v$i").isNotNull,
            when(col("__w") === 1L, col(s"__v$i")).otherwise(-col(s"__v$i"))))
            .as(s"__dv$i"),
          sum(when(col(s"__v$i").isNotNull, col("__w")).otherwise(0L))
            .as(s"__dnn$i")) } ++
        spec.counts.indices.map(i =>
          sum(col(s"__c$i") * col("__w")).as(s"__dc$i")) ++
        exts.zipWithIndex.flatMap { case ((kind, _), i) =>
          // bounded per-group delta arrays (O(k) state at every stage):
          // the k best ADDED values are the only additions that can enter
          // a k-slot buffer; the k+1 best REMOVED values suffice because
          // k+1 buffer hits empty a k-slot buffer (→ rescan) and anything
          // past a no-op removal no-ops too
          val kk = MaterializedAgg.ExtremumBufferK
          def bounded(c: Column, n: Int): Column =
            if (kind == "mn") graft.engine.BoundedExtremesAgg.bottomK(c, n)
            else graft.engine.BoundedExtremesAgg.topK(c, n)
          Seq(
            bounded(when(col("__w") === 1L, col(s"__e$i")), kk).as(s"__addk$i"),
            bounded(when(col("__w") === -1L, col(s"__e$i")), kk + 1).as(s"__remk$i"),
            sum(when(col(s"__e$i").isNotNull, col("__w")).otherwise(0L))
              .as(s"__dnne$i")) }
    val deltas = signed.groupBy(groupCols.map(g => col(s"__g_$g")): _*)
      .agg(dAggCols.head, dAggCols.tail: _*)
      .select((groupCols.map(g => col(s"__g_$g").as(g)) ++
        Seq(col("__drows")) ++
        spec.sums.indices.flatMap(i => Seq(col(s"__dv$i"), col(s"__dnn$i"))) ++
        spec.counts.indices.map(i => col(s"__dc$i")) ++
        exts.indices.flatMap(i =>
          Seq(col(s"__addk$i"), col(s"__remk$i"), col(s"__dnne$i")))): _*)

    // stored dirty-group state: the delta frame (O(dirty groups), tiny)
    // drives a left join against the view — BUCKET-PRUNED to the files the
    // dirty groups hash to under the view's own merge layout (merge keys =
    // groupCols), so the read is O(dirty buckets), never O(view) and never
    // O(source). The r13 artifact showed the unpruned O(view) read growing
    // 2.8→5.8 s as the view went 10k→1M rows while recompute stayed ahead;
    // pruned, the fold is flat like the pure-delta regime. Dead/absent
    // groups fold from nothing (left_outer misses).
    val deltasP = deltas.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one tiny job: the dirty groups' view buckets — ≤ nBuckets values
    // (a layout constant), so the driver-side list is bounded by design
    val dirtyBuckets = try {
      dbg("buckets")(deltasP
        .select(sink.bucketRouting(groupCols).as("__b")).distinct()
        .collect().map(_.getInt(0)).toSet)
    } catch {
      case t: Throwable => deltasP.unpersist(); throw t
    }
    val j = try {
      val stored = sink.readAtBuckets(spark,
        sink.currentVersion.getOrElse(sys.error(s"no snapshot at ${sink.dir}")),
        dirtyBuckets, DeleteMode.Hard).alias("st")
      val d = deltasP.alias("d")
      d.join(stored, groupCols.map(g =>
        col(s"d.$g") <=> col(s"st.$g")).reduce(_ && _), "left_outer")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    } catch {
      case t: Throwable => deltasP.unpersist(); throw t
    }
    try {
      val rowsF = coalesce(col("st.__rows"), lit(0L)) + col("__drows")
      // fold each extremum BUFFER through the refresh's removals/additions
      // (MaterializedAgg.foldExtremumBuf — exact per its invariant, null
      // when unaccountable); nne tracks non-null inputs so an all-null
      // group reads NULL instead of looking buffer-exhausted
      val k = MaterializedAgg.ExtremumBufferK
      val jx = exts.zipWithIndex.foldLeft(j) { case (df, ((kind, e), i)) =>
        val stBuf = col(if (kind == "mn") s"st.__bot_${e.name}"
          else s"st.__top_${e.name}")
        df.withColumn(s"__nnef$i",
            coalesce(col(s"st.__nne_${e.name}"), lit(0L)) + col(s"__dnne$i"))
          .withColumn(s"__buf$i",
            MaterializedAgg.foldBufUdf(stBuf, col(s"__remk$i"),
              col(s"__addk$i"), lit(kind == "mn"), lit(k),
              coalesce(col(s"st.__nne_${e.name}"), lit(0L))))
      }
      // at risk ⟺ the group still has non-null extremum inputs but its
      // buffer exhausted (or the fold could not account a removal): only
      // those groups rescan the source — single removals/ties fold exactly
      // off the buffer now, so this fires when ≥ k removals hit one
      // group's buffer in one refresh, not on every extremum-touching
      // delete like the r13 min-only design. A LIVE stored group with a
      // NULL stored buffer (a lazily-upgraded pre-buffer row, or a row
      // null-filled because a later recompute only rewrote OTHER groups
      // after the view's extremum list grew) also rescans: folding it
      // "from nothing" would report the delta's own values as the group's
      // extremum — for an add-only delta the fold returns non-empty with
      // nnef > 0, so the exhaustion clause alone never catches it.
      val atRiskCond = (rowsF > 0L) && exts.zipWithIndex.map { case ((kind, e), i) =>
        val stBuf = col(if (kind == "mn") s"st.__bot_${e.name}"
          else s"st.__top_${e.name}")
        (col("st.__rows").isNotNull && stBuf.isNull) ||
          ((col(s"__nnef$i") > 0L) &&
            (col(s"__buf$i").isNull || size(col(s"__buf$i")) === 0))
      }.reduce(_ || _)
      val risk = jx.filter(atRiskCond)
        .select(groupCols.map(g => col(s"d.$g").as(g)): _*)
      val foldedCols =
        groupCols.map(g => col(s"d.$g").as(g)) ++
          spec.sums.zipWithIndex.flatMap { case (s, i) =>
            val nnF = coalesce(col(s"st.__nn_${s.name}"), lit(0L)) + col(s"__dnn$i")
            val rawF = coalesce(col(s"st.${s.name}"), lit(0L)) + coalesce(col(s"__dv$i"), lit(0L))
            Seq(when(nnF === 0L, lit(null).cast(LongType)).otherwise(rawF).as(s.name),
              nnF.as(s"__nn_${s.name}")) } ++
          spec.counts.zipWithIndex.map { case (c, i) =>
            (coalesce(col(s"st.${c.name}"), lit(0L)) + col(s"__dc$i")).as(c.name) } ++
          exts.zipWithIndex.map { case ((_, e), i) =>
            when(col(s"__nnef$i") === 0L, lit(null).cast(LongType))
              .otherwise(element_at(col(s"__buf$i"), 1)).as(e.name) } ++
          exts.zipWithIndex.flatMap { case ((kind, e), i) => Seq(
            col(s"__buf$i").as(if (kind == "mn") s"__bot_${e.name}"
              else s"__top_${e.name}"),
            col(s"__nnef$i").as(s"__nne_${e.name}")) } ++
          Seq(rowsF.as("__rows"), (rowsF === 0L).as("__del"), lit(srcV).as("seq"))
      val safe = jx.filter(!atRiskCond).select(foldedCols: _*)
      // the at-risk set is DECIDED on the driver before the batch plan is
      // built. The r14 design left the rescan in the plan unconditionally,
      // betting AQE's empty-broadcast elimination would skip the source
      // scan — it does not fire under the batch's persist (cached plans
      // pin their compiled shape), so EVERY benign refresh silently paid
      // a FULL source scan (measured: a 1-row upsert on a 200k-row source
      // read 235k records; the fold ladder's "fixed floor" grew with the
      // source). The probe is ONE count over the join — a pass the
      // refresh pays anyway, since it fully populates j's cache for the
      // batch compute below (a limit-collect probe was measured ~4 s at
      // the 30M rung: CollectLimit runs the uncached join in several
      // sequential incremental jobs). The benign batch then contains no
      // source read AT ALL; an at-risk set past the collect cap (a bulk
      // refresh gone pathological) falls back to the in-plan semi join —
      // correct, just scan-priced.
      val riskCap = MaterializedAgg.collectCap
      val nRisk = dbg("risk")(jx.filter(atRiskCond).count())
      val batch = {
        def rescanOf(riskSide: DataFrame, hintBroadcast: Boolean): DataFrame = {
          val snap = source.readAt(spark, srcV, DeleteMode.Hard)
          // the hint is only sound on the collected ≤riskCap side; the
          // oversized fallback must let the planner shuffle — a forced
          // broadcast of an unbounded risk set is a driver OOM, not a plan
          val riskX = if (hintBroadcast) broadcast(riskSide) else riskSide
          val touched = snap.join(riskX,
            groupCols.map(g => snap(g) <=> riskX(g)).reduce(_ && _),
            "left_semi")
          val rec = groupedWith(touched, hiddenAggs(spec))
            .withColumn("__del", lit(false))
            .withColumn("seq", lit(srcV))
          // at-risk ⇒ rows remain (rowsF > 0), so the recompute covers
          // every risk group; the select aligns the two column orders
          rec.select(safe.columns.map(col).toIndexedSeq: _*)
        }
        if (nRisk == 0L) safe
        else if (nRisk <= riskCap)
          // second tiny job, served from the cache the count populated
          safe.unionByName(rescanOf(spark.createDataFrame(
            java.util.Arrays.asList(risk.collect(): _*), risk.schema),
            hintBroadcast = true))
        else safe.unionByName(rescanOf(risk, hintBroadcast = false))
      }
      val materialized = batch
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (sys.props.contains("graft.ivm.debug")) dbg("materialize")(materialized.count())
        // probe hint: every dirty group appears in the batch (safe covers
        // all of deltas, rec replaces the at-risk subset), so the affected
        // agg buckets are exactly the dirty-bucket probe's result and the
        // applied head is the stamped srcV — the merge skips its probe job
        dbg("mergeFold")(
          sink.mergeGuardedHinted(materialized, groupCols, "seq", "__del",
            Some(applied), dirtyBuckets.toArray.sorted, Some(srcV)))
        Some(srcV)
      } catch {
        case _: SnapshotParquetSink.FoldBaseConflict =>
          // another refresher advanced the view while these ABSOLUTE rows
          // were computed from the old head — re-read and go again, bounded
          retryConflict(spark, attempt, Some(srcV))
      } finally {
        materialized.unpersist()
        ()
      }
    } finally {
      j.unpersist()
      deltasP.unpersist()
      ()
    }
  }

  /** The aggregate-table version that reflects exactly `sourceVersion` —
    * the newest agg version whose recorded maxseq equals it (every refresh
    * stamps its rows with the source version it computed from, so the agg
    * manifest's maxseq IS the applied source version). None when that
    * source version was never refreshed into the view, was vacuumed out of
    * the agg history, or the matching refresh was a dirty-group no-op
    * (seq-only churn advances no manifest — semantically current, but this
    * method cannot prove it cheaply, so callers treat it as stale).
    */
  def versionFor(sourceVersion: Long): Option[Long] =
    sink.versions.reverse.find(v =>
      SnapshotParquetSink.manifestMaxSeq(sink.dir, v).contains(sourceVersion))

  /** The maintained aggregate — live groups only, maintenance counters
    * (`__rows`, `__nn_*` — the delta regime's bookkeeping) hidden.
    */
  def read(spark: SparkSession): DataFrame = {
    val df = sink.read(spark, DeleteMode.Hard)
    df.columns.filter(n => n == "__rows" || n.startsWith("__nn_") ||
        n.startsWith("__nne_") || n.startsWith("__bot_") || n.startsWith("__top_"))
      .foldLeft(df)(_.drop(_))
  }
}

/** Registry for automatic query rewrite ([[graft.plans.MatViewRewrite]]):
  * a registered view makes any session with [[graft.GraftExtensions]]
  * installed answer a matching `GROUP BY` over the SOURCE table from the
  * maintained aggregate instead — when, and only when, the view has been
  * refreshed to the exact source version the query would scan. Process-wide
  * (the optimizer rule object is too); keys are source-table dirs, so two
  * views over one source cannot both be registered — last registration
  * wins, mirroring how a warehouse resolves one matview per rewrite slot.
  */
object MaterializedAgg {
  /** Applied-head-conflict retries before a refresh errors out — two
    * refreshers alternating forever must fail loudly, not livelock.
    */
  val MaxConflictRetries = 12

  /** Extremum buffer width: the view stores each group's k smallest /
    * largest values (with multiplicity), so removals resolve EXACTLY
    * unless k of them hit one group's buffer in a single refresh — the
    * at-risk source rescan becomes the rare fallback instead of firing on
    * every delete/update that ties the stored extremum (multiplicity
    * unknowable from a bare MIN was the r13 design's per-refresh
    * O(source) tax).
    */
  val ExtremumBufferK = 8

  /** Fold one group's extremum buffer through a refresh's removals and
    * additions. `stored` is the buffer at the applied version (ascending
    * for bottom, descending for top; null/empty for new groups), `rem` the
    * (k+1) highest-priority REMOVED values, `add` the k highest-priority
    * ADDED values — both from the changed-slice diff, both sorted in
    * priority order. `storedNne` is the group's stored non-null input
    * count at the applied version (0 for new groups).
    *
    * Invariant carried across refreshes (established by the exact initial
    * build and preserved by every step here): the buffer is a sub-multiset
    * of the group's live values, every group value with HIGHER priority
    * than the buffer's last entry is in the buffer with full multiplicity,
    * and the buffer's head is the group's exact extremum while the buffer
    * is non-empty. Under it:
    *   - a removal beyond the buffer's last entry provably cannot touch
    *     the extremum → no-op;
    *   - a removal within it must be present → remove one occurrence
    *     (ties are value-interchangeable); absence, or any removal
    *     against an emptied buffer, returns null → the caller rescans;
    *   - additions WITHIN the buffer insert in priority order, truncated
    *     to k (dropped entries rank below the kept k and group values
    *     outside the buffer, preserving the invariant). An addition
    *     ranking at-or-below the buffer's TAIL is left out (a no-op):
    *     the invariant constrains only values with higher priority than
    *     the tail, so a below-tail value may live outside the buffer —
    *     appending it instead (the r14 behavior) made IT the new tail
    *     and fabricated a false prefix when the buffer was incomplete
    *     (k=4, live {1..6}, buffer [1,2,3,4]: remove 2, add 10 →
    *     [1,3,4,10] silently omits 5 and 6; later removals of 1,3,4
    *     reported MIN=10). The ONE sound growth case appends anyway:
    *     a buffer below k that is COMPLETE (length == live count — the
    *     buffer IS the group) keeps completeness by absorbing every
    *     addition, which is how new/small groups grow exact buffers.
    *     Completeness is tracked numerically: the buffer is a sub-multiset
    *     of the live values, so `buf.length == live count` ⟺ buffer ==
    *     live multiset. The tracked count starts at `storedNne` and moves
    *     with each processed removal/addition; rem/add truncation only
    *     ever makes the check CONSERVATIVE (tracked ≥ true under removal
    *     truncation — equality then forces true equality via ⊆; addition
    *     truncation drops only values ranked below every kept addition,
    *     which cannot invalidate an allowed append).
    *
    * Null return = "cannot account exactly" — correctness never depends on
    * the invariant holding, only rescan frequency does.
    */
  def foldExtremumBuf(stored: Seq[Long], rem: Seq[Long], add: Seq[Long],
      bottom: Boolean, k: Int, storedNne: Long): Seq[Long] = {
    @inline def le(a: Long, b: Long) = if (bottom) a <= b else a >= b
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    if (stored != null) buf ++= stored
    var live = storedNne // tracked non-null live count alongside the fold
    if (rem != null) {
      var i = 0
      while (i < rem.length) {
        val r = rem(i)
        if (buf.isEmpty) return null // unaccountable removal → rescan
        if (le(r, buf.last)) {
          val at = buf.indexOf(r)
          if (at < 0) return null // invariant broken (defensive) → rescan
          buf.remove(at)
        } // else: provably outside the buffered extremum prefix
        live -= 1
        i += 1
      }
    }
    if (add != null) {
      var i = 0
      while (i < add.length) {
        val a = add(i)
        var at = 0
        while (at < buf.length && !(if (bottom) a < buf(at) else a > buf(at))) at += 1
        if (at == buf.length &&
            !(buf.length < k && buf.length.toLong == live)) {
          // at-or-below the tail: stays outside the buffer (valid prefix
          // preserved) — UNLESS a complete sub-k buffer absorbs it to
          // keep completeness (new/small groups growing exact buffers)
          live += 1
        } else {
          buf.insert(at, a)
          live += 1
          if (buf.length > k) buf.remove(buf.length - 1)
        }
        i += 1
      }
    }
    buf.toSeq
  }

  private[sink] val foldBufUdf = org.apache.spark.sql.functions.udf(
    (stored: Seq[Long], rem: Seq[Long], add: Seq[Long], bottom: Boolean,
     k: Int, storedNne: Long) =>
      foldExtremumBuf(stored, rem, add, bottom, k, storedNne))

  /** Rows a refresh may collect to the driver: the fold regime's at-risk
    * groups, the recompute's dirty groups, the join view's delta. Past it,
    * each falls back to its distributed plan. `graft.ivm.riskCap` shrinks it: the fallbacks
    * need more rows than a spec can afford to fire naturally.
    */
  private[sink] def collectCap: Int =
    sys.props.get("graft.ivm.riskCap").flatMap(_.toIntOption).getOrElse(65536)

  /** The IVM bulk gate (manifest-only): at least
    * `graft.ivm.rebuildDirtyFraction` (default 0.5) of the table's buckets
    * changed between the two versions, so most of a view is plausibly
    * dirty and one rebuild pass costs less than the incremental
    * bookkeeping.
    */
  private[sink] def bulkChanged(dir: String, fromV: Long, toV: Long): Boolean =
    fromV < toV && {
      val frac = sys.props.get("graft.ivm.rebuildDirtyFraction")
        .flatMap(_.toDoubleOption).getOrElse(0.5)
      SnapshotParquetSink.changedBuckets(dir, fromV, toV).size.toDouble >=
        frac * math.max(1, SnapshotParquetSink.manifest(dir, toV)._2.size)
    }

  /** Byte-equivalent of the fold regime's fixed floor in the cost-based
    * fold-vs-recompute pick: the extra jobs (dirty-bucket probe, the
    * at-risk count, extra persists) plus the per-bucket rewrite. Measured
    * on the r15 ladder AFTER the fold stopped paying a benign-path source
    * scan and a merge probe job (r14's floor was ~6 s ⇒ 192 MB): the
    * floor is now ~3 s against the recompute regime's ~100 MB/s effective
    * scan — fold starts paying off where the source outgrows ~100 MB.
    * Override per session via `spark.graft.ivm.foldFixedCostBytes` (the
    * constant encodes THIS box class; a cluster with higher scan
    * bandwidth per fixed job second wants it larger).
    */
  val FoldFixedCostBytes = 96L * 1024 * 1024

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, MaterializedAgg]()

  /** Scheme-insensitive dir key ("file:/x" and "/x" are the same table on
    * the test fs; on a real cluster both sides of a lookup come from the
    * same FileSystem so stripping the scheme cannot collide).
    */
  private[graft] def normDir(dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    (if (p == null || p.isEmpty) dir else p).stripSuffix("/")
  }

  def register(m: MaterializedAgg): Unit = {
    registry.put(normDir(m.source.dir), m)
    ()
  }

  def unregister(m: MaterializedAgg): Unit = {
    registry.remove(normDir(m.source.dir), m)
    ()
  }

  def registered(sourceDir: String): Option[MaterializedAgg] =
    Option(registry.get(normDir(sourceDir)))

  private[graft] def registeredViews: Seq[MaterializedAgg] = {
    import scala.jdk.CollectionConverters._
    registry.values.asScala.toSeq
  }

  private[graft] def anyRegistered: Boolean = !registry.isEmpty
}
