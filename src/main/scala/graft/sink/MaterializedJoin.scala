package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incrementally-maintained materialized JOIN view over two snapshot
  * tables — the join leg of the IVM family ([[MaterializedAgg]] is the
  * aggregate leg, [[graft.streaming.MaterializedJoin]] the append-only
  * streaming twin): `fact ⋈ dim` kept in its own [[SnapshotParquetSink]],
  * keyed by the FACT table's merge keys, advanced per source version by
  * dirty-key recompute. The dim side must be UNIQUE per join key (its
  * merge keys ARE the join keys — enforced against the dim manifest), so
  * every fact row yields at most one view row and last-write-wins merge is
  * the correct maintenance primitive.
  *
  * Per [[refresh]]:
  *   1. changed FACT keys between the last applied fact version and the
  *      current one ([[SnapshotParquetSink.keyedDiff]]: presence diff +
  *      null-safe seq inequality);
  *   2. changed JOIN keys on the dim side, same diff — a dim update must
  *      re-enrich EVERY fact row referencing it, a dim delete turns
  *      left-outer rows null (or tombstones inner-join rows);
  *   3. affected fact rows = current facts hit by either set; they re-join
  *      the current dim and MERGE into the view; fact keys with no
  *      surviving view row (fact deleted, or inner join lost its dim)
  *      merge as logical deletes. When both diffs came back driver-local
  *      (small changes), the affected facts are one scan under literal
  *      key predicates, and a delta of at most [[MaterializedAgg.collectCap]]
  *      rows is collected and merged as a driver-local batch.
  *
  * Applied-version bookkeeping rides the view manifest like the aggregate
  * leg's, but here TWO source versions pack into the one monotone seq:
  * `(factV << 31) | dimV` — refresh only moves both components forward, so
  * the packed value is strictly increasing and the manifest's maxseq
  * unpacks to exactly the (fact, dim) cut the view reflects, recorded
  * atomically with the data. Crashed/replayed refreshes recompute the same
  * delta under the same packed seq — self-healing, like the aggregate.
  *
  * Scale shape at 100 TB: both diffs are column-pruned key+seq scans
  * shuffled on their own merge keys; the fact-side probe of dim-driven
  * dirt is a semi-join on the join key (prunes to dirty buckets when the
  * fact table is clustered by it); the recompute joins only affected fact
  * rows against the dim (AQE broadcasts a small dim side); the merge
  * rewrites only the view buckets the affected fact keys hash to. A
  * quiet dim costs one fact-key diff; a quiet fact costs one dim diff
  * plus the referencing-rows semi-join. Nothing is proportional to
  * history length.
  */
final class MaterializedJoin(
    val fact: SnapshotParquetSink,
    val dim: SnapshotParquetSink,
    val sink: SnapshotParquetSink,
    joinKeys: Seq[String],
    dimCols: Seq[String],
    joinType: String = "left_outer",
    factSeqCol: String = "seq",
    dimSeqCol: String = "seq") extends MaintainedView {

  override def refreshIfReady(spark: SparkSession): Unit =
    if (fact.currentVersion.nonEmpty && dim.currentVersion.nonEmpty) {
      refresh(spark)
      ()
    }

  require(joinKeys.nonEmpty, "materialized join needs join key columns")
  require(dimCols.nonEmpty,
    "materialized join needs dim columns to carry (else it is a filter, not a join)")
  require(Set("left_outer", "inner")(joinType),
    s"joinType must be left_outer or inner, got $joinType")
  require(joinKeys.intersect(dimCols).isEmpty,
    s"dimCols ${dimCols} must not repeat join keys ${joinKeys}")

  private val reserved = Set("__vseq", "__del", "__dm")

  /** Both source versions in one monotone long: refresh only advances
    * components, so (f', d') ≥ (f, d) componentwise with at least one
    * strict ⇒ packed strictly grows. 2³¹ versions per side is ~68 years of
    * per-second commits — enforced, not assumed.
    */
  private def pack(fv: Long, dv: Long): Long = {
    require(fv >= 0 && fv < (1L << 31) && dv >= 0 && dv < (1L << 31),
      s"source versions out of packable range: fact=$fv dim=$dv")
    (fv << 31) | dv
  }

  private def unpack(p: Long): (Long, Long) = (p >> 31, p & ((1L << 31) - 1))

  /** The (factVersion, dimVersion) cut the view currently reflects — the
    * view manifest's maxseq, unpacked. Never needs a data read.
    */
  def appliedVersions: Option[(Long, Long)] =
    sink.currentVersion
      .flatMap(v => SnapshotParquetSink.manifestMaxSeq(sink.dir, v))
      .map(unpack)

  private def dimSlim(spark: SparkSession, dv: Long): DataFrame =
    dim.readAt(spark, dv, DeleteMode.Hard)
      .select((joinKeys ++ dimCols).map(col): _*)

  /** One side of a view row: current facts (all columns) enriched. */
  private def joined(facts: DataFrame, d: DataFrame): DataFrame =
    facts.join(d, joinKeys, joinType)

  private def semiOn(left: DataFrame, right: DataFrame, keys: Seq[String],
      jt: String): DataFrame = {
    val l = left.alias("l")
    val r = right.alias("r")
    l.join(r, keys.map(k => col(s"l.$k") <=> col(s"r.$k")).reduce(_ && _), jt)
  }

  /** Advances the view to the sources' current versions. Returns
    * Some((factVersion, dimVersion)) when a refresh ran, None when already
    * current. A first call on an empty view builds it fully.
    */
  def refresh(spark: SparkSession): Option[(Long, Long)] = synchronized {
    val fv = fact.currentVersion.getOrElse(
      sys.error(s"fact table at ${fact.dir} has no committed version"))
    val dv = dim.currentVersion.getOrElse(
      sys.error(s"dim table at ${dim.dir} has no committed version"))
    val dimKeys = SnapshotParquetSink.manifestKeys(dim.dir, dv)
    require(dimKeys == joinKeys,
      s"dim at ${dim.dir} is merged by ${dimKeys.mkString(",")} but the view " +
        s"joins on ${joinKeys.mkString(",")} — the dim must be keyed by the " +
        "join keys (that is what makes it unique per key)")
    val fKeys = SnapshotParquetSink.manifestKeys(fact.dir, fv)
    appliedVersions match {
      case Some((afv, adv)) if afv >= fv && adv >= dv => None
      case applied =>
        val factNow = fact.readAt(spark, fv, DeleteMode.Hard)
        require(factNow.columns.intersect(dimCols.toArray[String]).isEmpty,
          s"dimCols ${dimCols} collide with fact columns")
        require(!factNow.columns.exists(reserved),
          s"fact columns collide with view bookkeeping ${reserved}")
        val d = dimSlim(spark, dv)
        // dim uniqueness per join key is STRUCTURAL: the dim is merged by
        // exactly the join keys (required above), and the sink keeps one
        // live row per merge key — no runtime dup scan needed
        // BULK gate ([[MaterializedAgg.bulkChanged]]): when an advanced
        // side's manifests show most buckets changed, the affected-fact set
        // is plausibly most of the view, and the incremental machinery
        // (changed-key diffs + the referencing-rows probe) costs more than
        // re-enriching every fact once — so route to the rebuild branch
        // below, which is correct for ANY advance (it recomputes all rows
        // and tombstones vanished keys). Steady micro-advances keep the
        // O(changed) path.
        //
        // metadata-derived probe hint ([[SnapshotParquetSink.mergeHinted]]):
        // the view is keyed by the FACT keys, so when the view sink shares
        // the fact table's hash routing (same bucket count, no Z-order
        // spec; key types are the fact's stored types end to end), every
        // delta row lands in the view bucket its fact key occupies in the
        // fact table — each arm below knows that set from manifests alone:
        // full builds touch at most fact-manifest ∪ view-manifest buckets
        // (recompute ∪ tombstones), a dim-quiet advance at most the fact
        // buckets whose files changed. The dim-driven arm fans out to
        // facts in ANY bucket — it keeps the probing merge. A wrong hint
        // cannot corrupt: the sink aborts pre-publish (ProbeHintMismatch)
        // and the refresh retries unhinted.
        val routingShared = sink.isHashRouted &&
          sink.bucketCount == SnapshotParquetSink.manifest(fact.dir, fv)._1 &&
          SnapshotParquetSink.manifestCluster(fact.dir, fv).isEmpty
        def fullHint: Option[Array[Int]] =
          if (!routingShared) None
          else Some((SnapshotParquetSink.manifest(fact.dir, fv)._2.keySet ++
            sink.currentVersion
              .map(v => SnapshotParquetSink.manifest(sink.dir, v)._2.keySet)
              .getOrElse(Set.empty[Int])).toArray.sorted)
        def changedFactHint(afv: Long): Option[Array[Int]] =
          if (!routingShared) None
          else Some(SnapshotParquetSink.changedBuckets(fact.dir, afv, fv).toArray.sorted)
        // the delta, its probe hint, and whether both diffs came back
        // driver-local (the delta is then collected when it is small)
        val (delta, hint, local) = applied match {
          case None => (joined(factNow, d).withColumn("__del", lit(false)), fullHint, false)
          case Some((afv, adv))
              if !fact.versions.contains(afv) || !dim.versions.contains(adv) ||
                MaterializedAgg.bulkChanged(fact.dir, afv, fv) ||
                MaterializedAgg.bulkChanged(dim.dir, adv, dv) =>
            // self-healing when a diff base is GONE (the view lagged past a
            // source's vacuum retention): rebuild from the current sources —
            // every fact row re-joins, and view keys with no surviving row
            // tombstone. One full pass; retention covering the refresh
            // cadence prevents recurrence.
            val recomputed = joined(factNow, d)
            val gone = semiOn(
              sink.read(spark, DeleteMode.Hard).select(fKeys.map(col): _*),
              recomputed, fKeys, "left_anti")
            (withTombstones(recomputed.withColumn("__del", lit(false)), Seq(gone), fKeys),
              fullHint, false)
          case Some((afv, adv)) =>
            // each side's diff (and its downstream probes) exists only when
            // that side actually advanced — a quiet dim costs nothing, a
            // quiet fact costs only the dim diff + referencing-rows probe
            val dirtyF =
              if (afv < fv) Some(fact.keyedDiff(spark, afv, fv, fKeys, factSeqCol, Nil))
              else None
            val dirtyD =
              if (adv < dv) Some(dim.keyedDiff(spark, adv, dv, joinKeys, dimSeqCol, Nil))
              else None
            val local = (dirtyF ++ dirtyD).forall(SnapshotParquetSink.localRows(_).isDefined)
            val affected =
              if (local)
                // driver-local diffs: ONE scan of the current facts under
                // literal key predicates — no joins, no dedup
                factNow.filter((dirtyF.map(keyIn(_, fKeys, factNow.schema)) ++
                  dirtyD.map(keyIn(_, joinKeys, factNow.schema))).reduce(_ || _))
              else {
                val parts =
                  dirtyF.map(k => semiOn(factNow, k.select(fKeys.map(col): _*), fKeys,
                    "left_semi")).toSeq ++
                    dirtyD.map(k => semiOn(factNow, k.select(joinKeys.map(col): _*), joinKeys,
                      "left_semi")).toSeq
                val affected0 = parts.reduce(_ unionByName _) // stale ⇒ nonEmpty
                if (parts.lengthCompare(2) == 0) affected0.dropDuplicates(fKeys)
                else affected0 // one side: semi output already unique per fact key
              }
            // every affected fact re-joins the dim; under inner, one whose
            // dim vanished becomes a tombstone
            val marked = affected.join(d.withColumn("__dm", lit(true)), joinKeys, "left_outer")
            val dimGone = if (joinType == "inner") col("__dm").isNull else lit(false)
            val recomputed = marked.select(marked.columns.filterNot(_ == "__dm").map(c =>
              if (fKeys.contains(c)) col(c)
              else when(dimGone, lit(null)).otherwise(col(c)).as(c)) :+ dimGone.as("__del"): _*)
            // dirty fact keys live at the old version only: deleted facts.
            // Tombstoned so the view history stays time-travelable.
            val deleted = dirtyF.map(_.filter(!col("__b_present")).select(fKeys.map(col): _*))
            // dim-quiet advances touch only changed-fact-bucket keys; a
            // dim-driven delta reaches arbitrary buckets — no hint then
            (withTombstones(recomputed, deleted.toSeq, fKeys),
              if (dirtyD.isEmpty) changedFactHint(afv) else None, local)
        }
        val stamped = delta.withColumn("__vseq", lit(pack(fv, dv)))
          // merge walks its input several times (affected buckets, max seq,
          // write); without the persist every walk re-runs the diff+join
          // pipeline — O(affected rows), spillable
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // a small delta over local diffs — at most the collect cap's rows
          // — merges as a driver-local batch: no probe job
          val batch =
            if (local && stamped.queryExecution.toRdd.count() <= MaterializedAgg.collectCap)
              SnapshotParquetSink.localFrame(spark, stamped.schema,
                stamped.queryExecution.toRdd.map(_.copy()).collect().toSeq)
            else stamped
          hint match {
            case Some(bs) =>
              try sink.mergeHinted(batch, fKeys, "__vseq", "__del", bs, Some(pack(fv, dv)))
              catch {
                case _: SnapshotParquetSink.ProbeHintMismatch =>
                  // staged write deleted, nothing published — replay with
                  // the probing merge (idempotent LWW)
                  sink.merge(batch, fKeys, "__vseq", "__del")
              }
            case None => sink.merge(batch, fKeys, "__vseq", "__del")
          }
          Some((fv, dv))
        } finally {
          stamped.unpersist()
          ()
        }
    }
  }

  /** `rows` (carrying `__del`) plus every key of `gone` as a tombstone
    * with the other columns null.
    */
  private def withTombstones(rows: DataFrame, gone: Seq[DataFrame],
      fKeys: Seq[String]): DataFrame =
    gone.reduceOption(_ unionByName _) match {
      case None => rows
      case Some(g) =>
        val goneFull = rows.schema.fields
          .filterNot(f => fKeys.contains(f.name) || f.name == "__del")
          .foldLeft(g)((df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))
        rows.unionByName(goneFull.withColumn("__del", lit(true)))
    }

  /** Rows whose `cols` are null-safe-equal to one of `diff`'s key tuples
    * (a driver-local frame, those columns by the same names), as literal
    * predicates typed like `schema`: an IN list for one column, a struct
    * IN list otherwise.
    */
  private def keyIn(diff: DataFrame, cols: Seq[String], schema: StructType): Column = {
    val from = cols.map(c => diff.schema.fieldIndex(c) -> diff.schema(c).dataType)
    val types = cols.map(c => schema(c).dataType)
    val tuples = SnapshotParquetSink.localRows(diff).get.map(r =>
      from.map { case (i, dt) => CatalystTypeConverters.convertToScala(r.get(i, dt), dt) })
    if (tuples.isEmpty) lit(false)
    else if (cols.length == 1) {
      val (nulls, values) = tuples.map(_.head).partition(_ == null)
      val in = col(cols.head).isin(values.distinct.map(v => lit(v).cast(types.head)): _*)
      if (nulls.isEmpty) in else in || col(cols.head).isNull
    } else
      struct(cols.map(col): _*).isin(tuples.map(t =>
        struct(cols.indices.map(i => lit(t(i)).cast(types(i)).as(cols(i))): _*)): _*)
  }

  /** The maintained view — live rows only. */
  def read(spark: SparkSession): DataFrame =
    sink.read(spark, DeleteMode.Hard)
}
