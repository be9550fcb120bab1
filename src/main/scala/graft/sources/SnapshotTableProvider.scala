package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sink.SnapshotParquetSink

/** DataSourceV2 read path for [[graft.sink.SnapshotParquetSink]] tables —
  * the manifest-committed format becomes reachable from plain SQL:
  *
  * {{{
  *   spark.read.format("graft-snapshot")
  *     .option("asOf", 3)            // optional time travel (default: latest)
  *     .option("keys", "id")         // optional: must name the recorded merge keys
  *     .load("/path/to/sink")
  * }}}
  *
  * Semantics: the COMMITTED state at the resolved version, exposed with the
  * logical-delete flag `__is_deleted` visible (the SQL twin of
  * `DeleteMode.Logical`; hard-delete consumers filter `NOT __is_deleted`).
  * Internal bookkeeping columns (`__gen`, the bucket directory) stay hidden.
  *
  * Scale shape: when a query pins EVERY routing input (the recorded merge
  * keys, or the cluster columns of a clustered table) with an equality
  * predicate, the scan builder routes the literals through the sink's
  * driver-side router ([[SnapshotParquetSink.routerAt]]) and plans ONLY
  * that bucket's file — a key probe reads 1/nBuckets of the
  * table before parquet row-group pruning even starts. All remaining
  * filtering/pushdown delegates to Spark's own DSv2 parquet scan, so
  * vectorized reads, nested-column pruning and predicate pushdown behave
  * exactly as for any parquet table.
  *
  * Write path (MERGE, not blind append): the table deliberately does NOT
  * implement `SupportsWrite`, so `DataFrameWriter` falls back to this
  * class's [[CreatableRelationProvider]] — V2 `AppendData` would validate
  * the incoming frame against the stored schema (which carries merge
  * bookkeeping) and then append rows blindly, while this format's ONLY
  * write semantic is last-write-wins upsert. The fallback routes the batch
  * through [[SnapshotParquetSink.merge]] — atomic manifest commit,
  * incremental affected-bucket rewrite, idempotent replay:
  *
  * {{{
  *   df.write.format("graft-snapshot")
  *     .option("keys", "id")             // merge keys (required)
  *     .option("seqCol", "seq")          // last-write-wins order (default: seq)
  *     .option("deleteCol", "is_delete") // optional tombstone flag
  *     .option("nBuckets", 256)          // FIRST commit only (layout)
  *     .option("statsCols", "seq,ts")    // FIRST commit only: min/max skipping
  *     .option("bloomCols", "ext_id")    // FIRST commit only: bloom sidecars
  *     .option("clusterBy", "ts:0:86400000") // FIRST commit only: Z-order routing
  *     .mode("append").save("/path/to/sink")
  * }}}
  */
class SnapshotTableProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "graft-snapshot"

  // resolve ONCE per provider instance for a given option set (see
  // ResolveOnce's scaladoc for the concurrent-commit rationale)
  private val resolveOnce = new ResolveOnce(SnapshotState.resolve)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolveOnce(options).dataSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SnapshotTable(resolveOnce(new CaseInsensitiveStringMap(properties)), schema)

  override def createRelation(ctx: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val params = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val dir = params.getOrElse("path",
      sys.error("graft-snapshot needs a path: .save(dir) or option(\"path\", dir)"))
    val existing = SnapshotParquetSink.versions(dir)
    val noOp = new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
    mode match {
      case SaveMode.Append => // merge is the append of a keyed table
      case SaveMode.Ignore if existing.nonEmpty => return noOp // contract: silent no-op
      case SaveMode.Ignore =>
      case SaveMode.ErrorIfExists if existing.isEmpty =>
      case SaveMode.ErrorIfExists =>
        sys.error(s"snapshot table already published at $dir (v${existing.last})")
      case other =>
        sys.error(s"graft-snapshot is merge-structured: SaveMode.$other would " +
          "blind-overwrite committed history; use mode(\"append\") (last-write-wins " +
          "upsert) or the Scala API's compact/vacuum for maintenance")
    }
    val keys = params.get("keys").map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .orElse(existing.lastOption.map(v => SnapshotParquetSink.manifestKeys(dir, v)))
      .getOrElse(sys.error("graft-snapshot writes need option(\"keys\", \"k1,k2\") — " +
        "the merge keys of the table (recorded in the manifest from the first " +
        "commit onward, so only the first write needs the option)"))
    val seqCol = params.getOrElse("seqcol", "seq")
    require(data.columns.contains(seqCol),
      s"graft-snapshot: seq column '$seqCol' absent from the batch " +
        "(option(\"seqCol\", ...) names the last-write-wins order column)")
    // layout options (nBuckets, statsCols, bloomCols, clusterBy) — the
    // caller's choice applies only on the very FIRST commit; an existing
    // table's layout comes from its manifest (forTable below), so a
    // SQL-only deployment can declare the whole skipping/clustering layout
    // at creation and never repeat it
    val nBuckets = params.get("nbuckets").map(_.toInt).getOrElse(16)
    def csv(s: String): Seq[String] = s.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    val statsCols = params.get("statscols").map(csv).getOrElse(Nil)
    val bloomCols = params.get("bloomcols").map(csv).getOrElse(Nil)
    // clusterBy syntax: "col:lo:hi[,col2:lo:hi]" (bounds are part of the
    // committed routing function — see ClusterCol)
    val clusterBy = params.get("clusterby").map(csv(_).map { spec =>
      spec.split(':') match {
        case Array(n, lo, hi) => SnapshotParquetSink.ClusterCol(n, lo.toLong, hi.toLong)
        case _ => sys.error(s"clusterBy entry '$spec' must be col:lo:hi")
      }
    }).getOrElse(Nil)
    val (batch, delCol) = params.get("deletecol") match {
      case Some(c) =>
        require(data.columns.contains(c), s"delete column '$c' absent from the batch")
        (data, c)
      case None =>
        // no tombstones in this feed: pre-seed the sink's own flag column
        // (merge coalesces it in place), so no synthetic column is stored
        (data.withColumn("__is_deleted",
          org.apache.spark.sql.functions.lit(false)), "__is_deleted")
    }
    // existing table: self-align the WHOLE committed layout through
    // forTable — nBuckets and cluster spec (a mismatch would scatter keys),
    // and also statsCols/bloomCols: a SQL writer that constructed a bare
    // handle would silently stop recording the table's data-skipping
    // metadata for every bucket it rewrites
    val sink =
      if (existing.nonEmpty) SnapshotParquetSink.forTable(dir)
      else new SnapshotParquetSink(dir, nBuckets, statsCols, clusterBy, bloomCols)
    sink.merge(batch, keys, seqCol, delCol)
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }
}

/** One resolved (dir, version) view of a snapshot table: its bucket
  * entries and per-bucket stats and bloom lines. Built only in the
  * companion: [[SnapshotState.at]] for a published version.
  */
private[sources] final case class SnapshotState(dir: String, version: Long,
    entries: Map[Int, String],
    stats: Map[Int, Map[String, (BigDecimal, BigDecimal)]],
    blooms: Map[Int, Map[String, (String, String)]]) {

  /** Merged-across-commits schema minus internal bookkeeping. Empty for a
    * not-yet-published table (version −1): the writer fallback only needs
    * table RESOLUTION to succeed on a fresh dir — reads still fail loudly
    * at scan construction.
    * Read from the manifest's RECORDED schema (O(1) metadata — at scale,
    * resolving a table must not open every bucket's parquet footer).
    */
  lazy val dataSchema: StructType =
    if (entries.isEmpty) new StructType()
    else StructType(
      SnapshotParquetSink.manifestSchema(dir, version).fields.filterNot(_.name == "__gen"))

  /** The file list a scan must read given the pushed filters: key-equality
    * routing first (one bucket when every routing input is pinned), then
    * manifest min/max stats, then bloom-sidecar equality skipping — each
    * stage a pure file-list optimization (every predicate stays residual).
    */
  def prunedPaths(filters: Seq[Expression]): Seq[String] =
    bloomPruned(filters, statsPruned(filters, keyPruned(filters)))
      .toSeq.sortBy(_._1).map { case (_, rel) => s"$dir/$rel" }

  /** Key-equality pruning through the sink's router
    * ([[SnapshotParquetSink.routerAt]] — the version's own nBuckets,
    * cluster spec and key types): one bucket when equalities pin every
    * routing input (every merge key on a hash-routed table, every cluster
    * column on a clustered one). An `IN` list on one routing input, the
    * others pinned by equalities, routes to the union of its values'
    * buckets — the batched point-lookup pattern. Null list elements never
    * match a row and are skipped; an extra bucket is only a wasted read
    * and a missing one would lose rows, so a non-literal element or an
    * unroutable value disables the pruning.
    */
  private def keyPruned(filters: Seq[Expression]): Map[Int, String] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, In, InSet, Literal}
    if (entries.isEmpty) return entries
    val route = SnapshotParquetSink.routerAt(dir, version)
    val eqs: Map[String, Any] = filters.collect {
      case EqualTo(a: Attribute, l: Literal) =>
        a.name -> CatalystTypeConverters.convertToScala(l.value, l.dataType)
      case EqualTo(l: Literal, a: Attribute) =>
        a.name -> CatalystTypeConverters.convertToScala(l.value, l.dataType)
    }.toMap
    def routed(values: Seq[Map[String, Any]]): Option[Map[Int, String]] = {
      val buckets = values.map(route)
      if (!buckets.forall(_.isDefined)) None
      else Some(entries.filter { case (b, _) => buckets.contains(Some(b)) })
    }
    routed(Seq(eqs)).orElse(filters.iterator.map {
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        routed(vs.collect { case Literal(v, dt) if v != null =>
          eqs + (a.name -> CatalystTypeConverters.convertToScala(v, dt)) })
      case InSet(a: Attribute, hset) =>
        routed(hset.toSeq.filter(_ != null).map(v =>
          eqs + (a.name -> CatalystTypeConverters.convertToScala(v, a.dataType))))
      case _ => None
    }.collectFirst { case Some(m) => m }).getOrElse(entries)
  }

  /** A pushed literal on a stats column as BigDecimal (timestamps compare
    * by their internal epoch-micros value — the same normalization the
    * writer records). None = not comparable, don't prune on it.
    */
  private def statLit(
      l: org.apache.spark.sql.catalyst.expressions.Literal): Option[BigDecimal] =
    l.value match {
      case null => None
      case d: org.apache.spark.sql.types.Decimal => Some(d.toBigDecimal)
      // NaN/Infinity literals have no decimal form — don't prune on them
      case n: java.lang.Number => scala.util.Try(BigDecimal(n.toString)).toOption
      case _ => None
    }

  /** Manifest-stats pruning: drop buckets whose recorded [min, max] for a
    * stats column excludes a pushed range/equality conjunct. Buckets or
    * columns without recorded stats are conservatively kept; every
    * predicate stays residual, so this is a pure file-list optimization.
    */
  private def statsPruned(filters: Seq[Expression],
      surviving: Map[Int, String]): Map[Int, String] = {
    import org.apache.spark.sql.catalyst.expressions.{
      Attribute, EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
      LessThanOrEqual, Literal}
    if (stats.isEmpty) return surviving
    val rules: Seq[(String, (BigDecimal, BigDecimal) => Boolean)] = filters.flatMap {
      case EqualTo(a: Attribute, l: Literal) =>
        statLit(l).map(v => a.name -> ((mn: BigDecimal, mx: BigDecimal) => mn <= v && v <= mx))
      case EqualTo(l: Literal, a: Attribute) =>
        statLit(l).map(v => a.name -> ((mn: BigDecimal, mx: BigDecimal) => mn <= v && v <= mx))
      case GreaterThan(a: Attribute, l: Literal) =>
        statLit(l).map(v => a.name -> ((_: BigDecimal, mx: BigDecimal) => mx > v))
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        statLit(l).map(v => a.name -> ((_: BigDecimal, mx: BigDecimal) => mx >= v))
      case LessThan(a: Attribute, l: Literal) =>
        statLit(l).map(v => a.name -> ((mn: BigDecimal, _: BigDecimal) => mn < v))
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        statLit(l).map(v => a.name -> ((mn: BigDecimal, _: BigDecimal) => mn <= v))
      case GreaterThan(l: Literal, a: Attribute) => // v > col ⇔ col < v
        statLit(l).map(v => a.name -> ((mn: BigDecimal, _: BigDecimal) => mn < v))
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        statLit(l).map(v => a.name -> ((mn: BigDecimal, _: BigDecimal) => mn <= v))
      case LessThan(l: Literal, a: Attribute) =>
        statLit(l).map(v => a.name -> ((_: BigDecimal, mx: BigDecimal) => mx > v))
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        statLit(l).map(v => a.name -> ((_: BigDecimal, mx: BigDecimal) => mx >= v))
      case _ => None
    }
    if (rules.isEmpty) return surviving
    surviving.filter { case (b, _) =>
      rules.forall { case (c, keep) =>
        stats.get(b).flatMap(_.get(c)) match {
          case Some((mn, mx)) => keep(mn, mx)
          case None           => true // no recorded range — must keep
        }
      }
    }
  }

  /** Bloom-sidecar pruning: drop buckets whose recorded filter for an
    * equality-pushed column definitely excludes the literal. The literal is
    * CAST to the type the sidecar's line records — the type the covered
    * files actually stored, which under schema evolution can differ per
    * bucket — then hashed exactly as the writer hashed the column
    * ([[graft.sink.BloomIndex]]'s bit-identity contract). Buckets without a
    * line, uncastable literals, and missing sidecar files (a reader racing
    * vacuum on a superseded version) are all conservatively kept; every
    * predicate stays residual, so a false positive only costs one file read.
    */
  private def bloomPruned(filters: Seq[Expression],
      surviving: Map[Int, String]): Map[Int, String] = {
    import org.apache.spark.sql.catalyst.expressions.{
      Attribute, Cast, EqualTo, In, InSet, Literal, XxHash64}
    if (blooms.isEmpty) return surviving
    val bloomedCols: Set[String] = blooms.values.flatMap(_.keys).toSet
    // each rule: (column, candidate literals) — a bucket survives the rule
    // iff ANY candidate is admitted (disjunction inside an IN list), and
    // must survive every rule (conjunction across predicates). Null list
    // elements never match a row, so they contribute no candidate.
    val rules: Seq[(String, Seq[Literal])] = filters.collect {
      case EqualTo(a: Attribute, l: Literal)
        if l.value != null && bloomedCols.contains(a.name) => a.name -> Seq(l)
      case EqualTo(l: Literal, a: Attribute)
        if l.value != null && bloomedCols.contains(a.name) => a.name -> Seq(l)
      case In(a: Attribute, vs)
        if bloomedCols.contains(a.name) && vs.forall(_.isInstanceOf[Literal]) =>
        a.name -> vs.collect { case l: Literal if l.value != null => l }
      case ins @ InSet(a: Attribute, hset) if bloomedCols.contains(a.name) =>
        a.name -> hset.toSeq.filter(_ != null)
          .map(v => Literal(v, ins.child.dataType))
    }.filter(_._2.nonEmpty)
    if (rules.isEmpty) return surviving
    // hash per (column, stored-type, literal) — memoized so one query
    // hashes each needed (type, value) exactly once
    val hashCache = scala.collection.mutable.Map.empty[(String, String, Any), Option[Long]]
    def hashFor(c: String, ddl: String, l: Literal): Option[Long] =
      hashCache.getOrElseUpdate((c, ddl, l.value), {
        scala.util.Try {
          val storedType = org.apache.spark.sql.types.DataType.fromDDL(ddl)
          val castLit: Expression =
            if (l.dataType == storedType) l
            else Cast(l, storedType, Some("UTC"))
          new XxHash64(Seq(castLit)).eval(null).asInstanceOf[Long]
        }.toOption
      })
    surviving.filter { case (b, _) =>
      rules.forall { case (c, lits) =>
        blooms.get(b).flatMap(_.get(c)) match {
          case None => true // no filter recorded for this bucket — keep
          case Some((ddl, rel)) =>
            lazy val bloom = graft.sink.BloomIndex
              .load(new org.apache.hadoop.fs.Path(s"$dir/$rel"))
            lits.exists { l =>
              hashFor(c, ddl, l) match {
                case None    => true // uncastable literal — cannot prune safely
                case Some(h) => bloom.forall(_.mightContain(h))
              }
            }
        }
      }
    }
  }
}

private[sources] object SnapshotState {
  /** The committed state at (`dir`, `version`) — every manifest line a
    * scan's pruning reads; key routing reads the same manifest through
    * the sink's router.
    */
  def at(dir: String, version: Long): SnapshotState =
    SnapshotState(dir, version, SnapshotParquetSink.manifest(dir, version)._2,
      SnapshotParquetSink.manifestStats(dir, version),
      SnapshotParquetSink.manifestBlooms(dir, version))

  def resolve(options: CaseInsensitiveStringMap): SnapshotState = {
    val dir = Option(options.get("path"))
      .getOrElse(sys.error("graft-snapshot needs a path: .load(dir) or option(\"path\", dir)"))
    val keys = Option(options.get("keys")).map(_.split(',').toSeq.map(_.trim)).getOrElse(Seq.empty)
    val versions = SnapshotParquetSink.versions(dir)
    if (versions.isEmpty) {
      // unpublished table: resolvable (the write fallback needs this) but
      // unreadable — SnapshotTable.newScanBuilder rejects version −1
      require(options.get("asOf") == null, s"no snapshot published at $dir")
      return SnapshotState(dir, -1L, Map.empty, Map.empty, Map.empty)
    }
    val version = Option(options.get("asOf")).map(_.toLong).getOrElse(versions.last)
    require(versions.contains(version),
      s"snapshot v$version does not exist at $dir (vacuumed or never published); " +
        s"available: ${versions.mkString(", ")}")
    // pruning routes on the manifest's RECORDED merge keys; an option
    // naming other columns would be silently ignored, so a mismatch is an
    // error, not a preference
    val recorded = SnapshotParquetSink.manifestKeys(dir, version)
    require(keys.isEmpty || keys == recorded,
      s"option keys=${keys.mkString(",")} does not match the table's committed " +
        s"merge keys ${recorded.mkString(",")} at $dir — drop the option " +
        "(pruning uses the recorded keys automatically)")
    at(dir, version)
  }
}

/** Public face of the DSv2 snapshot table for planner rules: the committed
  * (dir, version) a scan is pinned to. [[graft.plans.MatViewRewrite]] keys
  * its registry lookup and staleness check off these — the version pin is
  * what lets the rewrite substitute the matview state matching EXACTLY the
  * source version this scan would read, not "whatever is current now".
  */
trait GraftSnapshotTable {
  def snapshotDir: String
  def snapshotVersion: Long
}

private[sources] final class SnapshotTable(state: SnapshotState, schema0: StructType)
    extends Table with SupportsRead with GraftSnapshotTable {
  override def snapshotDir: String = state.dir
  override def snapshotVersion: Long = state.version
  override def name(): String = s"graft-snapshot `${state.dir}` v${state.version}"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(state.version >= 0, s"no snapshot published at ${state.dir}")
    new SnapshotScanBuilder(state, schema0)
  }
}

/** Collects pushed catalyst filters (all returned as residual — Spark
  * re-evaluates every predicate above the scan, so bucket pruning can be a
  * pure file-list optimization with zero correctness exposure), prunes the
  * bucket list, then hands the actual scan to Spark's DSv2 parquet stack.
  */
private[sources] final class SnapshotScanBuilder(state: SnapshotState, fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushedExprs: Seq[Expression] = Seq.empty

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushedExprs = filters
    filters // everything stays residual; the delegate re-pushes for parquet
  }

  // the delegate parquet scan advertises its own pushdown in explain; this
  // builder claims none so no predicate is ever marked handled twice
  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
    ()
  }

  override def build(): Scan = {
    val spark = SparkSession.active
    val paths = state.prunedPaths(pushedExprs)
    val opts = new CaseInsensitiveStringMap(Map("mergeSchema" -> "true").asJava)
    val delegate = ParquetTable(s"graft-snapshot-v${state.version}", spark, opts,
      paths.toList, Some(fullSchema), classOf[ParquetFileFormat])
    val psb = delegate.newScanBuilder(opts)
    psb.pushFilters(pushedExprs)
    psb.pruneColumns(required)
    psb.build()
  }
}
