package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
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
import graft.engine.Dfs
import graft.sink.BatchStore

/** Option-keyed resolve-once cache, shared by every provider here and by
  * [[SnapshotTableProvider]]: Spark calls inferSchema then getTable on the
  * same provider instance, and resolving twice would let a concurrent
  * commit hand the scan a NEWER version's files under the older version's
  * schema. One resolution per distinct option set per instance.
  */
private[sources] final class ResolveOnce[S](resolve: CaseInsensitiveStringMap => S) {
  @volatile private var cached: Option[(Map[String, String], S)] = None
  def apply(options: CaseInsensitiveStringMap): S = {
    val key = options.asCaseSensitiveMap().asScala.toMap
      .map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    cached match {
      case Some((k, st)) if k == key => st
      case _ =>
        val st = resolve(options)
        cached = Some((key, st))
        st
    }
  }
}

/** Shared scaffolding for the read-only DSv2 views over the `_SUCCESS`-
  * gated batch stores ([[graft.sink.TextIndexStore]],
  * [[graft.sink.VectorIndexStore]]): resolve the committed file list once,
  * optionally prune it against the pushed filters, then delegate the
  * actual scan to Spark's DSv2 parquet stack (vectorized reads, row-group
  * stats pruning, column pruning — all inherited). The provider-level
  * semantic is COMMITTED VISIBILITY: uncommitted partials (a crashed
  * append's dir without its `_SUCCESS` marker) never reach the file list,
  * so plain SQL sees exactly what the Scala store API sees — the
  * [[SnapshotTableProvider]] contract for the store family.
  */
private[sources] abstract class BatchStoreProvider extends TableProvider
    with DataSourceRegister {

  /** (schema, basePath option or None, pushed-filter file pruner). */
  protected def resolveState(options: CaseInsensitiveStringMap): BatchScanState

  private val resolveOnce = new ResolveOnce(resolveState)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolveOnce(options).dataSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new BatchStoreTable(shortName(), resolveOnce(new CaseInsensitiveStringMap(properties)), schema)

  protected def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      sys.error(s"${shortName()} needs a path: .load(dir) or option(\"path\", dir)"))
}

/** One resolved committed view: the full file list, optional basePath (set
  * when partition-derived columns like `cell` must surface), and a pruner
  * that may shrink the file list given the pushed filters (pure
  * optimization — every predicate stays residual, so a pruner bug can lose
  * performance, never rows that a filter would have kept).
  */
private[sources] final case class BatchScanState(
    label: String,
    allPaths: Seq[String],
    basePath: Option[String],
    prune: Seq[Expression] => Seq[String]) {

  require(allPaths.nonEmpty, s"no committed batches for $label")

  lazy val dataSchema: StructType = {
    val spark = SparkSession.active
    val r = basePath.fold(spark.read)(bp => spark.read.option("basePath", bp))
    r.option("mergeSchema", "true").parquet(allPaths: _*).schema
  }
}

private[sources] final class BatchStoreTable(fmt: String, state: BatchScanState,
    schema0: StructType) extends Table with SupportsRead {
  override def name(): String = s"$fmt `${state.label}`"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BatchStoreScanBuilder(state, schema0)
}

/** Same pushdown posture as [[SnapshotScanBuilder]]: collect the catalyst
  * filters, return them all as residual, prune the file list, delegate to
  * the parquet DSv2 scan (which re-pushes the same filters for row-group
  * pruning).
  */
private[sources] final class BatchStoreScanBuilder(state: BatchScanState,
    fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushedExprs: Seq[Expression] = Seq.empty

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushedExprs = filters
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
    ()
  }

  override def build(): Scan = {
    val spark = SparkSession.active
    val paths = state.prune(pushedExprs)
    val optMap = Map("mergeSchema" -> "true") ++
      state.basePath.map("basePath" -> _).toMap
    val opts = new CaseInsensitiveStringMap(optMap.asJava)
    val delegate = ParquetTable(state.label, spark, opts, paths.toList,
      Some(fullSchema), classOf[ParquetFileFormat])
    val psb = delegate.newScanBuilder(opts)
    psb.pushFilters(pushedExprs)
    psb.pruneColumns(required)
    psb.build()
  }
}

/** SQL over a [[graft.sink.SnapshotCatalog]] member table at a CONSISTENT
  * cross-table cut:
  *
  * {{{
  *   spark.read.format("graft-catalog")
  *     .option("table", "orders")        // member table (required)
  *     .option("asOfCatalog", 3)         // optional catalog time travel
  *     .load("/warehouse/shop")          // the catalog dir
  * }}}
  *
  * Resolution: catalog version → that version's pin for `table` → the
  * pinned snapshot's files. Two readers of the same catalog version ALWAYS
  * see the same cut of every member table, no matter how many per-table
  * merges landed since — the SQL face of the catalog's torn-read
  * guarantee. All snapshot-format read optimizations apply (key-equality
  * bucket probes on hash-routed and clustered members, manifest-stats and
  * bloom-sidecar skipping, parquet row-group pruning), because the pinned
  * version resolves through the same [[SnapshotState.at]] as
  * `graft-snapshot`.
  *
  * Cross-TABLE consistency caveat: each `.load(...)` resolves the catalog
  * head independently, so a query joining several member reads WITHOUT
  * `asOfCatalog` can straddle a catalog commit landing between the two
  * resolutions. For a consistent multi-table SQL join, read the catalog
  * version once (`new SnapshotCatalog(dir).currentVersion`) and pass it as
  * `asOfCatalog` to EVERY member read — or use the Scala `readAllAt`,
  * which resolves one version for all members by construction.
  */
final class CatalogTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-catalog"

  private val resolveOnce = new ResolveOnce(resolveState)

  private def resolveState(options: CaseInsensitiveStringMap): SnapshotState = {
    val dir = Option(options.get("path")).getOrElse(
      sys.error("graft-catalog needs a path: .load(catalogDir)"))
    val table = Option(options.get("table")).getOrElse(
      sys.error("graft-catalog needs option(\"table\", <member name>)"))
    val cat = new graft.sink.SnapshotCatalog(dir)
    val cv = Option(options.get("asOfCatalog")).map(_.toLong)
      .orElse(cat.currentVersion)
      .getOrElse(sys.error(s"no catalog version published at $dir"))
    require(cat.versions.contains(cv),
      s"catalog v$cv does not exist at $dir (vacuumed or never published); " +
        s"available: ${cat.versions.mkString(", ")}")
    val pins = cat.pins(cv)
    val tv = pins.getOrElse(table,
      sys.error(s"catalog v$cv at $dir pins no table '$table' " +
        s"(members: ${pins.keys.toSeq.sorted.mkString(", ")})"))
    SnapshotState.at(s"$dir/$table", tv)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolveOnce(options).dataSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SnapshotTable(resolveOnce(new CaseInsensitiveStringMap(properties)), schema)
}

/** SQL over the persistent text index ([[graft.sink.TextIndexStore]]):
  *
  * {{{
  *   spark.read.format("graft-textindex").load(dir)              // postings
  *   spark.read.format("graft-textindex")
  *     .option("sub", "doclens").load(dir)                       // doc lengths
  * }}}
  *
  * Postings rows are `(tok, doc_id, tf, pos)` — written sorted by token,
  * so a `tok = '...'` / `tok IN (...)` predicate prunes parquet row groups
  * via min/max stats in the delegated scan (the columnar index seek the
  * Scala `search` path uses). Only `_SUCCESS`-committed batch dirs are
  * scanned; a crashed append's partial is invisible, exactly as through
  * the store API.
  */
final class TextIndexTableProvider extends BatchStoreProvider {
  override def shortName(): String = "graft-textindex"

  override protected def resolveState(options: CaseInsensitiveStringMap): BatchScanState = {
    val dir = pathOf(options)
    val sub = Option(options.get("sub")).getOrElse("postings")
    require(sub == "postings" || sub == "doclens",
      s"graft-textindex sub must be postings or doclens, got '$sub'")
    // bind to the index's LIVE generation, like the Scala search path — a
    // compaction flip must move SQL readers atomically too. The visibility
    // walk matches the Scala readers': live dirs plus unfolded stragglers
    // a concurrent appender committed into a superseded generation
    // (fold-watermark contract, [[graft.sink.Generations.visibleBatches]]).
    val store = new graft.sink.TextIndexStore(dir)
    val info = graft.sink.Generations.liveGenInfo(dir)
    val paths = graft.sink.Generations
      .visibleBatchesAt(dir, info, store.subPath(_, sub)).flatMap(_._2)
    require(paths.nonEmpty, s"no committed $sub batches at $dir")
    // no basePath: the batch=<id> bookkeeping level stays hidden
    BatchScanState(s"graft-textindex $dir/$sub", paths, None, _ => paths)
  }
}

/** SQL over the persistent IVF vector index
  * ([[graft.sink.VectorIndexStore]]):
  *
  * {{{
  *   spark.read.format("graft-vectorindex").load(dir)
  * }}}
  *
  * Rows are the committed vectors with their payload columns plus the two
  * partition-derived columns: `cell` (the IVF inverted list — the column
  * probes route on) and `batch` (ingest provenance). An equality or IN
  * predicate on `cell` prunes the scan to the matching `cell=` directories
  * across every committed batch — the directory-level inverted-list seek
  * the Scala `search` path performs, available to plain SQL
  * (`WHERE cell = 3` plans 1/k of the store's files before parquet
  * row-group pruning starts).
  */
final class VectorIndexTableProvider extends BatchStoreProvider {
  override def shortName(): String = "graft-vectorindex"

  override protected def resolveState(options: CaseInsensitiveStringMap): BatchScanState = {
    val dir = pathOf(options)
    // bind to the index's LIVE generation, exactly like the Scala search
    // path — a recluster migration must flip SQL readers atomically too
    val gen = new graft.sink.VectorIndexStore(dir).liveGen
    val base = if (gen == 0L) s"$dir/vectors" else s"$dir/gen=$gen/vectors"
    val batchDirs = BatchStore.committedBatchPaths(base)
    require(batchDirs.nonEmpty, s"no committed vector batches at $dir")

    def cellDirs(pred: Int => Boolean): Seq[String] = batchDirs.flatMap { b =>
      Dfs.list(new HPath(b))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
        .filter(st => pred(st.getPath.getName.stripPrefix("cell=").toInt))
        .map(_.getPath.toString)
    }

    def prune(filters: Seq[Expression]): Seq[String] = {
      import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, In, Literal}
      val pinned: Option[Set[Int]] = filters.collectFirst {
        case EqualTo(a: Attribute, Literal(v, _)) if a.name == "cell" && v != null =>
          Set(v.toString.toInt)
        case EqualTo(Literal(v, _), a: Attribute) if a.name == "cell" && v != null =>
          Set(v.toString.toInt)
        case In(a: Attribute, vs) if a.name == "cell" &&
            vs.forall(_.isInstanceOf[Literal]) =>
          vs.collect { case Literal(v, _) if v != null => v.toString.toInt }.toSet
      }
      pinned match {
        case Some(cells) => cellDirs(cells.contains)
        case None        => batchDirs
      }
    }

    // basePath surfaces `batch` and `cell` as real columns
    BatchScanState(s"graft-vectorindex $dir", batchDirs, Some(base), prune)
  }
}
