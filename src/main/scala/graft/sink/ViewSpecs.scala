package graft.sink

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
import graft.engine.Dfs

/** Durable view definitions: a maintained view's spec persisted INTO its
  * own table directory (`<viewDir>/view.spec`), so views are warehouse
  * objects, not session constructs — any process can [[load]] a view by
  * its directory and refresh it (the SQL surface does exactly that:
  * `matview_load('/warehouse/rollup')`), and a restart loses nothing.
  *
  * Format is the manifests' line-oriented style. Aggregate expressions are
  * stored as SQL strings (one per line — they may contain commas) and
  * rehydrate through the session parser, so a spec written by one session
  * builds the identical Columns in another. Written via the commit-lock
  * seam, once: a view definition is immutable metadata (drop the file to
  * redefine — the applied-version bookkeeping in the table itself stays
  * consistent either way, since refresh derives everything from manifests).
  *
  * Scale note: the spec is one tiny file next to the manifests; loading a
  * view costs two metadata reads, no data IO.
  */
object ViewSpecs {

  private def specPath(viewDir: String) = new HPath(viewDir, "view.spec")

  private def field(lines: Seq[String], k: String): String =
    lines.collectFirst { case l if l.startsWith(s"$k=") => l.drop(k.length + 1) }
      .getOrElse(sys.error(s"view.spec is missing '$k='"))

  private def csv(s: String): Seq[String] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  private def publish(viewDir: String, lines: Seq[String]): Unit = {
    val p = specPath(viewDir)
    require(!Dfs.exists(p),
      s"a view is already defined at $viewDir — drop $p to redefine")
    if (!graft.engine.CommitLock.publishFile(p, lines.mkString("", "\n", "\n")))
      sys.error(s"lost the definition race at $p — another writer defined " +
        "this view first (drop the file to redefine)")
  }

  /** True when `viewDir` carries a persisted definition. */
  def defined(viewDir: String): Boolean = Dfs.exists(specPath(viewDir))

  /** Fails loudly when `viewDir` already carries a DIFFERENT definition —
    * the persisted spec is authoritative, and letting a caller's divergent
    * arguments win for one session would fork the view's meaning between
    * disk and memory. A byte-identical re-define is an idempotent no-op.
    */
  def requireConsistent(viewDir: String, lines: Seq[String]): Unit = {
    val stored = Dfs.readUtf8(specPath(viewDir)).split('\n').toSeq.filter(_.nonEmpty)
    require(stored == lines,
      s"the view at $viewDir is already defined DIFFERENTLY:\n  stored: " +
        s"${stored.mkString(" | ")}\n  caller: ${lines.mkString(" | ")}\n" +
        s"drop ${specPath(viewDir)} to redefine")
  }

  private[sink] def aggLines(m: MaterializedAgg, aggExprSql: Seq[String],
      seqCol: String): Seq[String] =
    Seq("type=agg", s"source=${m.source.dir}",
      s"group=${m.groupCols.mkString(",")}", s"seqcol=$seqCol") ++
      aggExprSql.map(s => s"agg=$s")

  private[sink] def joinLines(m: MaterializedJoin, joinKeys: Seq[String],
      dimCols: Seq[String], joinType: String, factSeqCol: String,
      dimSeqCol: String): Seq[String] =
    Seq("type=join", s"fact=${m.fact.dir}", s"dim=${m.dim.dir}",
      s"joinkeys=${joinKeys.mkString(",")}",
      s"dimcols=${dimCols.mkString(",")}",
      s"jointype=$joinType", s"factseq=$factSeqCol", s"dimseq=$dimSeqCol")

  /** The canonical spec lines for an agg view — what [[saveAgg]] persists
    * and what a re-define must match. */
  def aggDefinition(m: MaterializedAgg, aggExprSql: Seq[String],
      seqCol: String = "seq"): Seq[String] = aggLines(m, aggExprSql, seqCol)

  /** The canonical spec lines for a join view. */
  def joinDefinition(m: MaterializedJoin, joinKeys: Seq[String],
      dimCols: Seq[String], joinType: String, factSeqCol: String = "seq",
      dimSeqCol: String = "seq"): Seq[String] =
    joinLines(m, joinKeys, dimCols, joinType, factSeqCol, dimSeqCol)

  def saveAgg(m: MaterializedAgg, aggExprSql: Seq[String],
      seqCol: String = "seq"): Unit = {
    (m.groupCols :+ seqCol).foreach(SnapshotParquetSink.validManifestName("view"))
    require(aggExprSql.nonEmpty && aggExprSql.forall(s => !s.contains("\n")),
      "aggregate expression SQL must be one line each")
    publish(m.sink.dir, aggLines(m, aggExprSql, seqCol))
  }

  def saveJoin(m: MaterializedJoin, joinKeys: Seq[String], dimCols: Seq[String],
      joinType: String, factSeqCol: String = "seq",
      dimSeqCol: String = "seq"): Unit = {
    (joinKeys ++ dimCols :+ factSeqCol :+ dimSeqCol)
      .foreach(SnapshotParquetSink.validManifestName("view"))
    publish(m.sink.dir,
      joinLines(m, joinKeys, dimCols, joinType, factSeqCol, dimSeqCol))
  }

  /** Rehydrates the view defined at `viewDir`. Source tables resolve
    * through [[SnapshotParquetSink.forTable]] (committed layout) when they
    * have versions, else a fresh-layout handle (the view was defined before
    * its source's first commit).
    */
  def load(spark: SparkSession, viewDir: String): MaintainedView = {
    val p = specPath(viewDir)
    require(Dfs.exists(p), s"no view defined at $viewDir (missing $p)")
    val lines = Dfs.readUtf8(p).split('\n').toSeq.filter(_.nonEmpty)
    def table(dir: String): SnapshotParquetSink =
      if (SnapshotParquetSink.versions(dir).nonEmpty) SnapshotParquetSink.forTable(dir)
      else new SnapshotParquetSink(dir)
    field(lines, "type") match {
      case "agg" =>
        val aggs = lines.collect { case l if l.startsWith("agg=") => expr(l.drop(4)) }
        require(aggs.nonEmpty, s"view.spec at $viewDir declares no aggregates")
        new MaterializedAgg(table(field(lines, "source")), table(viewDir),
          csv(field(lines, "group")), aggs, field(lines, "seqcol"))
      case "join" =>
        new MaterializedJoin(table(field(lines, "fact")), table(field(lines, "dim")),
          table(viewDir), csv(field(lines, "joinkeys")), csv(field(lines, "dimcols")),
          field(lines, "jointype"), field(lines, "factseq"), field(lines, "dimseq"))
      case other => sys.error(s"unknown view type '$other' at $viewDir")
    }
  }
}
