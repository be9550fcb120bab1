package graft.sink

import graft.model.TableSpec

/** Generates the warehouse-side DDL/DML the reference's deploy step would
  * cause Upsolver to run (R7/R28/R29: add_output.py:107-118,297-309,
  * 409-452): CREATE TABLE with upper-cased nullable columns, staged COPY,
  * and a MERGE keyed on the upsert columns with hard/logical delete
  * handling. No connector jar ships in this environment, so this is
  * SQL-string generation + unit tests only (SURVEY §7.4); a connector-backed
  * UpsertSink would execute exactly these statements.
  *
  * The generated MERGE honors the UpsertSink contract:
  *  - the staged batch is deduped per key (latest SEQ wins) in the USING
  *    subquery, so multi-event-per-key batches are never nondeterministic;
  *  - every MATCHED clause is guarded by `s.SEQ > t.SEQ` and SEQ is stored,
  *    so replaying an old batch (foreachBatch restart) is a no-op.
  * Caveat (hard mode): a hard DELETE leaves no tombstone in the warehouse,
  * so a replay containing ONLY stale pre-delete events of a deleted key
  * would re-insert it. Logical mode (IS_DELETED column, README.md:61) is
  * fully replay-idempotent and is what a production pipeline should pair
  * with a filtered view — the same tombstone design SnapshotParquetSink uses.
  */
object SnowflakeSqlGen {

  private def sfType(dbType: String): String = dbType match {
    case "DbBigInt"    => "BIGINT"
    case "DbDouble"    => "DOUBLE"
    case "DbString"    => "VARCHAR"
    case "DbBoolean"   => "BOOLEAN"
    case "DbTimestamp" => "TIMESTAMP_NTZ"
    case "DbDate"      => "DATE"
    case "DbVariant"   => "VARIANT"
    case other         => throw new IllegalArgumentException(s"unknown db type $other")
  }

  def qualified(catalog: String, schema: String, table: String): String =
    s"${catalog.toUpperCase}.${schema.toUpperCase}.${table.toUpperCase}"

  /** CREATE TABLE IF NOT EXISTS — `createTable: true` semantics, all columns
    * nullable (add_output.py:113-117,306), plus the SEQ ordering column the
    * merge guard needs.
    */
  def createTable(catalog: String, schema: String, spec: TableSpec,
      logicalDeletes: Boolean = false): String = {
    val cols = spec.cols.map(c => s"  ${c.warehouseName} ${sfType(c.mapped.dbType)}")
    val extra = Seq("  SEQ BIGINT") ++
      (if (logicalDeletes) Seq("  IS_DELETED BOOLEAN") else Nil)
    val table = spec.fullTableName.split('.').last
    s"""CREATE TABLE IF NOT EXISTS ${qualified(catalog, schema, table)} (
       |${(cols ++ extra).mkString(",\n")}
       |)""".stripMargin
  }

  /** COPY INTO a staging table from cloud-storage files — the reference's
    * staged-bulk-load path (add_output.py:421,438).
    */
  def copyInto(catalog: String, schema: String, table: String, stageUrl: String): String =
    s"""COPY INTO ${qualified(catalog, schema, table + "_STAGE")}
       |FROM '$stageUrl' FILE_FORMAT = (TYPE = PARQUET)
       |MATCH_BY_COLUMN_NAME = CASE_INSENSITIVE""".stripMargin

  /** MERGE from the staged micro-batch: per-key dedup in the source, SEQ
    * guard on every matched clause, and per delete mode either
    * `WHEN MATCHED ... AND IS_DELETE THEN DELETE` (R14) or an IS_DELETED
    * column assignment (R15).
    */
  def merge(catalog: String, schema: String, spec: TableSpec,
      logicalDeletes: Boolean = false): String = {
    val table = spec.fullTableName.split('.').last
    val target = qualified(catalog, schema, table)
    val stage = qualified(catalog, schema, table + "_STAGE")
    val keys = spec.pkCols.map(_.warehouseName)
    require(keys.nonEmpty, s"${spec.fullTableName}: no upsert key")
    val on = keys.map(k => s"t.$k = s.$k").mkString(" AND ")
    val dedupSource =
      s"""(SELECT * FROM $stage
         |   QUALIFY ROW_NUMBER() OVER (PARTITION BY ${keys.mkString(", ")} ORDER BY SEQ DESC) = 1)"""
        .stripMargin
    val nonKeys = spec.cols.filterNot(_.isPrimaryKey).map(_.warehouseName)
    val setList = (nonKeys.map(c => s"t.$c = s.$c") ++ Seq("t.SEQ = s.SEQ") ++
      (if (logicalDeletes) Seq("t.IS_DELETED = s.IS_DELETE") else Nil)).mkString(", ")
    val insCols = spec.cols.map(_.warehouseName) ++ Seq("SEQ") ++
      (if (logicalDeletes) Seq("IS_DELETED") else Nil)
    val insVals = spec.cols.map(c => s"s.${c.warehouseName}") ++ Seq("s.SEQ") ++
      (if (logicalDeletes) Seq("s.IS_DELETE") else Nil)
    val deleteClause =
      if (logicalDeletes) ""
      else "\nWHEN MATCHED AND s.SEQ > t.SEQ AND s.IS_DELETE THEN DELETE"
    s"""MERGE INTO $target t USING $dedupSource s ON $on$deleteClause
       |WHEN MATCHED AND s.SEQ > t.SEQ THEN UPDATE SET $setList
       |WHEN NOT MATCHED${if (logicalDeletes) "" else " AND NOT s.IS_DELETE"} THEN
       |  INSERT (${insCols.mkString(", ")}) VALUES (${insVals.mkString(", ")})""".stripMargin
  }
}
