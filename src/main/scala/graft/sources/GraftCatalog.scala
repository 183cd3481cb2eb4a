package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, ProcedureCatalog}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL surface for graft table maintenance (round 7) — the operational
  * affordance lakehouse users expect from Iceberg/Delta-style catalogs:
  *
  * {{{
  *   spark.conf "spark.sql.catalog.graft" -> "graft.sources.GraftCatalog"
  *   CALL graft.system.compact(path => '/data/t', dry_run => true)
  *   CALL graft.system.compact('/data/t')
  *   CALL graft.system.vacuum('/data/t', grace_ms => 0)
  * }}}
  *
  * Built on Spark 4's stored-procedure connector API
  * ([[ProcedureCatalog]] / [[UnboundProcedure]]): each CALL binds,
  * runs the [[GraftMaintenance]] entry point on the driver, and returns
  * its report as rows (`dry_run => true` reports without touching the
  * table). Parameter defaults mirror the Scala API's.
  */
class GraftCatalog extends CatalogPlugin with ProcedureCatalog {
  private var catalogName = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  private val System = Array("system")

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(System) || namespace.isEmpty)
      GraftCatalog.Procedures.map(p => Identifier.of(System, p.name())).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!ident.namespace.sameElements(System))
      throw new RuntimeException(
        s"graft catalog has no namespace ${ident.namespace.mkString(".")}; " +
          "procedures live under `system`")
    val n = ident.name.toLowerCase
    GraftCatalog.Procedures.find(_.name() == n).getOrElse(
      throw new RuntimeException(s"unknown graft procedure $n; have: " +
        GraftCatalog.Procedures.map(_.name()).mkString(", ")))
  }
}

object GraftCatalog {

  private def param(name: String, dt: DataType, default: String = null,
                    comment: String = null): ProcedureParameter = {
    var b = ProcedureParameter.in(name, dt)
    if (default != null) b = b.defaultValue(default)
    if (comment != null) b = b.comment(comment)
    b.build()
  }

  private def field(name: String, dt: DataType): StructField =
    StructField(name, dt, nullable = false)

  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString

  /** One-row driver-side result relation for a procedure's report. */
  private final case class Report(schema: StructType, row: Array[Any])
      extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] =
      Array(new GenericInternalRow(row))
  }

  /** One procedure definition: `run` calls the [[GraftMaintenance]]
    * entry point on the driver and returns the report row, one value per
    * `result` field.
    */
  private final class Procedure(name0: String, description0: String,
                                params: Array[ProcedureParameter],
                                result: Seq[StructField],
                                run: InternalRow => Array[Any])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = name0
    override def description(): String = description0
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = params
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      java.util.Collections.singletonList[Scan](
        Report(StructType(result), run(input))).iterator()
  }

  /** Every procedure under `system`, in listing order. */
  private val Procedures: Seq[Procedure] = Seq(
    new Procedure("compact",
      "Fold small committed containers of a graft table at whole-epoch " +
        "granularity (one OCC commit; concurrent appends survive). " +
        "dry_run => true reports the fold without performing it.",
      Array(
        param("path", StringType, comment = "graft table directory"),
        param("target_bytes", LongType, default = (128L << 20).toString,
          comment = "max encoded bytes per compacted container"),
        param("min_containers", IntegerType, default = "2",
          comment = "smallest fold worth rewriting"),
        param("dry_run", BooleanType, default = "false")),
      Seq(field("containers_consumed", IntegerType),
        field("containers_produced", IntegerType),
        field("dry_run", BooleanType)),
      r => {
        val (consumed, produced) = GraftMaintenance.compact(
          SparkSession.active, str(r, 0), targetBytes = r.getLong(1),
          minContainers = r.getInt(2), dryRun = r.getBoolean(3))
        Array(consumed, produced, r.getBoolean(3))
      }),
    new Procedure("vacuum",
      "Delete aged orphan blocks and tmp fragments of a graft table " +
        "(referenced = index snapshot UNION manifest listing). " +
        "dry_run => true counts without deleting.",
      Array(
        param("path", StringType, comment = "graft table directory"),
        param("grace_ms", LongType, default = (72L * 60 * 60 * 1000).toString,
          comment = "minimum age before an unreferenced file is swept"),
        param("dry_run", BooleanType, default = "false")),
      Seq(field("files_deleted", IntegerType), field("dry_run", BooleanType)),
      r => Array(GraftMaintenance.vacuum(SparkSession.active, str(r, 0),
        graceMs = r.getLong(1), dryRun = r.getBoolean(2)), r.getBoolean(2))),
    new Procedure("rename_column",
      "Rename a column of a graft table (metadata-only: commits a " +
        "zero-row schema marker; committed containers keep their " +
        "historical labels and readers translate per container).",
      Array(
        param("path", StringType, comment = "graft table directory"),
        param("from", StringType, comment = "current column name"),
        param("to", StringType, comment = "new column name")),
      Seq(field("renamed", BooleanType)),
      r => {
        GraftMaintenance.renameColumn(SparkSession.active, str(r, 0),
          str(r, 1), str(r, 2))
        Array(true)
      }),
    new Procedure("delete",
      "Copy-on-write row-level DELETE: rewrite exactly the containers " +
        "that may hold rows matching the predicate (any deterministic " +
        "Spark SQL boolean expression), swap under one OCC commit. " +
        "Retained snapshots keep time-traveling to the pre-delete rows " +
        "until expire_snapshots + vacuum purge them.",
      Array(
        param("path", StringType, comment = "graft table directory"),
        param("predicate", StringType,
          comment = "SQL boolean expression; matching rows are deleted")),
      Seq(field("rows_deleted", LongType)),
      r => Array(GraftMaintenance.delete(SparkSession.active, str(r, 0),
        str(r, 1)))),
    new Procedure("expire_snapshots",
      "Expire retained time-travel snapshots now: keep the newest " +
        "retain_last content-bearing versions (the tip counts), " +
        "optionally only versions older than older_than_ms. Expired " +
        "versions fail reads with the controlled 'no longer retained' " +
        "error and stop protecting their blocks from vacuum (the " +
        "delete-purge path). The rolling per-commit window is the " +
        "graft.snapshot.retention configuration key (default 8).",
      Array(
        param("path", StringType, comment = "graft table directory"),
        param("retain_last", LongType, default = "2",
          comment = "newest content-bearing versions to keep (>= 1)"),
        param("older_than_ms", LongType, default = "0",
          comment = "only expire versions at least this old")),
      Seq(field("snapshots_expired", IntegerType)),
      r => Array(GraftMaintenance.expireSnapshots(SparkSession.active,
        str(r, 0), retainLast = r.getLong(1), olderThanMs = r.getLong(2)))),
    new Procedure("drop_column",
      "Drop a column of a graft table (metadata-only: a zero-row schema " +
        "marker tombstones the POSITION; committed containers keep " +
        "their data for time travel, readers project it out, appends " +
        "supply only the visible columns, and the name may later be " +
        "re-added as a fresh trailing column).",
      Array(
        param("path", StringType, comment = "graft table directory"),
        param("col", StringType, comment = "current column name to drop")),
      Seq(field("dropped", BooleanType)),
      r => {
        GraftMaintenance.dropColumn(SparkSession.active, str(r, 0), str(r, 1))
        Array(true)
      }),
    new Procedure("update",
      "Copy-on-write row-level UPDATE: rows matching the predicate are " +
        "rewritten with set_column = set_expr (any deterministic Spark " +
        "SQL expression over the row's original values, cast to the " +
        "column's type); only containers that may hold matches rewrite, " +
        "one OCC swap. Multi-column updates: the Scala API " +
        "GraftMaintenance.update(spark, path, predicate, Map(...)).",
      Array(
        param("path", StringType, comment = "graft table directory"),
        param("predicate", StringType,
          comment = "SQL boolean expression; matching rows are updated"),
        param("set_column", StringType, comment = "column to assign"),
        param("set_expr", StringType,
          comment = "SQL expression for the new value")),
      Seq(field("rows_updated", LongType)),
      r => Array(GraftMaintenance.update(SparkSession.active, str(r, 0),
        str(r, 1), Map(str(r, 2) -> str(r, 3))))))
}
