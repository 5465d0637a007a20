package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{
  SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.{
  BooleanType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** METADATA TABLES (Iceberg's `t.files` / `t.history` /
  * `t.snapshots` / `t.partitions` / `t.refs`): the lake's own
  * bookkeeping, queryable in pure SQL through the catalog —
  * `SELECT * FROM <cat>.<table>.files`. Resolution rides Spark's
  * multipart identifiers (the kind lands as the identifier NAME with
  * the base table as its namespace); a REAL table at that path wins,
  * so the meta namespace never shadows user data.
  *
  * Every row is answered from manifest headers and file entries —
  * KB-scale driver metadata, zero data files opened — and served as
  * a [[LocalScan]], which Spark plans as a local table scan. This is
  * the observability face the maintenance procedures (`history`,
  * `optimize`, …) return metrics through, generalized to full
  * relations that join like any other table.
  */
object LakeMetaTables {

  val Kinds: Set[String] =
    Set("files", "history", "snapshots", "partitions", "refs",
      "orphans")

  private def s(v: String): AnyRef = UTF8String.fromString(v)
  private def sOpt(v: Option[String]): AnyRef = v.map(s).orNull

  private def schemaOf(kind: String): StructType = kind match {
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("live_rows", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("lo", LongType, nullable = false),
      StructField("hi", LongType, nullable = false),
      StructField("part_col", StringType, nullable = true),
      StructField("part_val", StringType, nullable = true),
      StructField("part2_col", StringType, nullable = true),
      StructField("part2_val", StringType, nullable = true),
      StructField("dv_count", LongType, nullable = false),
      StructField("sorted_by", StringType, nullable = true),
      StructField("rid_base", LongType, nullable = true),
      StructField("rid_mat", BooleanType, nullable = false)))
    case "history" | "snapshots" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("txn", StringType, nullable = true),
      StructField("committed_at", LongType, nullable = false),
      StructField("is_checkpoint", BooleanType, nullable = false)))
    case "partitions" => StructType(Seq(
      StructField("part_col", StringType, nullable = false),
      StructField("part_val", StringType, nullable = false),
      // 1 = primary spec level, 2 = composed second level: on a
      // two-level table every file contributes a row at EACH level,
      // so sum(n_rows) over the whole relation double-counts —
      // filter one level (WHERE level = 1) before summing
      StructField("level", LongType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))
    case "refs" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    // dry-run face of CALL remove_orphans: the files the sweep WOULD
    // reclaim (no retained manifest references them), so an operator
    // inspects the set before deleting anything
    case "orphans" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("modified_at", LongType, nullable = false)))
    case other => throw new IllegalArgumentException(
      s"unknown metadata table kind '$other'")
  }

  private def rowsOf(root: String, kind: String): Seq[InternalRow] = {
    def row(vals: Any*): InternalRow =
      new GenericInternalRow(vals.toArray)
    kind match {
      case "files" =>
        SnapshotLake.snapshot(root).files.map { f =>
          row(s(f.name), f.rows, f.liveRows,
            f.bytes, f.lo, f.hi,
            sOpt(f.part.map(_._1)), sOpt(f.part.map(_._2)),
            sOpt(f.part2.map(_._1)), sOpt(f.part2.map(_._2)),
            f.dv.fold(0L)(_.count), sOpt(f.sorted),
            f.rid.map(Long.box).orNull, f.ridMat)
        }
      case "history" | "snapshots" =>
        // newest first (Iceberg's ordering); one header read per
        // un-vacuumed version
        val head = SnapshotLake.headVersion(root)
        (head to 0 by -1).flatMap { v =>
          SnapshotLake.describeVersion(root, v).map {
            case (op, nf, nr, txn, ts, ckpt) =>
              row(v.toLong, s(op), nf, nr, sOpt(txn),
                ts, ckpt)
          }
        }
      case "partitions" =>
        SnapshotLake.snapshot(root).files
          .flatMap(f => f.part.map(p => (p, 1L, f)).toSeq ++
            f.part2.map(p => (p, 2L, f)).toSeq)
          .groupBy(t => (t._1, t._2))
          .toSeq.sortBy { case (((c, v), lvl), _) => (lvl, c, v) }
          .map { case (((c, v), lvl), fs) =>
            row(s(c), s(v), lvl, fs.size.toLong, fs.map(_._3.liveRows).sum)
          }
      case "refs" =>
        SnapshotLake.listBranches(root).map { case (n, v) =>
          row(s(n), s("branch"), v.toLong) } ++
          SnapshotLake.listTags(root).map { case (n, v) =>
            row(s(n), s("tag"), v.toLong) }
      case "orphans" =>
        // a LocalScan is always planned inside a session; `active`
        // falls back to the default session when the planning thread
        // has no thread-local one
        SnapshotLake.orphanCandidates(
          org.apache.spark.sql.SparkSession.active, root)
          .map { case (p, bytes, ts) => row(s(p), bytes, ts) }
    }
  }

  final class MetaTable(root: String, kind: String)
      extends Table with SupportsRead {
    private val tschema = schemaOf(kind)
    override def name(): String = s"graft_lake_meta($root#$kind)"
    override def schema(): StructType = tschema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.Set.of(TableCapability.BATCH_READ)
    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new LocalScan {
          // materialized at PLANNING (driver metadata — KB scale);
          // each query sees one consistent snapshot of the manifest
          private val all = rowsOf(root, kind).toArray
          override def rows(): Array[InternalRow] = all
          override def readSchema(): StructType = tschema
          override def description(): String = s"LakeMeta($kind)"
        }
      }
  }
}
