package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.write.{
  DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter,
  DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

/** DELTA-BASED row-level operations (`SupportsDelta` — the DSv2
  * protocol behind Iceberg's merge-on-read SQL DML): instead of the
  * group-based rewrite that copies every file containing a matched
  * row ([[LakeRowLevelOperation]]), Spark hands this operation the
  * MATCHED ROWS THEMSELVES, each identified by `(_file, _pos)` — the
  * lake's metadata columns — and the write lands as per-file
  * deletion-vector growth plus (for UPDATE/MERGE post-images and
  * MERGE inserts) ordinary appended files. `UPDATE t SET … WHERE
  * <10 scattered rows>` costs 10 varints of manifest bytes and a
  * 10-row file write, never a gigabyte of copy-on-write — SQL DML
  * finally inherits [[SnapshotLake.updateRows]]'s economics.
  *
  * Activated by `TBLPROPERTIES ('dv' = 'true')` (the same opt-in as
  * the SQL point-delete fast path); tables without it keep the
  * group-based CoW rewrite, which preserves clustering and never
  * grows vectors. Updates arrive WHOLE (pre-image identity +
  * post-image row), so post-images materialize their pre-images'
  * stable row ids — row tracking survives SQL UPDATE; the
  * deletion-vector union at commit is idempotent, making lost-race
  * retries exact.
  */
final class LakeDeltaRowLevelOperation(root: String, tschema: StructType,
    opts: Map[String, String], cmd: RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** The snapshot version the row-level scan is PLANNED against,
    * resolved once at `newScanBuilder` and pinned as the scan's
    * `asOf` — so the matched `(_file, _pos)` identities, the staged
    * post-images, and the commit-time conflict baseline all speak of
    * the SAME version. Without the pin, a concurrent vector change
    * landing between scan and commit makes base == head at commit,
    * the post-image guard passes vacuously, and the UPDATE lands a
    * post-image for a row a concurrent DELETE already removed.
    */
  private[sources] lazy val scannedVersion: Int =
    SnapshotLake.headVersion(root)

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new LakeScanBuilder(root, Some(scannedVersion), tschema,
      forRowLevelOp = true)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new LakeDeltaWriteBuilder(root, info, opts, cmd, scannedVersion)

  /** Row identity = (file, physical position) — exactly what a
    * deletion-vector entry records.
    */
  override def rowId(): Array[NamedReference] = Array(
    org.apache.spark.sql.connector.expressions.Expressions
      .column(LakeTable.FileColumn),
    org.apache.spark.sql.connector.expressions.Expressions
      .column(LakeTable.PosColumn))

  /** `_row_id` rides as operation metadata so an UPDATE's post-image
    * can MATERIALIZE its pre-image's stable id — which is why
    * updates are NOT split into delete+insert: the pairing would be
    * lost and row tracking with it.
    */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(LakeTable.RowIdColumn))

  override def representUpdateAsDeleteAndInsert(): Boolean = false
}

final class LakeDeltaWriteBuilder(root: String, info: LogicalWriteInfo,
    opts: Map[String, String], cmd: RowLevelOperation.Command,
    scannedVersion: Int)
    extends DeltaWriteBuilder {
  override def build(): DeltaWrite = new DeltaWrite {
    override def toBatch: DeltaBatchWrite =
      new LakeDeltaBatchWrite(root, info.schema(), opts, cmd,
        scannedVersion)
  }
}

/** A delta task's acknowledgement: the rows it inserted (ordinary
  * staged files), the UPDATE post-images it wrote (staged files that
  * MATERIALIZE their pre-images' row ids in a `__rid` column), and
  * the positions it deleted, grouped by data-file path and encoded
  * EXECUTOR-SIDE as [[SnapshotLake.Dv.stageSpec]] specs: a small set
  * rides inline, a wide one as a pointer to a staging sidecar the
  * TASK wrote. The acknowledgement is O(touched files) bytes however
  * many rows were matched — a scattered delete across a million
  * files never aggregates positions on the driver.
  */
final case class LakeDeltaStaged(inserted: Seq[LakeStaged],
    updated: Seq[LakeStaged],
    deletes: Seq[(String, String)]) extends WriterCommitMessage

final class LakeDeltaBatchWrite(root: String, schema: StructType,
    opts: Map[String, String], cmd: RowLevelOperation.Command,
    scannedVersion: Int)
    extends DeltaBatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    Files.createDirectories(Paths.get(LakeWrite.stagingDir(root)))
    val phys = LakeWrite.physicalFor(root, schema, overwrite = false)
    // commit resolves the stat envelope from the PINNED scanned
    // version — mirror it exactly so the task-side specKey matches.
    // A DELETE's delta carries no row columns and writes no file.
    val spec =
      if (scannedVersion < 0 || schema.isEmpty) None
      else {
        val base = SnapshotLake.snapshot(root, Some(scannedVersion))
        Some(StatsSpec(base.statCol, base.bloomCol,
          SnapshotLake.inheritedBloomBytes(base), base.statCol2))
      }
    new LakeDeltaWriterFactory(root, LakeWrite.writeConf(phys),
      LakeWrite.writeConf(StructType(phys.fields :+
        org.apache.spark.sql.types.StructField(LakeTable.RidPhysColumn,
          org.apache.spark.sql.types.LongType, nullable = false))),
      spec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.flatMap {
      case m: LakeDeltaStaged => Seq(m)
      case _ => Seq.empty
    }
    // merge every task's per-file specs (two tasks may delete from
    // the same file; the union decodes per file at publish time)
    val deletes = staged.flatMap(_.deletes)
      .groupBy(_._1).map { case (p, gs) => p -> gs.map(_._2) }
    val op = cmd.toString.toLowerCase(java.util.Locale.ROOT)
    val res = SnapshotLake.commitDeltaOps(SparkSession.active, root,
      deletes, staged.flatMap(_.inserted), op,
      updated = staged.flatMap(_.updated),
      scannedVersion = Some(scannedVersion))
    // a delta UPDATE/MERGE version mixes vector growth with added
    // post-image files — not derivable from the manifest diff alone,
    // so change-feed tables materialize the CDC sidecar (pure-delete
    // versions stay derivable and skip it)
    if (res.filesNew > 0 &&
        opts.get("changefeed").exists(_.equalsIgnoreCase("true")))
      SnapshotLake.materializeChanges(SparkSession.active, root,
        res.version): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: LakeDeltaStaged =>
        (m.inserted ++ m.updated).foreach(LakeCommit.discard(root, _))
        SnapshotLake.Dv.discardStaged(m.deletes.map(_._2))
      case _ =>
    }
}

final class LakeDeltaWriterFactory(root: String,
    confKVs: Map[String, String], matConfKVs: Map[String, String],
    statsSpec: Option[StatsSpec] = None)
    extends DeltaWriterFactory {
  SegStatsAcc.check(confKVs, statsSpec)
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new LakeDeltaDataWriter(root, confKVs, matConfKVs, partitionId, taskId,
      statsSpec)
}

/** Task-side delta writer: inserts stream through the ordinary
  * staged parquet writer ([[LakeDataWriter]]); UPDATE post-images
  * stream through a SECOND writer whose schema appends the `__rid`
  * column (the pre-image's stable id, handed in as operation
  * metadata — null ids fall back to the plain insert leg); deletes
  * accumulate as (file → positions) in memory — bounded by the
  * task's matched-row count, the quantity delta DML exists to keep
  * small.
  */
final class LakeDeltaDataWriter(root: String,
    confKVs: Map[String, String], matConfKVs: Map[String, String],
    partitionId: Int, taskId: Long,
    statsSpec: Option[StatsSpec] = None)
    extends DeltaWriter[InternalRow] {

  private val inner = new LakeDataWriter(root, confKVs, partitionId, taskId,
    statsSpec = statsSpec)
  // lazily opened: pure DELETEs and inserts never pay for it
  private var matInner: LakeDataWriter = null
  private val deletes =
    scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.ArrayBuffer[Long]]

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(0).toString
    deletes.getOrElseUpdate(file,
      scala.collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(1)
  }

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(meta, id)
    if (meta == null || meta.numFields < 1 || meta.isNullAt(0)) insert(row)
    else {
      if (matInner == null)
        matInner = new LakeDataWriter(root, matConfKVs,
          partitionId, taskId, statsSpec = statsSpec)
      matInner.write(new org.apache.spark.sql.catalyst.expressions
        .JoinedRow(row,
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](meta.getLong(0)))))
    }
  }

  override def insert(row: InternalRow): Unit = inner.write(row)

  override def write(row: InternalRow): Unit = insert(row)

  private def ack(w: LakeDataWriter): Seq[LakeStaged] =
    LakeCommit.stagedOf(w.commit())

  override def commit(): WriterCommitMessage =
    LakeDeltaStaged(ack(inner),
      if (matInner == null) Seq.empty else ack(matInner),
      // encode + stage HERE, on the executor: the ack carries a
      // pointer-sized spec per touched file, never a position array
      deletes.toSeq.map { case (f, ps) =>
        (f, SnapshotLake.Dv.stageSpec(root, ps.toArray)._1) })

  override def abort(): Unit = {
    inner.abort()
    if (matInner != null) matInner.abort()
  }
  override def close(): Unit = {
    inner.close()
    if (matInner != null) matInner.close()
  }
}
