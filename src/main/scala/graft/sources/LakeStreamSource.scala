package graft.sources

import org.apache.spark.sql.connector.read.{
  InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Offset in the lake's version chain — a committed manifest version
  * IS a streaming offset (Delta's model): monotonic, durable, and
  * replayable, because every version's file list is immutable. JSON
  * form is the bare version number, so the checkpoint offset log is
  * human-auditable against `_log/v*.manifest`.
  */
final case class LakeVersionOffset(version: Int) extends Offset {
  override def json(): String = version.toString
}

/** The STREAMING read face of the lake connector — `readStream
  * .format("graft.sources.GraftLakeSource")` turns the table into a
  * change stream of its own appends, completing the loop the write
  * side opened (q108's exactly-once sink): lake → stream → lake
  * pipelines with no file-listing source in between.
  *
  * Semantics (Delta streaming-source contract, append-only chains):
  *
  *  - each micro-batch covers the manifest versions in `(start,
  *    end]`; its input is EXACTLY the data files that entered the
  *    manifest across those versions — a version diff on KB-scale
  *    driver metadata, never a storage listing. At 100 TB the
  *    per-trigger planning cost is O(new files), not O(table).
  *  - admission control paces ONE VERSION PER MICRO-BATCH (each
  *    commit is replayed as the atomic unit it was written as);
  *    `Trigger.AvailableNow` pins the chain head at start and
  *    drains version by version, self-terminating.
  *  - a version that REMOVED files (overwrite / merge / delete /
  *    compaction) inside a streamed range fails the batch loudly:
  *    appends are the only change this source can replay exactly
  *    (Delta without `ignoreChanges` refuses identically). Ranges
  *    wholly BEFORE the stream's start offset may contain anything —
  *    history is not replayed.
  *  - restart resumes from the CHECKPOINT's version offset: the
  *    engine hands the stored offset back, and the immutable
  *    manifests make re-planning a lost batch deterministic.
  *
  * The scan builder's stat-window/bloom prune is threaded in as
  * `keep`, so each batch's new files WOULD skip like a batch read —
  * but Spark does not currently run V2ScanRelationPushDown for
  * streaming scans (SPARK-30478), so `keep` is all-pass in practice
  * and filters evaluate row-level; the spec documents the
  * limitation and flips the gate the day the engine starts pushing.
  */
class LakeMicroBatchStream(root: String, required: StructType,
    keep: SnapshotLake.FileStat => Boolean)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // pinned by prepareForTriggerAvailableNow; None = follow the live head
  private var pinnedHead: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    pinnedHead = Some(SnapshotLake.headVersion(root))

  private def head: Int =
    pinnedHead.getOrElse(SnapshotLake.headVersion(root))

  /** Start BEFORE the first version, so a fresh query's first batch
    * replays v0 — "process existing data, then follow appends".
    */
  override def initialOffset(): Offset = LakeVersionOffset(-1)

  override def deserializeOffset(json: String): Offset =
    LakeVersionOffset(json.toInt)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(1)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "paced source: latestOffset(start, limit) is the entry point")

  // one version per batch by default, never past the (possibly
  // pinned) head — but the ENGINE-supplied limit rules: Trigger.Once
  // arrives as ReadAllAvailable and means exactly that (advance to
  // the head in one batch), and a composite containing it does too.
  // Ignoring the argument would terminate a Trigger.Once query after
  // v0 with the rest of the chain silently unprocessed (the same
  // contract bug rowsFor() fixes in SeriesSource).
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{
      CompositeReadLimit, ReadAllAvailable, ReadMaxFiles, ReadMaxRows}
    def allAvailable(l: ReadLimit): Boolean = l match {
      case _: ReadAllAvailable => true
      case c: CompositeReadLimit =>
        val ls = c.getReadLimits
        ls.exists(_.isInstanceOf[ReadAllAvailable]) &&
          !ls.exists(x => x.isInstanceOf[ReadMaxFiles] ||
            x.isInstanceOf[ReadMaxRows]) // a cap in the composite paces
      case _ => false
    }
    val s = start.asInstanceOf[LakeVersionOffset].version
    val h = math.max(s, head)
    LakeVersionOffset(if (allAvailable(limit)) h else math.min(s + 1, h))
  }

  override def reportLatestOffset(): Offset = LakeVersionOffset(head)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeVersionOffset].version
    val e = end.asInstanceOf[LakeVersionOffset].version
    if (e <= s) return Array.empty
    val snap = SnapshotLake.snapshot(root, Some(e))
    // the append-only guard walks version by version, never just the
    // range's endpoints: a file appended and then removed (or
    // vectored) WITHIN a multi-version batch is invisible to an
    // endpoint diff, so the same history would stream net rows or
    // refuse depending on where batch boundaries happened to fall.
    // Admission must not depend on pacing — check every transition.
    // (s < 0 is the initial load: no rows were previously emitted,
    // so reading the table AS OF e is exact and needs no guard.)
    if (s >= 0) {
      var prevStep = SnapshotLake.snapshot(root, Some(s)).files
      (s + 1 to e).foreach { v =>
        val curStep =
          if (v == e) snap.files
          else SnapshotLake.snapshot(root, Some(v)).files
        val curByName = curStep.map(f => f.name -> f).toMap
        val removed = prevStep.map(_.name).filterNot(curByName.contains)
        if (removed.nonEmpty)
          throw new IllegalStateException(
            s"lake stream at $root: version $v removed files " +
              s"${removed.take(3).mkString(", ")}… (overwrite/merge/" +
              "delete/compaction) — this source replays appends only; " +
              "start a fresh stream from the restated table")
        // a grown deletion vector is a DELETE wearing the same file
        // name — passing it silently would be wrong twice over (the
        // old batch already replayed rows the table no longer has,
        // and the version emits nothing); refuse like any other
        // non-append change
        val dvChanged = prevStep.filter(f =>
          curByName.get(f.name).exists(_.dv != f.dv))
        if (dvChanged.nonEmpty)
          throw new IllegalStateException(
            s"lake stream at $root: version $v changed deletion " +
              s"vectors on ${dvChanged.take(3).map(_.name).mkString(", ")}… " +
              "(merge-on-read delete) — this source replays appends " +
              "only; use the change data feed (readChangeFeed) for " +
              "mutating tables")
        prevStep = curStep
      }
    }
    val prev: Set[String] =
      if (s < 0) Set.empty
      else SnapshotLake.snapshot(root, Some(s)).files.map(_.name).toSet
    snap.files
      .filter(f => !prev(f.name) && keep(f))
      .map(f => LakeSplit(SnapshotLake.dataPath(root, f.name), 0L,
        f.bytes, f.dv.map(_.b64)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // scan-wide columnar decision (one factory serves every batch):
    // vectored files can only enter a batch through the INITIAL load
    // (appends carry no vectors and the stepwise guard refuses any
    // in-range vector change), so "head has any vectored file at
    // factory creation" is the honest scan-level fact
    new LakeReaderFactory(required, LakeReaderFactory.sessionConf(),
      anyDv = SnapshotLake.headVersion(root) >= 0 &&
        SnapshotLake.snapshot(root).files.exists(_.dv.isDefined))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One change-feed input split: a parquet file plus the change
  * bookkeeping the reader splices in as constant vectors —
  * `constType = Some(t)` for manifest-derived changes (an append
  * version's added files read as inserts, a metadata-only delete's
  * dropped files read as pre-image deletes), `None` for CDC sidecar
  * files whose `_change_type` column is real parquet data.
  * `commitVersion` is always a per-split constant: each split
  * belongs to exactly one version of the chain.
  */
final case class LakeCdfSplit(split: LakeSplit, constType: Option[String],
    commitVersion: Long,
    /** Base64 positions to read EXCLUSIVELY — a deletion-vector
      * change replays only its newly-vectored rows (as `delete`
      * pre-images) or newly-restored rows (as `insert`s), derived
      * from the manifest diff with zero sidecar storage. `None` =
      * the whole split (minus its own exclude vector, if any).
      */
    includeB64: Option[String] = None) extends InputPartition

/** The CHANGE DATA FEED streaming face (`readStream.format(...)
  * .option("readChangeFeed", "true")`) — Delta CDF's semantics on
  * the lake's version chain. Pacing, offsets, checkpoint restart and
  * AvailableNow come from [[LakeMicroBatchStream]]; what differs is
  * WHAT a version replays as:
  *
  *  - pure-append version → added files as `insert` rows (derived
  *    from the manifest diff, zero extra storage — Delta likewise
  *    derives inserts from add actions);
  *  - metadata-only DELETE (dropped whole files, nothing added) →
  *    the dropped files read as `delete` pre-images (they stay on
  *    disk until vacuum; a vacuumed file fails the read loudly);
  *  - compaction / re-clustering → NO rows (layout-only rewrites
  *    carry every row unchanged — their own specs pin that);
  *  - any version that REWROTE rows (CoW UPDATE / MERGE / straddling
  *    DELETE / overwrite / restore) → the `_changes/v<N>` CDC
  *    sidecar ([[SnapshotLake.materializeChanges]], written by the
  *    mutation when the table has TBLPROPERTIES changefeed=true);
  *    absent sidecar → loud refusal naming the fix, never a guess.
  *
  * Planning stays O(changed files per version) on KB-scale driver
  * metadata — at 100 TB a follower tracking a mutating table moves
  * only changed rows, the q118 replication economics as a stream.
  */
final class LakeCdfMicroBatchStream(root: String, required: StructType)
    extends LakeMicroBatchStream(root, required, _ => true) {

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeVersionOffset].version
    val e = end.asInstanceOf[LakeVersionOffset].version
    (s + 1 to e).flatMap(v => LakeCdf.versionChanges(root, v)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeCdfReaderFactory(required, LakeReaderFactory.sessionConf())
}

/** The per-version change-replay rules, shared by the streaming CDF
  * and the batch `startingVersion`/`endingVersion` read face.
  */
object LakeCdf {

  def versionChanges(root: String, v: Int): Seq[InputPartition] = {
    SnapshotLake.changeFiles(root, v).foreach { cdc =>
      // change-data sidecars carry no manifest entry: stat them
      return cdc.map(p => LakeCdfSplit(LakeSplit(p, 0L,
        java.nio.file.Files.size(java.nio.file.Paths.get(p))), None, v))
    }
    val cur = SnapshotLake.snapshot(root, Some(v))
    val prev =
      if (v == 0) Seq.empty else SnapshotLake.snapshot(root, Some(v - 1)).files
    val curNames = cur.files.map(_.name).toSet
    val prevNames = prev.map(_.name).toSet
    val prevByName = prev.map(f => f.name -> f).toMap
    val added = cur.files.filterNot(f => prevNames(f.name))
    val removed = prev.filterNot(f => curNames(f.name))
    def splits(fs: Seq[SnapshotLake.FileStat], ct: String) = fs.map { f =>
      val p = SnapshotLake.dataPath(root, f.name)
      // the file's own vector rides along: a dropped vectored file's
      // pre-image must exclude rows already deleted in EARLIER versions
      LakeCdfSplit(
        LakeSplit(p, 0L, f.bytes, f.dv.map(_.b64)),
        Some(ct), v)
    }
    // a same-name entry whose DELETION VECTOR changed derives its
    // change rows from the position diff alone — read ONLY the newly
    // vectored positions as `delete` pre-images (or, after a restore
    // that shrank the vector, the resurrected positions as `insert`s).
    // Zero sidecar storage, O(changed rows) I/O: the DV analogue of
    // deriving inserts from add actions.
    val dvChanged = cur.files.flatMap { f =>
      prevByName.get(f.name).toSeq.filter(_.dv != f.dv).flatMap { p =>
        val oldPos = p.dv.fold(Array.empty[Long])(_.positions)
        val newPos = f.dv.fold(Array.empty[Long])(_.positions)
        val oldSet = oldPos.toSet
        val newSet = newPos.toSet
        val path = SnapshotLake.dataPath(root, f.name)
        def inc(ps: Array[Long], ct: String) = LakeCdfSplit(
          LakeSplit(path, 0L, f.bytes),
          Some(ct), v,
          includeB64 = Some(SnapshotLake.Dv.fromPositions(ps).b64))
        Seq(
          Some(newPos.filterNot(oldSet)).filter(_.nonEmpty)
            .map(inc(_, "delete")),
          Some(oldPos.filterNot(newSet)).filter(_.nonEmpty)
            .map(inc(_, "insert"))).flatten
      }
    }
    if (removed.isEmpty && added.isEmpty) dvChanged
    else if (removed.isEmpty && dvChanged.isEmpty) splits(added, "insert")
    else cur.op match {
      case Some("delete") if added.isEmpty =>
        splits(removed, "delete") ++ dvChanged
      // layout-only rewrites (compaction, re-clustering, vector
      // purges) carry every live row unchanged — zero change rows
      case Some("compact") | Some("cluster") | Some("purge") => Seq.empty
      case op => throw new IllegalStateException(
        s"change feed at $root: version $v (op=${op.getOrElse("?")}) " +
          "rewrote rows without a _changes sidecar — CREATE the table " +
          "with TBLPROPERTIES('changefeed'='true') so mutations " +
          "materialize change files, or call " +
          "SnapshotLake.materializeChanges(spark, root, version)")
    }
  }
}

/** Reader for [[LakeCdfSplit]]s: the parquet decode path is
  * [[LakeReaderFactory.openSplit]]'s vectorized reader over the
  * split's REAL columns; `_commit_version` (and `_change_type`, for
  * manifest-derived splits) splice in as constant vectors per batch
  * — the `_file` metadata-column pattern, zero decode cost.
  */
final class LakeCdfReaderFactory(required: StructType,
    confKVs: Map[String, String],
    /** Scan-level "any split may carry a position filter" fact —
      * columnar support must be homogeneous across a scan's
      * partitions (PARTITION_DEFINED mode refuses a mix), so the
      * per-split decision the filters would suggest is not allowed.
      * Streaming CDF passes `true` (batch contents are unknown at
      * factory-creation time and DV diffs are routine); the batch
      * range passes the exact fact from its planned splits.
      */
    anyFilter: Boolean = true) extends PartitionReaderFactory {

  private def cdfSplitOf(p: InputPartition): LakeCdfSplit = p match {
    case s: LakeCdfSplit => s
    case other => throw new IllegalArgumentException(
      s"not a change-feed split: $other")
  }

  /** This split's position filter, if any: a deletion-vector-change
    * replay reads ONLY its diffed positions (include mode); a
    * pre-image replay of a vectored file excludes its vector.
    */
  private def walkerOf(c: LakeCdfSplit): Option[DvFilter.Walker] =
    c.includeB64 match {
      case Some(b64) => Some(new DvFilter.Walker(
        SnapshotLake.Dv.bytesOf(b64), c.split.firstRow, include = true))
      case None => c.split.dvB64.map(b64 => new DvFilter.Walker(
        SnapshotLake.Dv.bytesOf(b64), c.split.firstRow))
    }

  override def supportColumnarReads(p: InputPartition): Boolean =
    !anyFilter ||
      required.fields.forall(f => DvFilter.copyable(f.dataType))

  /** Raw batches: parquet decode plus the `_commit_version` /
    * `_change_type` constant splice. Position filters NOT applied.
    */
  private def rawColumnar(c: LakeCdfSplit)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val isConst: Array[Boolean] = required.fields.map(f =>
      f.name.equalsIgnoreCase("_commit_version") ||
        (c.constType.isDefined && f.name.equalsIgnoreCase("_change_type")))
    val parquetReq = StructType(
      required.fields.zip(isConst).collect { case (f, false) => f })
    val reader = LakeReaderFactory.openSplit(c.split, confKVs, parquetReq)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = reader.nextBatch()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = reader.resultBatch()
        val n = b.numRows()
        val cols = new Array[
          org.apache.spark.sql.vectorized.ColumnVector](required.length)
        var src = 0
        var i = 0
        while (i < cols.length) {
          if (!isConst(i)) { cols(i) = b.column(src); src += 1 }
          else {
            val f = required.fields(i)
            val cv = new org.apache.spark.sql.execution.vectorized
              .ConstantColumnVector(n, f.dataType)
            if (f.name.equalsIgnoreCase("_commit_version"))
              cv.setLong(c.commitVersion)
            else cv.setUtf8String(org.apache.spark.unsafe.types.UTF8String
              .fromString(c.constType.get))
            cols(i) = cv
          }
          i += 1
        }
        new org.apache.spark.sql.vectorized.ColumnarBatch(cols, n)
      }
      override def close(): Unit = reader.close()
    }
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val c = cdfSplitOf(p)
    val raw = rawColumnar(c)
    walkerOf(c) match {
      case None => raw
      case Some(w) =>
        new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
          private var cur: org.apache.spark.sql.vectorized.ColumnarBatch = _
          override def next(): Boolean = raw.next() && {
            val b = raw.get()
            cur = DvFilter.filterBatch(b, required,
              w.nextSelection(b.numRows()))
            true
          }
          override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
            cur
          override def close(): Unit = raw.close()
        }
    }
  }

  // row-based path (taken when a position-filtered split of nested
  // types declines columnar)
  override def createReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val c = cdfSplitOf(partition)
    val batches = rawColumnar(c)
    val walker = walkerOf(c)
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private var rows: Iterator[
        org.apache.spark.sql.catalyst.InternalRow] = Iterator.empty
      @annotation.tailrec
      override def next(): Boolean =
        rows.hasNext || (batches.next() && {
          val b = batches.get()
          rows = walker match {
            case None => b.rowIterator().asScala
            case Some(w) =>
              w.nextSelection(b.numRows()).iterator.map(b.getRow)
          }
          true
        } && next())
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        rows.next()
      override def close(): Unit = batches.close()
    }
  }
}
