package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{
  BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.write.{
  BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType

/** The WRITE half of the lake's DSv2 surface: `INSERT INTO` /
  * `INSERT OVERWRITE` / `df.write.format(...)` land as lake commits
  * with full table semantics — per-file stats, optimistic manifest
  * publish, time travel, txn idempotence — without touching the
  * `SnapshotLake` Scala API.
  *
  * The commit protocol is the ledger sink's two-phase shape
  * (`LedgerSink.scala`), upgraded to parquet + manifest publication:
  *
  *  1. each task's DataWriter streams `InternalRow`s through Spark's
  *     OWN `ParquetWriteSupport` (the exact encoder
  *     `df.write.parquet` uses, so files are bit-identical in layout
  *     semantics to API-committed ones) into a UNIQUELY-NAMED file
  *     under `_staging/` and acknowledges that name + row count —
  *     nothing a running, failed, or speculatively-retried task
  *     writes is ever visible;
  *  2. the driver's BatchWrite.commit moves EXACTLY the acknowledged
  *     non-empty files into a fresh `data/b-*` batch dir, builds their
  *     manifest entries from the stats each task accumulated while
  *     writing ([[SegStatsAcc]]: per-file min/max + sum + optional
  *     bloom + dim2 + column stats), and publishes through
  *     [[SnapshotLake.commitFiles]]'s optimistic-concurrency loop — a
  *     zombie task's orphan is named by no message, stays in staging,
  *     and can never surface;
  *  3. BatchWrite.abort deletes the staged files, leaving the table
  *     untouched.
  *
  * Write-side options (table OPTIONS or write options): `statCol`
  * (required for the FIRST commit; later appends inherit and must
  * match the chain — [[SnapshotLake]]'s provenance rule), `bloomCol`,
  * `bloomBytes`, `statCol2`, and `txnAppId`/`txnVersion` for
  * Delta-style idempotent writes. `INSERT OVERWRITE` arrives as
  * [[SupportsTruncate]] and publishes a logical replace (prior files
  * stay on disk for time travel).
  *
  * SINGLE-FILESYSTEM ASSUMPTION: same as the ledger sink — staging
  * and commit move paths on one shared filesystem (true in local[n]);
  * a production port routes paths through Hadoop `FileSystem`, the
  * protocol itself unchanged.
  */
final class LakeWriteBuilder(root: String, info: LogicalWriteInfo,
    tableOpts: Map[String, String],
    /** (name, start, step, allowExplicitInsert) when the TABLE
      * schema declares an identity column — the write fills it.
      */
    identitySpec: Option[(String, Long, Long, Boolean)] = None)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwriteV2 {

  /** The fill config, resolved against THIS write's schema (absent
    * when the query schema lacks the column — e.g. a CTAS frame).
    * The allocation base reads the chain's high-water ONCE, on the
    * driver, at build time.
    */
  private def identityFill: Option[IdentityFill] =
    identitySpec.flatMap { case (c, start, step, allow) =>
      val idx = info.schema().fieldNames.indexWhere(_.equalsIgnoreCase(c))
      if (idx < 0) None
      else Some(IdentityFill(c, idx, start, step, allow,
        if (SnapshotLake.headVersion(root) < 0) 0L
        else SnapshotLake.identityHighWater(root)))
    }
  private var overwrite = false
  private var replaceWhere: Option[(String, Set[String])] = None
  override def truncate(): WriteBuilder = { overwrite = true; this }

  // -- partition-scoped INSERT OVERWRITE --------------------------------
  // `INSERT OVERWRITE t PARTITION (c = v)` / `writeTo(t).overwrite(
  // c === v)`: only the files tagged with the named values leave the
  // manifest; the staged files take their place in ONE commit.
  // Accepted only when every live file is tagged under the predicate
  // column (an untagged file might hold matching rows the swap would
  // have to remove); full-table overwrite (ALWAYS_TRUE) stays the
  // truncate path.

  private def partitionScope(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Option[(String, Set[String])] =
    PartPredicate.eqOrIn(predicates).filter { case (c, _) =>
      SnapshotLake.headVersion(root) >= 0 && {
        val files = SnapshotLake.snapshot(root).files
        files.nonEmpty && files.forall(
          _.part.exists(_._1.equalsIgnoreCase(c)))
      }
    }

  override def canOverwrite(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Boolean =
    PartPredicate.isTruncate(predicates) ||
      partitionScope(predicates).isDefined

  override def overwrite(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): WriteBuilder = {
    if (PartPredicate.isTruncate(predicates)) overwrite = true
    else replaceWhere = Some(partitionScope(predicates).getOrElse(
      throw new UnsupportedOperationException(
        s"INSERT OVERWRITE on graft_lake($root) supports full-table " +
          "overwrite or partition-value predicates over a fully " +
          s"tagged snapshot, got ${predicates.mkString(", ")}")))
    this
  }
  override def build(): Write = {
    // write options override table OPTIONS; both are lowercased
    val opts = tableOpts ++ info.options().asCaseSensitiveMap()
      .asScala.map { case (k, v) => k.toLowerCase -> v }
    // partitioned table (`partcol` prop / PARTITIONED BY): the WRITE
    // declares its layout needs through DSv2 — cluster by the
    // partition transform (identity column, or bucket(N, col) when
    // `partbuckets` is set), sort within tasks by it — so Spark
    // plans the repartition+sort and the task writer just ROLLS to a
    // new file on each value change: every data file single-valued,
    // tagged in the manifest, SPJ/prune-ready. No engine-side
    // shuffle code. (The bucket transform resolves through the
    // catalog's FunctionCatalog face, so bucketed writes are a
    // catalog-table surface — the Iceberg posture.)
    def specOf(colKey: String, bucketsKey: String, truncKey: String,
        sub: Option[LakePartSpec]): Option[LakePartSpec] =
      opts.get(colKey).map { pc =>
        val idx = info.schema().fieldNames
          .indexWhere(_.equalsIgnoreCase(pc))
        require(idx >= 0,
          s"partition column '$pc' not in write schema " +
            info.schema().fieldNames.mkString("(", ",", ")"))
        LakePartSpec(info.schema().fieldNames(idx), idx,
          info.schema().fields(idx).dataType,
          opts.get(bucketsKey).map(_.toInt), sub,
          trunc = opts.get(truncKey).map(_.toInt))
      }
    val partSpec: Option[LakePartSpec] = specOf("partcol", "partbuckets",
      "parttrunc", specOf("partcol2", "partbuckets2", "parttrunc2", None))
    val idFill = identityFill
    // partition-scoped overwrite + identity generation is refused at
    // BUILD time — a commit-time check would run the whole write job,
    // stage generated files, then leak them as orphans on the throw
    require(idFill.isEmpty || replaceWhere.isEmpty,
      "partition-scoped INSERT OVERWRITE of an identity table is " +
        "not supported — overwrite the whole table or insert-append")
    def noStreamingIdentity(): Unit = require(idFill.isEmpty,
      s"streaming writes to $root cannot generate identity values " +
        "(allocation is reserved per batch write) — drop the " +
        "identity column or use a batch write")
    partSpec match {
      case None => new Write {
        override def toBatch: BatchWrite =
          new LakeBatchWrite(root, info.schema(), overwrite, opts,
            None, replaceWhere, idFill)
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          noStreamingIdentity()
          new LakeStreamingWrite(root, info.schema(), overwrite, opts,
            info.queryId())
        }
      }
      case Some(spec) => new Write
          with org.apache.spark.sql.connector.write
            .RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.expressions.Expressions
        private def clusterExprOf(sp: LakePartSpec)
            : org.apache.spark.sql.connector.expressions.Expression =
          (sp.buckets, sp.trunc) match {
            case (Some(n), _) => Expressions.bucket(n, sp.col)
            // width-named single-arg transform (truncN): resolves
            // through the catalog FunctionCatalog like bucket, and
            // keeps SPJ eligible (see TruncateFunction's note)
            case (None, Some(w)) =>
              graft.functions.GraftTruncate.transformExpr(w, sp.col)
            case _ => Expressions.identity(sp.col)
          }
        // a composed spec clusters (and sorts) by BOTH levels, so
        // (p, bucket) runs are contiguous and the task writer rolls
        // one single-valued file per combination
        private def levels: Seq[LakePartSpec] = spec +: spec.sub.toSeq
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          org.apache.spark.sql.connector.distributions.Distributions
            .clustered(levels.map(clusterExprOf).toArray)
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
          val byLevels = levels.map(sp => Expressions.sort(
            sp.buckets.fold(
              Expressions.column(sp.col)
                : org.apache.spark.sql.connector.expressions.Expression)(
              _ => clusterExprOf(sp)),
            org.apache.spark.sql.connector.expressions
              .SortDirection.ASCENDING))
          // sorted layout (`sortcol` prop): rows WITHIN each
          // single-valued file are additionally ordered by the sort
          // column — ascending, nulls first (Spark's default for
          // ASC) — which is what lets the scan report per-split
          // outputOrdering and an SPJ merge join skip its sorts
          val bySortCol = opts.get("sortcol").map(c =>
            Expressions.sort(
              Expressions.column(c)
                : org.apache.spark.sql.connector.expressions.Expression,
              org.apache.spark.sql.connector.expressions
                .SortDirection.ASCENDING))
          (byLevels ++ bySortCol).toArray
        }
        override def toBatch: BatchWrite =
          new LakeBatchWrite(root, info.schema(), overwrite, opts,
            Some(spec), replaceWhere, idFill)
        // streaming writes stay untagged (mixed tags are legal; an
        // untagged file is simply never partition-pruned)
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          noStreamingIdentity()
          new LakeStreamingWrite(root, info.schema(), overwrite, opts,
            info.queryId())
        }
      }
    }
  }
}

object LakeWrite {
  def stagingDir(root: String): String = s"$root/_staging"

  private final class SupportBuilder(
      file: org.apache.parquet.io.OutputFile,
      support: WriteSupport[InternalRow])
      extends ParquetWriter.Builder[InternalRow, SupportBuilder](file) {
    override def self(): SupportBuilder = this
    override def getWriteSupport(
        conf: Configuration): WriteSupport[InternalRow] = support
  }

  /** The writer-tuning keys a write may carry in its conf (the
    * `commit` verb's `writeOptions`): row-group and page size, which
    * set the connector's split granularity.
    */
  private[sources] val TuningKeys: Set[String] =
    Set("parquet.block.size", "parquet.page.size")

  /** Spark's own `InternalRow` → parquet encoder
    * ([[ParquetWriteSupport]], the exact one `df.write.parquet` runs)
    * behind parquet-mr's writer, streaming to `path` — the ONE writer
    * construction, opened only by [[LakeDataWriter]], which every lake
    * write path (DSv2 tasks and the Scala verbs) runs. LocalOutputFile
    * = pure NIO: no Hadoop ChecksumFileSystem, so no .crc sidecars to
    * orphan in staging (the protocol's single-filesystem assumption).
    * `parquet.block.size` / `parquet.page.size` in `confKVs` tune the
    * row-group and page size.
    */
  private[sources] def openParquet(path: java.nio.file.Path,
      confKVs: Map[String, String]): ParquetWriter[InternalRow] = {
    val conf = new Configuration()
    confKVs.foreach { case (k, v) => conf.set(k, v) }
    val b = new SupportBuilder(
      new org.apache.parquet.io.LocalOutputFile(path),
      new ParquetWriteSupport)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
    confKVs.get("parquet.block.size").foreach(n =>
      b.withRowGroupSize(n.toLong): Unit)
    confKVs.get("parquet.page.size").foreach(n => b.withPageSize(n.toInt): Unit)
    b.build()
  }

  /** Data files carry PHYSICAL column names (column mapping): an
    * append's write schema renames any chain-mapped logical columns
    * back to their storage names; an overwrite declares a fresh
    * schema with no mapping yet. Rows are positional, so only the
    * parquet field names change.
    */
  def physicalFor(root: String, schema: StructType,
      overwrite: Boolean): StructType = {
    val chain =
      if (overwrite) None else SnapshotLake.snapshotOrEmpty(root).schema
    SnapshotLake.ColMap.toPhysicalSchema(schema, chain)
  }

  /** Driver-side capture of the session confs `ParquetWriteSupport
    * .init` asserts present in the task-side Hadoop conf (schema,
    * legacy-format flag, timestamp physical type — ParquetFileFormat
    * sets the same three explicitly; rebase modes ride Spark's
    * executor-side SQLConf propagation).
    */
  def writeConf(schema: StructType): Map[String, String] = {
    val c = SparkSession.active.conf
    def g(k: String, d: String): String =
      try c.get(k) catch { case _: Exception => d }
    Map(
      ParquetWriteSupport.SPARK_ROW_SCHEMA -> schema.json,
      "spark.sql.parquet.writeLegacyFormat" ->
        g("spark.sql.parquet.writeLegacyFormat", "false"),
      "spark.sql.parquet.outputTimestampType" ->
        g("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
      "spark.sql.parquet.fieldId.write.enabled" ->
        g("spark.sql.parquet.fieldId.write.enabled", "true"),
      "spark.sql.parquet.variant.annotateLogicalType.enabled" ->
        g("spark.sql.parquet.variant.annotateLogicalType.enabled", "false"),
      "spark.sql.session.timeZone" ->
        g("spark.sql.session.timeZone", "UTC"))
  }

  /** The physical row schema a [[writeConf]] carries. */
  def rowSchema(confKVs: Map[String, String]): StructType =
    org.apache.spark.sql.types.DataType
      .fromJson(confKVs(ParquetWriteSupport.SPARK_ROW_SCHEMA))
      .asInstanceOf[StructType]
}

/** A partitioned write's layout spec: the partition column (name,
  * write-schema index, type) plus the bucket count when the table is
  * bucket-partitioned. `tagVal` renders a row's partition identity —
  * the column value itself for identity partitioning, the
  * [[graft.functions.GraftBucket]] id for bucketing — and `tagCol`
  * is the manifest tag column those values file under.
  */
final case class LakePartSpec(col: String, idx: Int,
    dt: org.apache.spark.sql.types.DataType, buckets: Option[Int],
    /** Second level of a COMPOSED spec (`PARTITIONED BY (p,
      * bucket(N, k))`): the write clusters+sorts by BOTH transforms
      * and the task writer rolls on either value changing, so every
      * data file is single-valued in both dimensions.
      */
    sub: Option[LakePartSpec] = None,
    /** `truncate(W, col)` width when the level is range-partitioned. */
    trunc: Option[Int] = None) {
  def tagCol: String = buckets match {
    case Some(n) => graft.functions.GraftBucket.tagCol(n, col)
    case None => trunc.fold(col)(w =>
      graft.functions.GraftTruncate.tagCol(w, col))
  }
}

/** One acknowledged staged file + its row count (empty writers are
  * dropped at commit, not published as zero-row files) and its
  * on-disk byte size, stat(2)'d by the TASK at segment close — the
  * writer is the one party that already has the file local, so the
  * publish path never re-stats it driver-side (O(files) metadata
  * round-trips per commit on an object store). `partVal` is the
  * file's single partition value when the write was partitioned.
  */
final case class LakeStaged(name: String, rows: Long, bytes: Long,
    partVal: Option[String] = None,
    partVal2: Option[String] = None,
    /** Highest identity allocation unit this task consumed,
      * EXCLUSIVE (-1: none generated) — the driver folds the max
      * into the commit's new high-water.
      */
    idMaxUnit: Long = -1L,
    /** Per-file stats accumulated WHILE WRITING by the task's
      * [[LakeDataWriter]] — on the DSv2 paths and the Scala verbs'
      * [[LakeCommit.writeRouted]] alike; the driver builds the
      * manifest entry from them directly ([[LakeCommit.land]]).
      */
    stats: SegStats)
    extends WriterCommitMessage

/** The stat-envelope configuration a writer accumulated against —
  * compared (as [[key]]) with the publish-time resolution so a spec
  * drift (e.g. a concurrent first-commit changing statCol) can never
  * publish stats computed under different rules.
  */
final case class StatsSpec(statCol: String, bloomCol: Option[String],
    bloomBytes: Int, statCol2: Option[String]) {
  def key: String = Seq(statCol.toLowerCase(java.util.Locale.ROOT),
    bloomCol.map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse(""),
    bloomBytes.toString,
    statCol2.map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse(""))
    .mkString("|")
}

/** One file's manifest statistics, as [[SegStatsAcc]] accumulates
  * them (null/overflow conventions documented there).
  */
final case class SegStats(specKey: String, lo: Long, hi: Long,
    su: Option[Long], bloom: Option[Array[Byte]],
    dim2: Option[(Long, Long)],
    cstats: Map[String, SnapshotLake.ColStat])

/** The lake's one per-file statistics implementation, fed one
  * InternalRow at a time — by the task writer as the parquet writer
  * consumes each row, and by `add_files` over each imported file.
  * Each value equals a plain Spark aggregate over the file
  * (TaskSideStatsSpec and AddFilesSpec pin them against one):
  *
  *  - `lo`/`hi` = min/max(statCol) cast long; all-null → 0;
  *  - `su` = try_sum(statCol): None on overflow or all-null. Known
  *    corner (deliberately accepted): overflow detection is
  *    order-dependent — the sequential Math.addExact can overflow at
  *    an intermediate prefix where a split aggregate would not (or
  *    vice versa), so on overflow-EDGE data the two may disagree
  *    about recording the sum. Results stay correct either way: an
  *    absent sum only makes the manifest SUM pushdown refuse and fall
  *    back to scanning;
  *  - dim2 = min/max(statCol2) cast long, all-null → 0;
  *  - bloom = [[SnapshotLake.Bloom.set]] per non-null value; nulls
  *    are skipped (the bloom answers only `=`/`IN`, which never
  *    match NULL);
  *  - cstats per [[SnapshotLake.csColsFor]] column: min/max (ints)
  *    or length-sum/length-max (strings, in CHARACTERS — Spark's
  *    `length`), null count, and the K-smallest-distinct KMV over
  *    `xxhash64(col) & Long.MaxValue` — the hash evaluated by the
  *    REAL catalyst XxHash64 expression bound to the row, so it
  *    cannot diverge from the SQL one (nulls hash to the seed);
  *  - a column with zero non-null values records no entry.
  *
  * The stat, dim2 and bloom columns must be integral (tinyint,
  * smallint, int, bigint): construction refuses any other type, or a
  * column the schema lacks, naming it. The writers construct one on
  * the driver first ([[SegStatsAcc.check]]) so the refusal comes
  * before any task stages a file.
  */
final class SegStatsAcc(schema: StructType, spec: StatsSpec) {
  import org.apache.spark.sql.types.{
    ByteType, IntegerType, LongType, ShortType}
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}

  private def idxOf(name: String): Int =
    schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
  /** `(index, reader)` of an envelope column; refuses a missing or
    * non-integral column.
    */
  private def longReader(role: String,
      name: String): (Int, InternalRow => Long) = {
    val i = idxOf(name)
    require(i >= 0, s"$role column '$name' is not in the written " +
      s"schema (${schema.fieldNames.mkString(", ")})")
    (i, schema.fields(i).dataType match {
      case LongType => (r: InternalRow) => r.getLong(i)
      case IntegerType => (r: InternalRow) => r.getInt(i).toLong
      case ShortType => (r: InternalRow) => r.getShort(i).toLong
      case ByteType => (r: InternalRow) => r.getByte(i).toLong
      case other => throw new IllegalArgumentException(
        s"$role column '$name' has type ${other.simpleString}: lake " +
          "stats cover only tinyint, smallint, int and bigint columns")
    })
  }

  // hoisted out of Option so the per-row path allocates nothing
  // (this runs once per written row — the write hot loop)
  private val (statIdx, statFn) = longReader("stat", spec.statCol)
  private val (stat2Idx, stat2Fn) =
    spec.statCol2.map(longReader("dim2", _)).getOrElse((-1, null))
  private val (bloomIdx, bloomFn) =
    spec.bloomCol.map(longReader("bloom", _)).getOrElse((-1, null))

  private val cs: Array[(String, Boolean, Int)] =
    SnapshotLake.csColsFor(schema, spec.statCol, spec.statCol2)
      .map { case (n, isStr) => (n, isStr, idxOf(n)) }.toArray
  // the real catalyst hash, bound per column: null → seed, string →
  // UTF8 bytes, int → int-width hash — whatever xxhash64 does, we do
  private val csHash: Array[XxHash64] = cs.map { case (_, _, i) =>
    new XxHash64(Seq(BoundReference(i, schema.fields(i).dataType,
      schema.fields(i).nullable)))
  }
  // per-row type dispatch hoisted to a flag (write hot loop)
  private val csIsLong: Array[Boolean] =
    cs.map { case (_, _, i) => schema.fields(i).dataType == LongType }

  private var lo = Long.MaxValue; private var hi = Long.MinValue
  private var seenStat = false
  private var sum = 0L; private var sumOverflow = false
  private var lo2 = Long.MaxValue; private var hi2 = Long.MinValue
  private var seen2 = false
  private val bloomBits: Array[Byte] =
    if (spec.bloomCol.isDefined) new Array[Byte](spec.bloomBytes) else null
  private val csLo = Array.fill(cs.length)(Long.MaxValue)
  private val csHi = Array.fill(cs.length)(Long.MinValue)
  private val csSeen = Array.fill(cs.length)(false)
  private val csNulls = new Array[Long](cs.length)
  private val csKmv = Array.fill(cs.length)(
    new java.util.TreeSet[java.lang.Long]())

  def update(row: InternalRow): Unit = {
    if (!row.isNullAt(statIdx)) {
      val v = statFn(row); seenStat = true
      if (v < lo) lo = v
      if (v > hi) hi = v
      if (!sumOverflow)
        try sum = Math.addExact(sum, v)
        catch { case _: ArithmeticException => sumOverflow = true }
    }
    if (stat2Fn != null && !row.isNullAt(stat2Idx)) {
      val v = stat2Fn(row); seen2 = true
      if (v < lo2) lo2 = v
      if (v > hi2) hi2 = v
    }
    if (bloomFn != null && !row.isNullAt(bloomIdx))
      SnapshotLake.Bloom.set(bloomBits, bloomFn(row))
    var i = 0
    while (i < cs.length) {
      val isStr = cs(i)._2
      val idx = cs(i)._3
      if (row.isNullAt(idx)) csNulls(i) += 1
      else {
        if (isStr) {
          // strings: lo = running char-length SUM, hi = max length
          val n = row.getUTF8String(idx).numChars().toLong
          csLo(i) = if (csSeen(i)) csLo(i) + n else n
          if (n > csHi(i)) csHi(i) = n
        } else {
          val v = if (csIsLong(i)) row.getLong(idx)
                  else row.getInt(idx).toLong
          if (v < csLo(i)) csLo(i) = v
          if (v > csHi(i)) csHi(i) = v
        }
        csSeen(i) = true
      }
      // every row hashes — nulls included (the aggregate hashes the
      // column expression per row; xxhash64(null) = the seed)
      val h = csHash(i).eval(row).asInstanceOf[Long] & Long.MaxValue
      val set = csKmv(i)
      if (set.size < SnapshotLake.ColStat.K) { set.add(h): Unit }
      else if (h < set.last()) {
        if (set.add(h)) { set.remove(set.last()): Unit }
      }
      i += 1
    }
  }

  /** The finished per-file stats. */
  def finish: SegStats =
    SegStats(spec.key,
      lo = if (seenStat) lo else 0L,
      hi = if (seenStat) hi else 0L,
      su = if (seenStat && !sumOverflow) Some(sum) else None,
      bloom = Option(bloomBits),
      dim2 = spec.statCol2.map(_ =>
        (if (seen2) lo2 else 0L, if (seen2) hi2 else 0L)),
      cstats = cs.iterator.zipWithIndex.collect {
        case ((n, _, _), i) if csSeen(i) =>
          n.toLowerCase(java.util.Locale.ROOT) -> SnapshotLake.ColStat(
            csLo(i), csHi(i), csNulls(i),
            csKmv(i).iterator().asScala.map(_.longValue()).toVector)
      }.toMap)
}

object SegStatsAcc {
  /** The driver-side refusal every lake write runs before any task
    * stages a file: one accumulator built over the write schema the
    * tasks will bind (the parquet write conf's row schema), so an
    * envelope column it cannot cover fails here, under the same rule.
    */
  def check(confKVs: Map[String, String], spec: Option[StatsSpec]): Unit =
    spec.foreach(new SegStatsAcc(LakeWrite.rowSchema(confKVs), _): Unit)
}

/** A partitioned task's acknowledged files — one per partition-value
  * run (clustered+sorted input makes runs contiguous).
  */
final case class LakeStagedSet(files: Seq[LakeStaged],
    idMaxUnit: Long = -1L)
    extends WriterCommitMessage

/** Write-side identity generation (Delta's GENERATED … AS IDENTITY):
  * value = start + step × unit, with units allocated sparsely —
  * `baseUnits` (the chain's high-water, read once at write build) +
  * partitionId·2^33 + a per-task counter — so tasks never coordinate
  * and values stay unique with gaps allowed (the Delta contract).
  * `allowExplicit` distinguishes BY DEFAULT (non-null input passes
  * through, nulls fill) from ALWAYS (any non-null input refuses).
  */
final case class IdentityFill(col: String, idx: Int, start: Long,
    step: Long, allowExplicit: Boolean, baseUnits: Long)

/** The driver-side publish shared by the batch and streaming commit
  * paths: acknowledged staged files → batch dir → manifest entries
  * from the tasks' stats → optimistic manifest publish, with the txn
  * replay short-circuit.
  */
private[sources] object LakeCommit {
  def discard(root: String, m: LakeStaged): Unit =
    Files.deleteIfExists(Paths.get(LakeWrite.stagingDir(root), m.name)): Unit

  /** The staged files a task's commit message acknowledges. */
  def stagedOf(m: WriterCommitMessage): Seq[LakeStaged] = m match {
    case s: LakeStaged => Seq(s)
    case set: LakeStagedSet => set.files
    case r: LakeReplaceStaged => Seq(r.staged)
    case _ => Seq.empty
  }

  /** Land acknowledged staged files in a fresh batch dir — each moved
    * (ATOMIC_MOVE) to its batch-relative target name — and build their
    * manifest entries from the stats each task accumulated while
    * writing. The one staged → batch move of every lake write; each
    * entry comes back (sorted by name) beside the message that staged
    * it. A file staged under another stat envelope than the one the
    * publish resolved (a concurrent first commit changed it) never
    * publishes: every staged file is discarded and the write
    * conflicts.
    */
  private[sources] def land(root: String, live: Seq[(LakeStaged, String)],
      spec: StatsSpec): Seq[(SnapshotLake.FileStat, LakeStaged)] = {
    live.find(_._1.stats.specKey != spec.key).foreach { case (m, _) =>
      live.foreach { case (l, _) => discard(root, l) }
      throw new SnapshotLake.MergeConflictException(
        s"the stat envelope of $root changed under the write: files " +
          s"were staged under '${m.stats.specKey}', the head publishes " +
          s"under '${spec.key}'; retry the write")
    }
    val batch = s"data/b-${UUID.randomUUID().toString.take(8)}"
    live.map { case (m, to) =>
      val dest = Paths.get(root, batch, to)
      Files.createDirectories(dest.getParent)
      Files.move(Paths.get(LakeWrite.stagingDir(root), m.name), dest,
        StandardCopyOption.ATOMIC_MOVE)
      val st = m.stats
      // the task's byte size is invariant under the staging→batch
      // ATOMIC_MOVE
      SnapshotLake.FileStat(s"$batch/$to", st.lo, st.hi, m.rows, m.bytes,
        bloom = st.bloom, dim2 = st.dim2, sum = st.su,
        cstats = st.cstats) -> m
    }.sortBy(_._1.name)
  }

  /** Tag a landed file with the partition value(s) its writer declared. */
  private def tagPart(f: SnapshotLake.FileStat, m: LakeStaged,
      tagName: String, tagName2: Option[String]): SnapshotLake.FileStat = {
    val f1 = m.partVal.fold(f)(v => f.copy(part = Some(tagName -> v)))
    (for { tn2 <- tagName2; v2 <- m.partVal2 }
      yield f1.copy(part2 = Some(tn2 -> v2))).getOrElse(f1)
  }

  /** Partition-directory escaping, Spark/Hive's `escapePathName`
    * contract: ASCII control chars, DEL, and the reserved set below
    * become `%XX`; everything else (including space) passes through.
    * The empty string takes Hive's default-partition name (an empty
    * `k=` dir is not a partition path).
    */
  private[sources] def escapeDirValue(v: String): String = {
    val reserved = "\"#%'*/:=?\\{[]^"
    if (v.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    else if (v.forall(c =>
        c >= ' ' && c != '\u007f' && reserved.indexOf(c) < 0))
      v // common case: no escaping, no rebuild
    else {
      val sb = new StringBuilder(v.length + 8)
      v.foreach { c =>
        if (c < ' ' || c == '\u007f' || reserved.indexOf(c) >= 0)
          sb.append(f"%%${c.toInt}%02X")
        else sb.append(c)
      }
      sb.toString
    }
  }

  /** The Scala verbs' write job: one [[LakeDataWriter]] per task, so
    * the verbs stage, name, stat and move files exactly as the DSv2
    * writes do. With a `bucket` routing column the input is clustered
    * by it and sorted by it, then by `order` (the within-file row
    * order), so each task's single open writer rolls to a new file on
    * every value change. The value — cast to string in the plan, null
    * as Hive's default-partition name — stays out of the file and
    * names its `__bucket=<escaped>/` dir. Files land as
    * `part-<partition%05d>-<uuid8>.parquet`: sorted names follow the
    * partition order, which drives implicit row-id bases. Returns each
    * file's entry beside its raw routing value.
    */
  private[sources] def writeRouted(root: String, df: DataFrame,
      spec: StatsSpec, bucket: Option[Column] = None,
      order: Seq[Column] = Nil, writeOptions: Map[String, String] = Map.empty)
      : Seq[(SnapshotLake.FileStat, Option[String])] = {
    import org.apache.spark.sql.functions.col
    val b = "__bucket"
    val in = bucket.fold(df)(e => df.withColumn(b, e).repartition(col(b))
      .sortWithinPartitions(col(b) +: order: _*)
      .withColumn(b, col(b).cast("string")))
    val fields = in.schema.fields
    val bIdx = bucket.map(_ => in.schema.fieldIndex(b))
    val keep = fields.indices.filterNot(bIdx.contains)
    val confKVs = LakeWrite.writeConf(StructType(keep.map(fields(_)))) ++
      writeOptions
    SegStatsAcc.check(confKVs, Some(spec))
    val nullName = ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    Files.createDirectories(Paths.get(LakeWrite.stagingDir(root)))
    val segs = in.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val w = new LakeDataWriter(root, confKVs, pid,
          TaskContext.get().taskAttemptId(), statsSpec = Some(spec))
        val proj = UnsafeProjection.create(keep.map(i =>
          BoundReference(i, fields(i).dataType, fields(i).nullable)))
        try {
          it.foreach(r => w.writeTagged(bIdx.map(i =>
            if (r.isNullAt(i)) nullName else r.getUTF8String(i).toString),
            None, proj(r)))
          stagedOf(w.commit()).iterator.map(pid -> _)
        } catch { case t: Throwable => w.abort(); throw t }
      }
    }.collect().toSeq
    land(root, segs.map { case (pid, m) =>
      val file = f"part-$pid%05d-${UUID.randomUUID().toString.take(8)}.parquet"
      m -> m.partVal.fold(file)(v => s"$b=${escapeDirValue(v)}/$file")
    }, spec).map { case (f, m) => f -> m.partVal }
  }

  /** The stat envelope a write publishes under: options over the
    * head's statCol; a replace (`inherit`) also takes the head's
    * bloomCol/statCol2. The writer factories resolve it when they are
    * built and the commit resolves it again — files staged under a
    * different one conflict in [[land]]. None: no head (an empty
    * lake's version −1) and no statCol.
    */
  private def envelope(opts: Map[String, String],
      head: SnapshotLake.Snapshot, inherit: Boolean): Option[StatsSpec] = {
    val committed = Some(head).filter(_.version >= 0)
    val inherited = committed.filter(_ => inherit)
    opts.get("statcol").orElse(committed.map(_.statCol)).map { sc =>
      StatsSpec(sc, opts.get("bloomcol").orElse(inherited.flatMap(_.bloomCol)),
        opts.get("bloombytes").map(_.toInt).getOrElse(1024),
        opts.get("statcol2").orElse(inherited.flatMap(_.statCol2)))
    }
  }

  /** The refusal of a write that resolves no envelope. */
  private[sources] def noEnvelope(root: String): Nothing =
    throw new IllegalArgumentException(
      s"first commit to empty lake $root requires OPTIONS(statCol …)")

  /** The envelope of a batch append or streaming epoch ([[publish]]). */
  private[sources] def publishSpec(root: String,
      opts: Map[String, String]): Option[StatsSpec] =
    envelope(opts, SnapshotLake.snapshotOrEmpty(root), inherit = false)

  /** The envelope of a replace ([[publishPartitionReplace]], the
    * row-level rewrites).
    */
  private[sources] def replaceSpec(root: String,
      opts: Map[String, String]): Option[StatsSpec] =
    envelope(opts, SnapshotLake.snapshotOrEmpty(root), inherit = true)

  /** The manifest tag column a level's files tag under: bucket and
    * truncate transforms carry their parameter in the tag name;
    * identity tags under the bare column.
    */
  private def tagNameFor(opts: Map[String, String], pc: String,
      bucketsKey: String, truncKey: String): String =
    opts.get(bucketsKey)
      .map(n => graft.functions.GraftBucket.tagCol(n.toInt, pc))
      .orElse(opts.get(truncKey)
        .map(w => graft.functions.GraftTruncate.tagCol(w.toInt, pc)))
      .getOrElse(pc)

  /** `so=` stamps record the PHYSICAL column name (column mapping):
    * the `sortcol` property names a LOGICAL column, but a logical
    * name is only a per-snapshot alias — after `RENAME COLUMN a TO b`
    * followed by renaming another column onto `a`, a logical stamp
    * `so=a` would match the NEW `a` in the scan output and report an
    * ordering that does not physically hold, letting a merge join
    * elide its sorts and emit wrong rows. The physical storage name
    * is the one identity a data file's byte order actually follows,
    * fixed at the column's birth. Legacy stamps are unaffected:
    * physical == logical for every never-renamed column.
    */
  private def physSortStamp(sc: String,
      chain: Option[org.apache.spark.sql.types.StructType],
      schemaJson: Option[String]): String =
    chain.orElse(schemaJson.map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]))
      .flatMap(_.fields.find(_.name.equalsIgnoreCase(sc)))
      .map(SnapshotLake.ColMap.phys).getOrElse(sc)

  def publish(root: String, overwrite: Boolean, opts: Map[String, String],
      messages: Array[WriterCommitMessage],
      txn: Option[(String, Long)],
      schemaJson: Option[String] = None,
      // Some(col) ONLY when the committing write actually PLANNED the
      // within-file sort (the batch path's RequiresDistributionAndOrdering)
      // — the table property alone must never stamp: the streaming
      // sink shares this publish and never sorts, and a lying so=
      // stamp would let the scan's ordering report elide real sorts
      sortStamp: Option[String] = None,
      // the identity allocation base the write generated against —
      // publish folds the tasks' consumed maxima into the chain's
      // new high-water, CAS-guarded in commitFiles
      idBase: Option[Long] = None): Unit = {
    val staged = messages.toSeq.flatMap(stagedOf)
    val idReserve: Option[(Long, Long)] = idBase.flatMap { base =>
      val mx = messages.iterator.map {
        case m: LakeStaged => m.idMaxUnit
        case st: LakeStagedSet => st.idMaxUnit
        case _ => -1L
      }.foldLeft(-1L)(math.max)
      if (mx < 0) None else Some((base, mx))
    }
    val (live, empty) = staged.partition(_.rows > 0)
    empty.foreach(discard(root, _))
    // one head load answers the envelope, the replay pre-check and
    // the sort stamp's chain schema
    val head = SnapshotLake.snapshotOrEmpty(root)
    val spec = envelope(opts, head, inherit = false)
      .getOrElse(noEnvelope(root))
    // replay short-circuit BEFORE moving files (the in-loop check in
    // commitFiles still guards the race window)
    txn.foreach { case (a, b) =>
      if (head.txns.getOrElse(a, -1L) >= b) {
        live.foreach(discard(root, _)); return
      }
    }
    if (live.isEmpty) {
      // zero acknowledged rows: an overwrite still truncates (empty
      // file list, txn map carried); an empty append publishes nothing
      if (overwrite)
        SnapshotLake.commitFiles(root, Seq.empty, spec.statCol,
          overwrite = true, spec.bloomCol, spec.statCol2, txn,
          schemaJson): Unit
      return
    }
    val files = land(root, live.map(m => m -> m.name), spec)
    // partitioned write: each staged file declared its single value —
    // carry it into the manifest tag the prune/SPJ machinery reads.
    // Bucketed tables tag under `bucketN(c)` (the value is a bucket
    // id, never a column value — the tag name keeps them apart).
    val tagged = opts.get("partcol") match {
      case None => files.map(_._1)
      case Some(pc) =>
        val tagName = tagNameFor(opts, pc, "partbuckets", "parttrunc")
        // composed spec: the second level tags under p2= with its
        // own (identity, bucket, or truncate) tag name
        val tagName2 = opts.get("partcol2").map(pc2 =>
          tagNameFor(opts, pc2, "partbuckets2", "parttrunc2"))
        files.map { case (f, m) => tagPart(f, m, tagName, tagName2) }
    }
    // sorted layout: stamped only when the CALLER proved the sort was
    // planned (sortStamp) — see the parameter note. Stamps carry the
    // PHYSICAL column name ([[physSortStamp]]).
    val stamped = sortStamp match {
      case Some(sc) =>
        val ph = physSortStamp(sc, head.schema, schemaJson)
        tagged.map(_.copy(sorted = Some(ph)))
      case None => tagged
    }
    SnapshotLake.commitFiles(root, stamped, spec.statCol, overwrite,
      spec.bloomCol, spec.statCol2, txn, schemaJson, idReserve): Unit
  }

  /** Partition-scoped INSERT OVERWRITE: the files tagged with the
    * named values leave the manifest and the staged files take their
    * place — one REPLACE commit ([[SnapshotLake.commitReplaceFiles]],
    * the row-level ops' publish). Staged rows landing OUTSIDE the
    * overwritten partition values are refused before anything
    * publishes (Delta's replaceWhere constraint): a mis-scoped
    * SELECT must fail loudly, not quietly leak rows into partitions
    * it claimed not to touch.
    */
  def publishPartitionReplace(root: String, colName: String,
      values: Set[String], opts: Map[String, String],
      messages: Array[WriterCommitMessage],
      schemaJson: Option[String],
      sortStamp: Option[String] = None): Unit = {
    val staged = messages.toSeq.flatMap(stagedOf)
    val (live, empty) = staged.partition(_.rows > 0)
    empty.foreach(discard(root, _))
    val outside = live.filter(m => !m.partVal.exists(values))
    if (outside.nonEmpty) {
      live.foreach(discard(root, _))
      throw new IllegalArgumentException(
        s"INSERT OVERWRITE PARTITION ($colName IN ${values.mkString(",")})" +
          s" produced rows outside the overwritten values: " +
          outside.flatMap(_.partVal).distinct.mkString(","))
    }
    val head = SnapshotLake.snapshot(root)
    val replaced = head.files.filter(_.part.exists { case (c, v) =>
      c.equalsIgnoreCase(colName) && values(v) })
    val spec = envelope(opts, head, inherit = true).get
    val tagName2 = opts.get("partcol2").map(pc2 =>
      tagNameFor(opts, pc2, "partbuckets2", "parttrunc2"))
    val newFiles = land(root, live.map(m => m -> m.name), spec)
      .map { case (f, m) => tagPart(f, m, colName, tagName2) }
      // partition replace runs the same planned-sort batch write,
      // so its replacement files keep the sorted-layout stamp —
      // without this the whole-table ordering claim silently dies
      // on the first INSERT OVERWRITE PARTITION. Physical name,
      // same contract as [[publish]].
      .map(f => sortStamp.fold(f)(sc => f.copy(sorted =
        Some(physSortStamp(sc, head.schema, schemaJson)))))
    SnapshotLake.commitReplaceFiles(root, replaced, newFiles, "overwrite",
      spec.statCol, spec.bloomCol, spec.statCol2, schemaJson): Unit
  }
}

/** The write half of a row-level operation ([[LakeRowLevelOperation]]):
  * same task protocol as every lake write (stage → acknowledge →
  * move exactly the named set), but the driver commit publishes a
  * REPLACE — the scanned files leave the manifest, the staged files
  * (those files' complete rewritten contents) enter it, untouched
  * files carry by reference. `scanOf` reads the operation's scan at
  * commit time, AFTER any runtime group filter narrowed it.
  */
final class LakeReplaceWriteBuilder(root: String, info: LogicalWriteInfo,
    tableOpts: Map[String, String], scanOf: () => Option[LakeScan],
    op: String) extends WriteBuilder {
  override def build(): Write = {
    val opts = tableOpts ++ info.options().asCaseSensitiveMap()
      .asScala.map { case (k, v) =>
        k.toLowerCase(java.util.Locale.ROOT) -> v }
    // the operation's metadata schema carries (_file, _row_id): the
    // _row_id slot is what lets the CoW rewrite materialize each
    // replacement row's pre-image identity
    val ridIdx: Option[Int] = {
      val ms = info.metadataSchema()
      if (!ms.isPresent) None
      else {
        val i = ms.get.fieldNames
          .indexWhere(_.equalsIgnoreCase(LakeTable.RowIdColumn))
        if (i >= 0) Some(i) else None
      }
    }
    new Write {
      override def toBatch: BatchWrite =
        new LakeReplaceBatchWrite(root, info.schema(), opts, scanOf, op,
          ridIdx)
    }
  }
}

/** A CoW replacement task's acknowledged file plus how many of its
  * rows arrived WITHOUT a pre-image id — zero means every row kept
  * its identity and the file may publish as `ri=mat`.
  */
final case class LakeReplaceStaged(staged: LakeStaged, ridNulls: Long)
    extends WriterCommitMessage

final class LakeReplaceBatchWrite(root: String, schema: StructType,
    opts: Map[String, String], scanOf: () => Option[LakeScan],
    op: String, ridIdx: Option[Int] = None) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Paths.get(LakeWrite.stagingDir(root)))
    val phys = LakeWrite.physicalFor(root, schema, overwrite = false)
    val spec = LakeCommit.replaceSpec(root, opts)
    ridIdx match {
      case Some(idx) =>
        // rid-materializing rewrite: output schema appends a NULLABLE
        // __rid (a MERGE's genuine inserts carry no pre-image id; the
        // commit marks ri=mat only on all-ids files)
        new LakeReplaceRidWriterFactory(root,
          LakeWrite.writeConf(StructType(phys.fields :+
            org.apache.spark.sql.types.StructField(
              LakeTable.RidPhysColumn,
              org.apache.spark.sql.types.LongType, nullable = true))),
          idx, spec)
      case None =>
        new LakeWriterFactory(root, LakeWrite.writeConf(phys),
          statsSpec = spec)
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // files where every replacement row kept a pre-image id publish
    // with the materialized-rid mark
    val matNames: Set[String] = messages.collect {
      case m: LakeReplaceStaged if m.ridNulls == 0 && m.staged.rows > 0 =>
        m.staged.name
    }.toSet
    val staged = messages.toSeq.flatMap(LakeCommit.stagedOf)
    val (live, empty) = staged.partition(_.rows > 0)
    empty.foreach(LakeCommit.discard(root, _))
    val replaced = scanOf().fold(Seq.empty[SnapshotLake.FileStat])(
      _.effectiveFiles)
    if (live.isEmpty && replaced.isEmpty) return // vacuous (empty chain)
    val spec = LakeCommit.replaceSpec(root, opts)
      .getOrElse(LakeCommit.noEnvelope(root))
    val newFiles = LakeCommit.land(root, live.map(m => m -> m.name), spec)
      .map { case (f, m) => if (matNames(m.name)) f.copy(ridMat = true) else f }
    val v = SnapshotLake.commitReplaceFiles(root, replaced, newFiles, op,
      spec.statCol, spec.bloomCol, spec.statCol2, Some(schema.json))
    // change-feed tables materialize the CDC sidecar for every CoW
    // rewrite — the streaming CDF replays it (a rewrite's row changes
    // are not derivable from the manifest diff alone)
    if (opts.get("changefeed").exists(_.equalsIgnoreCase("true")))
      SnapshotLake.materializeChanges(SparkSession.active, root, v): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.flatMap(LakeCommit.stagedOf).foreach(LakeCommit.discard(root, _))
}

final class LakeReplaceRidWriterFactory(root: String,
    confKVs: Map[String, String], ridIdx: Int,
    statsSpec: Option[StatsSpec] = None) extends DataWriterFactory {
  SegStatsAcc.check(confKVs, statsSpec)
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new LakeReplaceRidWriter(root, confKVs, ridIdx, partitionId, taskId,
      statsSpec)
}

/** Task-side rid-materializing CoW writer: every replacement row
  * arrives with its metadata row (`DataWriter.write(meta, row)` —
  * Spark's DataAndMetadataWritingSparkTask, active because the
  * operation declares metadata attributes), and the pre-image's
  * `_row_id` lands in the appended `__rid` column. A null id (a
  * source file without row tracking, or a MERGE's genuine insert —
  * never scanned) writes as null and is COUNTED: the commit marks
  * `ri=mat` only on files whose every row kept identity.
  */
final class LakeReplaceRidWriter(root: String,
    confKVs: Map[String, String], ridIdx: Int,
    partitionId: Int, taskId: Long,
    statsSpec: Option[StatsSpec] = None) extends DataWriter[InternalRow] {

  private val inner = new LakeDataWriter(root, confKVs, partitionId, taskId,
    statsSpec = statsSpec)
  private var ridNulls = 0L

  override def write(meta: InternalRow, row: InternalRow): Unit = {
    val rid: Any =
      if (meta == null || meta.numFields <= ridIdx || meta.isNullAt(ridIdx))
        { ridNulls += 1; null }
      else meta.getLong(ridIdx)
    inner.write(new org.apache.spark.sql.catalyst.expressions.JoinedRow(
      row, new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](rid))))
  }

  // single-arg writes carry no metadata — identity unknown
  override def write(row: InternalRow): Unit = write(null, row)

  override def commit(): WriterCommitMessage = inner.commit() match {
    case m: LakeStaged => LakeReplaceStaged(m, ridNulls)
    case other => other // unpartitioned task: always a LakeStaged
  }
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

final class LakeBatchWrite(root: String, schema: StructType,
    overwrite: Boolean, opts: Map[String, String],
    partSpec: Option[LakePartSpec] = None,
    replaceWhere: Option[(String, Set[String])] = None,
    identity: Option[IdentityFill] = None)
    extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Paths.get(LakeWrite.stagingDir(root)))
    new LakeWriterFactory(root,
      LakeWrite.writeConf(LakeWrite.physicalFor(root, schema, overwrite)),
      partSpec, identity,
      // resolve the stat envelope the COMMIT path will publish under
      // (replaceWhere routes to the partition-replace resolution); no
      // envelope can commit, so refuse before any task runs
      Some((if (replaceWhere.isDefined) LakeCommit.replaceSpec(root, opts)
        else LakeCommit.publishSpec(root, opts))
        .getOrElse(LakeCommit.noEnvelope(root))))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val txn = for {
      a <- opts.get("txnappid"); v <- opts.get("txnversion")
    } yield (a, v.toLong)
    // the within-file sort was actually planned iff this is the
    // partitioned batch write (RequiresDistributionAndOrdering)
    val sortStamp = opts.get("sortcol").filter(_ => partSpec.isDefined)
    replaceWhere match {
      case None =>
        LakeCommit.publish(root, overwrite, opts, messages, txn,
          Some(schema.json), sortStamp, identity.map(_.baseUnits))
      case Some((c, vs)) =>
        // identity + replaceWhere was refused at build time
        LakeCommit.publishPartitionReplace(root, c, vs, opts, messages,
          Some(schema.json), sortStamp)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.flatMap(LakeCommit.stagedOf).foreach(LakeCommit.discard(root, _))
}

/** The STREAMING sink face of the same commit machinery —
  * `writeStream.format("graft.sources.GraftLakeSource")` without a
  * `foreachBatch` escape hatch. Exactly-once is the q102 contract
  * built in: every epoch's publish carries `txn = (appId, epochId)`
  * (appId = `txnAppId` option, defaulting to the streaming queryId),
  * so a replayed epoch — engine retry, or a restart from a LOST
  * checkpoint re-delivering old source files — is swallowed by the
  * manifest's accumulated txn map instead of double-landing. The
  * task protocol (stage → acknowledge → move exactly the named set)
  * is identical to the batch path; epoch-aware naming is unnecessary
  * because visibility derives from messages, never from listings.
  */
final class LakeStreamingWrite(root: String, schema: StructType,
    overwrite: Boolean, opts: Map[String, String], queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    Files.createDirectories(Paths.get(LakeWrite.stagingDir(root)))
    val inner = new LakeWriterFactory(root,
      LakeWrite.writeConf(LakeWrite.physicalFor(root, schema, overwrite)),
      statsSpec = Some(LakeCommit.publishSpec(root, opts)
        .getOrElse(LakeCommit.noEnvelope(root))))
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        inner.createWriter(partitionId, taskId)
    }
  }

  private def appId: String = opts.getOrElse("txnappid", queryId)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    LakeCommit.publish(root, overwrite, opts, messages,
      Some((appId, epochId)), Some(schema.json))

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.flatMap(LakeCommit.stagedOf).foreach(LakeCommit.discard(root, _))
}

final class LakeWriterFactory(root: String,
    confKVs: Map[String, String],
    partSpec: Option[LakePartSpec] = None,
    identity: Option[IdentityFill] = None,
    statsSpec: Option[StatsSpec] = None) extends DataWriterFactory {
  SegStatsAcc.check(confKVs, statsSpec)
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new LakeDataWriter(root, confKVs, partitionId, taskId, partSpec,
      identity, statsSpec)
}

/** The lake's one task-side parquet writer — behind the DSv2 write
  * factories and the Scala verbs' [[LakeCommit.writeRouted]]: Spark's
  * `ParquetWriteSupport` (the engine's own InternalRow→parquet
  * encoder, vectorized-reader compatible) behind parquet-mr's writer,
  * streaming to a staged file invisible until the driver's commit
  * names it.
  */
final class LakeDataWriter(root: String, confKVs: Map[String, String],
    partitionId: Int, taskId: Long,
    partSpec: Option[LakePartSpec] = None,
    identity: Option[IdentityFill] = None,
    statsSpec: Option[StatsSpec] = None)
    extends DataWriter[InternalRow] {

  // the physical write schema rides in the parquet write conf the
  // factory already ships — the stats accumulator binds to it
  private lazy val writeSchema: StructType = LakeWrite.rowSchema(confKVs)
  private var acc: SegStatsAcc = null

  // identity generation state: units consumed by THIS task
  private var idLocal = 0L
  private def idUnitBase: Long =
    identity.fold(0L)(_.baseUnits) + (partitionId.toLong << 33)

  /** Fill (or validate) the identity column in place. Rows arriving
    * from a batch write are UnsafeRows — setNotNullAt + setLong is
    * the in-place fast path; other mutable rows take update().
    */
  private def fillIdentity(row: InternalRow): InternalRow =
    identity.fold(row) { id =>
      if (!row.isNullAt(id.idx)) {
        if (!id.allowExplicit) throw new IllegalArgumentException(
          s"column '${id.col}' is GENERATED ALWAYS AS IDENTITY — " +
            "explicit values are not accepted (declare GENERATED BY " +
            "DEFAULT AS IDENTITY to allow them)")
        row
      } else {
        val unit = idUnitBase + idLocal
        idLocal += 1
        val v = Math.addExact(id.start, Math.multiplyExact(id.step, unit))
        row match {
          case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
            u.setNotNullAt(id.idx); u.setLong(id.idx, v); u
          case m => m.update(id.idx, v); m
        }
      }
    }

  // one OPEN segment at a time; a partitioned write rolls to a new
  // segment whenever the (clustered + sorted) partition value changes
  private var segName: String = _
  private var segPath: java.nio.file.Path = _
  private var writer: ParquetWriter[InternalRow] = null
  private var rows = 0L
  private var curVal: Option[String] = None
  private var curVal2: Option[String] = None
  private val finished = scala.collection.mutable.ArrayBuffer
    .empty[LakeStaged]

  private def openSeg(): Unit = {
    segName = s"part-$partitionId-$taskId-" +
      s"${UUID.randomUUID().toString.take(8)}.parquet"
    segPath = Paths.get(LakeWrite.stagingDir(root), segName)
    rows = 0L
    acc = new SegStatsAcc(writeSchema,
      statsSpec.getOrElse(LakeCommit.noEnvelope(root)))
    writer = LakeWrite.openParquet(segPath, confKVs)
  }

  private def closeSeg(): Unit = if (writer != null) {
    writer.close()
    finished += LakeStaged(segName, rows, Files.size(segPath), curVal,
      curVal2, stats = acc.finish)
    writer = null
  }

  /** The file's single partition value, rendered the way partition
    * tags compare everywhere else (LakeScanBuilder.partStr /
    * commitPartitioned's dir decode): long/int/string/bool as their
    * canonical strings — or, under bucket partitioning, the row's
    * [[graft.functions.GraftBucket]] id (the same function Spark
    * clustered the write with, so runs are contiguous). Null
    * partition values are refused — the tag IS the prune key.
    */
  private def partValOf(row: InternalRow): Option[String] =
    partSpec.map(valueOf(_, row))

  private def partVal2Of(row: InternalRow): Option[String] =
    partSpec.flatMap(_.sub).map(valueOf(_, row))

  private def valueOf(spec: LakePartSpec, row: InternalRow): String = {
      require(!row.isNullAt(spec.idx),
        s"null partition value for column '${spec.col}' — partitioned " +
          "lake tables require a non-null partition column")
      spec.buckets match {
        case Some(n) =>
          (spec.dt match {
            case org.apache.spark.sql.types.LongType =>
              graft.functions.GraftBucket.id(row.getLong(spec.idx), n)
            case org.apache.spark.sql.types.IntegerType =>
              graft.functions.GraftBucket.id(row.getInt(spec.idx).toLong, n)
            case org.apache.spark.sql.types.StringType =>
              graft.functions.GraftBucket.id(
                row.getUTF8String(spec.idx), n)
            case other => throw new IllegalArgumentException(
              s"bucket partition column '${spec.col}' must be " +
                s"long/int/string, got $other")
          }).toString
        case None if spec.trunc.isDefined =>
          val w = spec.trunc.get
          spec.dt match {
            case org.apache.spark.sql.types.LongType =>
              graft.functions.GraftTruncate
                .value(row.getLong(spec.idx), w).toString
            case org.apache.spark.sql.types.StringType =>
              graft.functions.GraftTruncate
                .value(row.getUTF8String(spec.idx), w).toString
            case other => throw new IllegalArgumentException(
              s"truncate partition column '${spec.col}' must be " +
                s"bigint/string, got $other")
          }
        case None => spec.dt match {
          case org.apache.spark.sql.types.LongType =>
            row.getLong(spec.idx).toString
          case org.apache.spark.sql.types.IntegerType =>
            row.getInt(spec.idx).toString
          case org.apache.spark.sql.types.StringType =>
            row.getUTF8String(spec.idx).toString
          case org.apache.spark.sql.types.ShortType =>
            row.getShort(spec.idx).toString
          case org.apache.spark.sql.types.BooleanType =>
            row.getBoolean(spec.idx).toString
          case other => throw new IllegalArgumentException(
            s"unsupported partition column type $other for " +
              s"'${spec.col}' (long/int/short/string/boolean)")
        }
      }
    }

  override def write(row0: InternalRow): Unit = {
    val row = fillIdentity(row0)
    writeTagged(partValOf(row), partVal2Of(row), row)
  }

  /** Write `row` into the file for partition value(s) `(v, v2)`: the
    * one open segment rolls whenever either value changes, so input
    * clustered and sorted by them keeps exactly one writer open.
    */
  def writeTagged(v: Option[String], v2: Option[String],
      row: InternalRow): Unit = {
    // roll on EITHER level changing — composed-spec files stay
    // single-valued in both dimensions
    if (writer == null) { curVal = v; curVal2 = v2; openSeg() }
    else if (v != curVal || v2 != curVal2) {
      closeSeg(); curVal = v; curVal2 = v2; openSeg()
    }
    writer.write(row)
    acc.update(row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    closeSeg()
    // the high-water this task consumed to, EXCLUSIVE (-1: nothing
    // generated — an all-explicit or identity-free write)
    val idMax = if (idLocal > 0) idUnitBase + idLocal else -1L
    finished.toSeq match {
      case Seq(m) if partSpec.isEmpty && m.partVal.isEmpty =>
        m.copy(idMaxUnit = idMax)
      case fs => LakeStagedSet(fs, idMax) // an empty task acks none
    }
  }
  override def abort(): Unit = {
    if (writer != null) { writer.close(); writer = null }
    if (segPath != null) Files.deleteIfExists(segPath): Unit
    finished.foreach(m => Files.deleteIfExists(
      Paths.get(LakeWrite.stagingDir(root), m.name)): Unit)
  }
  override def close(): Unit = if (writer != null) {
    writer.close(); writer = null
  }
}

/** Judged query: a lake born and grown through PURE SQL — `CREATE
  * TABLE` (schema-declared DDL over the connector), two `INSERT INTO
  * … SELECT` appends partitioning events by id parity, then the
  * aggregate read back through `spark.table`. The head version is a
  * hash-checked column: v0 bootstrap + one append = 1, so a commit
  * that silently no-ops or double-publishes goes red. The oracle
  * recomputes the aggregate from the base table — writer encoding,
  * write-time stats, manifest publish, and connector read-back must
  * agree exactly.
  */
object LakeWriteQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._
  import graft.Catalog.Q

  def q107LakeInsertSql(s: SparkSession, d: String): DataFrame = {
    val root = Housekeeping.tempDir("q107")
    s.sql("DROP TABLE IF EXISTS q107_lake")
    Housekeeping.tables(s, "q107_tbl", Seq("q107_lake"))
    s.sql(s"""
      CREATE TABLE q107_lake (event_id BIGINT, cents BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'event_id')""")
    Tables.events(s, d).createOrReplaceTempView("q107_events")
    def insert(parity: Int): Unit =
      s.sql(s"""
        INSERT INTO q107_lake
        SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
        FROM q107_events WHERE event_id % 2 = $parity""").collect(): Unit
    insert(0) // bootstraps v0 on the empty lake
    insert(1) // appends v1
    s.table("q107_lake")
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .select(
        lit(SnapshotLake.headVersion(root).toLong).as("head_version"),
        col("n_rows"), col("sum_cents"), col("min_id"), col("max_id"))
  }

  /** Judged SQL row-level DELETE: q109's 8-file clustered fixture and
    * delete range, driven entirely through `DELETE FROM ... WHERE`
    * over the connector's `SupportsDeleteV2` — SQL DML must inherit
    * the Scala verb's metadata-only fast path exactly. Hash-checked
    * columns: the recorded `op`, the head version (bootstrap + one
    * delete = 1), and the post-delete file count (4 kept + 1
    * boundary rewrite = 5 — a DELETE that rewrote covered files
    * would land more); the aggregate certifies the surviving rows
    * against the oracle's closed-form complement.
    */
  def q129LakeDeleteSql(s: SparkSession, d: String): DataFrame = {
    val root = Housekeeping.tempDir("q129")
    s.sql("DROP TABLE IF EXISTS q129_lake")
    Housekeeping.tables(s, "q129_tbl", Seq("q129_lake"))
    val ev = Tables.events(s, d).select(
      col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val span = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    def bound(i: Int): Long = i.toLong * span / 8
    val bucket = SnapshotLake.rangeBucket("event_id", 8, span)
    SnapshotLake.commitClustered(s, root, ev, bucket, "event_id")
    s.sql(s"""
      CREATE TABLE q129_lake (event_id BIGINT, cents BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'event_id')""")
    s.sql(s"""
      DELETE FROM q129_lake
      WHERE event_id >= ${bound(2)}
        AND event_id < ${bound(5) + span / 32}""").collect(): Unit
    val snap = SnapshotLake.snapshot(root)
    s.table("q129_lake")
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(
        lit(snap.op.getOrElse("")).as("op"),
        lit(snap.version.toLong).as("head_version"),
        lit(snap.files.size.toLong).as("n_files_after"),
        col("n_rows"), col("sum_cents"))
  }

  /** Judged SQL row-level UPDATE: the copy-on-write path over
    * `SupportsRowLevelOperations`. q129's 8-file clustered fixture;
    * an UPDATE whose predicate covers files 2–3 exactly. Hash-checked
    * columns: the recorded `op`, head version (bootstrap + one
    * update = 1), and `n_carried` = 6 — the six files OUTSIDE the
    * predicate must survive BY NAME (an update that rewrote the
    * whole table lands 0 carried files and goes red); the aggregate
    * certifies the updated values row-exactly.
    */
  def q131LakeUpdateSql(s: SparkSession, d: String): DataFrame = {
    val root = Housekeeping.tempDir("q131")
    s.sql("DROP TABLE IF EXISTS q131_lake")
    Housekeeping.tables(s, "q131_tbl", Seq("q131_lake"))
    val ev = Tables.events(s, d).select(
      col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val span = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    def bound(i: Int): Long = i.toLong * span / 8
    val bucket = SnapshotLake.rangeBucket("event_id", 8, span)
    SnapshotLake.commitClustered(s, root, ev, bucket, "event_id")
    val before = SnapshotLake.snapshot(root).files.map(_.name).toSet
    s.sql(s"""
      CREATE TABLE q131_lake (event_id BIGINT, cents BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'event_id')""")
    s.sql(s"""
      UPDATE q131_lake SET cents = cents + 1000000
      WHERE event_id >= ${bound(2)} AND event_id < ${bound(4)}""")
      .collect(): Unit
    val snap = SnapshotLake.snapshot(root)
    s.table("q131_lake")
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(
        lit(snap.op.getOrElse("")).as("op"),
        lit(snap.version.toLong).as("head_version"),
        lit(snap.files.count(f => before(f.name)).toLong).as("n_carried"),
        col("n_rows"), col("sum_cents"))
  }

  /** Judged SQL MERGE INTO over the same DSv2 surface: the source
    * doubles every event id, so even ids within range UPDATE and
    * doubled ids beyond the max INSERT — both clauses exercised in
    * one statement, replayed closed-form by the oracle.
    */
  def q132LakeMergeSql(s: SparkSession, d: String): DataFrame = {
    val root = Housekeeping.tempDir("q132")
    s.sql("DROP TABLE IF EXISTS q132_lake")
    Housekeeping.tables(s, "q132_tbl", Seq("q132_lake"))
    val ev = Tables.events(s, d).select(
      col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val span = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val bucket = SnapshotLake.rangeBucket("event_id", 8, span)
    SnapshotLake.commitClustered(s, root, ev, bucket, "event_id")
    s.sql(s"""
      CREATE TABLE q132_lake (event_id BIGINT, cents BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'event_id')""")
    Tables.events(s, d)
      .select((col("event_id") * 2).as("event_id"),
        col("event_id").as("new_cents"))
      .createOrReplaceTempView("q132_src")
    s.sql("""
      MERGE INTO q132_lake t USING q132_src s ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET cents = s.new_cents
      WHEN NOT MATCHED THEN INSERT (event_id, cents)
        VALUES (s.event_id, s.new_cents)""").collect(): Unit
    val snap = SnapshotLake.snapshot(root)
    s.table("q132_lake")
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        max(col("event_id")).as("max_id"))
      .select(
        lit(snap.op.getOrElse("")).as("op"),
        lit(snap.version.toLong).as("head_version"),
        col("n_rows"), col("sum_cents"), col("max_id"))
  }

  val queries: Seq[Q] = Seq(
    Q("q131_lake_update_sql", q131LakeUpdateSql, Some("""
      WITH b AS (SELECT max(event_id) + 1 AS span FROM events),
      upd AS (
        SELECT CASE WHEN event_id >= (2 * span) // 8
                     AND event_id < (4 * span) // 8
               THEN CAST(round(value * 100) AS BIGINT) + 1000000
               ELSE CAST(round(value * 100) AS BIGINT) END AS cents
        FROM events, b)
      SELECT 'update' AS op,
             CAST(1 AS BIGINT) AS head_version,
             CAST(6 AS BIGINT) AS n_carried,
             count(*) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM upd""")),
    Q("q132_lake_merge_sql", q132LakeMergeSql, Some("""
      WITH tgt AS (
        SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      src AS (
        SELECT event_id * 2 AS event_id, event_id AS new_cents
        FROM events),
      merged AS (
        SELECT t.event_id, COALESCE(s.new_cents, t.cents) AS cents
        FROM tgt t LEFT JOIN src s ON t.event_id = s.event_id
        UNION ALL
        SELECT s.event_id, s.new_cents
        FROM src s
        WHERE NOT EXISTS (SELECT 1 FROM tgt WHERE tgt.event_id = s.event_id))
      SELECT 'merge' AS op,
             CAST(1 AS BIGINT) AS head_version,
             count(*) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             max(event_id) AS max_id
      FROM merged""")),
    Q("q107_lake_insert_sql", q107LakeInsertSql, Some("""
      WITH ec AS (SELECT event_id,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events)
      SELECT CAST(1 AS BIGINT) AS head_version,
             count(*) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             min(event_id) AS min_id,
             max(event_id) AS max_id
      FROM ec""")),
    Q("q129_lake_delete_sql", q129LakeDeleteSql, Some("""
      WITH b AS (SELECT max(event_id) + 1 AS span FROM events),
      surv AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents
        FROM events, b
        WHERE NOT (event_id >= (2 * span) // 8
               AND event_id < (5 * span) // 8 + span // 32))
      SELECT 'delete' AS op,
             CAST(1 AS BIGINT) AS head_version,
             CAST(5 AS BIGINT) AS n_files_after,
             count(*) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM surv""")))
}
