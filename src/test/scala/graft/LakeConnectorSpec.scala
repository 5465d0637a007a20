package graft

import org.apache.spark.graft.ListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.{Housekeeping, LakeScan, SnapshotLake}

/** The lake's DSv2 surface: reads through
  * `spark.read.format("graft.sources.GraftLakeSource")` must prune
  * files from the QUERY'S OWN predicates (pushed by Catalyst into
  * the ScanBuilder), return the source table's rows row-for-row, and
  * show the prune on the planned scan node.
  */
class LakeConnectorSpec extends SparkTestBase {

  private def lakeRead(root: String, version: Option[Int] = None) = {
    val r = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root)
    version.fold(r)(v => r.option("version", v.toString)).load()
  }

  private def plannedScan(df: org.apache.spark.sql.DataFrame): LakeScan =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.collectFirst { case l: LakeScan => l }
      .getOrElse(fail("no LakeScan in plan"))

  /** The rows the fixture lake holds, computed from the source table. */
  private def source(): DataFrame =
    graft.sources.Tables.events(spark, sf("sf0.001")).select(
      col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))

  private def fixture(): (String, Long) = {
    val root = Housekeeping.tempDir("lakeconn")
    val ev = source()
    val span = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    def bound(i: Int): Long = i.toLong * span / 8
    val bucket = (1 to 7).foldLeft(lit(0)) { (acc, i) =>
      when(col("event_id") >= bound(i), lit(i)).otherwise(acc)
    }
    SnapshotLake.commitClustered(spark, root, ev, bucket, "event_id",
      bloomCol = Some("user_id"),
      bloomBytes = math.max(1024L, (span * 10 + 7) / 8).toInt)
    (root, span)
  }

  test("range predicate pushes into the manifest prune and matches the API read") {
    val (root, span) = fixture()
    val lo = span * 2 / 8
    val hi = span * 4 / 8
    val df = lakeRead(root)
      .where(col("event_id") >= lo && col("event_id") < hi)
    val scan = plannedScan(df)
    assert(scan.filesTotal === 8)
    assert(scan.files.length === 2,
      s"expected 2 kept files, scan: ${scan.description()}")
    assert(scan.description().contains(s"files=2/8"))
    val (_, nRead, _) = SnapshotLake.readPruned(spark, root, lo, hi)
    assert(nRead === 2)
    val byRow = df.columns.map(col)
    val got = df.orderBy(byRow: _*).collect().map(_.toSeq)
    val want = source()
      .where(col("event_id") >= lo && col("event_id") < hi)
      .select(byRow: _*).orderBy(byRow: _*).collect().map(_.toSeq)
    assert(got.nonEmpty)
    assert(got.toSeq === want.toSeq)
  }

  test("IN-list predicates prune by range containment and bloom membership") {
    val (root, span) = fixture()
    // stat-column IN: three ids spread over files 1 and 6 — only the
    // files whose [min, max] contains at least one value survive
    val ids = Seq(span / 8, span / 8 + 1, 6 * span / 8)
    val df = lakeRead(root).where(col("event_id").isin(ids: _*))
    val scan = plannedScan(df)
    assert(scan.files.length === 2,
      s"IN prune kept ${scan.files.length}: ${scan.description()}")
    assert(df.select(col("event_id")).collect().map(_.getLong(0)).sorted
      === ids.sorted.toArray)
    // bloom-column IN: user ids hashed across the clustered files —
    // bloom membership must keep a superset of the true files and
    // the rows must stay exact
    val users = Seq(1L, 3L)
    val dfb = lakeRead(root).where(col("user_id").isin(users: _*))
    val scanB = plannedScan(dfb)
    val expect = graft.sources.Tables.events(spark, sf("sf0.001"))
      .where(col("user_id").isin(users: _*)).count()
    assert(dfb.count() === expect)
    assert(scanB.files.length <= scanB.filesTotal)
    // conjunction of two IN lists intersects down to the overlap
    val overlap = lakeRead(root)
      .where(col("event_id").isin(1L, 2L, span - 1) &&
        col("event_id").isin(2L, 5L, span - 1))
    val scanO = plannedScan(overlap)
    assert(scanO.files.length === 2, // first and last file only
      s"IN-intersection kept ${scanO.files.length}: ${scanO.description()}")
    assert(overlap.select(col("event_id")).collect().map(_.getLong(0)).sorted
      === Array(2L, span - 1))
  }

  test("column pruning reaches the parquet projection") {
    val (root, _) = fixture()
    val df = lakeRead(root).select(col("cents"))
    val scan = plannedScan(df)
    assert(scan.required.fieldNames.toSeq === Seq("cents"),
      s"projection not pruned: ${scan.description()}")
    // the fixture's cents total, computed from the source table
    val want = source().agg(sum(col("cents"))).head().getLong(0)
    assert(df.agg(sum(col("cents"))).head().getLong(0) === want)
  }

  /** Every node of an executed plan, through AQE's stage boundaries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("every Scala read and rewrite source scans through LakeScan") {
    val root = Housekeeping.tempDir("lakeconn_one_reader")
    val tbl = spark.range(400).select(col("id").as("k"),
      (col("id") * 7).as("v"), concat(lit("d"), col("id") % 4).as("dom"))
    SnapshotLake.commitPartitioned(spark, root, tbl, "dom", "k",
      bloomCol = Some("v"), statCol2 = Some("v"))
    def oneReader(what: String, df: DataFrame): Unit = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(LakeScan.findIn(plan).isDefined, s"$what plans no LakeScan")
      assert(!nodes(plan).exists(_.isInstanceOf[FileSourceScanExec]),
        s"$what plans a file-source scan:\n$plan")
      assert(!df.queryExecution.optimizedPlan.treeString
        .contains("_metadata"), s"$what references _metadata")
    }
    oneReader("read", SnapshotLake.read(spark, root))
    oneReader("readPruned", SnapshotLake.readPruned(spark, root, 10L, 20L)._1)
    oneReader("readPoint", SnapshotLake.readPoint(spark, root, 91L)._1)
    oneReader("readPruned2D",
      SnapshotLake.readPruned2D(spark, root, 0L, 50L, 0L, 100L)._1)
    oneReader("readPartition",
      SnapshotLake.readPartition(spark, root, "dom", "d1"))
    // a verb's count opens its files (vector masking, vacuum
    // survivors), never a manifest-answered aggregate
    oneReader("read count", SnapshotLake.read(spark, root).groupBy().count())
    // a value every file's bloom rejects: no file kept, and the frame
    // still carries the lake's schema with zero rows
    val snap = SnapshotLake.snapshot(root)
    val absent = (1L to 1000L).map(-_).find(v => snap.files.forall(
      _.bloom.forall(!SnapshotLake.Bloom.mightContain(_, v)))).get
    val (none, kept, total) = SnapshotLake.readPoint(spark, root, absent)
    assert(kept === 0 && total === 4)
    assert(none.schema === SnapshotLake.read(spark, root).schema)
    assert(none.count() === 0L)
    oneReader("readPoint (no file kept)", none)
    // a straddling delete's rewrite source: its write job reads
    // through the connector's RDD, never a file-source scan
    val rdds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(r => rdds.add(r.name))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = SnapshotLake.delete(spark, root, 100L, 200L)
      assert(res.filesRewritten === 4)
      ListenerSync.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(rdds.contains("DataSourceRDD"), s"delete read no lake scan: $rdds")
    assert(!rdds.contains("FileScanRDD"), s"delete read parquet files: $rdds")
    assert(SnapshotLake.read(spark, root).count() === 300L)
  }

  test("version option time-travels to the pinned snapshot") {
    val (root, span) = fixture()
    val v0 = SnapshotLake.headVersion(root)
    SnapshotLake.commit(spark, root,
      lakeRead(root).limit(0), "event_id") // empty append -> new head
    assert(SnapshotLake.headVersion(root) === v0 + 1)
    assert(lakeRead(root, Some(v0)).count() === span)
  }

  test("bloom equality predicate prunes to the candidate files") {
    // q88's layout: clustered by user bucket so event_id min/max
    // spans every file (range stats prune nothing) and only the
    // per-file bloom over the UNIQUE event_id can skip
    val root = Housekeeping.tempDir("lakeconn_bloom")
    val ev = graft.sources.Tables.events(spark, sf("sf0.001")).select(
      col("event_id"), col("user_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val span = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    SnapshotLake.commitClustered(spark, root, ev,
      pmod(col("user_id"), lit(8)), statCol = "event_id",
      bloomCol = Some("event_id"),
      bloomBytes = math.max(1024L, (span / 8 * 10 + 7) / 8).toInt)
    val df = lakeRead(root).where(col("event_id") === span / 2)
    val scan = plannedScan(df)
    assert(scan.files.length < scan.filesTotal,
      s"bloom pruned nothing: ${scan.description()}")
    // no false negatives: the probed row comes back exactly once
    assert(df.count() === 1)
  }

  test("count/min/max aggregates are answered from the manifest, zero files opened") {
    val (root, span) = fixture()
    val df = lakeRead(root).agg(
      count(lit(1)).as("n_events"),
      min(col("event_id")).as("min_id"),
      max(col("event_id")).as("max_id"))
    val aggScan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.collectFirst { case a: graft.sources.LakeAggScan => a }
    assert(aggScan.isDefined,
      s"aggregate not pushed:\n${df.queryExecution.executedPlan}")
    val r = df.head()
    assert(r.getLong(0) === span)
    assert(r.getLong(1) === 0L)
    assert(r.getLong(2) === span - 1)
  }

  test("a filtered aggregate does NOT take the manifest fast path") {
    // manifest stats are file-granularity: straddling files would
    // over-count a filtered aggregate, so the filter must force the
    // data path — correctness over cleverness
    val (root, span) = fixture()
    val df = lakeRead(root)
      .where(col("event_id") < span / 3)
      .agg(count(lit(1)).as("n_events"))
    val aggScan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.collectFirst { case a: graft.sources.LakeAggScan => a }
    assert(aggScan.isEmpty, "filtered agg must not use manifest stats")
    assert(df.head().getLong(0) === span / 3)
  }

  test("lake composes with the SQL surface: CREATE TABLE USING + spark.table") {
    val (root, span) = fixture()
    spark.sql("DROP TABLE IF EXISTS lake_sql_tbl")
    graft.sources.Housekeeping.tables(spark, "lakeconn_sql", Seq("lake_sql_tbl"))
    spark.sql(s"""
      CREATE TABLE lake_sql_tbl
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root')""")
    // plain SQL over the lake table: predicate must reach the
    // manifest prune exactly like the DataFrame path
    val df = spark.sql(
      s"SELECT count(*) AS n FROM lake_sql_tbl WHERE event_id < ${span / 4}")
    assert(df.head().getLong(0) === span / 4)
    val scan = plannedScan(spark.table("lake_sql_tbl")
      .where(col("event_id") < span / 4))
    assert(scan.files.length === 2, s"SQL path lost pruning: ${scan.description()}")
  }

  test("count() over an aggregate over the connector survives the empty-Aggregation probe") {
    // Spark prunes the inner aggregate's functions to NOTHING when an
    // outer count(*) only needs row existence, then probes the source
    // with an EMPTY Aggregation — accepting that push while building
    // a data scan trips Spark's pushed-agg column-count assertion
    // (the q81 catalog-sweep regression)
    val (root, _) = fixture()
    val inner = lakeRead(root)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
      .select(lit("v1").as("snap"), col("n"), col("sc"))
    assert(inner.count() === 1L)
  }

  test("connector reads are columnar: vectorized batches, not row decode") {
    val (root, span) = fixture()
    val df = lakeRead(root).where(col("event_id") < span / 2)
    val scanExec = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[LakeScan] => b
    }.headOption.getOrElse(fail("no LakeScan in plan"))
    assert(scanExec.supportsColumnar,
      "LakeScan fell off the columnar path — row-at-a-time decode is " +
        "the 100TB penalty the vectorized reader exists to remove")
    val factory = scanExec.scan.toBatch.createReaderFactory()
    val parts = scanExec.scan.toBatch.planInputPartitions()
    assert(parts.nonEmpty && parts.forall(factory.supportColumnarReads))
    // and the values coming off the columnar path are the same ones
    assert(df.count() === span / 2)
  }

  test("a large file splits into row-group partitions; small files stay whole") {
    val root = Housekeeping.tempDir("lakeconn_split")
    val n = 200000L
    // deterministic dense frame big enough to carry many row groups
    val ev = spark.range(0, n).selectExpr("id AS event_id",
      "id % 97 AS user_id", "(id * 31) % 100000 AS cents")
    // one data file with many small row groups (tiny writer block
    // size), read back under a split budget that forces fan-out
    SnapshotLake.commit(spark, root, ev.coalesce(1), "event_id",
      writeOptions = Map("parquet.block.size" -> "16384",
        "parquet.page.size" -> "4096"))
    // any other writer key is refused, by name, before anything stages
    val refused = intercept[IllegalArgumentException](
      SnapshotLake.commit(spark, root, ev, "event_id",
        writeOptions = Map("parquet.block.size" -> "16384",
          "compression" -> "zstd")))
    assert(refused.getMessage.contains("'compression'"))
    assert(SnapshotLake.headVersion(root) === 0)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(root, "_staging"))
      .count() === 0)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    try {
      val df = lakeRead(root)
      val scan = plannedScan(df)
      val parts = scan.toBatch.planInputPartitions()
      assert(scan.files.head.bytes > 64 * 1024,
        s"fixture file too small to exercise splitting: ${scan.files}")
      assert(parts.length > 1,
        s"one ${parts.length}-partition plan for a multi-row-group file")
      // exactness across the split boundaries: every row exactly once
      assert(df.count() === n)
      assert(df.agg(sum(col("event_id"))).head().getLong(0) ===
        (n - 1) * n / 2) // dense ids 0..n-1
      // and a pushed range still prunes row-group runs' parent file
      // list the same way (file-level prune composes with splits)
      assert(df.where(col("event_id") < 1000).count() === 1000)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("pruned manifest stats reach Spark as table statistics") {
    val (root, span) = fixture()
    val df = lakeRead(root).where(col("event_id") < span / 4)
    val scan = plannedScan(df)
    val stats = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    // 2 of 8 kept files -> exact row count from the manifest, and a
    // real byte size (not "unknown = huge") for CBO build-side picks
    assert(stats.numRows.getAsLong === span / 4)
    assert(stats.sizeInBytes.getAsLong > 0)
    val whole = plannedScan(lakeRead(root)).asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(whole.numRows.getAsLong === span)
    assert(stats.sizeInBytes.getAsLong < whole.sizeInBytes.getAsLong)
  }

  test("filters stay residual — straddling predicates return exact rows") {
    val (root, span) = fixture()
    // a window deliberately misaligned with the 8 file boundaries
    val lo = span / 3
    val hi = span * 2 / 3
    val df = lakeRead(root)
      .where(col("event_id") >= lo && col("event_id") < hi)
    assert(df.count() === hi - lo) // dense ids: exact row-level result
  }

  test("manifest column statistics flow to catalyst under CBO") {
    val (root, span) = fixture()
    val ss = spark.newSession()
    ss.conf.set("spark.sql.cbo.enabled", "true")
    val df = ss.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
    val prev = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(ss)
    try {
      val attr = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats.attributeStats
      }.head
      val (a, cs) = attr.find(_._1.name == "event_id").getOrElse(
        fail("no event_id column stats"))
      // dense ids 0..span-1: ndv = min(rows, span) = span, exact bounds
      assert(cs.distinctCount === Some(BigInt(span)))
      assert(cs.min === Some(0L))
      assert(cs.max === Some(span - 1))
      assert(cs.nullCount === Some(BigInt(0)))
    } finally prev.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
  }
}
