package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{
  Housekeeping, LakeBatchWrite, LakeDataWriter, LakeStaged, LakeWrite,
  SnapshotLake, StatsSpec}

/** The lake's DSv2 WRITE path: SQL INSERT / df.write land as real
  * lake commits (stats pass + optimistic manifest publish) through a
  * two-phase task protocol where visibility equals the acknowledged
  * commit-message set — the LedgerSink discipline upgraded to
  * parquet + manifest publication.
  */
class LakeWriteSpec extends SparkTestBase {
  import spark.implicits._

  private val Fmt = "graft.sources.GraftLakeSource"

  private def lakeRead(root: String, version: Option[Int] = None) = {
    val r = spark.read.format(Fmt).option("path", root)
    version.fold(r)(v => r.option("version", v.toString)).load()
  }

  test("df.write bootstraps an empty lake, appends, and overwrites — with time travel intact") {
    val root = Housekeeping.tempDir("lakew_rw")
    val a = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("event_id", "cents")
    a.write.format(Fmt).option("path", root).option("statCol", "event_id")
      .mode("append").save()
    assert(SnapshotLake.headVersion(root) === 0)
    assert(lakeRead(root).orderBy("event_id").collect().map(_.getLong(1)).toSeq
      === Seq(10L, 20L, 30L))
    // append: statCol inherited from the chain, no option needed
    Seq((4L, 40L)).toDF("event_id", "cents")
      .write.format(Fmt).option("path", root).mode("append").save()
    assert(SnapshotLake.headVersion(root) === 1)
    assert(lakeRead(root).count() === 4)
    // overwrite = logical replace; v1 still readable as-of
    Seq((9L, 90L)).toDF("event_id", "cents")
      .write.format(Fmt).option("path", root).mode("overwrite").save()
    assert(SnapshotLake.headVersion(root) === 2)
    assert(lakeRead(root).collect().map(_.getLong(0)).toSeq === Seq(9L))
    assert(lakeRead(root, Some(1)).count() === 4)
    // staging drained after every commit
    assert(Option(new File(LakeWrite.stagingDir(root)).listFiles())
      .forall(_.isEmpty))
  }

  test("committed files carry real manifest stats: the write path feeds the read prune") {
    val root = Housekeeping.tempDir("lakew_stats")
    // 4 tasks -> 4 staged files with disjoint id ranges
    spark.range(0, 4000).selectExpr("id AS event_id", "id * 3 AS cents")
      .repartitionByRange(4, col("event_id"))
      .write.format(Fmt).option("path", root).option("statCol", "event_id")
      .mode("append").save()
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.length === 4)
    assert(snap.files.map(_.rows).sum === 4000)
    assert(snap.files.forall(f => f.bytes > 0))
    // the range clustering written by tasks must prune through the
    // connector exactly like an API commitClustered would
    val df = lakeRead(root).where(col("event_id") < 1000)
    val scan = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collectFirst { case l: graft.sources.LakeScan => l }.get
    assert(scan.files.length < scan.filesTotal,
      s"write-side stats prune nothing: ${scan.description()}")
    assert(df.count() === 1000)
  }

  test("zombie staged files never surface; abort leaves the table untouched") {
    val root = Housekeeping.tempDir("lakew_zombie")
    Seq((1L, 10L)).toDF("event_id", "cents")
      .write.format(Fmt).option("path", root).option("statCol", "event_id")
      .mode("append").save()
    val schema = lakeRead(root).schema
    val conf = LakeWrite.writeConf(schema)
    def stage(id: Long, cents: Long, task: Long): LakeStaged = {
      val w = new LakeDataWriter(root, conf, 0, task,
        statsSpec = Some(StatsSpec("event_id", None, 1024, None)))
      w.write(InternalRow(id, cents))
      w.commit().asInstanceOf[LakeStaged]
    }
    val acked = stage(2L, 20L, 1L)
    stage(3L, 666L, 2L) // zombie attempt: staged, message LOST
    new LakeBatchWrite(root, schema, overwrite = false, Map.empty)
      .commit(Array(acked))
    assert(lakeRead(root).orderBy("event_id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L), "zombie row surfaced")
    // the orphan is still in staging, named by no manifest
    assert(new File(LakeWrite.stagingDir(root)).listFiles().length === 1)
    // abort drains its own staged files and publishes nothing
    val v = SnapshotLake.headVersion(root)
    val aborted = stage(4L, 40L, 3L)
    new LakeBatchWrite(root, schema, overwrite = false, Map.empty)
      .abort(Array(aborted))
    assert(SnapshotLake.headVersion(root) === v)
    assert(lakeRead(root).count() === 2)
  }

  test("pure-SQL lifecycle: CREATE TABLE (declared schema) + INSERT INTO + INSERT OVERWRITE") {
    val root = Housekeeping.tempDir("lakew_sql")
    spark.sql("DROP TABLE IF EXISTS lakew_sql_tbl")
    Housekeeping.tables(spark, "lakew_sql_tbl", Seq("lakew_sql_tbl"))
    spark.sql(s"""
      CREATE TABLE lakew_sql_tbl (event_id BIGINT, cents BIGINT)
      USING $Fmt
      OPTIONS (path '$root', statCol 'event_id')""")
    spark.sql(
      "INSERT INTO lakew_sql_tbl VALUES (1, 100), (2, 200), (3, 300)")
    assert(spark.sql("SELECT sum(cents) FROM lakew_sql_tbl")
      .head().getLong(0) === 600L)
    spark.sql("INSERT INTO lakew_sql_tbl SELECT id + 10, id FROM range(5)")
    assert(spark.table("lakew_sql_tbl").count() === 8L)
    assert(SnapshotLake.headVersion(root) === 1)
    spark.sql("INSERT OVERWRITE lakew_sql_tbl VALUES (7, 700)")
    assert(spark.table("lakew_sql_tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((7L, 700L)))
    // overwrite was logical: v1 still time-travels through the reader
    assert(lakeRead(root, Some(1)).count() === 8L)
  }

  test("txnAppId/txnVersion make writes idempotent across replays") {
    val root = Housekeeping.tempDir("lakew_txn")
    def put(batch: Long, cents: Long): Unit =
      Seq((batch, cents)).toDF("event_id", "cents")
        .write.format(Fmt).option("path", root)
        .option("statCol", "event_id")
        .option("txnAppId", "writerA").option("txnVersion", batch.toString)
        .mode("append").save()
    put(0L, 10L)
    put(1L, 20L)
    put(1L, 999L) // replay of batch 1: must be a no-op
    assert(SnapshotLake.headVersion(root) === 1)
    assert(lakeRead(root).agg(sum(col("cents"))).head().getLong(0) === 30L)
    // and the replayed attempt left nothing staged
    assert(Option(new File(LakeWrite.stagingDir(root)).listFiles())
      .forall(_.isEmpty))
  }

  test("typed roundtrip: strings/doubles/timestamps survive writer->vectorized reader") {
    val root = Housekeeping.tempDir("lakew_types")
    val df = spark.sql("""
      SELECT id AS event_id, concat('u', id) AS tag, id * 1.5 AS score,
             timestamp'2026-01-02 03:04:05' + make_interval(0,0,0,0,0,0,id)
               AS ts
      FROM range(100)""")
    df.write.format(Fmt).option("path", root).option("statCol", "event_id")
      .mode("append").save()
    val back = lakeRead(root)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    val got = back.orderBy("event_id").collect()
    val want = df.orderBy("event_id").collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) => assert(g === w) }
  }

  test("q107 judged query: SQL-grown lake matches the base-table recomputation") {
    val d = sf("sf0.001")
    val r = graft.sources.LakeWriteQueries.q107LakeInsertSql(spark, d).head()
    val want = graft.sources.Tables.events(spark, d)
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("s"),
        min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
      .head()
    assert(r.getLong(0) === 1L, "head version: v0 bootstrap + 1 append")
    assert(r.getLong(1) === want.getLong(0))
    assert(r.getLong(2) === want.getLong(1))
    assert(r.getLong(3) === want.getLong(2))
    assert(r.getLong(4) === want.getLong(3))
  }

  test("q108: DSv2 streaming sink is exactly-once across a lost-checkpoint restart") {
    val d = sf("sf0.001")
    val got = graft.streaming.StreamingGate.q108StreamSinkDsv2(spark, d)
    val want = graft.sources.Tables.events(spark, d).select(
      col("event_id"), col("user_id"),
      coalesce(round(col("value") * 100).cast("long"), lit(0L)).as("cents"))
    assert(got.count() === want.count(), "lost or duplicated events")
    assert(got.agg(sum(col("cents"))).head().getLong(0) ===
      want.agg(sum(col("cents"))).head().getLong(0))
    // the replayed epoch 0 must NOT have bumped the version chain:
    // epoch 0 (first query) + epoch 1 (new data) = exactly 2 commits
    assert(got.select(col("event_id")).distinct().count() === want.count())
  }

  test("writes to a time-travel snapshot are refused") {
    val root = Housekeeping.tempDir("lakew_asof")
    Seq((1L, 10L)).toDF("event_id", "cents")
      .write.format(Fmt).option("path", root).option("statCol", "event_id")
      .mode("append").save()
    val e = intercept[Exception] {
      Seq((2L, 20L)).toDF("event_id", "cents")
        .write.format(Fmt).option("path", root).option("version", "0")
        .mode("append").save()
    }
    assert(e.getMessage.contains("time-travel"))
  }

  test("append to a statCol-mismatched chain is refused (provenance rule holds on the SQL path)") {
    val root = Housekeeping.tempDir("lakew_prov")
    Seq((1L, 10L)).toDF("event_id", "cents")
      .write.format(Fmt).option("path", root).option("statCol", "event_id")
      .mode("append").save()
    val e = intercept[Exception] {
      Seq((2L, 20L)).toDF("event_id", "cents")
        .write.format(Fmt).option("path", root).option("statCol", "cents")
        .mode("append").save()
    }
    assert(e.getMessage.contains("statCol") ||
      e.getMessage.contains("stat column"))
  }
}
