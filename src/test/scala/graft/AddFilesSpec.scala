package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.{LakeScan, SnapshotLake}

/** `add_files` — import by reference (Iceberg's add_files / the
  * register half of Delta's CONVERT): external parquet joins the
  * manifest by absolute path with a full stat envelope, zero bytes
  * moved. The judged q186 carries the happy path; this spec pins the
  * REFUSAL gates and the ownership contract under vacuum.
  */
class AddFilesSpec extends SparkTestBase {
  import spark.implicits._

  private val cat = "graft_addf_cat"
  private lazy val suiteBase: String =
    Files.createTempDirectory("lake_addf_").toString

  private def withCatalog(body: => Unit): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", suiteBase)
    body
  }

  private def extDir(rows: Seq[(Long, Long)]): String = {
    val d = Files.createTempDirectory("addf_ext_").toString
    rows.toDF("k", "cents").coalesce(1)
      .write.mode("overwrite").parquet(d)
    d
  }

  test("imported files carry the full stat envelope: range prune, " +
      "manifest-answered SUM, and exact reads over borrowed refs") {
    withCatalog {
      spark.sql(s"""
        CREATE TABLE $cat.af (k BIGINT, cents BIGINT)
        TBLPROPERTIES ('statCol' = 'k')""")
      spark.sql(s"INSERT INTO $cat.af SELECT id, id * 2 FROM range(100)")
      val ext = extDir((100L until 200L).map(i => (i, i * 2)))
      val r = spark.sql(s"CALL $cat.add_files(table => 'af', " +
        s"source_dir => '$ext')").head
      assert(r.getLong(0) === 1L) // version
      assert(r.getLong(1) === 1L) // files_added
      assert(r.getLong(2) === 100L) // rows_added
      val snap = SnapshotLake.snapshot(s"$suiteBase/af")
      assert(snap.files.count(_.name.startsWith("/")) === 1)
      // range prune plans ONLY the imported file for its slice
      val q = spark.table(s"$cat.af").where(col("k") >= 150L)
      val scan = LakeScan.findIn(q.queryExecution.executedPlan).get
      assert(scan.files.length === 1)
      assert(q.count() === 50L)
      // totals exact across owned + borrowed
      assert(spark.table(s"$cat.af").agg(sum(col("cents")))
        .head.getLong(0) === (0L until 200L).map(_ * 2).sum)
    }
  }

  test("imported stat values equal the reference aggregate over each " +
      "file; a zero-row file records no entry") {
    import scala.jdk.CollectionConverters._
    def fields(f: SnapshotLake.FileStat) =
      (f.name, f.lo, f.hi, f.rows, f.sum, f.dim2, f.bloom.map(_.toSeq),
        f.bytes, f.cstats)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr("id AS k",
      "cast(id % 17 AS int) AS n",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('s-', id % 41) END AS s")
    withCatalog {
      spark.sql(s"""
        CREATE TABLE $cat.pv (k BIGINT, n INT, s STRING)
        TBLPROPERTIES ('statCol' = 'k')""")
      spark.sql(s"INSERT INTO $cat.pv " +
        "SELECT id, cast(id AS int), 'x' FROM range(10)")
      val ext = Files.createTempDirectory("addf_vals_").toString
      rows(100, 1300).repartitionByRange(3, col("k"))
        .write.mode("overwrite").parquet(ext)
      // a zero-row file of the same schema beside the three
      val empty = Files.createTempDirectory("addf_empty_").toString
      rows(0, 0).coalesce(1).write.mode("overwrite").parquet(empty)
      Files.copy(Files.list(Paths.get(empty)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get,
        Paths.get(ext, "part-zero-rows.parquet"))
      val dataFiles = Files.list(Paths.get(ext)).iterator().asScala
        .map(_.toAbsolutePath.normalize.toString)
        .filter(_.endsWith(".parquet")).toSeq
      assert(dataFiles.size === 4)
      val r = spark.sql(s"CALL $cat.add_files(table => 'pv', " +
        s"source_dir => '$ext')").head
      assert(r.getLong(1) === 3L) // files_added
      assert(r.getLong(2) === 1200L) // rows_added
      val imported = SnapshotLake.snapshot(s"$suiteBase/pv").files
        .filter(_.name.startsWith("/"))
      val ref = graft.sources.TaskSideStatsSpec.reference(spark, dataFiles,
        "k", None, 1024, None)
      assert(ref.size === 3) // the zero-row file forms no group
      assert(imported.map(_.name).toSet === ref.keySet)
      imported.foreach(f => assert(fields(f) === fields(ref(f.name))))
      assert(imported.forall(f => f.cstats.keySet === Set("n", "s") &&
        f.cstats.values.forall(_.kmv.nonEmpty) && f.cstats("s").nulls > 0))
      assert(spark.table(s"$cat.pv").count() === 1210L)
    }
  }

  test("refusal gates: source inside the lake root; column-mapped " +
      "chain; missing table") {
    withCatalog {
      spark.sql(s"""
        CREATE TABLE $cat.rg (k BIGINT, cents BIGINT)
        TBLPROPERTIES ('statCol' = 'k')""")
      spark.sql(s"INSERT INTO $cat.rg SELECT id, id FROM range(10)")
      val inRoot = s"$suiteBase/rg/data"
      val e1 = intercept[Exception](
        SnapshotLake.addFiles(spark, s"$suiteBase/rg", inRoot))
      assert(e1.getMessage.contains("inside the lake root"))
      val e3 = intercept[Exception](spark.sql(
        s"CALL $cat.add_files(table => 'nope', source_dir => '/tmp')")
        .collect())
      assert(e3.getMessage.contains("no table"))
      // a renamed (column-mapped) chain refuses: external files
      // carry logical names the mapped schema would mis-resolve
      spark.sql(s"ALTER TABLE $cat.rg RENAME COLUMN cents TO pennies")
      val ext = extDir(Seq((100L, 1L)))
      val e2 = intercept[Exception](spark.sql(
        s"CALL $cat.add_files(table => 'rg', source_dir => '$ext')")
        .collect())
      assert(e2.getMessage.contains("column-mapped"))
    }
  }

  test("re-importing the same directory refuses (duplicate names " +
      "would double-count); a widened external schema imports AND " +
      "its extra column is readable") {
    withCatalog {
      spark.sql(s"""
        CREATE TABLE $cat.dg (k BIGINT, cents BIGINT)
        TBLPROPERTIES ('statCol' = 'k')""")
      spark.sql(s"INSERT INTO $cat.dg SELECT id, id FROM range(10)")
      val ext = extDir((10L until 20L).map(i => (i, i)))
      spark.sql(s"CALL $cat.add_files(table => 'dg', " +
        s"source_dir => '$ext')").collect(): Unit
      val e = intercept[Exception](spark.sql(
        s"CALL $cat.add_files(table => 'dg', source_dir => '$ext')")
        .collect())
      assert(e.getMessage.contains("already referenced"))
      assert(spark.table(s"$cat.dg").count() === 20L)
      // widening import: external files carry an EXTRA column — the
      // evolution guard permits it and the commit must make the
      // column visible, exactly like a widening append
      val wide = Files.createTempDirectory("addf_wide_").toString
      (20L until 25L).map(i => (i, i, s"src-$i"))
        .toDF("k", "cents", "origin").coalesce(1)
        .write.mode("overwrite").parquet(wide)
      spark.sql(s"CALL $cat.add_files(table => 'dg', " +
        s"source_dir => '$wide')").collect(): Unit
      val cols = spark.table(s"$cat.dg").schema.fieldNames.toSeq
      assert(cols.contains("origin"),
        s"widened column invisible after import: $cols")
      assert(spark.table(s"$cat.dg")
        .where(col("origin").isNotNull).count() === 5L)
      assert(spark.table(s"$cat.dg").count() === 25L)
    }
  }

  test("ownership under vacuum: an OVERWRITE drops the borrowed " +
      "refs from the head, and vacuum reclaims owned dead files " +
      "while never touching the external bytes") {
    withCatalog {
      spark.sql(s"""
        CREATE TABLE $cat.ov (k BIGINT, cents BIGINT)
        TBLPROPERTIES ('statCol' = 'k')""")
      spark.sql(s"INSERT INTO $cat.ov SELECT id, id FROM range(50)")
      val root = s"$suiteBase/ov"
      val ownedV0 = SnapshotLake.snapshot(root).files.map(_.name)
      val ext = extDir((50L until 80L).map(i => (i, i)))
      spark.sql(s"CALL $cat.add_files(table => 'ov', " +
        s"source_dir => '$ext')").collect(): Unit
      val borrowedName = SnapshotLake.snapshot(root).files
        .map(_.name).find(_.startsWith("/")).get
      spark.sql(
        s"INSERT OVERWRITE $cat.ov SELECT id, id FROM range(5)")
      val (dropped, deleted) = SnapshotLake.vacuum(root, 1)
      assert(dropped === 2)
      // owned v0 file reclaimed; the borrowed file's BYTES survive
      // (they belong to the external directory, never this chain)
      assert(ownedV0.forall(n => !Files.exists(Paths.get(root, n))))
      assert(Files.exists(Paths.get(borrowedName)))
      assert(deleted >= 1)
      assert(spark.table(s"$cat.ov").count() === 5L)
    }
  }
}
