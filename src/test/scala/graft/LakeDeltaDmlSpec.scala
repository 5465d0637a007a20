package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{LakeStaged, SnapshotLake}

/** SQL UPDATE/MERGE/DELETE through the DSv2 DELTA protocol
  * (`SupportsDelta`) on `dv=true` tables: the `_pos` metadata
  * column, vector-growth-instead-of-rewrite for every SQL DML verb,
  * row parity against the group-CoW path, and change-feed
  * classification of a delta UPDATE.
  */
class LakeDeltaDmlSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("lake_delta_").toString

  /** 4 clustered files over k = 0 until 400, file i = [100i, 100i+99]. */
  private def clustered4(root: String): Unit = {
    val bucket = (1 to 3).foldLeft(lit(0)) { (acc, i) =>
      when(col("k") >= i * 100, lit(i)).otherwise(acc)
    }
    SnapshotLake.commitClustered(spark, root,
      (0L until 400L).map(i => (i, i * 7)).toDF("k", "v"), bucket, "k")
  }

  private def mkTable(name: String, root: String, dv: Boolean): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"""
      CREATE TABLE $name (k BIGINT, v BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'k'${if (dv) ", dv 'true'" else ""})""")
  }

  test("_pos metadata column surfaces physical row positions, pre-deletion-vector") {
    val root = freshRoot()
    clustered4(root)
    mkTable("dml_pos", root, dv = true)
    val pos = spark.sql(
      "SELECT k, _pos FROM dml_pos WHERE k >= 100 AND k < 104 ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    // file [100,199] is sorted by k: physical position == k - 100
    assert(pos === Seq((100L, 0L), (101L, 1L), (102L, 2L), (103L, 3L)))
    // vector out position 1 (k=101): survivors KEEP their physical
    // positions — _pos is pre-filter identity, not a running index
    SnapshotLake.deleteRows(spark, root, col("k") === 101L)
    val pos2 = spark.sql(
      "SELECT k, _pos FROM dml_pos WHERE k >= 100 AND k < 104 ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(pos2 === Seq((100L, 0L), (102L, 2L), (103L, 3L)))
  }

  test("SQL UPDATE on a dv table: zero rewrites — vectors grow, one post-image file appends") {
    val root = freshRoot()
    clustered4(root)
    mkTable("dml_upd", root, dv = true)
    val before = SnapshotLake.snapshot(root)
    spark.sql("UPDATE dml_upd SET v = -1 WHERE k % 100 = 7")
    val after = SnapshotLake.snapshot(root)
    assert(after.op === Some("update"))
    // every original file survives BY NAME (nothing rewritten), each
    // carrying a 1-position vector; post-images land as fresh files
    val beforeNames = before.files.map(_.name).toSet
    assert(after.files.count(f => beforeNames(f.name)) === 4)
    assert(after.files.filter(f => beforeNames(f.name))
      .forall(_.dv.exists(_.count === 1L)))
    assert(after.files.exists(f => !beforeNames(f.name)))
    val got = spark.table("dml_upd").where(col("k") % 100 === 7)
      .select("v").as[Long].collect().toSeq
    assert(got === Seq(-1L, -1L, -1L, -1L))
    assert(spark.table("dml_upd").count() === 400L)
  }

  test("SQL DELETE with a non-pushable predicate routes delta: vectors, no rewrites") {
    val root = freshRoot()
    clustered4(root)
    mkTable("dml_del", root, dv = true)
    val before = SnapshotLake.snapshot(root)
    // k % 10 = 3 is neither a stat range nor a point/IN — the fast
    // paths refuse, the DELTA rewrite lands it as vectors
    spark.sql("DELETE FROM dml_del WHERE k % 10 = 3")
    val after = SnapshotLake.snapshot(root)
    assert(after.op === Some("delete"))
    assert(after.files.map(_.name).toSet === before.files.map(_.name).toSet)
    assert(after.files.forall(_.dv.exists(_.count === 10L)))
    assert(spark.table("dml_del").count() === 360L)
    assert(spark.table("dml_del").where(col("k") % 10 === 3).count() === 0L)
  }

  test("MERGE INTO a dv table: matched rows vector out, updates and inserts append") {
    val root = freshRoot()
    clustered4(root)
    mkTable("dml_mrg", root, dv = true)
    Seq((7L, 1000L), (250L, 2000L), (999L, 3000L))
      .toDF("k", "v").createOrReplaceTempView("dml_mrg_src")
    val before = SnapshotLake.snapshot(root)
    spark.sql("""
      MERGE INTO dml_mrg t USING dml_mrg_src s ON t.k = s.k
      WHEN MATCHED AND s.k = 250 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val after = SnapshotLake.snapshot(root)
    assert(after.op === Some("merge"))
    val beforeNames = before.files.map(_.name).toSet
    assert(after.files.count(f => beforeNames(f.name)) === 4)
    // k=7 (update pre-image) and k=250 (delete) vectored: two files
    // carry 1-position vectors, the other two stay clean
    assert(after.files.filter(f => beforeNames(f.name))
      .flatMap(_.dv).map(_.count).sorted === Seq(1L, 1L))
    val m = spark.table("dml_mrg").as[(Long, Long)].collect().toMap
    assert(m(7L) === 1000L)
    assert(!m.contains(250L))
    assert(m(999L) === 3000L)
    assert(m.size === 400L) // 400 - 1 deleted + 1 inserted
  }

  test("delta UPDATE row parity with the group-CoW path; CDF classifies it as updates") {
    val rootDv = freshRoot()
    val rootCow = freshRoot()
    clustered4(rootDv)
    clustered4(rootCow)
    spark.sql(s"DROP TABLE IF EXISTS dml_par_dv")
    spark.sql(s"""
      CREATE TABLE dml_par_dv (k BIGINT, v BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$rootDv', statCol 'k', dv 'true',
               changefeed 'true')""")
    mkTable("dml_par_cow", rootCow, dv = false)
    for (t <- Seq("dml_par_dv", "dml_par_cow"))
      spark.sql(s"UPDATE $t SET v = v * 2 WHERE k % 3 = 1")
    val a = spark.table("dml_par_dv").orderBy("k")
      .as[(Long, Long)].collect().toSeq
    val b = spark.table("dml_par_cow").orderBy("k")
      .as[(Long, Long)].collect().toSeq
    assert(a === b)
    // economcis differ: the dv table kept all four files by name;
    // the CoW table rewrote every touched file
    assert(SnapshotLake.snapshot(rootDv).files
      .count(_.dv.isDefined) === 4)
    // the change feed replays the delta version as proper updates
    // (post-image rows), one per touched key
    val v = SnapshotLake.snapshot(rootDv).version
    val cdf = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", rootDv).option("readChangeFeed", "true")
      .option("startingVersion", v.toString)
      .option("endingVersion", v.toString).load()
    val byType = cdf.groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    assert(byType === Map("update" -> (0L until 400L)
      .count(_ % 3 == 1).toLong))
  }

  test("a vector change landing between scan and commit conflicts a post-image commit") {
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    clustered4(root)
    val v0 = SnapshotLake.headVersion(root)
    // a concurrent DELETE lands AFTER the row-level scan was planned
    // — commit-time head now differs from the scanned version
    SnapshotLake.deleteRows(spark, root, col("k") === 101L)
    // stage a post-image file, as the delta writer would
    val stage = java.nio.file.Paths.get(
      graft.sources.LakeWrite.stagingDir(root))
    Files.createDirectories(stage)
    val tmp = Files.createTempDirectory("dml_stage_").toString
    Seq((102L, -1L)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = Files.list(java.nio.file.Paths.get(tmp))
      .iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val name = "race-post-image.parquet"
    Files.copy(part, stage.resolve(name))
    val file = SnapshotLake.snapshot(root, Some(v0)).files
      .find(f => f.lo <= 102 && f.hi >= 102).get
    // positions computed from v0 (k=102 → physical position 2):
    // carrying a post-image, the commit must refuse — base == head
    // would have slipped the guard had base been read at commit time
    val spec = SnapshotLake.Dv.fromPositions(Array(2L)).b64
    val ex = intercept[SnapshotLake.MergeConflictException] {
      SnapshotLake.commitDeltaOps(spark, root,
        Map(s"$root/${file.name}" -> Seq(spec)),
        inserted = Seq(LakeStaged(name, 1L,
          Files.size(stage.resolve(name)))), op = "update",
        scannedVersion = Some(v0))
    }
    assert(ex.getMessage.contains("deletion-vector change"))
    // the same positions as a PURE delete tolerate the race: the
    // vector union is idempotent, delete∪delete stays exact
    val res = SnapshotLake.commitDeltaOps(spark, root,
      Map(s"$root/${file.name}" -> Seq(spec)),
      inserted = Seq.empty, op = "delete", scannedVersion = Some(v0))
    assert(res.rowsDeleted === 1L)
    assert(SnapshotLake.read(spark, root)
      .where(col("k").isin(101L, 102L)).count() === 0L)
  }
}
