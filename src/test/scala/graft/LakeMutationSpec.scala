package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.SnapshotLake
import graft.sources.SnapshotLake.MergeConflictException

/** The lake's mutating maintenance verbs: DELETE (metadata-only fast
  * path vs boundary rewrite) and OPTIMIZE (row-budget bin-packing in
  * stat-range order). Both must be content-exact, classify files
  * correctly, preserve the clustered layout's prunability, and obey
  * the same optimistic-concurrency contract as MERGE.
  */
class LakeMutationSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("lake_mut_").toString

  private def tbl(ids: Range) =
    ids.map(i => (i.toLong, i.toLong * 7)).toDF("k", "v")

  /** 8 range-clustered files over k = 0 until 800, file i = [100i, 100i+99]. */
  private def clustered8(root: String): Unit = {
    val bucket = (1 to 7).foldLeft(lit(0)) { (acc, i) =>
      when(col("k") >= i * 100, lit(i)).otherwise(acc)
    }
    SnapshotLake.commitClustered(spark, root, tbl(0 until 800), bucket, "k")
  }

  test("delete classifies files: full-range drops are metadata-only, straddlers rewrite") {
    val root = freshRoot()
    clustered8(root)
    val before = SnapshotLake.snapshot(root)
    // [150, 450): clips file 1, covers files 2-3, clips file 4
    val res = SnapshotLake.delete(spark, root, 150L, 450L)
    assert(res.filesDropped === 2)
    assert(res.filesRewritten === 2)
    assert(res.filesKept === 4)
    assert(res.rowsDeleted === 300L)
    val after = SnapshotLake.snapshot(root)
    // dropped + kept files are carried BY NAME — never rewritten
    val beforeNames = before.files.map(_.name).toSet
    val carried = after.files.filter(f => beforeNames(f.name))
    assert(carried.size === 4)
    // surviving rows = exact complement
    val ks = SnapshotLake.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq
    assert(ks === ((0L until 150L) ++ (450L until 800L)))
    // rewritten files carry fresh, tight stats
    val rewritten = after.files.filterNot(f => beforeNames(f.name)).sortBy(_.lo)
    assert(rewritten.map(f => (f.lo, f.hi, f.rows)) ===
      Seq((100L, 149L, 50L), (450L, 499L, 50L)))
    // pre-delete snapshot still reads in full (time travel untouched)
    assert(SnapshotLake.read(spark, root, Some(before.version)).count() === 800L)
  }

  test("delete rewrites 100 straddling overlapping files without deep expression trees") {
    val root = freshRoot()
    // 100 unclustered appends, each spanning the whole key domain:
    // file i holds k ∈ {i, 1000+i, 2000+i, ..., 9000+i} — every file
    // straddles any interior range, the router's worst case
    val wide = (0 until 100).map { i =>
      (0 until 10).map(j => ((j * 1000 + i).toLong, i.toLong)).toDF("k", "v")
        .coalesce(1)
    }.reduce(_ unionAll _)
    // one commit of 100 files via per-file bucket (i = k mod 1000)
    SnapshotLake.commitClustered(spark, root, wide, pmod(col("k"), lit(1000)),
      "k")
    assert(SnapshotLake.snapshot(root).files.size === 100)
    // [500, 9500) clips every file: 0 dropped, 100 rewritten
    val res = SnapshotLake.delete(spark, root, 500L, 9500L)
    assert(res.filesDropped === 0)
    assert(res.filesRewritten === 100)
    assert(res.filesKept === 0)
    val after = SnapshotLake.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq
    val expected = (0 until 100).flatMap(i =>
      Seq(i.toLong, (9000 + i).toLong)).filter(k => k < 500 || k >= 9500)
      .sorted
    assert(after === expected)
    // layout preserved: one output file per straddling source file
    assert(SnapshotLake.snapshot(root).files.size === 100)
  }

  test("SQL DELETE FROM routes through SupportsDeleteV2 to the metadata fast path") {
    val root = freshRoot()
    clustered8(root)
    spark.sql("DROP TABLE IF EXISTS lake_del_sql")
    spark.sql(s"""
      CREATE TABLE lake_del_sql (k BIGINT, v BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'k')""")
    try {
      spark.sql("DELETE FROM lake_del_sql WHERE k >= 150 AND k < 450")
      val after = SnapshotLake.snapshot(root)
      assert(after.op === Some("delete"), "SQL DELETE did not reach the lake verb")
      // files 2-3 fully covered -> dropped unopened; files 1 and 4
      // straddle -> rewritten; 4 carried
      assert(after.files.size === 6)
      val ks = spark.table("lake_del_sql").select("k").as[Long]
        .collect().sorted.toSeq
      assert(ks === ((0L until 150L) ++ (450L until 800L)))
      // a predicate not expressible as a stat-column range falls back
      // to the copy-on-write row-level path (LakeRowLevelSpec pins
      // it); here: it deletes exactly the named row, nothing else
      spark.sql("DELETE FROM lake_del_sql WHERE v = 7")
      assert(spark.table("lake_del_sql").count() === 499L)
      assert(spark.table("lake_del_sql").where(col("v") === 7L).count()
        === 0L)
    } finally spark.sql("DROP TABLE IF EXISTS lake_del_sql")
  }

  test("SQL DELETE on an uncommitted lake succeeds vacuously") {
    // canDeleteWhere has no snapshot to read a statCol from, so it
    // declines the metadata path WITHOUT leaking the internal
    // "no committed snapshot" require; the row-level fallback then
    // scans zero files and commits nothing
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS lake_del_empty")
    spark.sql(s"""
      CREATE TABLE lake_del_empty (k BIGINT, v BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'k')""")
    try {
      spark.sql("DELETE FROM lake_del_empty WHERE k >= 10 AND k < 20")
      assert(spark.table("lake_del_empty").count() === 0L)
      assert(SnapshotLake.headVersion(root) === -1)
    } finally spark.sql("DROP TABLE IF EXISTS lake_del_empty")
  }

  test("delete with aligned boundaries is pure metadata: no data batch written") {
    val root = freshRoot()
    clustered8(root)
    val batchesBefore = Files.list(java.nio.file.Paths.get(root, "data"))
      .count()
    val res = SnapshotLake.delete(spark, root, 200L, 400L)
    assert(res.filesDropped === 2 && res.filesRewritten === 0)
    assert(res.rowsDeleted === 200L)
    assert(Files.list(java.nio.file.Paths.get(root, "data")).count()
      === batchesBefore)
    assert(SnapshotLake.read(spark, root).count() === 600L)
  }

  test("delete conflicts with an overlapping concurrent append, carries a disjoint one") {
    val root = freshRoot()
    clustered8(root)
    // disjoint append lands AFTER delete snapshots its base: emulate by
    // appending between snapshot and publish via the API directly —
    // delete re-reads the head in its publish loop, so an append that
    // happened after clustered8 but before delete() is the same case
    SnapshotLake.commit(spark, root, tbl(1000 until 1010), "k")
    val res = SnapshotLake.delete(spark, root, 0L, 100L)
    assert(res.filesDropped === 1)
    assert(SnapshotLake.read(spark, root).count() === (700L + 10L))
    // overlapping append: delete range [1000, 1005) vs file [1000, 1009]
    // is a rewrite, not a conflict, when seen at base time; the conflict
    // arm needs the append INVISIBLE at base — drive the checker pure
    val base = SnapshotLake.snapshot(root)
    val appended = SnapshotLake.FileStat("data/x/p.parquet", 420L, 470L, 51L,
      bytes = 1024L)
    val head = base.copy(version = base.version + 1,
      files = base.files :+ appended)
    def carried(lo: Long, hi: Long): Seq[SnapshotLake.FileStat] =
      SnapshotLake.rebase(root, "delete", head, SnapshotLake.Change(read =
          SnapshotLake.ReadSet(carried = base.files, keys = Some((lo, hi)))))
        ._1.filterNot(base.files.contains)
    intercept[MergeConflictException] {
      carried(400L, 500L)
    }
    // disjoint append carries through the same check
    val ok = carried(5000L, 6000L)
    assert(ok.map(_.name) === Seq("data/x/p.parquet"))
  }

  test("compact bin-packs adjacent small files, keeps content and stats exact") {
    val root = freshRoot()
    // 16 files of 50 rows each over k = 0 until 800
    val bucket = (1 to 15).foldLeft(lit(0)) { (acc, i) =>
      when(col("k") >= i * 50, lit(i)).otherwise(acc)
    }
    SnapshotLake.commitClustered(spark, root, tbl(0 until 800), bucket, "k")
    val res = SnapshotLake.compactLake(spark, root, 200L)
    assert(res.filesBefore === 16)
    assert(res.filesCompacted === 16)
    assert(res.filesAfter === 4)
    val snap = SnapshotLake.snapshot(root)
    // packed in stat-range order: each output file is a tight adjacent range
    assert(snap.files.sortBy(_.lo).map(f => (f.lo, f.hi, f.rows)) ===
      Seq((0L, 199L, 200L), (200L, 399L, 200L),
        (400L, 599L, 200L), (600L, 799L, 200L)))
    // content identical
    val sums = SnapshotLake.read(spark, root)
      .agg(count(lit(1)), sum(col("k")), sum(col("v"))).head()
    assert((sums.getLong(0), sums.getLong(1), sums.getLong(2)) ===
      (800L, (0L until 800L).sum, (0L until 800L).map(_ * 7).sum))
    // a quarter read of the compacted lake prunes to 1 of 4 files
    val (_, nRead, nTotal) = SnapshotLake.readPruned(spark, root, 200L, 400L)
    assert((nRead, nTotal) === (1, 4))
  }

  test("compact leaves at-budget files and singleton groups untouched") {
    val root = freshRoot()
    // file 0: 300 rows (>= budget); files 1-2: 50 rows each (pack);
    // file 3: isolated 50-row file beyond a big gap — still packs by
    // range order only with its neighbors; make it the ONLY small
    // file after the pair so it forms a singleton group
    val bucket = when(col("k") < 300, lit(0))
      .when(col("k") < 350, lit(1))
      .when(col("k") < 400, lit(2))
      .otherwise(lit(3))
    SnapshotLake.commitClustered(spark, root,
      tbl(0 until 300) unionAll tbl(300 until 350) unionAll
        tbl(350 until 400) unionAll tbl(9000 until 9050), bucket, "k")
    val before = SnapshotLake.snapshot(root)
    val res = SnapshotLake.compactLake(spark, root, 120L)
    // only the 50-row pair packs (50+50 <= 120); the 300-row file is
    // over budget; the far file is a singleton group (size 1) — carried
    assert(res.filesBefore === 4)
    assert(res.filesCompacted === 2)
    assert(res.filesAfter === 3)
    val after = SnapshotLake.snapshot(root)
    val beforeNames = before.files.map(_.name).toSet
    assert(after.files.count(f => beforeNames(f.name)) === 2)
    assert(SnapshotLake.read(spark, root).count() === 450L)
  }

  test("maintenance rewrites preserve the chain's bloom capacity") {
    val root = freshRoot()
    val bucket = when(col("k") < 100, lit(0))
      .when(col("k") < 200, lit(1)).otherwise(lit(2))
    SnapshotLake.commitClustered(spark, root, tbl(0 until 300), bucket, "k",
      bloomCol = Some("k"), bloomBytes = 4096)
    // delete straddles file 1 → its rewrite must carry a 4096-byte
    // bloom, not the 1 KB default
    SnapshotLake.delete(spark, root, 150L, 250L)
    val sizes = SnapshotLake.snapshot(root).files.flatMap(_.bloom).map(_.length)
    assert(sizes.nonEmpty && sizes.forall(_ === 4096),
      s"bloom capacity degraded: $sizes")
    // point lookups still exact after the rewrite
    val (df, _, _) = SnapshotLake.readPoint(spark, root, 120L)
    assert(df.select("k").collect().map(_.getLong(0)).toSeq === Seq(120L))
  }

  test("compact after an interleaved append packs the merged file set") {
    val root = freshRoot()
    val bucket = when(col("k") < 50, lit(0)).otherwise(lit(1))
    SnapshotLake.commitClustered(spark, root, tbl(0 until 100), bucket, "k")
    SnapshotLake.commit(spark, root, tbl(100 until 150), "k")
    val res = SnapshotLake.compactLake(spark, root, 120L)
    assert(res.filesCompacted >= 2)
    assert(SnapshotLake.read(spark, root).count() === 150L)
  }
}
