package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.SnapshotLake
import graft.sources.SnapshotLake.Dv

/** Deletion vectors (merge-on-read delete): codec exactness, the
  * [[SnapshotLake.deleteRows]] verb's DV-vs-CoW routing, read paths
  * (current, time travel, post-checkpoint reconstruction), vector
  * merging under repeated deletes, interaction with the rewrite
  * verbs (merge/compact must not resurrect deleted rows and must
  * purge vectors on rewrite), the change feed's manifest-derived
  * delete pre-images, and the append-only stream's loud refusal.
  */
class LakeDvSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("lake_dv_").toString

  private def tbl(ids: Range) =
    ids.map(i => (i.toLong, i.toLong * 7)).toDF("k", "v")

  /** 8 range-clustered files over k = 0 until 800, file i = [100i, 100i+99]. */
  private def clustered8(root: String): Unit = {
    val bucket = (1 to 7).foldLeft(lit(0)) { (acc, i) =>
      when(col("k") >= i * 100, lit(i)).otherwise(acc)
    }
    SnapshotLake.commitClustered(spark, root, tbl(0 until 800), bucket, "k")
  }

  test("dv codec: delta-varint roundtrip is exact") {
    assert(Dv.fromPositions(Array.empty[Long]).positions.toSeq === Seq.empty)
    assert(Dv.fromPositions(Array(0L)).positions.toSeq === Seq(0L))
    val gappy = Array(0L, 1L, 127L, 128L, 16383L, 16384L,
      Int.MaxValue.toLong, Int.MaxValue * 1000L)
    val dv = Dv.fromPositions(gappy)
    assert(dv.count === gappy.length.toLong)
    assert(dv.positions.toSeq === gappy.toSeq)
    // unsorted + duplicate input normalizes to sorted distinct
    val messy = Dv.fromPositions(Array(5L, 3L, 5L, 9L, 3L))
    assert(messy.count === 3L)
    assert(messy.positions.toSeq === Seq(3L, 5L, 9L))
    // union is an idempotent position-set union
    val u = Dv.union(Some(messy), Array(5L, 7L))
    assert(u.positions.toSeq === Seq(3L, 5L, 7L, 9L))
  }

  test("deleteRows records vectors instead of rewriting: zero rewrites, exact reads, free time travel") {
    val root = freshRoot()
    clustered8(root)
    val v0 = SnapshotLake.snapshot(root).version
    // 6 scattered rows across 3 files
    val dead = Seq(7L, 99L, 310L, 311L, 555L, 556L)
    val res = SnapshotLake.deleteRows(spark, root, col("k").isin(dead: _*))
    assert(res.filesWithDv === 3)
    assert(res.filesRewritten === 0)
    assert(res.filesDropped === 0)
    assert(res.filesUntouched === 5)
    assert(res.rowsDeleted === 6L)
    val snap = SnapshotLake.snapshot(root)
    // every file entry kept its NAME (no data I/O) and the touched
    // three carry vectors with exact cardinalities
    assert(snap.files.map(_.name).toSet ===
      SnapshotLake.snapshot(root, Some(v0)).files.map(_.name).toSet)
    assert(snap.files.flatMap(_.dv).map(_.count).sorted === Seq(2L, 2L, 2L))
    assert(snap.files.map(_.liveRows).sum === 794L)
    // reads exclude exactly the vectored rows
    val ks = SnapshotLake.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq
    assert(ks === (0L until 800L).filterNot(dead.contains))
    // time travel reads the PRE-delete vector state
    assert(SnapshotLake.read(spark, root, Some(v0)).count() === 800L)
    // repeat delete of the same rows is a no-op union
    val again = SnapshotLake.deleteRows(spark, root, col("k").isin(dead: _*))
    assert(again.rowsDeleted === 0L)
  }

  test("second deleteRows on the same file unions vectors; full coverage drops the entry") {
    val root = freshRoot()
    clustered8(root)
    SnapshotLake.deleteRows(spark, root, col("k") === 42L)
    val r2 = SnapshotLake.deleteRows(spark, root,
      col("k") >= 0L && col("k") < 100L) // rest of file 0
    // 99 more rows die; vector reaches the file's 100 rows → the
    // entry drops from the manifest entirely (metadata completion)
    assert(r2.rowsDeleted === 99L)
    assert(r2.filesDropped === 1)
    assert(r2.filesWithDv === 0)
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.size === 7)
    assert(SnapshotLake.read(spark, root).count() === 700L)
  }

  test("vectors on an already-vectored file record physical positions") {
    val root = freshRoot()
    clustered8(root)
    val f0 = SnapshotLake.snapshot(root).files.find(_.lo == 0L).get
    // the reference: each key's physical row index in file 0, read
    // straight off the parquet file
    val posOf: Map[Long, Long] = spark.read.parquet(s"$root/${f0.name}")
      .select(col("k"), col("_metadata.row_index"))
      .as[(Long, Long)].collect().toMap
    def vectorOf(): Seq[Long] = SnapshotLake.snapshot(root).files
      .find(_.name == f0.name).get.dv.get.positions.toSeq.sorted
    SnapshotLake.deleteRows(spark, root, col("k") === 42L)
    // a second delete scans the vectored file: its positions must
    // stay pre-vector, not shift past the deleted row
    SnapshotLake.deleteRows(spark, root, col("k").isin(50L, 60L))
    assert(vectorOf() === Seq(42L, 50L, 60L).map(posOf).sorted)
    SnapshotLake.updateRows(spark, root, col("k") === 70L,
      Seq("v" -> lit(-1L)))
    assert(vectorOf() === Seq(42L, 50L, 60L, 70L).map(posOf).sorted)
    val got = SnapshotLake.read(spark, root).select("k", "v")
      .as[(Long, Long)].collect().toMap
    assert(got.size === 797)
    assert(Seq(42L, 50L, 60L).forall(k => !got.contains(k)))
    assert(got(70L) === -1L)
    assert((0L until 800L).filterNot(Set(42L, 50L, 60L, 70L))
      .forall(k => got(k) == k * 7))
  }

  test("per-file cost routing: over-threshold files CoW, small ones vector, in one call") {
    val root = freshRoot()
    clustered8(root)
    val before = SnapshotLake.snapshot(root).files.map(_.name).toSet
    // file 2 loses 80 rows (CoW at threshold 10), file 5 loses 2 (DV)
    val res = SnapshotLake.deleteRows(spark, root,
      (col("k") >= 200L && col("k") < 280L) || col("k").isin(501L, 502L),
      cowThresholdRows = 10L)
    assert(res.filesWithDv === 1)
    assert(res.filesRewritten === 1)
    assert(res.rowsDeleted === 82L)
    val snap = SnapshotLake.snapshot(root)
    val fresh = snap.files.filterNot(f => before(f.name))
    assert(fresh.size === 1)
    assert(fresh.head.dv.isEmpty) // rewrites never carry a vector
    assert((fresh.head.lo, fresh.head.hi, fresh.head.rows) ===
      (280L, 299L, 20L))
    val ks = SnapshotLake.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq
    assert(ks === (0L until 800L)
      .filterNot(k => (k >= 200 && k < 280) || k == 501 || k == 502))
  }

  test("vectors survive checkpoint reconstruction and delta replay") {
    val root = freshRoot()
    clustered8(root)
    SnapshotLake.deleteRows(spark, root, col("k").isin(5L, 305L))
    // push the chain well past a checkpoint boundary (interval 16)
    (0 until 18).foreach { i =>
      SnapshotLake.commit(spark, root,
        Seq((10000L + i, 1L)).toDF("k", "v"), "k")
    }
    val head = SnapshotLake.snapshot(root)
    assert(head.version >= SnapshotLake.CheckpointInterval)
    assert(head.files.flatMap(_.dv).map(_.count).sum === 2L)
    assert(SnapshotLake.read(spark, root)
      .where(col("k") < 1000L).count() === 798L)
    // and time travel to any intermediate version still applies them
    assert(SnapshotLake.read(spark, root, Some(head.version - 5))
      .where(col("k") < 1000L).count() === 798L)
  }

  test("rewrite verbs respect vectors: merge does not resurrect, compact purges") {
    val root = freshRoot()
    clustered8(root)
    SnapshotLake.deleteRows(spark, root, col("k").isin(110L, 115L))
    // CoW merge touching the vectored file must not resurrect 110/115
    SnapshotLake.merge(spark, root,
      upserts = Seq((120L, 9999L)).toDF("k", "v"),
      deleteKeys = Seq.empty[Long].toDF("k"))
    val ks = SnapshotLake.read(spark, root).where(col("k") < 200L)
      .select("k").as[Long].collect().sorted.toSeq
    assert(ks === (0L until 200L).filterNot(k => k == 110L || k == 115L))
    assert(SnapshotLake.read(spark, root)
      .where(col("k") === 120L).select("v").as[Long].head() === 9999L)
    // the rewritten file replaced the vectored entry: no vectors left
    assert(SnapshotLake.snapshot(root).files.forall(_.dv.isEmpty))
    // now vector another file and compact everything: output is
    // vector-free and content-exact
    SnapshotLake.deleteRows(spark, root, col("k").isin(700L, 701L))
    SnapshotLake.compactLake(spark, root, targetRows = 1000L)
    val after = SnapshotLake.snapshot(root)
    assert(after.files.forall(_.dv.isEmpty))
    assert(SnapshotLake.read(spark, root).count() === 796L)
    assert(SnapshotLake.read(spark, root)
      .where(col("k").isin(110L, 115L, 700L, 701L)).count() === 0L)
  }

  test("changes() derives a dv delete's pre-images from the manifest diff") {
    val root = freshRoot()
    clustered8(root)
    val v0 = SnapshotLake.snapshot(root).version
    SnapshotLake.deleteRows(spark, root, col("k").isin(13L, 14L, 660L))
    val v1 = SnapshotLake.snapshot(root).version
    val (diff, filesDiffed, _) = SnapshotLake.changes(spark, root, v0, v1)
    val rows = diff.select("change_type", "k").as[(String, Long)]
      .collect().sorted.toSeq
    assert(rows === Seq(("delete", 13L), ("delete", 14L), ("delete", 660L)))
    // only the two touched files diffed (each on both sides)
    assert(filesDiffed === 4)
  }

  test("connector SQL reads apply vectors on the columnar path; manifest aggregates stay honest") {
    val root = freshRoot()
    clustered8(root)
    SnapshotLake.deleteRows(spark, root,
      col("k").isin(50L, 450L, 451L, 452L))
    def lake() = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
    // full scan excludes exactly the vectored rows (columnar path:
    // flat long schema keeps every split columnar)
    assert(lake().count() === 796L)
    assert(lake().where(col("k").isin(50L, 451L)).count() === 0L)
    assert(lake().agg(sum(col("v"))).as[Long].head() ===
      (0L until 800L).filterNot(Seq(50L, 450L, 451L, 452L).contains)
        .map(_ * 7).sum)
    // COUNT(*) still answers from the manifest — minus vector counts
    val cnt = lake().agg(count(lit(1)))
    val cntPushed = cnt.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.exists(_.isInstanceOf[graft.sources.LakeAggScan])
    assert(cntPushed, "COUNT should stay manifest-answered under DVs")
    assert(cnt.as[Long].head() === 796L)
    // MIN/MAX must REFUSE the manifest answer (the extremum row may
    // be vectored away) and still be right through the data path
    SnapshotLake.deleteRows(spark, root, col("k") === 799L)
    val mm = lake().agg(min(col("k")), max(col("k")))
    val mmPushed = mm.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.exists(_.isInstanceOf[graft.sources.LakeAggScan])
    assert(!mmPushed, "MIN/MAX must take the data path under DVs")
    assert(mm.as[(Long, Long)].head() === ((0L, 798L)))
    // time travel through the connector reads the old vector state
    assert(spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).option("version", "0").load()
      .count() === 800L)
  }

  test("batch change feed derives a dv delete from the manifest diff — no sidecar") {
    val root = freshRoot()
    clustered8(root)
    SnapshotLake.deleteRows(spark, root, col("k").isin(123L, 124L, 720L))
    val changes = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "1")
      .load()
    val rows = changes.select("_change_type", "k", "_commit_version")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(rows === Seq(("delete", 123L, 1L), ("delete", 124L, 1L),
      ("delete", 720L, 1L)))
  }

  test("updateRows: scattered update vectors old positions and appends post-images") {
    val root = freshRoot()
    clustered8(root)
    val v0 = SnapshotLake.snapshot(root).version
    val res = SnapshotLake.updateRows(spark, root,
      col("k").isin(42L, 310L, 311L, 650L),
      Seq("v" -> (col("v") + lit(1000000L))))
    assert(res.filesWithDv === 3)
    assert(res.filesRewritten === 0)
    assert(res.filesNew === 1)
    assert(res.rowsUpdated === 4L)
    // count unchanged, updated values present exactly once
    assert(SnapshotLake.read(spark, root).count() === 800L)
    val got = SnapshotLake.read(spark, root)
      .where(col("k").isin(42L, 310L, 311L, 650L))
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got === Seq((42L, 42L * 7 + 1000000L), (310L, 310L * 7 + 1000000L),
      (311L, 311L * 7 + 1000000L), (650L, 650L * 7 + 1000000L)))
    assert(SnapshotLake.read(spark, root).agg(sum(col("v")))
      .as[Long].head() === (0L until 800L).map(_ * 7).sum + 4L * 1000000L)
    // pre-update snapshot untouched
    assert(SnapshotLake.read(spark, root, Some(v0))
      .agg(sum(col("v"))).as[Long].head() ===
      (0L until 800L).map(_ * 7).sum)
    // a second update of an already-updated row hits the POST-image
    // (in the fresh file), not the vectored-out original
    val res2 = SnapshotLake.updateRows(spark, root,
      col("k") === 42L, Seq("v" -> lit(5L)))
    assert(res2.rowsUpdated === 1L)
    assert(SnapshotLake.read(spark, root).where(col("k") === 42L)
      .select("v").as[Long].head() === 5L)
    assert(SnapshotLake.read(spark, root).count() === 800L)
    // no-match update publishes nothing
    val res3 = SnapshotLake.updateRows(spark, root,
      col("k") === -1L, Seq("v" -> lit(0L)))
    assert(res3.rowsUpdated === 0L)
    assert(SnapshotLake.snapshot(root).version === res2.version)
  }

  test("updateRows routes a densely-hit file to in-place CoW") {
    val root = freshRoot()
    clustered8(root)
    val before = SnapshotLake.snapshot(root).files.map(_.name).toSet
    val res = SnapshotLake.updateRows(spark, root,
      (col("k") >= 200L && col("k") < 280L) || col("k") === 700L,
      Seq("v" -> lit(-1L)), cowThresholdRows = 10L)
    assert(res.filesWithDv === 1)    // file 7, one position
    assert(res.filesRewritten === 1) // file 2, 80 rows in place
    assert(res.filesNew === 1)       // file 7's post-image
    assert(res.rowsUpdated === 81L)
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.count(f => !before(f.name)) === 2)
    assert(SnapshotLake.read(spark, root).count() === 800L)
    assert(SnapshotLake.read(spark, root).where(col("v") === -1L)
      .count() === 81L)
  }

  test("purgeVectors rewrites only heavily-vectored files and the feed sees zero changes") {
    val root = freshRoot()
    clustered8(root)
    // file 1 loses 30% of its rows, file 5 loses 2 rows
    SnapshotLake.deleteRows(spark, root,
      (col("k") >= 100L && col("k") < 130L) || col("k").isin(501L, 502L),
      cowThresholdRows = 50L)
    val before = SnapshotLake.snapshot(root)
    assert(before.files.count(_.dv.isDefined) === 2)
    val res = SnapshotLake.purgeVectors(spark, root,
      minDeletedFraction = 0.25)
    assert(res.filesPurged === 1)
    assert(res.rowsDropped === 30L)
    val after = SnapshotLake.snapshot(root)
    assert(after.op === Some("purge"))
    // file 5's small vector survives; file 1's is materialized away
    assert(after.files.count(_.dv.isDefined) === 1)
    assert(after.files.flatMap(_.dv).map(_.count).sum === 2L)
    assert(SnapshotLake.read(spark, root).count() === 768L)
    // the purged file carries fresh, tight stats
    val fresh = after.files.filterNot(f =>
      before.files.map(_.name).toSet(f.name))
    assert(fresh.map(f => (f.lo, f.hi, f.rows)) === Seq((130L, 199L, 70L)))
    // the change feed replays the purge version as ZERO rows
    val cdf = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).option("readChangeFeed", "true")
      .option("startingVersion", res.version.toString)
      .option("endingVersion", res.version.toString).load()
    assert(cdf.count() === 0L)
    // purge everything: no vectors remain, content unchanged
    val res2 = SnapshotLake.purgeVectors(spark, root)
    assert(res2.filesPurged === 1)
    assert(SnapshotLake.snapshot(root).files.forall(_.dv.isEmpty))
    assert(SnapshotLake.read(spark, root).count() === 768L)
    // idempotent on a clean table
    assert(SnapshotLake.purgeVectors(spark, root).filesPurged === 0)
  }

  test("SQL DELETE point/IN routes through deletion vectors when the table opts in") {
    val root = freshRoot()
    clustered8(root)
    spark.sql("DROP TABLE IF EXISTS dv_sql")
    spark.sql(s"""
      CREATE TABLE dv_sql (k BIGINT, v BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'k', dv 'true')""")
    try {
      spark.sql("DELETE FROM dv_sql WHERE k IN (11, 333, 777)")
      val snap = SnapshotLake.snapshot(root)
      assert(snap.op === Some("delete"))
      // merge-on-read: every file entry kept its name, three vectors
      assert(snap.files.flatMap(_.dv).map(_.count).sum === 3L)
      assert(snap.files.size === 8)
      assert(spark.sql("SELECT count(*) FROM dv_sql").as[Long].head() === 797L)
      assert(spark.sql("SELECT count(*) FROM dv_sql WHERE k IN (11, 333, 777)")
        .as[Long].head() === 0L)
      // single-row equality too
      spark.sql("DELETE FROM dv_sql WHERE k = 500")
      assert(spark.sql("SELECT sum(v) FROM dv_sql").as[Long].head() ===
        (0L until 800L).filterNot(Seq(11L, 333L, 500L, 777L).contains)
          .map(_ * 7).sum)
      // a range DELETE still takes the metadata path, not vectors
      spark.sql("DELETE FROM dv_sql WHERE k >= 600 AND k < 700")
      val after = SnapshotLake.snapshot(root)
      assert(after.files.size === 7)
      assert(spark.sql("SELECT count(*) FROM dv_sql").as[Long].head() === 696L)
      // without the dv property, a point DELETE falls back to the
      // row-level CoW path (no new vectors appear)
      val root2 = freshRoot()
      clustered8(root2)
      spark.sql("DROP TABLE IF EXISTS dv_sql_off")
      spark.sql(s"""
        CREATE TABLE dv_sql_off (k BIGINT, v BIGINT)
        USING graft.sources.GraftLakeSource
        OPTIONS (path '$root2', statCol 'k')""")
      try {
        spark.sql("DELETE FROM dv_sql_off WHERE k IN (11, 333)")
        assert(SnapshotLake.snapshot(root2).files.forall(_.dv.isEmpty))
        assert(spark.sql("SELECT count(*) FROM dv_sql_off")
          .as[Long].head() === 798L)
      } finally spark.sql("DROP TABLE IF EXISTS dv_sql_off")
    } finally spark.sql("DROP TABLE IF EXISTS dv_sql")
  }

  test("SUM pushdown answers from write-time sums and refuses under vectors") {
    val root = freshRoot()
    clustered8(root)
    def lake() = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
    def pushed(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }.exists(_.isInstanceOf[graft.sources.LakeAggScan])
    val s0 = lake().agg(sum(col("k")).as("s"))
    assert(pushed(s0), "SUM(statCol) should answer from the manifest")
    assert(s0.as[Long].head() === (0L until 800L).sum)
    // a vector invalidates the file's sum → whole push refuses, data
    // path stays exact
    SnapshotLake.deleteRows(spark, root, col("k") === 5L)
    val s1 = lake().agg(sum(col("k")).as("s"))
    assert(!pushed(s1), "SUM must refuse under a deletion vector")
    assert(s1.as[Long].head() === (0L until 800L).sum - 5L)
    // sum over a NON-stat column never pushes
    assert(!pushed(lake().agg(sum(col("v")))))
  }

  test("grouped aggregate pushdown folds per partition tag; untagged files refuse") {
    val root = freshRoot()
    val ev = tbl(0 until 800).withColumn("b", col("k") % 4)
    SnapshotLake.commitPartitioned(spark, root, ev, "b", "k")
    def lake() = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
    def pushed(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }.exists(_.isInstanceOf[graft.sources.LakeAggScan])
    val g = lake().groupBy(col("b"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("mn"),
        max(col("k")).as("mx"), sum(col("k")).as("s"))
      .orderBy(col("b"))
    assert(pushed(g), "grouped agg should answer from the manifest")
    val rows = g.as[(Long, Long, Long, Long, Long)].collect().toSeq
    val expect = (0L until 800L).groupBy(_ % 4).toSeq.sortBy(_._1)
      .map { case (b, ks) => (b, ks.length.toLong, ks.min, ks.max, ks.sum) }
    assert(rows === expect)
    // an UNTAGGED appended file poisons group soundness → refuse,
    // data path stays exact
    SnapshotLake.commit(spark, root,
      Seq((900L, 1L, 0L)).toDF("k", "v", "b"), "k")
    val g2 = lake().groupBy(col("b")).agg(count(lit(1)).as("n"))
    assert(!pushed(g2), "untagged file must refuse grouped pushdown")
    assert(g2.where(col("b") === 0L).select("n").as[Long].head() === 201L)
    // GROUP BY a non-partition column never pushes
    assert(!pushed(lake().groupBy(col("v")).agg(count(lit(1)))))
  }

  test("merge-on-read on a partitioned lake preserves partition identity") {
    val root = freshRoot()
    val ev = tbl(0 until 800).withColumn("b", col("k") % 4)
    SnapshotLake.commitPartitioned(spark, root, ev, "b", "k")
    // scattered delete (DV) plus one densely-hit partition (CoW)
    val res = SnapshotLake.deleteRows(spark, root,
      col("k").isin(5L, 6L) ||
        (col("b") === 2L && col("k") < 400L),
      cowThresholdRows = 50L)
    assert(res.filesRewritten === 1)
    val snap = SnapshotLake.snapshot(root)
    // every live file still carries its partition tag — the rewrite
    // inherited its source's identity
    assert(snap.files.forall(_.part.isDefined))
    // grouped COUNT pushdown still answers (COUNT is exact under
    // vectors via live rows)
    def lake() = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
    val g = lake().groupBy(col("b")).agg(count(lit(1)).as("n"))
    val pushed = g.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.exists(_.isInstanceOf[graft.sources.LakeAggScan])
    assert(pushed, "grouped COUNT should still push under vectors")
    val rows = g.orderBy(col("b")).as[(Long, Long)].collect().toSeq
    val expect = (0L until 800L)
      .filterNot(k => k == 5L || k == 6L || (k % 4 == 2 && k < 400))
      .groupBy(_ % 4).toSeq.sortBy(_._1)
      .map { case (b, ks) => (b, ks.length.toLong) }
    assert(rows === expect)
    // updateRows' in-place rewrite keeps the tag too
    SnapshotLake.updateRows(spark, root,
      col("b") === 1L && col("k") < 300L,
      Seq("v" -> lit(-7L)), cowThresholdRows = 10L)
    assert(SnapshotLake.snapshot(root).files
      .filterNot(_.name.contains("__bucket=ins")).forall(_.part.isDefined))
  }

  test("append-only lake stream refuses a dv-change version loudly") {
    val root = freshRoot()
    clustered8(root)
    SnapshotLake.commit(spark, root, Seq((900L, 1L)).toDF("k", "v"), "k")
    SnapshotLake.deleteRows(spark, root, col("k") === 3L)
    val q = spark.readStream.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
      .writeStream.format("memory").queryName("dv_refuse")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(err).exists(c =>
      c.getMessage != null && c.getMessage.contains("deletion vectors")))
  }

  test("append-only stream refuses an intra-batch add+vector pair — admission independent of batch boundaries") {
    val root = freshRoot()
    clustered8(root)
    val ckpt = Files.createTempDirectory("lake_dv_ckpt_").toString
    val out = Files.createTempDirectory("lake_dv_out_").toString
    // drain v0 so the restart's range starts at a committed offset
    // (file sink: the memory sink cannot recover from a checkpoint)
    spark.readStream.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    // v1 appends a 2-row file; v2 vectors one of ITS rows. An
    // endpoint diff of (0..2] never sees the change (the file is not
    // in v0), so the pre-fix source silently emitted the net 1 row —
    // while the same history consumed one version per batch refused.
    SnapshotLake.commit(spark, root,
      Seq((900L, 1L), (901L, 1L)).toDF("k", "v").coalesce(1), "k")
    SnapshotLake.deleteRows(spark, root, col("k") === 900L)
    val q = spark.readStream.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(err).exists(c =>
      c.getMessage != null && c.getMessage.contains("deletion vectors")))
  }

  test("mixed clean+vectored scan over a nested-type column plans whole-scan row-based (no columnar mixing)") {
    val root = freshRoot()
    val df = (0L until 200L).map(i => (i, Seq(i, i * 2)))
      .toDF("k", "arr")
    SnapshotLake.commitClustered(spark, root, df,
      when(col("k") >= 100L, lit(1)).otherwise(lit(0)), "k")
    assert(SnapshotLake.snapshot(root).files.size === 2)
    // vector one row of ONE file: the scan now mixes a clean file
    // (columnar-eligible) with a vectored file whose array column
    // the survivor copy cannot handle — a per-split answer would
    // fail Spark's PARTITION_DEFINED homogeneity check at planning
    SnapshotLake.deleteRows(spark, root, col("k") === 7L)
    val lake = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
    val rows = lake.selectExpr("k", "aggregate(arr, 0L, (a, x) -> a + x) s")
      .as[(Long, Long)].collect().toMap
    assert(rows.size === 199)
    assert(!rows.contains(7L))
    assert(rows(11L) === 33L)
  }

  test("manifest SUM pushdown refuses a cross-file fold that overflows Long") {
    val root = freshRoot()
    val big = Long.MaxValue / 2 + 1 // two per-file sums that wrap when folded
    SnapshotLake.commitClustered(spark, root,
      Seq((big, 0L), (big + 1, 1L)).toDF("k", "v"),
      when(col("k") === big, lit(1)).otherwise(lit(0)), "k")
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.size === 2)
    assert(snap.files.forall(_.sum.isDefined)) // per-file sums recorded
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }
    val lake = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
    // SUM must fall back to the data path (the wrapped fold would be
    // FINAL under complete pushdown; ANSI's data path errors instead)
    assert(!scanOf(lake.agg(sum(col("k")).as("s")))
      .exists(_.isInstanceOf[graft.sources.LakeAggScan]))
    // COUNT/MIN/MAX stay manifest-answered on the same chain
    assert(scanOf(lake.agg(count(lit(1)).as("n"), min(col("k")).as("lo")))
      .exists(_.isInstanceOf[graft.sources.LakeAggScan]))
  }
}
