package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{LakeScan, SnapshotLake}

/** Hive-style partition columns as a lake concept: per-file
  * (column, value) tags in the manifest, equality/IN pruning from
  * the tags alone, Iceberg-style partition evolution (old files keep
  * old tags; absence never prunes), and partition-aware OPTIMIZE.
  */
class LakePartitionSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("lake_part_").toString

  private def tbl(n: Int) =
    (0 until n).map(i => (i.toLong, i.toLong * 7, s"d${i % 4}"))
      .toDF("k", "v", "dom")

  test("partitioned commit tags one file per value; reads stay complete") {
    val root = freshRoot()
    SnapshotLake.commitPartitioned(spark, root, tbl(400), "dom", "k")
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.size === 4)
    assert(snap.files.flatMap(_.part).map(_._1).toSet === Set("dom"))
    assert(snap.files.flatMap(_.part).map(_._2).sorted ===
      Seq("d0", "d1", "d2", "d3"))
    // the full read sees every row exactly once
    assert(SnapshotLake.read(spark, root).count() === 400L)
    assert(SnapshotLake.read(spark, root).select("k").distinct().count()
      === 400L)
  }

  test("readPartition opens only the matching file; result is exact") {
    val root = freshRoot()
    SnapshotLake.commitPartitioned(spark, root, tbl(400), "dom", "k")
    val df = SnapshotLake.readPartition(spark, root, "dom", "d2")
    val ks = df.select("k").as[Long].collect().sorted.toSeq
    assert(ks === (0L until 400L).filter(_ % 4 == 2))
    // a value that exists nowhere reads empty, not an error
    assert(SnapshotLake.readPartition(spark, root, "dom", "nope").count()
      === 0L)
  }

  test("DSv2 equality on the partition column prunes files from the manifest") {
    val root = freshRoot()
    SnapshotLake.commitPartitioned(spark, root, tbl(400), "dom", "k")
    val agg = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
      .where(col("dom") === "d1")
      .agg(count(lit(1)), sum(col("v")))
    val row = agg.collect().head
    val scan = LakeScan.findIn(agg.queryExecution.executedPlan)
      .getOrElse(fail("no LakeScan planned"))
    assert(scan.filesTotal === 4)
    assert(scan.files.length === 1,
      s"partition prune kept ${scan.files.length} of 4 files")
    assert(row.getLong(0) === 100L)
    assert(row.getLong(1) === (0L until 400L).filter(_ % 4 == 1)
      .map(_ * 7).sum)
    // IN-list prunes to exactly the named partitions
    val agg2 = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
      .where(col("dom").isin("d0", "d3"))
      .agg(count(lit(1)))
    assert(agg2.collect().head.getLong(0) === 200L)
    val scan2 = LakeScan.findIn(agg2.queryExecution.executedPlan)
      .getOrElse(fail("no LakeScan planned"))
    assert(scan2.files.length === 2)
  }

  test("partition evolution: a new spec's files survive old-column prunes") {
    val root = freshRoot()
    SnapshotLake.commitPartitioned(spark, root, tbl(400), "dom", "k")
    // evolved append partitioned by parity of k instead
    SnapshotLake.commitPartitioned(spark, root,
      (400 until 500).map(i => (i.toLong, i.toLong * 7, s"d${i % 4}"))
        .toDF("k", "v", "dom").withColumn("par", col("k") % 2),
      "par", "k")
    // wait: schema widened by `par` — original files null-fill it
    val all = SnapshotLake.read(spark, root)
    assert(all.count() === 500L)
    // pruning on dom keeps: the d1 file (old spec) + BOTH par files
    // (other spec, never pruned); rows stay exact via residual filter
    val agg = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
      .where(col("dom") === "d1")
      .agg(count(lit(1)))
    assert(agg.collect().head.getLong(0) === 125L)
    val scan = LakeScan.findIn(agg.queryExecution.executedPlan)
      .getOrElse(fail("no LakeScan planned"))
    assert(scan.filesTotal === 6)
    assert(scan.files.length === 3,
      s"evolution prune kept ${scan.files.length}, wanted d1 + 2 par files")
  }

  test("OPTIMIZE packs within a partition, never across; tags carry to outputs") {
    val root = freshRoot()
    // 3 small commits per domain value → 6 small files across 2 domains
    (0 until 3).foreach { i =>
      SnapshotLake.commitPartitioned(spark, root,
        (i * 20 until i * 20 + 20).map(j =>
          (j.toLong, j.toLong * 7, s"d${j % 2}")).toDF("k", "v", "dom"),
        "dom", "k")
    }
    assert(SnapshotLake.snapshot(root).files.size === 6)
    val res = SnapshotLake.compactLake(spark, root, 1000L)
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.size === 2, s"wanted 2 packed files, got ${snap.files}")
    // each output carries its partition's tag — and holds ONLY that
    // partition's rows
    assert(snap.files.flatMap(_.part).map(_._2).sorted === Seq("d0", "d1"))
    snap.files.foreach { f =>
      val dom = f.part.get._2
      val vals = spark.read.parquet(s"$root/${f.name}")
        .select("dom").distinct().as[String].collect().toSeq
      assert(vals === Seq(dom), s"packed file ${f.name} mixes partitions")
    }
    assert(SnapshotLake.read(spark, root).count() === 60L)
    assert(res.filesCompacted === 6)
    // pruning still works post-compact
    val agg = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
      .where(col("dom") === "d0").agg(count(lit(1)))
    assert(agg.collect().head.getLong(0) === 30L)
    val scan = LakeScan.findIn(agg.queryExecution.executedPlan)
      .getOrElse(fail("no LakeScan planned"))
    assert(scan.files.length === 1)
  }

  test("a straddling range delete rewrites each file under its own tag") {
    val root = freshRoot()
    // every dom file spans k = 0..399, so [100, 200) straddles all four
    SnapshotLake.commitPartitioned(spark, root, tbl(400), "dom", "k")
    val res = SnapshotLake.delete(spark, root, 100L, 200L)
    assert(res.filesRewritten === 4)
    assert(res.rowsDeleted === 100L)
    val snap = SnapshotLake.snapshot(root)
    // one output per source, none routed to the default bucket
    assert(snap.files.size === 4)
    assert(!snap.files.exists(_.name.contains("__bucket=x")),
      s"rows fell to the default bucket: ${snap.files.map(_.name)}")
    assert(snap.files.flatMap(_.part).map(_._2).sorted ===
      Seq("d0", "d1", "d2", "d3"))
    snap.files.foreach { f =>
      val vals = spark.read.parquet(s"$root/${f.name}")
        .select("dom").distinct().as[String].collect().toSeq
      assert(vals === Seq(f.part.get._2), s"${f.name} mixes partitions")
    }
    val want = (0L until 400L).filterNot(k => k >= 100 && k < 200)
    assert(SnapshotLake.read(spark, root).select("k").as[Long].collect()
      .sorted.toSeq === want)
    assert(SnapshotLake.readPartition(spark, root, "dom", "d3").count() ===
      want.count(_ % 4 == 3).toLong)
  }

  test("an updateRows that moves rows across partitions leaves no lying tag") {
    val root = freshRoot()
    SnapshotLake.commitPartitioned(spark, root, tbl(400), "dom", "k")
    // 50 rows of d1 move to d2 through the in-place (CoW) leg
    val res = SnapshotLake.updateRows(spark, root,
      col("dom") === "d1" && col("k") < 200L, Seq("dom" -> lit("d2")),
      cowThresholdRows = 10L)
    assert(res.filesRewritten === 1)
    val rewritten = SnapshotLake.snapshot(root).files
      .filter(_.name.contains("__bucket=f0"))
    assert(rewritten.size === 1 && rewritten.head.part.isEmpty,
      s"the rewrite kept its source's tag: $rewritten")
    def lake() = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
    assert(SnapshotLake.readPartition(spark, root, "dom", "d2").count() ===
      150L)
    assert(SnapshotLake.read(spark, root).where(col("dom") === "d1")
      .count() === 50L)
    assert(lake().where(col("dom") === "d2").count() === 150L)
  }

  test("partition tags survive the parquet checkpoint roundtrip") {
    val root = freshRoot()
    SnapshotLake.commitPartitioned(spark, root, tbl(400), "dom", "k")
    // 16 more commits push past the checkpoint boundary
    (0 until 16).foreach(i =>
      SnapshotLake.commit(spark, root,
        Seq((1000L + i, 1L, "dx")).toDF("k", "v", "dom").coalesce(1), "k"))
    val snap = SnapshotLake.snapshot(root, Some(16))
    assert(snap.files.count(_.part.exists(_._1 == "dom")) === 4,
      "checkpoint dropped partition tags")
    // and the prune still answers from the reconstructed tags
    val df = SnapshotLake.readPartition(spark, root, "dom", "d0")
    assert(df.where(col("k") < 400).count() === 100L)
  }
}
