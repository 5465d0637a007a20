package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.sources.{LakeScan, SnapshotLake}

/** Join-driven runtime file pruning (DSv2 dynamic partition pruning)
  * on the lake scan: a selective dimension narrows the fact scan to
  * the files whose stat ranges contain actual build-side keys —
  * decided at execution time, after the static pushdown prune.
  */
class LakeRuntimeFilterSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("lake_rtf_").toString

  private def lakeScanOf(df: org.apache.spark.sql.DataFrame): LakeScan = {
    // AQE hides stage subtrees from collect(): recurse through
    // AdaptiveSparkPlanExec.executedPlan and QueryStageExec.plan
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[LakeScan] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case b: BatchScanExec => b.scan match {
          case l: LakeScan => Seq(l); case _ => Seq.empty
        }
        case other => other.children.flatMap(scans)
      }
    scans(df.queryExecution.executedPlan).headOption
      .getOrElse(fail(s"no LakeScan in plan:\n${df.queryExecution.executedPlan}"))
  }

  test("a broadcast dim join prunes fact files at execution time via stat ranges") {
    val root = freshRoot()
    val bucket = (1 to 7).foldLeft(lit(0)) { (acc, i) =>
      when(col("k") >= i * 100, lit(i)).otherwise(acc)
    }
    SnapshotLake.commitClustered(spark,
      root, (0L until 800L).map(i => (i, i * 7)).toDF("k", "v"),
      bucket, "k")
    // dim on disk with a SELECTIVE predicate (DPP requires one on
    // the build side): the filter picks 10 keys inside files 2-3
    val dimPath = s"${freshRoot()}/dim"
    (0L until 800L).map(k =>
      (k, if (k >= 200 && k < 400 && k % 20 == 0) "pick" else "skip"))
      .toDF("k", "tag").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("tag") === "pick")
    val fact = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
    val joined = fact.join(broadcast(dim), Seq("k"))
    val rows = joined.collect()
    assert(rows.length === 10)
    val scan = lakeScanOf(joined)
    // the engine delivered the build-side keys to scan.filter(): only
    // the two files whose [min, max] contains any of them survived
    assert(scan.runtimeKept === 2,
      s"runtime filter kept ${scan.runtimeKept} of ${scan.files.length} " +
        "files (-1 = filter() never called — DPP did not fire)")
  }

  test("runtime filter values outside every range prune to zero files, rows stay exact") {
    val root = freshRoot()
    SnapshotLake.commitClustered(spark,
      root, (0L until 200L).map(i => (i, i)).toDF("k", "v"),
      when(col("k") < 100, lit(0)).otherwise(lit(1)), "k")
    val dim = Seq(5000L, 6000L).toDF("k")
    val fact = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
    val joined = fact.join(broadcast(dim), Seq("k"))
    assert(joined.count() === 0)
    val scan = lakeScanOf(joined)
    assert(scan.runtimeKept === 0 || scan.runtimeKept === -1)
  }

  test("filter() semantics are safe: unrecognized predicates prune nothing") {
    val files = Seq(
      SnapshotLake.FileStat("data/a", 0L, 99L, 100L, bytes = 1024L),
      SnapshotLake.FileStat("data/b", 100L, 199L, 100L, bytes = 1024L))
    val scan = LakeScan("/tmp/x", 0, files, 2,
      new org.apache.spark.sql.types.StructType(), "", statCol = "k")
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    // IN on the stat column: range containment
    scan.filter(Array(new Predicate("IN",
      Array(Expressions.column("k"), Expressions.literal(150L)))))
    assert(scan.effectiveFiles.map(_.name) === Seq("data/b"))
    // an unrecognized predicate shape must not prune further
    scan.filter(Array(new Predicate("ALWAYS_TRUE", Array.empty)))
    assert(scan.effectiveFiles.map(_.name) === Seq("data/b"))
  }
}
