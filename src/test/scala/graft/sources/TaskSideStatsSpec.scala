package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Write-time statistics: every lake write accumulates each file's
  * manifest stats WHILE WRITING ([[SegStatsAcc]]) — the only stats
  * implementation. These specs pin the entries against a plain Spark
  * aggregate over the same files ([[TaskSideStatsSpec.reference]]),
  * and pin the refusal of stat/dim2/bloom column types the
  * accumulator does not cover.
  */
class TaskSideStatsSpec extends SparkTestBase {

  private val Fmt = "graft.sources.GraftLakeSource"

  private def statFields(f: SnapshotLake.FileStat) =
    (f.lo, f.hi, f.rows, f.sum, f.dim2, f.bloom.map(_.toSeq), f.bytes,
      f.cstats)

  /** Each manifest entry of `files` equals the reference computed
    * over the same physical files, field by field (incl. bytes,
    * blooms, cstats).
    */
  private def certify(root: String, files: Seq[SnapshotLake.FileStat],
      bloomCol: Option[String] = None, bloomBytes: Int = 1024,
      statCol2: Option[String] = None): Unit = {
    val paths = files.map(f => SnapshotLake.dataPath(root, f.name))
    val ref = TaskSideStatsSpec.reference(spark, paths,
      SnapshotLake.snapshot(root).statCol, bloomCol, bloomBytes, statCol2)
    assert(ref.keySet === paths.toSet)
    files.zip(paths).foreach { case (f, p) =>
      assert(statFields(f) === statFields(ref(p)),
        s"${f.name} of $root diverges from the reference aggregate")
    }
  }

  test("task-side stats are value-identical to the read-back pass, which is skipped") {
    val root = Housekeeping.tempDir("taskstats_eq")
    // the full envelope: statCol + bloom + dim2, plus cs-eligible
    // extras with nulls — an int, and a string (char-length + KMV
    // stats) — across 3 files
    val df = spark.range(0, 5000)
      .selectExpr(
        "id AS event_id",
        "id * 37 % 101 AS cents",
        "cast(id % 997 AS int) AS dim2",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE cast(id % 13 AS int) END AS cat",
        "CASE WHEN id % 11 = 0 THEN NULL ELSE concat('u-', id % 257) END AS tag")
      .repartitionByRange(3, col("event_id"))
    df.write.format(Fmt).option("path", root)
      .option("statCol", "event_id").option("bloomCol", "cents")
      .option("bloomBytes", "512").option("statCol2", "dim2")
      .mode("append").save()
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.length === 3)
    certify(root, snap.files, Some("cents"), 512, Some("dim2"))
    // the string column really recorded char-length stats + a KMV
    val head = snap.files.head
    val tag = head.cstats("tag")
    assert(tag.hi > 0 && tag.kmv.nonEmpty && tag.nulls > 0)
    assert(head.cstats.contains("cat"))
    // and the whole envelope still prunes through the connector
    val pruned = spark.read.format(Fmt).option("path", root).load()
      .where(col("event_id") < 1000)
    assert(pruned.count() === 1000)
  }

  test("a smallint stat column publishes task-side stats equal to the reference") {
    val root = Housekeeping.tempDir("taskstats_fb")
    spark.range(0, 300)
      .selectExpr("cast(id AS smallint) AS event_id",
        "concat('v', id) AS label")
      .write.format(Fmt).option("path", root)
      .option("statCol", "event_id")
      .mode("append").save()
    certify(root, SnapshotLake.snapshot(root).files)
    assert(spark.read.format(Fmt).option("path", root).load().count() === 300)
  }

  test("delta DML post-images and group-CoW rewrites skip the read-back pass") {
    val root = Housekeeping.tempDir("taskstats_dml")
    spark.range(0, 400).selectExpr("id AS k", "id * 7 AS v")
      .write.format(Fmt).option("path", root).option("statCol", "k")
      .mode("append").save()
    // dv table: UPDATE routes through the DSv2 delta protocol — the
    // post-image file carries task-side stats under the PINNED
    // scanned version's envelope
    spark.sql("DROP TABLE IF EXISTS taskstats_dv")
    spark.sql(s"""CREATE TABLE taskstats_dv (k BIGINT, v BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'k', dv 'true')""")
    spark.sql("UPDATE taskstats_dv SET v = -1 WHERE k % 100 = 7")
    assert(spark.sql("SELECT count(*) FROM taskstats_dv WHERE v = -1")
      .head().getLong(0) === 4)
    // group-CoW (non-dv) table on its own chain: the rewrite legs
    // route through LakeReplaceBatchWrite
    val root2 = Housekeeping.tempDir("taskstats_cow")
    spark.range(0, 400).selectExpr("id AS k", "id * 7 AS v")
      .write.format(Fmt).option("path", root2).option("statCol", "k")
      .mode("append").save()
    spark.sql("DROP TABLE IF EXISTS taskstats_cow")
    spark.sql(s"""CREATE TABLE taskstats_cow (k BIGINT, v BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root2', statCol 'k')""")
    spark.sql("UPDATE taskstats_cow SET v = -2 WHERE k % 100 = 7")
    assert(spark.sql("SELECT count(*) FROM taskstats_cow WHERE v = -2")
      .head().getLong(0) === 4)
    certify(root, SnapshotLake.snapshot(root).files)
    certify(root2, SnapshotLake.snapshot(root2).files)
    spark.sql("DROP TABLE IF EXISTS taskstats_dv")
    spark.sql("DROP TABLE IF EXISTS taskstats_cow")
  }

  test("column-mapped chains (post-rename) still take task-side stats, value-identically") {
    val root = Housekeeping.tempDir("taskstats_map")
    spark.range(0, 500)
      .selectExpr("id AS event_id", "id * 7 AS cents",
        "concat('u', id % 13) AS tag")
      .write.format(Fmt).option("path", root).option("statCol", "event_id")
      .mode("append").save()
    spark.sql("DROP TABLE IF EXISTS taskstats_map")
    spark.sql(s"""CREATE TABLE taskstats_map (event_id BIGINT, cents BIGINT,
      tag STRING) USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'event_id')""")
    // rename a cs-eligible column: appends now write under a mapped
    // PHYSICAL name — the accumulator must resolve the same physical
    // columns the reference reads
    spark.sql("ALTER TABLE taskstats_map RENAME COLUMN cents TO amount")
    spark.sql("""INSERT INTO taskstats_map
      SELECT id + 1000 AS event_id, id * 9 AS amount,
        concat('v', id % 7) AS tag FROM range(0, 400)""")
    val snap = SnapshotLake.snapshot(root)
    // the appended files' stats must equal the reference over the
    // same files (physical column names, lowercased — same key space)
    val newest = snap.files.filter(_.lo >= 1000)
    assert(newest.nonEmpty)
    certify(root, newest)
    assert(spark.sql(
      "SELECT sum(amount) FROM taskstats_map WHERE event_id >= 1000")
      .head().getLong(0) === (0 until 400).map(_ * 9L).sum)
    spark.sql("DROP TABLE IF EXISTS taskstats_map")
  }

  /** The Scala API verbs write through [[LakeCommit.writeRouted]] —
    * one write job whose tasks each feed one [[LakeDataWriter]], stats
    * accumulated task-side; each chain's manifest entries must equal
    * the reference over the same files.
    */
  test("the Scala API verbs publish with task-side stats — no read-back pass") {
    val ev = spark.range(0, 4000)
      .selectExpr("id AS event_id", "id * 31 % 1000 AS cents")
    val root = Housekeeping.tempDir("taskstats_api")
    val root2 = Housekeeping.tempDir("taskstats_api2")
    // plain commit (bloom + repartitioned input = several files)
    SnapshotLake.commit(spark, root, ev.repartition(3), "event_id",
      bloomCol = Some("cents"), bloomBytes = 512)
    // clustered bulk commit, then the mutating verbs on its chain
    val bucket = SnapshotLake.rangeBucket("event_id", 8, 4000)
    SnapshotLake.commitClustered(spark, root2, ev, bucket, "event_id")
    val up = spark.range(0, 50)
      .selectExpr("id * 16 AS event_id", "id AS cents")
    val del = spark.range(0, 10).selectExpr("id * 40 + 1 AS event_id")
    SnapshotLake.merge(spark, root2, up, del)
    SnapshotLake.delete(spark, root2, 100, 300)
    SnapshotLake.compactLake(spark, root2, targetRows = 10000)
    // 2-D re-cluster on its own chain (dim2 under yCol)
    val root3 = Housekeeping.tempDir("taskstats_api3")
    SnapshotLake.commit(spark, root3, spark.range(0, 2000)
      .selectExpr("id AS x", "(id * 37) % 1000 AS y"), "x")
    SnapshotLake.clusterLake(spark, root3, "x", "y", targetRows = 500)
    // partition-tagged commit
    val root4 = Housekeeping.tempDir("taskstats_api4")
    SnapshotLake.commitPartitioned(spark, root4,
      ev.selectExpr("event_id", "cents",
        "concat('r', event_id % 3) AS region"), "region", "event_id")
    // routing values the dir name must default or escape: the empty
    // string, null, a slash and an equals sign
    val root5 = Housekeeping.tempDir("taskstats_api5")
    SnapshotLake.commitPartitioned(spark, root5,
      ev.selectExpr("event_id", "cents", """CASE event_id % 5
        WHEN 0 THEN '' WHEN 1 THEN NULL WHEN 2 THEN 'a/b'
        WHEN 3 THEN 'x=y' ELSE 'r' END AS region"""), "region", "event_id")
    def files(r: String) = SnapshotLake.snapshot(r).files
    certify(root, files(root), Some("cents"), 512)
    certify(root2, files(root2))
    certify(root3, files(root3), statCol2 = Some("y"))
    certify(root4, files(root4))
    certify(root5, files(root5))
    // the verbs' judged surfaces still hold: tags, aggregates
    val p = SnapshotLake.snapshot(root4)
    assert(p.files.forall(_.part.exists(_._1 == "region")))
    // each file's tag holds the raw value; null keeps Hive's name
    val p5 = SnapshotLake.snapshot(root5)
    assert(p5.files.map(_.part.map(_._1)).toSet === Set(Some("region")))
    assert(p5.files.flatMap(_.part).map(_._2).toSet ===
      Set("", "__HIVE_DEFAULT_PARTITION__", "a/b", "x=y", "r"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(SnapshotLake.readPartition(spark, root5, "region", "")) ===
      (0L until 4000L by 5L))
    assert(ids(SnapshotLake.readPartition(spark, root5, "region", "a/b")) ===
      (2L until 4000L by 5L))
    assert(SnapshotLake.read(spark, root2)
      .agg(count(lit(1))).head.getLong(0) > 0)
  }

  test("an API-verb smallint stat column publishes task-side stats equal to the reference") {
    val root = Housekeeping.tempDir("taskstats_api_fb")
    SnapshotLake.commit(spark, root, spark.range(0, 300)
      .selectExpr("cast(id AS smallint) AS event_id",
        "concat('v', id) AS label"), "event_id")
    certify(root, SnapshotLake.snapshot(root).files)
    assert(SnapshotLake.read(spark, root).count() === 300)
  }

  test("a non-integral stat, dim2 or bloom column refuses before any file is staged") {
    val df = spark.range(0, 100)
      .selectExpr("id AS k", "cast(id AS double) / 4 AS x")
    def refused(root: String, version: Int)(write: => Unit): Unit = {
      val e = intercept[Exception](write)
      val msg = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msg.contains("'x'") && msg.contains("double"), msg)
      val staged = Option(new java.io.File(LakeWrite.stagingDir(root))
        .list()).toSeq.flatten
      assert(staged.isEmpty, s"staged files left behind: $staged")
      assert(SnapshotLake.headVersion(root) === version)
    }
    // a fresh lake whose first commit declares the DOUBLE stat column
    val r1 = Housekeeping.tempDir("taskstats_dbl1")
    refused(r1, -1)(df.write.format(Fmt).option("path", r1)
      .option("statCol", "x").mode("append").save())
    val r2 = Housekeeping.tempDir("taskstats_dbl2")
    refused(r2, -1)(SnapshotLake.commit(spark, r2, df, "x"))
    // an existing chain: a DOUBLE dim2 or bloom column refuses and
    // the head stays where it was
    SnapshotLake.commit(spark, r2, df, "k")
    refused(r2, 0)(df.write.format(Fmt).option("path", r2)
      .option("statCol2", "x").mode("append").save())
    refused(r2, 0)(SnapshotLake.commit(spark, r2, df, "k",
      bloomCol = Some("x")))
    assert(SnapshotLake.read(spark, r2).count() === 100)
  }

  test("a bloom column holding nulls publishes; = and IN still find every non-null value") {
    val df = spark.range(0, 600).selectExpr("id AS event_id",
      "CASE WHEN id % 4 = 0 THEN NULL ELSE id * 3 END AS v")
      .repartition(3)
    val r1 = Housekeeping.tempDir("taskstats_nullbloom1")
    df.write.format(Fmt).option("path", r1).option("statCol", "event_id")
      .option("bloomCol", "v").option("bloomBytes", "256")
      .mode("append").save()
    val r2 = Housekeeping.tempDir("taskstats_nullbloom2")
    SnapshotLake.commit(spark, r2, df, "event_id", bloomCol = Some("v"),
      bloomBytes = 256)
    val present = (0L until 600L).filter(_ % 4 != 0).map(_ * 3)
    Seq(r1, r2).foreach { r =>
      val files = SnapshotLake.snapshot(r).files
      assert(files.forall(_.bloom.isDefined))
      assert(files.map(_.rows).sum === 600)
      certify(r, files, Some("v"), 256)
      val lake = spark.read.format(Fmt).option("path", r).load()
      assert(lake.count() === 600)
      assert(lake.where(col("v").isNull).count() === 150)
      assert(lake.where(col("v").isin(present: _*)).count() === 450)
      present.filter(_ % 7 == 1).take(6).foreach { v =>
        assert(lake.where(col("v") === v).count() === 1, s"v = $v")
      }
    }
  }

  test("files staged under another stat envelope never publish: the write conflicts and staging drains") {
    val root = Housekeeping.tempDir("taskstats_drift")
    spark.range(0, 10).selectExpr("id AS event_id", "id AS cents")
      .write.format(Fmt).option("path", root).option("statCol", "event_id")
      .mode("append").save()
    val schema = spark.read.format(Fmt).option("path", root).load().schema
    val w = new LakeDataWriter(root, LakeWrite.writeConf(schema), 0, 1L,
      statsSpec = Some(StatsSpec("event_id", None, 1024, None)))
    w.write(org.apache.spark.sql.catalyst.InternalRow(100L, 1L))
    val staged = w.commit()
    // the commit resolves a bloom envelope the task did not write under
    val e = intercept[SnapshotLake.MergeConflictException](
      new LakeBatchWrite(root, schema, overwrite = false,
        Map("bloomcol" -> "cents")).commit(Array(staged)))
    assert(e.getMessage.contains("stat envelope"))
    assert(Option(new java.io.File(LakeWrite.stagingDir(root)).list())
      .toSeq.flatten.isEmpty)
    assert(SnapshotLake.headVersion(root) === 0)
    assert(spark.read.format(Fmt).option("path", root).load().count() === 10)
  }

  test("partition-dir value escaping matches the replaced writer's contract") {
    assert(LakeCommit.escapeDirValue("f0") === "f0")
    assert(LakeCommit.escapeDirValue("plain-value_1.2") ===
      "plain-value_1.2")
    assert(LakeCommit.escapeDirValue("a/b") === "a%2Fb")
    assert(LakeCommit.escapeDirValue("a:b=c") === "a%3Ab%3Dc")
    assert(LakeCommit.escapeDirValue("pct%now") === "pct%25now")
    assert(LakeCommit.escapeDirValue("tab\tx") === "tab%09x")
    // space passes through un-escaped (Hive's contract)
    assert(LakeCommit.escapeDirValue("a b") === "a b")
    // the empty string takes the default-partition dir name
    assert(LakeCommit.escapeDirValue("") === "__HIVE_DEFAULT_PARTITION__")
  }

  test("64 routing values in one task: one file per value, input row order kept") {
    val root = Housekeeping.tempDir("taskstats_onetask")
    // one input partition, one shuffle partition: every value lands
    // in the same task, interleaved (value = id * 7 % 64)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try SnapshotLake.commitPartitioned(spark, root,
        spark.range(0, 6400, 1, 1).selectExpr("id AS event_id",
          "concat('v', id * 7 % 64) AS p"), "p", "event_id")
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.length === 64)
    assert(snap.files.forall(_.name.contains("/part-00000-")),
      "the 64 values did not share one task")
    snap.files.foreach { f =>
      val v = f.part.get._2
      val rows = spark.read.parquet(SnapshotLake.dataPath(root, f.name))
        .collect()
      assert(rows.map(_.getAs[String]("p")).toSet === Set(v))
      // physical row order = input order for this value
      assert(rows.map(_.getAs[Long]("event_id")).toSeq ===
        (0L until 6400L).filter(i => s"v${i * 7 % 64}" == v))
    }
  }

  test("partitioned (multi-segment task) writes carry per-file task-side stats") {
    val root = Housekeeping.tempDir("taskstats_part")
    spark.range(0, 1200)
      .selectExpr("id AS event_id", "cast(id % 3 AS string) AS p",
        "id * 2 AS cents")
      .write.format(Fmt).option("path", root)
      .option("statCol", "event_id").option("partCol", "p")
      .mode("append").save()
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(f => f.part.exists(_._1 == "p")))
    assert(snap.files.map(_.rows).sum === 1200)
    // per-file ranges must be real: each entry equals the reference
    certify(root, snap.files)
  }
}

object TaskSideStatsSpec {

  /** The reference for the manifest stats of `paths`: one plain Spark
    * aggregate grouped by input file — min/max(statCol) cast long,
    * count, try_sum, the dim2 min/max, a bloom built with
    * [[SnapshotLake.Bloom.set]] over the non-null values, and per
    * [[SnapshotLake.csColsFor]] column min/max (char-length sum/max
    * for strings), null count and the K-smallest-distinct KMV over
    * `xxhash64(col) & Long.MaxValue`. An all-null min/max reads 0 and
    * an all-null column records no column stat (the accumulator's
    * conventions). Keyed by each file's absolute path; `bytes` is the
    * file's size. A file with no rows has no entry.
    */
  def reference(s: SparkSession, paths: Seq[String], statCol: String,
      bloomCol: Option[String], bloomBytes: Int,
      statCol2: Option[String]): Map[String, SnapshotLake.FileStat] = {
    val df = s.read.parquet(paths: _*)
    val cs = SnapshotLake.csColsFor(df.schema, statCol, statCol2)
    val minK = udaf(
      new graft.operators.KmvSketch.MinKDistinct(SnapshotLake.ColStat.K))
    def minMax(c: String) =
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long"))
    val aggs = minMax(statCol) ++ Seq(count(lit(1)),
      expr(s"try_sum(`$statCol`)").cast("long")) ++
      statCol2.toSeq.flatMap(minMax) ++
      bloomCol.map(c => collect_list(col(c).cast("long"))) ++
      cs.flatMap { case (c, isStr) =>
        val v = if (isStr) length(col(c)) else col(c)
        Seq(if (isStr) sum(v).cast("long") else min(v).cast("long"),
          max(v).cast("long"), count(when(col(c).isNull, 1)),
          minK(xxhash64(col(c)).bitwiseAND(lit(Long.MaxValue))))
      }
    df.groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val path = Paths.get(java.net.URI.create(r.getString(0)).getPath)
          .toAbsolutePath.normalize.toString
        def orZero(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
        val d2 = 5
        val bl = d2 + statCol2.size * 2
        val c0 = bl + bloomCol.size
        val bloom = bloomCol.map { _ =>
          val bits = new Array[Byte](bloomBytes)
          r.getSeq[Long](bl).foreach(SnapshotLake.Bloom.set(bits, _))
          bits
        }
        val cstats = cs.zipWithIndex.flatMap { case ((c, _), k) =>
          val j = c0 + 4 * k
          if (r.isNullAt(j)) None
          else Some(c.toLowerCase(java.util.Locale.ROOT) ->
            SnapshotLake.ColStat(r.getLong(j), r.getLong(j + 1),
              r.getLong(j + 2), r.getSeq[Long](j + 3)))
        }.toMap
        path -> SnapshotLake.FileStat(path, orZero(1), orZero(2),
          r.getLong(3), Files.size(Paths.get(path)), bloom,
          statCol2.map(_ => (orZero(d2), orZero(d2 + 1))),
          sum = if (r.isNullAt(4)) None else Some(r.getLong(4)),
          cstats = cstats)
      }.toMap
  }
}
