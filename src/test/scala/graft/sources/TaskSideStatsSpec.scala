package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Task-side write statistics (optimization r15): the DSv2 writers
  * accumulate each file's manifest stats WHILE WRITING and the
  * publish skips the write-then-re-read [[SnapshotLake.statsFor]]
  * pass — these specs pin the one invariant that makes the skip
  * safe: the task-side entries are VALUE-IDENTICAL to what the
  * read-back pass computes over the same files, and any column
  * shape the accumulator does not replicate falls back to the
  * read-back pass rather than guessing.
  */
class TaskSideStatsSpec extends SparkTestBase {

  private val Fmt = "graft.sources.GraftLakeSource"

  private def statFields(f: SnapshotLake.FileStat) =
    (f.name, f.lo, f.hi, f.rows, f.sum, f.dim2,
      f.bloom.map(_.toSeq), f.bytes, f.cstats)

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
    val (calls0, _) = SnapshotLake.statsAccounting
    df.write.format(Fmt).option("path", root)
      .option("statCol", "event_id").option("bloomCol", "cents")
      .option("bloomBytes", "512").option("statCol2", "dim2")
      .mode("append").save()
    val (calls1, _) = SnapshotLake.statsAccounting
    assert(calls1 === calls0,
      "publish ran the read-back stats pass — task-side stats did not engage")
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.length === 3)
    val head = snap.files.head
    val batch = head.name.substring(0, head.name.lastIndexOf('/'))
    val readBack = SnapshotLake.statsFor(spark, root, batch,
      "event_id", Some("cents"), 512, Some("dim2"))
    assert(snap.files.map(statFields).sortBy(_._1)
      === readBack.map(statFields).sortBy(_._1))
    // the string column really recorded char-length stats + a KMV
    val tag = head.cstats("tag")
    assert(tag.hi > 0 && tag.kmv.nonEmpty && tag.nulls > 0)
    assert(head.cstats.contains("cat"))
    // and the whole envelope still prunes through the connector
    val pruned = spark.read.format(Fmt).option("path", root).load()
      .where(col("event_id") < 1000)
    assert(pruned.count() === 1000)
  }

  test("a column shape outside the accumulator falls back to the read-back pass") {
    val root = Housekeeping.tempDir("taskstats_fb")
    // statCol of SMALLINT type: the accumulator replicates only the
    // long/int shapes and declines (supported = false) — publish
    // must fall back to statsFor and still commit identically
    val (calls0, _) = SnapshotLake.statsAccounting
    spark.range(0, 300)
      .selectExpr("cast(id AS smallint) AS event_id",
        "concat('v', id) AS label")
      .write.format(Fmt).option("path", root)
      .option("statCol", "event_id")
      .mode("append").save()
    val (calls1, _) = SnapshotLake.statsAccounting
    assert(calls1 === calls0 + 1,
      "fallback did not run the read-back stats pass exactly once")
    assert(spark.read.format(Fmt).option("path", root).load().count() === 300)
  }

  test("delta DML post-images and group-CoW rewrites skip the read-back pass") {
    val root = Housekeeping.tempDir("taskstats_dml")
    spark.range(0, 400).selectExpr("id AS k", "id * 7 AS v")
      .write.format(Fmt).option("path", root).option("statCol", "k")
      .mode("append").save()
    // dv table: UPDATE routes through the DSv2 delta protocol — the
    // post-image file must carry task-side stats under the PINNED
    // scanned version's envelope
    spark.sql("DROP TABLE IF EXISTS taskstats_dv")
    spark.sql(s"""CREATE TABLE taskstats_dv (k BIGINT, v BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'k', dv 'true')""")
    val (c0, _) = SnapshotLake.statsAccounting
    spark.sql("UPDATE taskstats_dv SET v = -1 WHERE k % 100 = 7")
    val (c1, _) = SnapshotLake.statsAccounting
    assert(c1 === c0, "delta DML post-image ran the read-back stats pass")
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
    val (c2, _) = SnapshotLake.statsAccounting
    spark.sql("UPDATE taskstats_cow SET v = -2 WHERE k % 100 = 7")
    val (c3, _) = SnapshotLake.statsAccounting
    assert(c3 === c2, "group-CoW rewrite ran the read-back stats pass")
    assert(spark.sql("SELECT count(*) FROM taskstats_cow WHERE v = -2")
      .head().getLong(0) === 4)
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
    // columns the read-back pass would, or decline
    spark.sql("ALTER TABLE taskstats_map RENAME COLUMN cents TO amount")
    val (c0, _) = SnapshotLake.statsAccounting
    spark.sql("""INSERT INTO taskstats_map
      SELECT id + 1000 AS event_id, id * 9 AS amount,
        concat('v', id % 7) AS tag FROM range(0, 400)""")
    val (c1, _) = SnapshotLake.statsAccounting
    assert(c1 === c0,
      "mapped-chain DSv2 append ran the read-back stats pass")
    val snap = SnapshotLake.snapshot(root)
    // the appended files' stats must equal a read-back of the same
    // batch (physical column names, lowercased — same key space)
    val newest = snap.files.filter(_.lo >= 1000)
    assert(newest.nonEmpty)
    val batch = newest.head.name.substring(0, newest.head.name.lastIndexOf('/'))
    val readBack = SnapshotLake.statsFor(spark, root, batch,
      "event_id", None, 1024, None)
    assert(newest.map(statFields).sortBy(_._1)
      === readBack.map(statFields).sortBy(_._1))
    assert(spark.sql(
      "SELECT sum(amount) FROM taskstats_map WHERE event_id >= 1000")
      .head().getLong(0) === (0 until 400).map(_ * 9L).sum)
    spark.sql("DROP TABLE IF EXISTS taskstats_map")
  }

  /** The Scala API verbs write through [[LakeCommit.writeRouted]] —
    * one write job whose tasks each feed one [[LakeDataWriter]], stats
    * accumulated task-side, no read-back pass. Value-identity is
    * pinned the same way as the DSv2 writers: each batch's manifest
    * entries must equal a statsFor read-back of the same files.
    */
  test("the Scala API verbs publish with task-side stats — no read-back pass") {
    val ev = spark.range(0, 4000)
      .selectExpr("id AS event_id", "id * 31 % 1000 AS cents")
    val root = Housekeeping.tempDir("taskstats_api")
    val root2 = Housekeeping.tempDir("taskstats_api2")
    val (c0, _) = SnapshotLake.statsAccounting
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
    val (c1, _) = SnapshotLake.statsAccounting
    assert(c1 === c0,
      s"an API verb ran the read-back stats pass (${c1 - c0} calls)")
    // value-identity per batch: manifest entries == read-back of the
    // same files, field by field (incl. bytes, blooms, cstats)
    def certify(r: String, bloomCol: Option[String], bloomBytes: Int,
        statCol2: Option[String]): Unit = {
      val snap = SnapshotLake.snapshot(r)
      snap.files.groupBy(f => f.name.substring(0, f.name.indexOf('/',
          f.name.indexOf('/') + 1))).foreach { case (batch, fs) =>
        // compare by name: a batch dir can hold files an overwrite
        // stopped referencing (time travel keeps them on disk)
        val byName = SnapshotLake.statsFor(spark, r, batch,
          snap.statCol, bloomCol, bloomBytes, statCol2)
          .map(f => f.name -> f).toMap
        fs.foreach { f =>
          assert(byName.contains(f.name),
            s"${f.name} of $r not found by the read-back pass")
          assert(statFields(f) === statFields(byName(f.name)),
            s"${f.name} of $r diverges from the read-back pass")
        }
      }
    }
    certify(root, Some("cents"), 512, None)
    certify(root2, None, 1024, None)
    certify(root3, None, 1024, Some("y"))
    certify(root4, None, 1024, None)
    certify(root5, None, 1024, None)
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

  test("an API-verb column shape outside the accumulator falls back to read-back") {
    val root = Housekeeping.tempDir("taskstats_api_fb")
    val (c0, _) = SnapshotLake.statsAccounting
    SnapshotLake.commit(spark, root, spark.range(0, 300)
      .selectExpr("cast(id AS smallint) AS event_id",
        "concat('v', id) AS label"), "event_id")
    val (c1, _) = SnapshotLake.statsAccounting
    assert(c1 === c0 + 1,
      "API-verb fallback did not run the read-back pass exactly once")
    assert(SnapshotLake.read(spark, root).count() === 300)
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
    val (calls0, _) = SnapshotLake.statsAccounting
    spark.range(0, 1200)
      .selectExpr("id AS event_id", "cast(id % 3 AS string) AS p",
        "id * 2 AS cents")
      .write.format(Fmt).option("path", root)
      .option("statCol", "event_id").option("partCol", "p")
      .mode("append").save()
    val (calls1, _) = SnapshotLake.statsAccounting
    assert(calls1 === calls0,
      "partitioned publish ran the read-back stats pass")
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(f => f.part.exists(_._1 == "p")))
    assert(snap.files.map(_.rows).sum === 1200)
    // per-file ranges must be real: a point filter prunes
    val batch = snap.files.head.name
      .substring(0, snap.files.head.name.lastIndexOf('/'))
    val readBack = SnapshotLake.statsFor(spark, root, batch,
      "event_id", None, 1024, None)
    assert(snap.files.map(statFields).map(t => (t._1, t._2, t._3, t._4,
      t._5, t._9)).sortBy(_._1)
      === readBack.map(statFields).map(t => (t._1, t._2, t._3, t._4,
        t._5, t._9)).sortBy(_._1))
  }
}
