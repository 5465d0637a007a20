package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.SnapshotLake

/** Named refs — branches + tags, the write-audit-publish surface:
  * zero-copy branch forking, connector-level branch reads/writes,
  * the strict fast-forward ancestor check, branch DML surviving the
  * publish, tag immutability + tag time travel, and vacuum treating
  * tagged versions as retention roots.
  */
class LakeRefsSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("lake_refs_").toString

  private def tbl(ids: Range) =
    ids.map(i => (i.toLong, i.toLong * 7)).toDF("k", "v")

  private def readMain(root: String) =
    spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()

  private def readBranch(root: String, b: String) =
    spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).option("branch", b).load()

  test("branch stages zero-copy, isolates main, fast-forward publishes " +
      "as one metadata commit") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 100), "k")
    SnapshotLake.createBranch(root, "audit")
    // the branch is a zero-copy fork: no data bytes under its subtree
    assert(!Files.isDirectory(Paths.get(root, "_branch", "audit", "data")))
    assert(readBranch(root, "audit").count() === 100L)
    // stage through the CONNECTOR write path
    tbl(100 until 150).write.format("graft.sources.GraftLakeSource")
      .option("path", root).option("branch", "audit")
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    // isolation: branch sees the staged rows, main does not
    assert(readBranch(root, "audit").count() === 150L)
    assert(readMain(root).count() === 100L)
    // publish writes ZERO data files
    def nParquet(): Long = {
      val st = Files.walk(Paths.get(root))
      try st.iterator().asScala.count(p =>
        p.toString.endsWith(".parquet") && !p.toString.contains("/_log/"))
      finally st.close()
    }
    val before = nParquet()
    val pub = SnapshotLake.fastForward(root, "audit")
    assert(nParquet() === before)
    assert(pub === 1)
    assert(readMain(root).count() === 150L)
    assert(readMain(root).agg(sum($"v")).head.getLong(0) ===
      (0L until 150L).map(_ * 7).sum)
    // published files are main-OWNED (relative names): main's own
    // snapshot must carry no absolute (borrowed) entries
    assert(SnapshotLake.snapshot(root).files.forall(!_.name.startsWith("/")))
    // main stays a first-class chain after the publish
    SnapshotLake.commit(spark, root, tbl(150 until 160), "k")
    assert(readMain(root).count() === 160L)
    // row ids stay unique across borrowed + branch-written + appended
    val rid = readMain(root).select(col("_row_id"))
    assert(rid.where(col("_row_id").isNull).count() === 0L)
    assert(rid.distinct().count() === 160L)
  }

  test("fast-forward refuses when main advanced past the fork") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 10), "k")
    SnapshotLake.createBranch(root, "b1")
    SnapshotLake.commit(spark, branchOf(root, "b1"), tbl(10 until 20), "k")
    SnapshotLake.commit(spark, root, tbl(90 until 95), "k") // main moves
    intercept[SnapshotLake.MergeConflictException] {
      SnapshotLake.fastForward(root, "b1")
    }
    // main unharmed
    assert(readMain(root).count() === 15L)
  }

  private def branchOf(root: String, b: String): String =
    s"$root/_branch/$b"

  test("a branch publishes at most once: the second fast-forward " +
      "conflicts on the moved head; racing tag creators — one winner") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 20), "k")
    SnapshotLake.createBranch(root, "b")
    SnapshotLake.commit(spark, branchOf(root, "b"), tbl(20 until 30), "k")
    assert(SnapshotLake.fastForward(root, "b") === 1)
    // the publish itself advanced main past the fork, so a replayed
    // publish (retry, duplicate scheduler run) can never double-land
    intercept[SnapshotLake.MergeConflictException] {
      SnapshotLake.fastForward(root, "b")
    }
    assert(readMain(root).count() === 30L)
    // tags are create-once even under a race: link(2) no-replace
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val ts = (0 until 2).map(i => new Thread(() =>
      if (scala.util.Try(SnapshotLake.createTag(root, "t", i)).isSuccess)
        wins.incrementAndGet(): Unit))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(wins.get() === 1)
    assert(Set(0, 1).contains(SnapshotLake.tagVersion(root, "t")))
  }

  test("branch DML (deletion vectors) survives the publish") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 100), "k")
    SnapshotLake.createBranch(root, "fix")
    // delete on the BRANCH: grows a vector over a borrowed file,
    // staged under the branch's own _dv/
    SnapshotLake.deleteRows(spark, branchOf(root, "fix"), col("k") < 10)
    assert(readBranch(root, "fix").count() === 90L)
    assert(readMain(root).count() === 100L) // isolation incl. DVs
    SnapshotLake.fastForward(root, "fix")
    assert(readMain(root).count() === 90L)
    assert(readMain(root).agg(min($"k")).head.getLong(0) === 10L)
    // the published vector is main-owned or main-readable after the
    // branch log is dropped
    SnapshotLake.dropBranch(spark, root, "fix")
    assert(readMain(root).count() === 90L)
  }

  test("a STREAM stages on a branch: exactly-once sink through the " +
      "branch option, audit isolation, fast-forward publish") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 20), "k")
    SnapshotLake.createBranch(root, "ingest")
    val src = Files.createTempDirectory("refs_stream_src_").toString
    tbl(20 until 40).coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(src)
    val chk = Files.createTempDirectory("refs_stream_chk_").toString
    val q = spark.readStream.schema(tbl(0 until 1).schema).parquet(src)
      .writeStream.format("graft.sources.GraftLakeSource")
      .option("path", root).option("branch", "ingest")
      .option("checkpointLocation", chk)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // staged on the branch, invisible on main — streaming WAP
    assert(readBranch(root, "ingest").count() === 40L)
    assert(readMain(root).count() === 20L)
    SnapshotLake.fastForward(root, "ingest")
    assert(readMain(root).count() === 40L)
    assert(readMain(root).agg(sum($"v")).head.getLong(0) ===
      (0L until 40L).map(_ * 7).sum)
  }

  test("schema evolution staged on a branch publishes with the data") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 50), "k")
    SnapshotLake.createBranch(root, "evo")
    // the branch widens the schema (new column) AND adds rows; main
    // must see neither until the publish, both after
    val widened = (50 until 60).map(i =>
      (i.toLong, i.toLong * 7, s"tag-$i")).toDF("k", "v", "label")
    SnapshotLake.commit(spark, branchOf(root, "evo"), widened, "k")
    assert(!readMain(root).columns.contains("label"))
    val br = readBranch(root, "evo")
    assert(br.columns.contains("label"))
    assert(br.where(col("label").isNull).count() === 50L) // null-fill
    SnapshotLake.fastForward(root, "evo")
    val m = readMain(root)
    assert(m.columns.contains("label"))
    assert(m.count() === 60L)
    assert(m.where(col("label").isNotNull).count() === 10L)
  }

  test("vacuum pins LIVE BRANCHES: main's retention never deletes " +
      "files a branch still borrows") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 100), "k") // v0
    SnapshotLake.createBranch(root, "keep") // borrows v0's files
    // main moves on: two overwrites obsolete v0's files on MAIN
    SnapshotLake.commit(spark, root, tbl(0 until 10), "k",
      overwrite = true) // v1
    SnapshotLake.commit(spark, root, tbl(0 until 20), "k",
      overwrite = true) // v2
    val (dropped, deleted) = SnapshotLake.vacuum(root, 1)
    assert(dropped === 0 && deleted === 0) // branch fork pins v0
    assert(readBranch(root, "keep").count() === 100L) // still readable
    // dropping the branch re-exposes v0 to the next vacuum
    SnapshotLake.dropBranch(spark, root, "keep")
    val (dropped2, _) = SnapshotLake.vacuum(root, 1)
    assert(dropped2 === 2)
    assert(readMain(root).count() === 20L)
  }

  test("dropBranch reclaims an UNPUBLISHED branch's staged files; a " +
      "published branch's main-owned files survive the drop") {
    def parquetUnder(p: java.nio.file.Path): Long =
      if (!Files.isDirectory(p)) 0L
      else {
        val st = Files.walk(p)
        try st.iterator().asScala.count(_.toString.endsWith(".parquet"))
        finally st.close()
      }
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 50), "k")
    // abandoned WAP stage: the staged bytes never enter any main
    // manifest, so without the drop-time sweep they leak forever
    // (main's vacuum only reclaims names its own manifests referenced)
    SnapshotLake.createBranch(root, "aband")
    tbl(50 until 90).write.format("graft.sources.GraftLakeSource")
      .option("path", root).option("branch", "aband")
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    assert(parquetUnder(Paths.get(root, "_branch", "aband", "data")) > 0)
    SnapshotLake.dropBranch(spark, root, "aband")
    assert(!Files.isDirectory(Paths.get(root, "_branch", "aband")),
      "unpublished branch left orphaned files behind")
    assert(readMain(root).count() === 50L)
    // published branch: its data files became main-OWNED names at
    // fast-forward — the drop must keep every byte main references
    SnapshotLake.createBranch(root, "pub")
    tbl(100 until 120).write.format("graft.sources.GraftLakeSource")
      .option("path", root).option("branch", "pub")
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    SnapshotLake.fastForward(root, "pub")
    SnapshotLake.dropBranch(spark, root, "pub")
    val m = readMain(root)
    assert(m.count() === 70L)
    assert(m.agg(sum($"v")).head.getLong(0) ===
      ((0L until 50L) ++ (100L until 120L)).map(_ * 7).sum)
    // the surviving bytes are exactly the main-referenced ones
    assert(SnapshotLake.snapshot(root).files
      .exists(_.name.startsWith("_branch/pub/")))
    assert(parquetUnder(Paths.get(root, "_branch", "pub")) > 0)
    // a second stage/publish cycle over a lake that already holds a
    // published branch's files: the abandoned stage reclaims fully,
    // the published branch's main-owned files survive
    SnapshotLake.createBranch(root, "aband2")
    tbl(200 until 230).write.format("graft.sources.GraftLakeSource")
      .option("path", root).option("branch", "aband2")
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    assert(parquetUnder(Paths.get(root, "_branch", "aband2", "data")) > 0)
    SnapshotLake.dropBranch(spark, root, "aband2")
    assert(!Files.isDirectory(Paths.get(root, "_branch", "aband2")),
      "second drop left the unpublished branch behind")
    SnapshotLake.createBranch(root, "pub2")
    tbl(300 until 310).write.format("graft.sources.GraftLakeSource")
      .option("path", root).option("branch", "pub2")
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    SnapshotLake.fastForward(root, "pub2")
    SnapshotLake.dropBranch(spark, root, "pub2")
    val m2 = readMain(root)
    assert(m2.count() === 80L)
    assert(SnapshotLake.snapshot(root).files
      .exists(_.name.startsWith("_branch/pub2/")))
    assert(parquetUnder(Paths.get(root, "_branch", "pub2")) > 0)
  }

  test("dropBranch refuses while nested branches live — their " +
      "borrowed files and refs would orphan mid-air") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 30), "k")
    SnapshotLake.createBranch(root, "parent")
    tbl(30 until 40).write.format("graft.sources.GraftLakeSource")
      .option("path", root).option("branch", "parent")
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    SnapshotLake.createBranch(branchOf(root, "parent"), "child")
    val e = intercept[Exception] {
      SnapshotLake.dropBranch(spark, root, "parent")
    }
    assert(e.getMessage.contains("nested"))
    // both chains still read
    assert(readBranch(root, "parent").count() === 40L)
    assert(spark.read.format("graft.sources.GraftLakeSource")
      .option("path", branchOf(root, "parent"))
      .option("branch", "child").load().count() === 40L)
    // drop bottom-up: child first, then parent — clean reclaim
    SnapshotLake.dropBranch(spark, branchOf(root, "parent"), "child")
    SnapshotLake.dropBranch(spark, root, "parent")
    assert(!Files.isDirectory(Paths.get(root, "_branch", "parent")))
    assert(readMain(root).count() === 30L)
  }

  test("a typo'd branch option fails fast — no untracked lake " +
      "bootstraps under _branch") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 10), "k")
    val e = intercept[Exception] {
      tbl(10 until 20).write.format("graft.sources.GraftLakeSource")
        .option("path", root).option("branch", "nope")
        .mode(org.apache.spark.sql.SaveMode.Append).save()
    }
    assert(e.getMessage.contains("no branch"))
    assert(!Files.isDirectory(Paths.get(root, "_branch", "nope")),
      "typo'd branch write bootstrapped an untracked lake")
    intercept[Exception] { readBranch(root, "nope").count() }
    assert(readMain(root).count() === 10L)
  }

  test("branch_ identifier writes plan the BASE TABLE's layout") {
    val cat = "graft_refs_cat2"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftLakeCatalog")
    val base = Files.createTempDirectory("refs_wh2_").toString
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    spark.sql(s"""
      CREATE TABLE $cat.bt (k BIGINT, cents BIGINT)
      PARTITIONED BY (bucket(4, k))
      TBLPROPERTIES ('statCol' = 'cents', 'sortcol' = 'k')""")
    spark.sql(s"INSERT INTO $cat.bt SELECT id, id FROM range(400)")
    spark.sql(s"CALL $cat.create_branch(table => 'bt', branch => 'w')")
      .collect()
    // a staged write through the identifier must land bucket-tagged
    // AND sort-stamped, or the publish would silently erode the
    // layout SPJ and the ordering claim rely on
    spark.sql(s"INSERT INTO $cat.bt.branch_w " +
      "SELECT id, id FROM range(400, 800)")
    val snap = SnapshotLake.snapshot(s"$base/bt/_branch/w")
    val fresh = snap.files.filterNot(_.name.startsWith("/"))
    assert(fresh.nonEmpty)
    assert(fresh.forall(_.part.isDefined), "branch write lost the tags")
    assert(fresh.forall(_.sorted.contains("k")),
      "branch write lost the sort stamp")
    spark.sql(s"CALL $cat.fast_forward(table => 'bt', branch => 'w')")
      .collect()
    assert(spark.sql(s"SELECT count(*) FROM $cat.bt").head.getLong(0)
      === 800L)
    spark.sql(s"DROP TABLE $cat.bt")
  }

  test("multisetDiffCount: NULL keys match like exceptAll") {
    val a = Seq[(java.lang.Long, Long)]((null, 1L), (2L, 2L))
      .toDF("k", "v")
    val b = Seq[(java.lang.Long, Long)]((null, 1L), (2L, 2L))
      .toDF("k", "v")
    assert(SnapshotLake.multisetDiffCount(a, b, Seq("k", "v")) === 0L)
    val c = Seq[(java.lang.Long, Long)]((null, 9L), (2L, 2L))
      .toDF("k", "v")
    assert(SnapshotLake.multisetDiffCount(a, c, Seq("k", "v")) === 2L)
  }

  test("tags are immutable, readable by name, and pin retention") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 50), "k") // v0
    SnapshotLake.commit(spark, root, tbl(0 until 10), "k",
      overwrite = true) // v1
    SnapshotLake.commit(spark, root, tbl(0 until 20), "k",
      overwrite = true) // v2
    SnapshotLake.createTag(root, "rel", 0)
    intercept[IllegalArgumentException] {
      SnapshotLake.createTag(root, "rel", 1) // immutable
    }
    assert(SnapshotLake.tagVersion(root, "rel") === 0)
    val viaTag = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).option("tag", "rel").load()
    assert(viaTag.count() === 50L)
    // vacuum keep 1 would drop v0/v1 — the tag pins v0 (and its files)
    val (dropped, deleted) = SnapshotLake.vacuum(root, 1)
    assert(dropped === 0 && deleted === 0)
    assert(spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).option("tag", "rel").load().count() === 50L)
    // dropping the tag re-exposes old versions to the next vacuum
    Files.delete(Paths.get(root, "_refs", "tag-rel"))
    val (dropped2, _) = SnapshotLake.vacuum(root, 1)
    assert(dropped2 === 2)
    assert(readMain(root).count() === 20L)
  }

  test("version and tag options are mutually exclusive; unknown refs fail") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 5), "k")
    intercept[Exception] {
      spark.read.format("graft.sources.GraftLakeSource")
        .option("path", root).option("tag", "nope").load()
    }
    SnapshotLake.createTag(root, "t0", 0)
    intercept[Exception] {
      spark.read.format("graft.sources.GraftLakeSource")
        .option("path", root).option("version", 0).option("tag", "t0")
        .load().collect()
    }
    intercept[IllegalArgumentException] {
      SnapshotLake.createBranch(root, "bad/name")
    }
  }

  test("the WHOLE WAP loop runs in pure SQL: branch_/tag_ reads, " +
      "branch writes, procedures, tag time travel") {
    val cat = "graft_refs_cat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      Files.createTempDirectory("refs_wh_").toString)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statCol' = 'k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 3 FROM range(40)")
    val forked = spark.sql(
      s"CALL $cat.create_branch(table => 't', branch => 'wap')").head
    assert(forked.getLong(0) >= 0L)
    // WRITE: stage through the branch_ identifier — SQL only
    spark.sql(s"INSERT INTO $cat.t.branch_wap " +
      "SELECT id, id * 3 FROM range(40, 60)")
    // AUDIT: branch sees the staged rows, main does not
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.branch_wap")
      .head.getLong(0) === 60L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) === 40L)
    // PUBLISH
    val pub = spark.sql(
      s"CALL $cat.fast_forward(table => 't', branch => 'wap')").head
    assert(pub.getLong(0) === 1L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) === 60L)
    // TAG the release; read it via tag_ identifier AND VERSION AS OF
    spark.sql(s"CALL $cat.create_tag(table => 't', tag => 'r1', " +
      "version => 1)").collect()
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.tag_r1")
      .head.getLong(0) === 60L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'r1'")
      .head.getLong(0) === 60L)
    // a second branch whose fork main then outruns -> publish refused
    spark.sql(s"CALL $cat.create_branch(table => 't', branch => 'wap2')")
      .collect()
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 3 FROM range(60, 70)")
    val pubErr = intercept[Exception] {
      spark.sql(s"CALL $cat.fast_forward(table => 't', branch => 'wap2')")
        .collect()
    }
    assert(pubErr.getMessage.contains("fast-forward") ||
      pubErr.getCause != null)
    spark.sql(s"CALL $cat.drop_branch(table => 't', branch => 'wap')")
      .collect()
    spark.sql(s"CALL $cat.drop_branch(table => 't', branch => 'wap2')")
      .collect()
    // unknown refs through the identifier path fail normally
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t.branch_nope").collect()
    }
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t.tag_nope").collect()
    }
    spark.sql(s"DROP TABLE $cat.t")
  }
}
