package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.SnapshotLake

/** The snapshot-manifest lake: commit/read/time-travel semantics,
  * reader isolation from unreferenced files, the optimistic-
  * concurrency rebase, and file skipping as a PURE optimization
  * (same rows with and without the metadata prune, straddling
  * boundaries included).
  */
class SnapshotLakeSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("lake_spec_").toString

  private def tbl(ids: Range) =
    ids.map(i => (i.toLong, i.toLong * 7)).toDF("k", "v")

  test("removeOrphans deletes exactly the unreferenced residue: " +
      "time-travel files survive, grace spares fresh files, " +
      "referenced DV sidecars stay") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 100), "k") // v0
    SnapshotLake.commit(spark, root, tbl(0 until 5000), "k",
      overwrite = true) // v1: v0's files referenced by time travel only
    // a WIDE scattered delete externalizes a dv- sidecar the head
    // references (scattered so it stays on the vector path)
    SnapshotLake.deleteRows(spark, root, col("k") % 3 === 1L,
      cowThresholdRows = 100000L)
    val dvDir = Paths.get(root, "_dv")
    val liveSidecars =
      if (!Files.isDirectory(dvDir)) Seq.empty[java.nio.file.Path]
      else {
        val st = Files.list(dvDir)
        try st.iterator().asScala.toSeq finally st.close()
      }
    // plant the three crashed-writer species
    val plants = Seq(
      Paths.get(root, "data", "b-dead", "part-0.parquet"),
      Paths.get(root, "_staging", "task-lost.parquet"),
      Paths.get(root, "_dv", "stage-abandoned.bin"))
    plants.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.write(p, "junk".getBytes(StandardCharsets.UTF_8)): Unit
    }
    // grace window spares everything fresh — including the DEFAULT
    // window (Iceberg's 3-day older_than): a no-args sweep must never
    // race an in-flight writer's just-moved files
    val (rmDefault, _) = SnapshotLake.removeOrphans(root)
    assert(rmDefault === 0)
    val (rm0, _) = SnapshotLake.removeOrphans(root, graceMs = 3600000L)
    assert(rm0 === 0)
    assert(plants.forall(Files.exists(_)))
    // grace 0: only safe with no concurrent writers — true here
    val (rm1, kept) = SnapshotLake.removeOrphans(root, graceMs = 0L)
    assert(rm1 === 3)
    assert(plants.forall(p => !Files.exists(p)))
    // every manifest-referenced file across ALL versions is intact
    val expected = (0 to SnapshotLake.headVersion(root)).flatMap(v =>
      SnapshotLake.snapshot(root, Some(v)).files.map(_.name)).distinct
    assert(expected.forall(n => Files.exists(Paths.get(root, n))))
    assert(kept >= expected.size) // + any referenced dv sidecars
    // live dv sidecars survived (the head still reads its vector)
    assert(liveSidecars.nonEmpty && liveSidecars.forall(Files.exists(_)))
    // data answers untouched, time travel included
    assert(SnapshotLake.read(spark, root).count() ===
      (0L until 5000L).count(_ % 3 != 1).toLong)
    assert(SnapshotLake.read(spark, root, Some(0)).count() === 100L)
    assert(SnapshotLake.read(spark, root, Some(1)).count() === 5000L)
  }

  test("append commits accumulate; overwrite replaces; every old version stays readable") {
    val root = freshRoot()
    val v1 = SnapshotLake.commit(spark, root, tbl(0 until 10), "k")
    val v2 = SnapshotLake.commit(spark, root, tbl(10 until 30), "k")
    val v3 = SnapshotLake.commit(spark, root, tbl(100 until 105), "k",
      overwrite = true)
    assert((v1, v2, v3) === (0, 1, 2))
    def ks(asOf: Int) = SnapshotLake.read(spark, root, Some(asOf))
      .select("k").as[Long].collect().sorted.toSeq
    assert(ks(v1) === (0L until 10L))
    assert(ks(v2) === (0L until 30L))
    assert(ks(v3) === (100L until 105L))
    // head == latest
    assert(SnapshotLake.read(spark, root).count() === 5L)
    // overwrite deleted nothing: v2's files are still on disk and v2
    // still reads byte-identically after the overwrite
    assert(ks(v2) === (0L until 30L))
  }

  test("readers see only manifest-referenced files: planted orphan never surfaces") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 10), "k")
    // an abandoned writer's file, present under data/ but in no manifest
    val orphanDir = s"$root/data/b-orphan"
    tbl(1000 until 1010).write.parquet(orphanDir)
    assert(SnapshotLake.read(spark, root).count() === 10L)
    assert(SnapshotLake.read(spark, root).agg(max(col("k"))).head().getLong(0) === 9L)
  }

  test("lost commit race rebases onto the new head instead of clobbering it") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 5), "k")
    // simulate a concurrent committer winning version 1: occupy the slot
    // with a valid manifest for an EMPTY append
    val head = Files.readAllLines(
      Paths.get(root, "_log", "v00000.manifest"), StandardCharsets.UTF_8)
      .asScala.toSeq
    // re-version the header but keep its remaining fields — including
    // the ckptfile= sidecar pointer that now carries the file list
    val stolenHeader = ("v=1" +: head.head.split('\t').toSeq.tail)
      .mkString("\t")
    val stolen = (stolenHeader +: head.tail).mkString("", "\n", "\n")
    Files.write(Paths.get(root, "_log", "v00001.manifest"),
      stolen.getBytes(StandardCharsets.UTF_8))
    // this commit targets v1, loses, rebases, lands at v2 — with BOTH
    // the winner's files and its own
    val v = SnapshotLake.commit(spark, root, tbl(5 until 8), "k")
    assert(v === 2)
    assert(SnapshotLake.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq === (0L until 8L))
    // no stray staged manifests left behind
    assert(!Files.list(Paths.get(root, "_log")).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".tmp-")))
  }

  test("genuinely concurrent committers: every append lands, versions stay contiguous") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 10), "k")
    // 6 threads race 3 appends each through the optimistic loop
    val futures = (0 until 6).map { t =>
      Future {
        (0 until 3).map { j =>
          val base = 1000 + (t * 3 + j) * 10
          SnapshotLake.commit(spark, root, tbl(base until base + 10), "k")
        }
      }
    }
    val versions = Await.result(Future.sequence(futures), 120.seconds)
      .flatten.sorted
    // 18 racing commits took exactly versions 1..18, no gaps, no reuse
    assert(versions === (1 to 18))
    assert(SnapshotLake.headVersion(root) === 18)
    // nothing was lost: the head sees the seed rows plus all 18 appends
    assert(SnapshotLake.read(spark, root).count() === (10 + 18 * 10).toLong)
    // and no half-published staging files remain
    assert(!Files.list(Paths.get(root, "_log")).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".tmp-")))
  }

  test("manifest stats are exact per-file min/max/rows") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(5 until 20).coalesce(1), "k")
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.map(f => (f.lo, f.hi, f.rows)) === Seq((5L, 19L, 15L)))
    assert(snap.statCol === "k")
  }

  test("file skipping is a pure optimization: straddling ranges, aligned ranges, empty ranges") {
    val root = freshRoot()
    // four disjoint single-file buckets of 25 ids each
    (0 until 4).foreach { i =>
      SnapshotLake.commit(spark, root,
        tbl(i * 25 until (i + 1) * 25).coalesce(1), "k")
    }
    val full = SnapshotLake.read(spark, root)
    for ((lo, hi) <- Seq((25L, 75L), (10L, 60L), (0L, 100L), (99L, 100L),
        (40L, 41L), (200L, 300L), (60L, 60L))) {
      val (pruned, nRead, nTotal) = SnapshotLake.readPruned(spark, root, lo, hi)
      assert(nTotal === 4)
      val expect = full.where(col("k") >= lo && col("k") < hi)
        .select("k").as[Long].collect().sorted.toSeq
      assert(pruned.select("k").as[Long].collect().sorted.toSeq === expect,
        s"range [$lo, $hi): pruned read diverged")
      // the prune is tight for these disjoint files: exactly the
      // buckets the range intersects
      val expectFiles = (0 until 4).count(i =>
        (i * 25 + 24) >= lo && (i * 25) < hi)
      assert(nRead === expectFiles, s"range [$lo, $hi): kept $nRead files")
    }
  }

  // 64×64 grid, value = x*1000+y so row identity pins both dims
  private def grid2d =
    (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong, x.toLong * 1000 + y)).toDF("x", "y", "v")

  test("z-order commit: dim2 boxes are exact, survive the manifest roundtrip, and 2-D pruning is pure") {
    val root = freshRoot()
    SnapshotLake.commitClustered(spark, root, grid2d,
      SnapshotLake.zOrderBucket("x", 0, 63, "y", 0, 63, 16),
      statCol = "x", statCol2 = Some("y"))
    val snap = SnapshotLake.snapshot(root)
    assert(snap.statCol2 === Some("y"))
    assert(snap.files.size === 16)
    // every file carries a dim2 box, parsed back from the TSV; the
    // 16 fixed-width z-buckets tile the grid as 16×16 quadrant cells
    assert(snap.files.forall(_.dim2.isDefined))
    snap.files.foreach { f =>
      val (l2, h2) = f.dim2.get
      assert(f.hi - f.lo <= 15 && h2 - l2 <= 15,
        s"${f.name}: box [${f.lo},${f.hi}]x[$l2,$h2] not a tight cell")
      assert(f.rows === 256)
    }
    val full = SnapshotLake.read(spark, root)
    for ((xlo, xhi, ylo, yhi) <- Seq(
        (32L, 64L, 0L, 16L),   // the judged aligned shape
        (10L, 50L, 5L, 60L),   // straddles cells in both dims
        (0L, 64L, 0L, 64L),    // whole grid
        (63L, 64L, 63L, 64L),  // single corner point
        (100L, 200L, 0L, 64L)  // empty on x
      )) {
      val (pruned, nRead, nTotal) =
        SnapshotLake.readPruned2D(spark, root, xlo, xhi, ylo, yhi)
      assert(nTotal === 16)
      val expect = full.where(col("x") >= xlo && col("x") < xhi &&
        col("y") >= ylo && col("y") < yhi)
        .select("v").as[Long].collect().sorted.toSeq
      assert(pruned.select("v").as[Long].collect().sorted.toSeq === expect,
        s"box [$xlo,$xhi)x[$ylo,$yhi): pruned read diverged")
    }
    // the aligned quadrant box must hit exactly its 2 covering cells
    val (_, nAligned, _) =
      SnapshotLake.readPruned2D(spark, root, 32, 64, 0, 16)
    assert(nAligned === 2)
    val (_, nEmpty, _) =
      SnapshotLake.readPruned2D(spark, root, 100, 200, 0, 64)
    assert(nEmpty === 0)
  }

  test("z-order beats a 1-D layout on a box selective in both dimensions") {
    val zRoot = freshRoot()
    val xRoot = freshRoot()
    SnapshotLake.commitClustered(spark, zRoot, grid2d,
      SnapshotLake.zOrderBucket("x", 0, 63, "y", 0, 63, 16),
      statCol = "x", statCol2 = Some("y"))
    // same data, same file count, clustered on x alone: y-boxes all
    // span the full domain, so the y half of the predicate prunes
    // nothing
    SnapshotLake.commitClustered(spark, xRoot, grid2d,
      expr("CAST(x div 4 AS BIGINT)"), statCol = "x",
      statCol2 = Some("y"))
    val (zDf, zRead, _) =
      SnapshotLake.readPruned2D(spark, zRoot, 32, 64, 0, 16)
    val (xDf, xRead, _) =
      SnapshotLake.readPruned2D(spark, xRoot, 32, 64, 0, 16)
    assert(zDf.select("v").as[Long].collect().sorted.toSeq ===
      xDf.select("v").as[Long].collect().sorted.toSeq)
    assert(zRead === 2)
    assert(xRead === 8, "x-clustered layout should keep every file in the x half")
  }

  test("an append without dim2 stats is never pruned away; the dimension identity is inherited") {
    val root = freshRoot()
    SnapshotLake.commitClustered(spark, root, grid2d,
      SnapshotLake.zOrderBucket("x", 0, 63, "y", 0, 63, 16),
      statCol = "x", statCol2 = Some("y"))
    // plain append redeclares neither bloom nor dim2 — the commit
    // inherits the parent's statCol2 identity, and the new file's
    // missing y-box means 2-D pruning must always keep it
    SnapshotLake.commit(spark, root,
      Seq((200L, 50L, 999999L)).toDF("x", "y", "v").coalesce(1), "x")
    val snap = SnapshotLake.snapshot(root)
    assert(snap.statCol2 === Some("y"))
    assert(snap.files.count(_.dim2.isEmpty) === 1)
    // box that excludes the appended row's y on stats it doesn't
    // have: the file is KEPT (no stats -> no prune) and the residual
    // row filter still excludes the row — purity, not luck
    val (pruned, nRead, nTotal) =
      SnapshotLake.readPruned2D(spark, root, 0, 300, 0, 16)
    assert(nTotal === 17 && nRead === 5)
    assert(pruned.where(col("v") === 999999L).count() === 0)
    // and a box that DOES cover it reads it back through the prune
    val (hit, _, _) = SnapshotLake.readPruned2D(spark, root, 0, 300, 0, 64)
    assert(hit.where(col("v") === 999999L).count() === 1)
  }

  test("incremental log: 1,000 commits cost O(delta) bytes each; snapshots read one checkpoint + a bounded tail") {
    val root = freshRoot()
    // driver-only chain: 1,000 appends of one synthetic file each —
    // the streaming-sink shape (no Spark jobs, the log is the test)
    (0 until 1000).foreach { i =>
      SnapshotLake.commitFiles(root,
        Seq(SnapshotLake.FileStat(f"data/b-$i%05d/part-0.parquet",
          i * 10L, i * 10L + 9, 10L, bytes = 1024L)),
        "k", overwrite = false, bloomCol = None)
    }
    def manifestSize(v: Int): Long =
      Files.size(Paths.get(root, "_log", f"v$v%05d.manifest"))
    // per-commit bytes: every non-checkpoint manifest carries ONE add
    // action — O(delta), independent of the 1,000-file live list
    val deltaSizes = (0 to 999).filterNot(_ % SnapshotLake.CheckpointInterval == 0)
      .map(manifestSize)
    assert(deltaSizes.max < 400,
      s"delta manifest grew with the table: max ${deltaSizes.max} bytes")
    // checkpoints DO grow with the live list — that is their job
    assert(manifestSize(992) > manifestSize(16))
    // head reconstruction: full list, <= 1 checkpoint + tail reads
    val head = SnapshotLake.snapshot(root)
    assert(head.files.size === 1000)
    assert(SnapshotLake.lastSnapshotReads <= SnapshotLake.CheckpointInterval,
      s"head snapshot read ${SnapshotLake.lastSnapshotReads} manifests")
    // time travel at checkpoint boundaries, mid-tail, and the start
    Seq(0, 15, 16, 17, 399, 767, 998).foreach { v =>
      val s = SnapshotLake.snapshot(root, Some(v))
      assert(s.files.size === v + 1, s"version $v wrong file count")
      assert(s.files.map(_.rows).sum === (v + 1) * 10L)
      assert(SnapshotLake.lastSnapshotReads <= SnapshotLake.CheckpointInterval)
    }
    // vacuum keeps the earliest surviving version reconstructible:
    // wanted cutoff 990 snaps back to the 976 checkpoint
    val (dropped, _) = SnapshotLake.vacuum(root, keepVersions = 10)
    assert(dropped === 976)
    assert(SnapshotLake.snapshot(root, Some(976)).files.size === 977)
    assert(SnapshotLake.snapshot(root, Some(999)).files.size === 1000)
    intercept[Exception] { SnapshotLake.snapshot(root, Some(975)) }
  }

  test("removes travel through the delta log: merge/delete actions reconstruct exactly") {
    val root = freshRoot()
    // v0 checkpoint with 4 files, then delta commits that REMOVE:
    // a delete dropping one file and rewriting another must
    // reconstruct from (rm + add) actions, not a full list
    val bucket = (1 to 3).foldLeft(lit(0)) { (acc, i) =>
      when(col("k") >= i * 100, lit(i)).otherwise(acc)
    }
    SnapshotLake.commitClustered(spark, root, tbl(0 until 400), bucket, "k")
    val res = SnapshotLake.delete(spark, root, 100L, 250L)
    assert(res.filesDropped === 1 && res.filesRewritten === 1)
    // the delete's manifest is a delta holding its actions only
    val lines = Files.readAllLines(
      Paths.get(root, "_log", "v00001.manifest"),
      StandardCharsets.UTF_8).asScala
    assert(lines.head.contains("kind=delta"), s"expected delta: ${lines.head}")
    assert(lines.tail.count(_.startsWith("rm\t")) === 2)
    assert(lines.tail.count(_.startsWith("add\t")) === 1)
    // reconstruction agrees with the data
    val ks = SnapshotLake.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq
    assert(ks === ((0L until 100L) ++ (250L until 400L)))
    assert(SnapshotLake.snapshot(root).files.size === 3)
    // time travel to the checkpoint is untouched
    assert(SnapshotLake.read(spark, root, Some(0)).count() === 400L)
  }

  test("vacuumOlderThan keeps the head unconditionally, snaps to a " +
      "checkpoint, and respects tag retention roots") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 10), "k") // v0 ckpt
    SnapshotLake.commit(spark, root, tbl(10 until 20), "k") // v1 delta
    SnapshotLake.commit(spark, root, tbl(0 until 5), "k",
      overwrite = true) // v2 ckpt
    SnapshotLake.commit(spark, root, tbl(20 until 30), "k") // v3 delta
    // a far-future horizon must still keep the head (and its
    // checkpoint ancestry): exactly v0+v1 drop
    val (m, _) = SnapshotLake.vacuumOlderThan(root, Long.MaxValue)
    assert(m === 2)
    assert(SnapshotLake.read(spark, root, Some(2)).count() === 5L)
    assert(SnapshotLake.read(spark, root).count() === 15L)
    intercept[Exception] { SnapshotLake.read(spark, root, Some(1)).count() }
    // tags stay retention roots under the time horizon too
    val root2 = freshRoot()
    SnapshotLake.commit(spark, root2, tbl(0 until 10), "k") // v0 ckpt
    SnapshotLake.commit(spark, root2, tbl(10 until 20), "k") // v1
    SnapshotLake.commit(spark, root2, tbl(0 until 5), "k",
      overwrite = true) // v2 ckpt
    SnapshotLake.createTag(root2, "audit", 1)
    val (m2, _) = SnapshotLake.vacuumOlderThan(root2, Long.MaxValue)
    assert(m2 === 0) // the tag pins v1, whose checkpoint is v0
    assert(SnapshotLake.read(spark, root2, Some(1)).count() === 20L)
  }

  test("vacuum reclaims only unreachable files; retained versions read byte-stable") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 10).coalesce(1), "k")       // v0
    SnapshotLake.commit(spark, root, tbl(10 until 20).coalesce(1), "k")      // v1
    SnapshotLake.commit(spark, root, tbl(100 until 110).coalesce(1), "k",
      overwrite = true)                                                      // v2
    SnapshotLake.commit(spark, root, tbl(110 until 120).coalesce(1), "k")    // v3
    // keep v2..v3: v0/v1's files (ids 0..19) are referenced by NO
    // surviving manifest and must go; v2's file survives because v3
    // still references it
    val (droppedVersions, deletedFiles) = SnapshotLake.vacuum(root, 2)
    assert(droppedVersions === 2)
    assert(deletedFiles === 2, "exactly the two pre-overwrite files die")
    assert(SnapshotLake.read(spark, root, Some(2)).count() === 10L)
    assert(SnapshotLake.read(spark, root, Some(3)).select("k").as[Long]
      .collect().sorted.toSeq === (100L until 120L))
    // vacuumed version fails fast on the missing manifest
    intercept[Exception] { SnapshotLake.read(spark, root, Some(0)) }
    // the deleted names are really gone from disk
    assert(Files.walk(Paths.get(root, "data")).iterator().asScala
      .count(p => p.toString.endsWith(".parquet")) === 2)
    // idempotent: a second vacuum with the same retention is a no-op
    assert(SnapshotLake.vacuum(root, 2) === ((0, 0)))
  }

  test("restore publishes an old version's contents as a new head, rewriting nothing") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 10), "k")                  // v0 good
    SnapshotLake.commit(spark, root, tbl(500 until 520), "k",
      overwrite = true)                                                     // v1 bad
    val v2 = SnapshotLake.restore(root, 0)
    assert(v2 === 2)
    assert(SnapshotLake.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq === (0L until 10L))
    // the bad version stays readable for audit until vacuumed
    assert(SnapshotLake.read(spark, root, Some(1)).count() === 20L)
    // restore survives vacuum because the head references v0's files
    SnapshotLake.vacuum(root, 1)
    assert(SnapshotLake.read(spark, root).count() === 10L)
    intercept[Exception] { SnapshotLake.restore(root, 1) } // vacuumed away
  }

  test("bloom point lookup: never a false negative, really skips, bloom-less files always kept") {
    val root = freshRoot()
    // 4 files bucketed by k % 4 — every file's [min, max] spans the
    // domain, so range pruning would keep all of them
    (0 until 4).foreach { i =>
      SnapshotLake.commit(spark,
        root, tbl(0 until 200).where(col("k") % 4 === i).coalesce(1),
        statCol = "k", bloomCol = Some("k"), bloomBytes = 1024)
    }
    var totalKept = 0
    for (v <- 0L until 200L by 13L) {
      val (df, kept, total) = SnapshotLake.readPoint(spark, root, v)
      assert(total === 4)
      assert(df.select("k").as[Long].collect().toSeq === Seq(v),
        s"point lookup lost or duplicated k=$v") // no false negatives
      totalKept += kept
    }
    // 16 probes × 4 files = 64 naive reads; with 50 keys in an 8192-bit
    // bloom the false-positive rate is tiny — real skipping must show
    assert(totalKept < 32, s"bloom index barely skipped: $totalKept/64")
    // absent values prune everything (modulo false positives) and
    // return empty, never an error
    val (miss, keptMiss, _) = SnapshotLake.readPoint(spark, root, 10_000L)
    assert(miss.count() === 0L && keptMiss <= 1)
    // a commit WITHOUT bloomCol inherits the index column; its own
    // file has no bloom and must always be kept
    SnapshotLake.commit(spark, root, tbl(1000 until 1010).coalesce(1),
      statCol = "k")
    val (lateDf, lateKept, lateTotal) = SnapshotLake.readPoint(spark, root, 1005L)
    assert(lateTotal === 5)
    assert(lateDf.select("k").as[Long].collect().toSeq === Seq(1005L))
    assert(lateKept >= 1 && lateKept <= 2,
      s"expected the bloom-less file plus at most one false positive, got $lateKept")
  }

  test("q82's judged shape: aligned quarter reads exactly 2 of 8 files at every sf") {
    for (d <- Seq(sf("sf0.001"))) {
      val df = SnapshotLake.q82FileSkipping(spark, d)
      val row = df.head()
      assert(row.getLong(0) === 8L && row.getLong(1) === 2L,
        s"expected 2/8 files, got ${row.getLong(1)}/${row.getLong(0)}")
    }
  }

  test("clustered commit: one file per bucket, routing column invisible to reads") {
    val root = freshRoot()
    SnapshotLake.commitClustered(spark, root, tbl(0 until 100),
      col("k") % 4, "k")
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.length === 4, s"expected 4 bucket files: ${snap.files}")
    // per-file stats are exact for each routed bucket (k ≡ i mod 4)
    assert(snap.files.map(f => (f.lo, f.hi)).sorted ===
      Seq((0L, 96L), (1L, 97L), (2L, 98L), (3L, 99L)))
    val read = SnapshotLake.read(spark, root)
    assert(!read.columns.contains("__bucket"),
      s"write-routing column leaked into the table: ${read.columns.toSeq}")
    assert(read.select("k").as[Long].collect().sorted.toSeq === (0L until 100L))
  }

  /** Four single-file range buckets of 25 keys each (k, v = k*7). */
  private def mergeBase(root: String): Unit =
    (0 until 4).foreach { i =>
      SnapshotLake.commit(spark, root,
        tbl(i * 25 until (i + 1) * 25).coalesce(1), "k")
    }

  test("merge rewrites only touched files; untouched files carry by reference") {
    val root = freshRoot()
    mergeBase(root)
    val before = SnapshotLake.snapshot(root)
    val upserts = (30L until 35L).map(k => (k, k * 7 + 1000))
      .toDF("k", "v")
      .unionAll((200L until 206L).map(k => (k, 1L)).toDF("k", "v"))
    val deletes = Seq(60L, 61L, 62L).toDF("k")
    val res = SnapshotLake.merge(spark, root, upserts, deletes)
    // keys 30-34 touch file 1 ([25,49]), 60-62 touch file 2 ([50,74]);
    // inserts 200-205 touch nothing
    assert((res.filesKept, res.filesRewritten, res.filesNew) === (2, 2, 3))
    val after = SnapshotLake.snapshot(root)
    // the two untouched files are the SAME manifest entries (no copy)
    val beforeNames = before.files.map(_.name).toSet
    assert(after.files.count(f => beforeNames(f.name)) === 2)
    // row semantics: update in place, delete gone, insert present,
    // every other row untouched
    val got = SnapshotLake.read(spark, root)
      .select("k", "v").as[(Long, Long)].collect().toMap
    val want = (0L until 100L).filterNot(Set(60L, 61L, 62L))
      .map(k => k -> (if (k >= 30 && k < 35) k * 7 + 1000 else k * 7))
      .toMap ++ (200L until 206L).map(_ -> 1L)
    assert(got === want)
    // pre-merge snapshot still reads byte-stable (copy-on-write)
    assert(SnapshotLake.read(spark, root, Some(before.version)).count() === 100L)
  }

  test("merge rebase carries non-overlapping concurrent appends, conflicts on overlap") {
    import SnapshotLake.{FileStat, Snapshot}
    val base = Snapshot(0, "k", None,
      Seq(FileStat("data/a", 0, 24, 25, bytes = 1024L),
        FileStat("data/b", 25, 49, 25, bytes = 1024L)))
    val keepAndTouched = base.files
    // non-overlapping append since base: carried through the rebase
    val farAppend = FileStat("data/c", 1000, 1024, 25, bytes = 1024L)
    val head1 = Snapshot(1, "k", None, base.files :+ farAppend)
    assert(SnapshotLake.rebaseCheck(base, head1, keepAndTouched, 30, 40) ===
      Seq(farAppend))
    // overlapping append: write-write conflict
    val nearAppend = FileStat("data/d", 35, 60, 25, bytes = 1024L)
    val head2 = Snapshot(1, "k", None, base.files :+ nearAppend)
    intercept[SnapshotLake.MergeConflictException] {
      SnapshotLake.rebaseCheck(base, head2, keepAndTouched, 30, 40)
    }
    // a vanished base file (concurrent overwrite) always conflicts
    val head3 = Snapshot(1, "k", None, base.files.tail)
    intercept[SnapshotLake.MergeConflictException] {
      SnapshotLake.rebaseCheck(base, head3, keepAndTouched, 1000, 1001)
    }
  }

  test("cdf classifies exactly the changed rows and reads only changed files") {
    val root = freshRoot()
    mergeBase(root)
    val preV = SnapshotLake.headVersion(root)
    val upserts = (30L until 35L).map(k => (k, k * 7 + 1000))
      .toDF("k", "v")
      .unionAll((200L until 206L).map(k => (k, 1L)).toDF("k", "v"))
    val deletes = Seq(60L, 61L, 62L).toDF("k")
    val res = SnapshotLake.merge(spark, root, upserts, deletes)
    val (diff, filesDiffed, filesLive) =
      SnapshotLake.changes(spark, root, preV, res.version)
    // 2 removed + 3 added; live head = 2 carried + 3 new — the
    // carried files are never part of the diff read
    assert((filesDiffed, filesLive) === (5, 5))
    val got = diff.select("change_type", "k", "v")
      .as[(String, Long, Long)].collect().toSet
    val want =
      (30L until 35L).map(k => ("update", k, k * 7 + 1000)).toSet ++
        (200L until 206L).map(k => ("insert", k, 1L)) ++
        Seq(60L, 61L, 62L).map(k => ("delete", k, k * 7))
    // carried-unchanged rows inside the rewritten files (the other
    // 44 rows of files 1 and 2) must NOT appear
    assert(got === want)
    // a pure append's cdf is all-inserts from the one new file
    val v2 = SnapshotLake.commit(spark, root, tbl(500 until 510).coalesce(1), "k")
    val (appDiff, appFiles, _) = SnapshotLake.changes(spark, root, res.version, v2)
    assert(appFiles === 1)
    assert(appDiff.select("change_type").distinct().as[String].collect()
      .toSeq === Seq("insert"))
    assert(appDiff.count() === 10L)
  }

  test("checkpoint file lists are parquet sidecars: tiny text, engine-readable, vacuumed together") {
    val root = freshRoot()
    // 18 one-file commits with blooms cross the v16 checkpoint boundary
    (0 until 18).foreach(i =>
      SnapshotLake.commit(spark, root,
        tbl(i * 10 until i * 10 + 10).coalesce(1), "k",
        bloomCol = Some("k")))
    // the v16 TEXT manifest is O(header): no inline file lines, no
    // base64 blooms — a 17-file inline list with 1 KiB blooms each
    // would be >20 KB
    val v16 = new String(Files.readAllBytes(
      Paths.get(root, "_log", "v00016.manifest")), StandardCharsets.UTF_8)
    assert(v16.length < 1024, s"checkpoint text is ${v16.length} bytes")
    assert(v16.contains("ckptfile="))
    assert(v16.linesIterator.size === 1, "checkpoint text carries file lines")
    // the sidecar is PLAIN PARQUET readable by the engine itself
    val side = spark.read.parquet(s"$root/_log/v00016.ckpt-*.parquet")
    assert(side.count() === 17L)
    val viaParquet = side.select("name", "lo", "hi", "rows")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val viaSnapshot = SnapshotLake.snapshot(root, Some(16)).files
      .map(f => (f.name, f.lo, f.hi, f.rows)).sortBy(_._1)
    assert(viaParquet === viaSnapshot)
    // blooms survive the sidecar roundtrip: the point prune still skips
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.forall(_.bloom.isDefined), "sidecar dropped blooms")
    assert(SnapshotLake.read(spark, root).count() === 180L)
    // vacuum to the v16 checkpoint reclaims v0's sidecar with v0
    SnapshotLake.vacuum(root, 2)
    val logNames = Files.list(Paths.get(root, "_log")).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(!logNames.exists(_.startsWith("v00000.ckpt-")),
      s"dropped checkpoint's sidecar leaked: $logNames")
    assert(logNames.exists(_.startsWith("v00016.ckpt-")))
    assert(SnapshotLake.read(spark, root).count() === 180L)
  }

  test("protocol gate: an unstamped or newer-protocol manifest " +
      "refuses with an upgrade error") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 10), "k")
    val mf = Paths.get(root, "_log", "v00000.manifest")
    val body = new String(Files.readAllBytes(mf), StandardCharsets.UTF_8)
    assert(body.contains("\tproto=1\t"), "commit did not stamp proto=")
    // an unstamped manifest was never written by this lake: refused
    Files.write(mf, body.replace("\tproto=1", "")
      .getBytes(StandardCharsets.UTF_8))
    intercept[IllegalStateException] {
      SnapshotLake.read(spark, root).count()
    }
    // a FUTURE protocol refuses loudly instead of half-reading
    Files.write(mf, body.replace("\tproto=1", "\tproto=9")
      .getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalStateException] {
      SnapshotLake.read(spark, root).count()
    }
    assert(e.getMessage.contains("protocol 9"))
  }

  test("every verb writes the one manifest format: a full header, the " +
      "txns map carried forward, a byte size on every file entry") {
    val root = freshRoot()
    SnapshotLake.commit(spark, root, tbl(0 until 100), "k") // v0
    val txnV = SnapshotLake.commit(spark, root, tbl(100 until 200), "k",
      txn = Some(("app", 0L)))
    SnapshotLake.commitPartitioned(spark, root,
      (200 until 300).map(i => (i.toLong, (i % 2).toLong)).toDF("k", "v"),
      "v", "k")
    SnapshotLake.merge(spark, root,
      upserts = (150 until 250).map(i => (i.toLong, i.toLong)).toDF("k", "v"),
      deleteKeys = Seq(3L).toDF("k"))
    SnapshotLake.deleteRows(spark, root, col("k") % 5 === 1L)
    SnapshotLake.updateRows(spark, root, col("k") === 10L,
      Seq("v" -> lit(-1L)))
    SnapshotLake.compactLake(spark, root, targetRows = 1000L)
    SnapshotLake.restore(root, txnV)
    SnapshotLake.addColumn(root, "extra",
      org.apache.spark.sql.types.LongType)
    val ext = Files.createTempDirectory("lake_spec_ext_").toString
    tbl(5000 until 5050).coalesce(1).write.mode("overwrite").parquet(ext)
    SnapshotLake.addFiles(spark, root, ext)
    // small appends carry the chain past the v16 checkpoint sidecar
    var i = 0
    while (SnapshotLake.headVersion(root) < SnapshotLake.CheckpointInterval + 1) {
      SnapshotLake.commit(spark, root, tbl(300 + i until 301 + i), "k")
      i += 1
    }
    val clone = freshRoot()
    SnapshotLake.shallowClone(root, clone)
    val head = SnapshotLake.headVersion(root)
    def manifestLines(r: String, v: Int): Seq[String] =
      Files.readAllLines(Paths.get(r, "_log", f"v$v%05d.manifest"),
        StandardCharsets.UTF_8).asScala.toSeq
    def sizes(line: String): Seq[Long] = line.split('\t').toSeq
      .filter(_.startsWith("sz=")).map(_.stripPrefix("sz=").toLong)
    val versions = (0 to head).map(root -> _) :+ (clone -> 0)
    versions.foreach { case (r, v) =>
      val lines = manifestLines(r, v)
      val h = lines.head.split('\t')
      assert(h.contains("proto=1"), s"$r v$v: ${lines.head}")
      Seq("ridhw", "nf", "nr", "nlr", "ts").foreach(t =>
        assert(h.exists(_.startsWith(t + "=")), s"$r v$v lacks $t="))
      lines.tail.filterNot(_.startsWith("rm\t")).foreach { l =>
        val sz = sizes(l)
        assert(sz.size === 1 && sz.head > 0, s"$r v$v file line: $l")
      }
    }
    (txnV to head).foreach(v =>
      assert(SnapshotLake.snapshot(root, Some(v)).txns.get("app") ===
        Some(0L), s"v$v dropped the txns map"))
    val v16 = f"v${SnapshotLake.CheckpointInterval}%05d.ckpt-"
    val logFiles = Files.list(Paths.get(root, "_log"))
    try assert(logFiles.iterator().asScala
      .exists(_.getFileName.toString.startsWith(v16)), s"no $v16 sidecar")
    finally logFiles.close()
    val ckptSz = spark.read
      .parquet(Seq(root, clone).map(r => s"$r/_log/v*.ckpt-*.parquet"): _*)
      .select("sz").as[Option[Long]].collect()
    assert(ckptSz.nonEmpty && ckptSz.forall(_.exists(_ > 0)),
      "checkpoint row without a positive sz")
  }
}
