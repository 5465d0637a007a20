package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotLake
import graft.sources.SnapshotLake.Dv

/** Deletion-vector EXTERNALIZATION: vectors whose inline encoding
  * exceeds [[Dv.ExternalizeOverChars]] move to content-addressed
  * binary sidecars under `_dv/`, the text manifest carrying a ~30
  * char pointer — O(1) manifest bytes per vectored file however
  * many positions the vector holds. Small vectors stay inline.
  * Pinned: the manifest-line bound, read exactness through the
  * pointer, content-addressing (idempotent re-deletes write ZERO new
  * sidecars), checkpoint round-trip of the pointer form, and vacuum
  * reclaiming sidecars no surviving version references.
  */
class LakeDvSidecarSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("lake_dvx_").toString

  private def bigLake(root: String, n: Long = 20000L): Unit =
    SnapshotLake.commitClustered(spark, root,
      (0L until n).map(i => (i, i * 7)).toDF("k", "v"),
      when(col("k") >= n / 2, lit(1)).otherwise(lit(0)), "k")

  private def manifestDvFields(root: String): Seq[String] = {
    val head = SnapshotLake.headVersion(root)
    Files.readAllLines(
      Paths.get(root, "_log", f"v$head%05d.manifest")).toArray
      .map(_.toString).toSeq
      .flatMap(_.split('\t').filter(_.startsWith("dv=")))
  }

  test("a wide delete externalizes: manifest line O(1), sidecar content-addressed, reads exact") {
    val root = freshRoot()
    bigLake(root)
    // ~3,333 scattered positions per file — far past the inline bound
    SnapshotLake.deleteRows(spark, root, col("k") % 3 === 1L,
      cowThresholdRows = 100000L)
    val dvFields = manifestDvFields(root)
    assert(dvFields.size === 2)
    dvFields.foreach { f =>
      assert(f.length < 80, s"manifest dv field not O(1): $f")
      assert(f.contains(":@_dv/dv-"))
    }
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.flatMap(_.dv).forall(_.isExternal))
    assert(snap.files.map(_.liveRows).sum ===
      (0L until 20000L).count(_ % 3 != 1).toLong)
    // the sidecar holds the exact position set
    assert(snap.files.flatMap(_.dv).map(_.count).sum ===
      (0L until 20000L).count(_ % 3 == 1).toLong)
    // reads resolve the pointer on both the Scala and connector paths
    assert(SnapshotLake.read(spark, root)
      .where(col("k") % 3 === 1L).count() === 0L)
    val lake = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", root).load()
    assert(lake.count() === (0L until 20000L).count(_ % 3 != 1).toLong)
    assert(lake.where(col("k") === 6L).select("v").as[Long]
      .collect().toSeq === Seq(42L))
    // content addressing: re-deleting the SAME rows is a no-op union
    // → identical bytes → identical sidecar name → no new files
    val sidecarsBefore = Files.list(Paths.get(root, "_dv")).count()
    SnapshotLake.deleteRows(spark, root, col("k") % 3 === 1L,
      cowThresholdRows = 100000L)
    assert(Files.list(Paths.get(root, "_dv")).count() === sidecarsBefore)
    // equality is form-stable across snapshot re-reads (the conflict
    // guards compare Dv values from different snapshot() calls)
    assert(SnapshotLake.snapshot(root).files.flatMap(_.dv) ===
      snap.files.flatMap(_.dv))
  }

  test("small vectors stay inline; growth across the bound re-externalizes once") {
    val root = freshRoot()
    bigLake(root, n = 4000L)
    SnapshotLake.deleteRows(spark, root, col("k").isin(3L, 5L, 7L))
    val snap1 = SnapshotLake.snapshot(root)
    assert(snap1.files.flatMap(_.dv).forall(!_.isExternal))
    assert(!Files.exists(Paths.get(root, "_dv")))
    // grow past the bound: the union re-encodes and externalizes
    SnapshotLake.deleteRows(spark, root, col("k") % 5 === 0L,
      cowThresholdRows = 100000L)
    val snap2 = SnapshotLake.snapshot(root)
    assert(snap2.files.flatMap(_.dv).forall(_.isExternal))
    assert(SnapshotLake.read(spark, root).count() ===
      (0L until 4000L).count(k =>
        !Set(3L, 5L, 7L)(k) && k % 5 != 0).toLong)
  }

  test("externalized vectors survive checkpoint reconstruction and delta replay") {
    val root = freshRoot()
    bigLake(root, n = 8000L)
    SnapshotLake.deleteRows(spark, root, col("k") % 3 === 1L,
      cowThresholdRows = 100000L)
    // drive the chain to v16 so a CHECKPOINT manifest (parquet
    // sidecar file list) records the pointer form
    (0 until 15).foreach { i =>
      SnapshotLake.commit(spark, root,
        Seq((100000L + i, 1L)).toDF("k", "v").coalesce(1), "k")
    }
    val head = SnapshotLake.headVersion(root)
    assert(head === 16)
    val snap = SnapshotLake.snapshot(root) // reconstructed from ckpt
    assert(snap.files.flatMap(_.dv).nonEmpty)
    assert(snap.files.flatMap(_.dv).forall(_.isExternal))
    assert(SnapshotLake.read(spark, root)
      .where(col("k") < 100000L).count() ===
      (0L until 8000L).count(_ % 3 != 1).toLong)
    // time travel to the pre-checkpoint delete version still reads
    // through the pointer
    assert(SnapshotLake.read(spark, root, Some(1))
      .count() === (0L until 8000L).count(_ % 3 != 1).toLong)
  }

  test("vacuum reclaims sidecars only dropped versions reference") {
    val root = freshRoot()
    bigLake(root, n = 8000L)
    SnapshotLake.deleteRows(spark, root, col("k") % 3 === 1L,
      cowThresholdRows = 100000L) // v1: sidecar A
    SnapshotLake.deleteRows(spark, root, col("k") % 3 === 2L,
      cowThresholdRows = 100000L) // v2: sidecar B (superset union)
    val dvDir = Paths.get(root, "_dv")
    val before = Files.list(dvDir).count()
    assert(before >= 3) // per-file vectors at two versions
    // purge drops every vector from the head; prior versions still
    // reference the sidecars until vacuumed
    SnapshotLake.purgeVectors(spark, root)
    (0 until 16).foreach { i =>
      SnapshotLake.commit(spark, root,
        Seq((200000L + i, 1L)).toDF("k", "v").coalesce(1), "k")
    }
    SnapshotLake.vacuum(root, keepVersions = 2)
    // the surviving tail (≥ the last checkpoint) holds no vectored
    // files → every owned sidecar was reclaimed
    assert(!Files.exists(dvDir) || Files.list(dvDir).count() === 0L)
    assert(SnapshotLake.read(spark, root)
      .where(col("k") < 100000L).count() ===
      (0L until 8000L).count(_ % 3 == 0).toLong)
  }

  test("vacuum parses each manifest on disk at most once and reclaims " +
      "exactly the files and sidecars only dropped versions reference") {
    val root = freshRoot()
    bigLake(root, n = 8000L) // v0
    // v1..v36 cross the v16 and v32 checkpoints: one-row appends, a
    // scattered wide delete every fifth version (each on a delta tail,
    // each growing a new content-addressed sidecar per file), and at
    // v12 the appends so far deleted whole
    (1 to 36).foreach { v =>
      if (v % 5 == 0 && v < 35)
        SnapshotLake.deleteRows(spark, root,
          col("k") % 7 === (v / 5).toLong, cowThresholdRows = 100000L)
      else if (v == 12)
        SnapshotLake.deleteRows(spark, root, col("k") >= 100000L,
          cowThresholdRows = 100000L)
      else SnapshotLake.commit(spark, root,
        Seq((100000L + v, 1L)).toDF("k", "v").coalesce(1), "k")
    }
    val head = SnapshotLake.headVersion(root)
    assert(head === 36)
    // keep 3 → the cutoff snaps back to the v32 checkpoint
    val (kept, gone) = (32 to head, 0 until 32)
    val snaps = (0 to head).map(v => SnapshotLake.snapshot(root, Some(v)))
    def names(vs: Range) = vs.flatMap(snaps(_).files.map(_.name)).toSet
    def sidecars(vs: Range) = vs.flatMap(snaps(_).files.flatMap(_.dv))
      .filter(_.isExternal).map(_.b64.substring(1)).toSet
    val deadFiles = names(gone) -- names(kept)
    val deadSidecars = sidecars(gone) -- sidecars(kept)
    assert(deadFiles.nonEmpty && deadSidecars.nonEmpty &&
      sidecars(kept).nonEmpty)
    val keptCounts = kept.map(v => SnapshotLake.read(spark, root, Some(v))
      .count())
    val onDisk = Files.list(Paths.get(root, "_log")).toArray
      .count(_.toString.endsWith(".manifest")).toLong
    val p0 = SnapshotLake.manifestParses
    val (dropped, deleted) = SnapshotLake.vacuum(root, keepVersions = 3)
    assert(SnapshotLake.manifestParses - p0 <= onDisk,
      s"vacuum parsed ${SnapshotLake.manifestParses - p0} manifests " +
        s"for $onDisk on disk")
    assert(dropped === 32)
    assert(deleted === deadFiles.size)
    assert(deadFiles.forall(n => !Files.exists(Paths.get(root, n))))
    assert(names(kept).forall(n => Files.exists(Paths.get(root, n))))
    assert(deadSidecars.forall(p => !Files.exists(Paths.get(p))))
    assert(sidecars(kept).forall(p => Files.exists(Paths.get(p))))
    assert(kept.map(v => SnapshotLake.read(spark, root, Some(v)).count()) ===
      keptCounts)
    intercept[Exception] { SnapshotLake.read(spark, root, Some(31)) }
  }

  test("stageSpec/unionSpecs: executor staging inline-vs-pointer, exact union, compaction") {
    val root = freshRoot()
    // small set: inline, no file touched
    val (inline, n1) = Dv.stageSpec(root, Array(3L, 1L, 2L))
    assert(n1 === 3L && !inline.startsWith("@"))
    assert(Dv.decode(inline).toSeq === Seq(1L, 2L, 3L))
    assert(!Files.exists(Paths.get(root, "_dv")))
    // wide set: a private stage sidecar, absolute pointer
    val wide = (0L until 20000L by 3).toArray
    val (ptr, n2) = Dv.stageSpec(root, wide)
    assert(n2 === wide.length.toLong)
    assert(ptr.startsWith(s"@$root/_dv/stage-"), ptr)
    assert(Files.exists(Paths.get(ptr.substring(1))))
    assert(Dv.decode(ptr).toSeq === wide.toSeq)
    // union across an existing vector and BOTH spec forms; the wide
    // result compacts straight to a content-addressed dv- sidecar so
    // the driver never holds the inline encoding
    val existing = Dv.fromPositions(Array(0L, 5L))
    val merged = Dv.unionSpecs(root, Some(existing), Seq(inline, ptr))
    assert(merged.count === (wide.toSet ++ Set(0L, 5L, 1L, 2L, 3L)).size)
    assert(merged.isExternal)
    assert(merged.b64.substring(1).contains("/_dv/dv-"))
    assert(merged.positions.toSeq ===
      (wide.toSet ++ Set(0L, 1L, 2L, 3L, 5L)).toSeq.sorted)
    // the operation retires its stage files; content-addressed
    // sidecars (referenced by manifests) are never its to discard
    Dv.discardStaged(Seq(inline, ptr, merged.b64))
    assert(!Files.exists(Paths.get(ptr.substring(1))))
    assert(Files.exists(Paths.get(merged.b64.substring(1))))
  }

  test("wide row-level ops leave no stage residue and never ship positions through the driver ack") {
    val root = freshRoot()
    bigLake(root)
    // wide scattered delete: positions staged executor-side
    SnapshotLake.deleteRows(spark, root, col("k") % 3 === 1L,
      cowThresholdRows = 100000L)
    // wide merge-on-read update on the survivors
    SnapshotLake.updateRows(spark, root, col("k") % 3 === 2L,
      Seq("v" -> lit(-1L)), cowThresholdRows = 100000L)
    val dvDir = Paths.get(root, "_dv")
    import scala.jdk.CollectionConverters._
    val residue = Files.list(dvDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("stage-")).toSeq
    assert(residue.isEmpty, s"stage sidecars leaked: $residue")
    // and the results stay exact through both staged unions
    assert(SnapshotLake.read(spark, root).count() ===
      (0L until 20000L).count(_ % 3 != 1).toLong)
    assert(SnapshotLake.read(spark, root).where(col("v") === -1L)
      .count() === (0L until 20000L).count(_ % 3 == 2).toLong)
  }

  test("a wide SQL DELETE through SupportsDelta stages task sidecars and cleans them up") {
    val root = freshRoot()
    bigLake(root)
    spark.sql("DROP TABLE IF EXISTS dvx_sql")
    spark.sql(s"""
      CREATE TABLE dvx_sql (k BIGINT, v BIGINT)
      USING graft.sources.GraftLakeSource
      OPTIONS (path '$root', statCol 'k', dv 'true')""")
    // non-pushable wide predicate → delta route, ~6,666 positions
    // spread over both files → past the inline bound → task-side
    // stage sidecars carry them; the ack is pointer-sized
    spark.sql("DELETE FROM dvx_sql WHERE k % 3 = 1")
    val snap = SnapshotLake.snapshot(root)
    assert(snap.files.flatMap(_.dv).nonEmpty)
    assert(snap.files.flatMap(_.dv).forall(_.isExternal))
    import scala.jdk.CollectionConverters._
    val residue = Files.list(Paths.get(root, "_dv")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("stage-")).toSeq
    assert(residue.isEmpty, s"stage sidecars leaked: $residue")
    assert(spark.table("dvx_sql").count() ===
      (0L until 20000L).count(_ % 3 != 1).toLong)
  }
}
