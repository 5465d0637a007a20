package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotLake

/** Shallow clone: zero-copy manifest-level forking, divergence in
  * both directions, copy-on-write maintenance over borrowed files,
  * and the ownership contract (a clone's vacuum never touches the
  * source's bytes).
  */
class LakeCloneSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("lake_clone_").toString

  private def tbl(ids: Range) =
    ids.map(i => (i.toLong, i.toLong * 7)).toDF("k", "v")

  test("clone reads the source snapshot zero-copy; both sides diverge freely") {
    val src = freshRoot(); val dst = freshRoot()
    SnapshotLake.commit(spark, src, tbl(0 until 100), "k")
    val v = SnapshotLake.shallowClone(src, dst)
    assert(v === 0)
    // no data bytes under the clone's root
    assert(!Files.isDirectory(Paths.get(dst, "data")))
    assert(SnapshotLake.read(spark, dst).count() === 100L)
    // clone diverges: append lands under the CLONE only
    SnapshotLake.commit(spark, dst, tbl(100 until 150), "k")
    assert(SnapshotLake.read(spark, dst).count() === 150L)
    assert(SnapshotLake.read(spark, src).count() === 100L)
    // source diverges: later source commits are invisible to the clone
    SnapshotLake.commit(spark, src, tbl(500 until 600), "k")
    assert(SnapshotLake.read(spark, dst).count() === 150L)
    // connector read agrees across the borrowed/owned seam
    val cdf = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", dst).load()
    assert(cdf.count() === 150L)
    assert(cdf.where(col("k") >= 90 && col("k") < 110).count() === 20L)
  }

  test("a relative srcRoot canonicalizes: borrowed refs are absolute and readable") {
    // relative source path (under the test cwd): without
    // canonicalization the borrowed entries would lack the leading
    // '/', resolve under the CLONE's root, and read nothing
    val relSrc = s"target/lake_clone_rel_${System.nanoTime()}"
    Files.createDirectories(Paths.get(relSrc))
    try {
      val dst = freshRoot()
      SnapshotLake.commit(spark, relSrc, tbl(0 until 40), "k")
      SnapshotLake.shallowClone(relSrc, dst)
      val entries = SnapshotLake.snapshot(dst).files.map(_.name)
      assert(entries.nonEmpty && entries.forall(_.startsWith("/")),
        s"borrowed refs not absolute: $entries")
      assert(SnapshotLake.read(spark, dst).count() === 40L)
      // ownership: the clone's vacuum must classify them as borrowed
      SnapshotLake.commit(spark, dst, tbl(40 until 50), "k",
        overwrite = true)
      SnapshotLake.vacuum(dst, 1)
      assert(SnapshotLake.read(spark, relSrc).count() === 40L)
    } finally // the relative lake lives under the build dir: remove it
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(relSrc))
  }

  test("maintenance on a clone is copy-on-write: borrowed bytes never change") {
    val src = freshRoot(); val dst = freshRoot()
    val bucket = when(col("k") < 100, lit(0)).otherwise(lit(1))
    SnapshotLake.commitClustered(spark, src, tbl(0 until 200), bucket, "k")
    SnapshotLake.shallowClone(src, dst)
    // delete straddling borrowed file 0: its rewrite lands OWNED
    val res = SnapshotLake.delete(spark, dst, 50L, 100L)
    assert(res.filesRewritten === 1)
    assert(SnapshotLake.read(spark, dst).count() === 150L)
    assert(SnapshotLake.read(spark, src).count() === 200L, "source mutated!")
    val names = SnapshotLake.snapshot(dst).files.map(_.name)
    assert(names.count(_.startsWith("/")) === 1) // file 1 still borrowed
    assert(names.count(!_.startsWith("/")) === 1) // rewrite owned
  }

  test("a clone's vacuum drops borrowed references but never source bytes") {
    val src = freshRoot(); val dst = freshRoot()
    SnapshotLake.commit(spark, src, tbl(0 until 100), "k")
    SnapshotLake.shallowClone(src, dst)
    // overwrite the clone so the borrowed refs become historical
    SnapshotLake.commit(spark, dst, tbl(0 until 10), "k", overwrite = true)
    val (dropped, deleted) = SnapshotLake.vacuum(dst, keepVersions = 1)
    assert(dropped === 1)
    assert(deleted === 0, "clone vacuum deleted borrowed source bytes")
    assert(SnapshotLake.read(spark, src).count() === 100L)
    assert(SnapshotLake.read(spark, dst).count() === 10L)
  }

  test("cloning a clone keeps original absolute refs (no double-prefixing)") {
    val a = freshRoot(); val b = freshRoot(); val c = freshRoot()
    SnapshotLake.commit(spark, a, tbl(0 until 50), "k")
    SnapshotLake.shallowClone(a, b)
    SnapshotLake.shallowClone(b, c)
    assert(SnapshotLake.read(spark, c).count() === 50L)
    assert(SnapshotLake.snapshot(c).files.forall(_.name.startsWith(a)))
  }

  test("borrowed DV sidecars stay absolute through the clone's checkpoint; clone vacuum never deletes them") {
    val src = freshRoot(); val dst = freshRoot()
    // a delete wide enough to externalize the vector to a _dv/ sidecar
    SnapshotLake.commit(spark, src,
      (0L until 20000L).map(i => (i, i * 7)).toDF("k", "v"), "k")
    SnapshotLake.deleteRows(spark, src, col("k") % 3 === 1L,
      cowThresholdRows = 100000L)
    val srcDv = SnapshotLake.snapshot(src).files.flatMap(_.dv)
    assert(srcDv.nonEmpty && srcDv.forall(_.isExternal))
    val sidecars = srcDv.map(d => Paths.get(d.b64.substring(1)))
    assert(sidecars.forall(Files.exists(_)))
    // the clone's v0 is always a FULL checkpoint, so the borrowed
    // pointer round-trips through Ckpt.write — it must come back
    // absolute under the SOURCE root, not a '<dst>/../..' chimera
    SnapshotLake.shallowClone(src, dst)
    val cloneDv = SnapshotLake.snapshot(dst).files.flatMap(_.dv)
    assert(cloneDv.nonEmpty && cloneDv.forall(d => d.isExternal &&
      d.b64.substring(1).startsWith(src)),
      s"borrowed DV pointer mangled: ${cloneDv.map(_.b64)}")
    val expect = (0L until 20000L).count(_ % 3 != 1).toLong
    assert(SnapshotLake.read(spark, dst).count() === expect)
    // retire the borrowed version and vacuum: the sidecar belongs to
    // the source — the clone may drop its REFERENCE, never the bytes
    SnapshotLake.commit(spark, dst, tbl(0 until 10), "k",
      overwrite = true)
    SnapshotLake.vacuum(dst, keepVersions = 1)
    assert(sidecars.forall(Files.exists(_)),
      "clone vacuum deleted the source lake's DV sidecar")
    assert(SnapshotLake.read(spark, src).count() === expect)
  }

  test("a clone's appends assign row ids above the source's high-water (no duplicate _row_id)") {
    val src = freshRoot(); val dst = freshRoot()
    SnapshotLake.commit(spark, src, tbl(0 until 100).coalesce(2), "k")
    SnapshotLake.shallowClone(src, dst)
    SnapshotLake.commit(spark, dst, tbl(100 until 150), "k")
    val snap = SnapshotLake.snapshot(dst)
    // the appended (owned) file's base starts at or above the
    // borrowed ranges' end — id ranges never overlap
    val borrowedEnd = snap.files.filter(_.name.startsWith("/"))
      .flatMap(f => f.rid.map(_ + f.rows)).max
    assert(snap.files.filter(!_.name.startsWith("/"))
      .forall(_.rid.exists(_ >= borrowedEnd)),
      s"clone append re-issued ids under the borrowed ranges: " +
        snap.files.map(f => (f.name.takeRight(20), f.rid, f.rows)))
    val ids = spark.read.format("graft.sources.GraftLakeSource")
      .option("path", dst).load().select("_row_id")
    assert(ids.distinct().count() === 150L)
  }
}
