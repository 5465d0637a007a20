package graft

import java.nio.file.{Files, Paths}
import graft.sources.SnapshotLake

/** The orphan scan: listing, referenced-set, anti-join, and deletion
  * all run as Spark jobs (the Iceberg `remove_orphan_files` shape) —
  * the driver holds the walk seeds and the orphan OUTPUT, never an
  * O(files) name set.
  */
class OrphanScanSpec extends SparkTestBase {
  import spark.implicits._

  private val cat = "graft_orph_cat"
  private lazy val suiteBase: String =
    Files.createTempDirectory("lake_orph_").toString

  private def withCatalog(body: => Unit): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", suiteBase)
    body
  }

  test("64 planted directories list and sweep via Spark jobs; the " +
      "driver never walks data/; referenced files and emptied dirs " +
      "settle exactly") {
    val root = Files.createTempDirectory("lake_orphscan_").toString
    SnapshotLake.commit(spark, root,
      (0 until 1000).map(i => (i.toLong, i.toLong)).toDF("k", "v"), "k")
    // one orphan per batch directory, 64 directories — the shape a
    // crash-prone multi-writer ingest leaves behind
    val plants = (0 until 64).map { i =>
      val p = Paths.get(root, "data", f"b-dead-$i%02d",
        s"part-$i.parquet")
      Files.createDirectories(p.getParent)
      Files.write(p, s"junk-$i".getBytes)
      p
    }
    val cands = SnapshotLake.orphanCandidates(spark, root)
    assert(cands.size === 64)
    assert(cands.map(_._1).forall(_.startsWith("data/b-dead-")))
    assert(cands.map(_._1) === cands.map(_._1).sorted)
    // the DEFAULT grace (3 days) spares fresh plants — in-flight
    // writer safety is the no-args behavior
    val (rmDefault, _) =
      SnapshotLake.removeOrphans(spark, root)
    assert(rmDefault === 0L)
    assert(plants.forall(Files.exists(_)))
    // grace 0 (safe here: no concurrent writers) sweeps exactly the
    // plants and their emptied directories
    val (rm, kept) =
      SnapshotLake.removeOrphans(spark, root, graceMs = 0L)
    assert(rm === 64L)
    assert(plants.forall(p => !Files.exists(p)))
    assert(plants.forall(p => !Files.exists(p.getParent)))
    val expected = SnapshotLake.snapshot(root).files.map(_.name)
    assert(expected.forall(n => Files.exists(Paths.get(root, n))))
    assert(kept === expected.size.toLong)
    assert(SnapshotLake.read(spark, root).count() === 1000L)
  }

  test("deep-forest prune: a 6-level orphan tree empties bottom-up " +
      "on executors across partition boundaries; a kept file's " +
      "ancestor chain survives intact") {
    val root = Files.createTempDirectory("lake_orphdeep_").toString
    SnapshotLake.commit(spark, root,
      (0 until 100).map(i => (i.toLong, i.toLong)).toDF("k", "v"), "k")
    // a deep forest: 8 top-level trees × 6 nested levels, one orphan
    // file at every level — ancestors can only empty after all their
    // descendants, and with range partitioning a parent regularly
    // lands in a different partition from its children, so this
    // exercises the multi-round convergence of the executor-side
    // prune (a single sorted pass would not have this problem; the
    // executor-side prune must settle identically)
    val planted = for (t <- 0 until 8; lvl <- 1 to 6) yield {
      val dir = Paths.get(root,
        ("data" +: "t%02d".format(t) +:
          (1 to lvl).map(l => s"lvl$l")): _*)
      Files.createDirectories(dir)
      val f = dir.resolve(s"orphan-$t-$lvl.bin")
      Files.write(f, s"junk-$t-$lvl".getBytes)
      f
    }
    // one file deep inside tree 0 that the GRACE WINDOW spares (an
    // in-flight writer's fresh output): its whole ancestor chain must
    // survive the sweep even though every backdated sibling dies
    val keptDir = Paths.get(root, "data", "t00",
      "lvl1", "lvl2", "lvl3", "lvl4", "lvl5", "lvl6")
    val keptFile = keptDir.resolve("inflight.bin")
    Files.write(keptFile, "fresh".getBytes): Unit
    // backdate every planted orphan and every dir under data/ past
    // the horizon; only the in-flight file stays young
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 48L * 3600 * 1000)
    val w = Files.walk(Paths.get(root, "data"))
    try w.iterator().forEachRemaining { p =>
      if (p != keptFile) Files.setLastModifiedTime(p, old): Unit
    } finally w.close()
    val (rm, _) = SnapshotLake.removeOrphans(
      spark, root, graceMs = 3600L * 1000)
    assert(rm === 48L) // 8 trees × 6 levels
    assert(planted.forall(p => !Files.exists(p)))
    // every fully-orphaned subtree is gone to its top-level dir …
    for (t <- 1 until 8)
      assert(!Files.exists(Paths.get(root, "data", "t%02d".format(t))),
        s"tree $t should have pruned to the root")
    // … while the in-flight file and its entire ancestor chain
    // survive (a non-empty dir's delete fails and is swallowed —
    // the contract, exercised 6 levels deep)
    assert(Files.exists(keptFile))
    var d = keptDir
    while (d.toString != Paths.get(root, "data").toString) {
      assert(Files.isDirectory(d), s"$d must survive (kept ancestor)")
      d = d.getParent
    }
    assert(SnapshotLake.read(spark, root).count() === 100L)
  }

  test("the judged SQL faces — t.orphans and CALL remove_orphans — " +
      "ride the distributed scan, not the driver walk") {
    withCatalog {
      spark.sql(s"""
        CREATE TABLE $cat.od (k BIGINT, cents BIGINT)
        TBLPROPERTIES ('statCol' = 'cents')""")
      spark.sql(s"INSERT INTO $cat.od SELECT id, id * 3 FROM range(500)")
      val root = Paths.get(suiteBase, "od")
      val plant = root.resolve("data").resolve("b-zombie")
        .resolve("part-lost.parquet")
      Files.createDirectories(plant.getParent)
      Files.write(plant, "junk".getBytes): Unit
      val listed = spark.sql(
        s"SELECT file, bytes FROM $cat.od.orphans").collect()
      assert(listed.length === 1)
      assert(listed(0).getString(0) === "data/b-zombie/part-lost.parquet")
      assert(listed(0).getLong(1) === 4L)
      // default grace spares it even through the procedure's
      // grace_ms DEFAULT (parameter omitted entirely)
      val spared = spark.sql(
        s"CALL $cat.remove_orphans(table => 'od')").head
      assert(spared.getLong(0) === 0L)
      assert(Files.exists(plant))
      val swept = spark.sql(
        s"CALL $cat.remove_orphans(table => 'od', grace_ms => 0)").head
      assert(swept.getLong(0) === 1L)
      assert(!Files.exists(plant))
      assert(spark.sql(s"SELECT * FROM $cat.od.orphans").count() === 0L)
      assert(spark.table(s"$cat.od").count() === 500L)
    }
  }
}
