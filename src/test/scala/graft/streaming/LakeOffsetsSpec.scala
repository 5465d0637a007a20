package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.{Housekeeping, SnapshotLake}

/** The exactly-once contract of txn-carrying lake commits and the
  * q102 offset-transactional streaming gate built on them.
  */
class LakeOffsetsSpec extends SparkTestBase {

  private def frame(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong * 7)).toDF("event_id", "cents")
  }

  test("txn commit is idempotent: a replayed (app, batch) publishes nothing") {
    val root = Housekeeping.tempDir("txn_idem")
    val v0 = SnapshotLake.commit(spark, root, frame(100), "event_id",
      txn = Some(("appA", 0L)))
    assert(v0 === 0)
    assert(SnapshotLake.lastTxn(root, "appA") === 0L)
    // replay of batch 0: no new version, no new rows
    val vReplay = SnapshotLake.commit(spark, root, frame(100), "event_id",
      txn = Some(("appA", 0L)))
    assert(vReplay === 0, "replayed commit must return the existing head")
    assert(SnapshotLake.headVersion(root) === 0)
    assert(SnapshotLake.read(spark, root).count() === 100)
    // a LOWER batch id than already recorded is also a replay
    SnapshotLake.commit(spark, root, frame(10), "event_id",
      txn = Some(("appA", 1L)))
    assert(SnapshotLake.lastTxn(root, "appA") === 1L)
    val vStale = SnapshotLake.commit(spark, root, frame(10), "event_id",
      txn = Some(("appA", 0L)))
    assert(vStale === SnapshotLake.headVersion(root))
    assert(SnapshotLake.read(spark, root).count() === 110)
  }

  test("txn identity is per-app: another writer's batch ids don't collide") {
    val root = Housekeeping.tempDir("txn_apps")
    SnapshotLake.commit(spark, root, frame(5), "event_id",
      txn = Some(("appA", 0L)))
    val v = SnapshotLake.commit(spark, root, frame(5), "event_id",
      txn = Some(("appB", 0L)))
    assert(v === 1, "appB's batch 0 is not appA's batch 0")
    assert(SnapshotLake.lastTxn(root, "appA") === 0L)
    assert(SnapshotLake.lastTxn(root, "appB") === 0L)
    assert(SnapshotLake.lastTxn(root, "appC") === -1L)
  }

  test("untxn'd commits coexist with txn'd ones in one chain") {
    val root = Housekeeping.tempDir("txn_mixed")
    SnapshotLake.commit(spark, root, frame(5), "event_id")
    SnapshotLake.commit(spark, root, frame(5), "event_id",
      txn = Some(("appA", 3L)))
    SnapshotLake.commit(spark, root, frame(5), "event_id")
    assert(SnapshotLake.lastTxn(root, "appA") === 3L)
    assert(SnapshotLake.headVersion(root) === 2)
  }

  test("lastTxn survives vacuum: the head carries the accumulated txn map") {
    val root = Housekeeping.tempDir("txn_vacuum")
    SnapshotLake.commit(spark, root, frame(5), "event_id",
      txn = Some(("appA", 0L)))
    SnapshotLake.commit(spark, root, frame(5), "event_id",
      txn = Some(("appA", 1L)))
    SnapshotLake.commit(spark, root, frame(5), "event_id")
    // an overwrite checkpoint at the head lets vacuum really drop the
    // manifests that RECORDED the txns (delta-log retention otherwise
    // snaps back to the nearest checkpoint, v0 here)
    SnapshotLake.commit(spark, root, frame(5), "event_id", overwrite = true)
    val (droppedManifests, _) = SnapshotLake.vacuum(root, keepVersions = 1)
    assert(droppedManifests === 3)
    // the accumulated map rides every manifest header, so dropping
    // the manifests that RECORDED the txns loses nothing — vacuum no
    // longer truncates the replay-dedup horizon
    assert(SnapshotLake.lastTxn(root, "appA") === 1L)
    // a replayed batch 1 after vacuum is therefore still a no-op
    val headBefore = SnapshotLake.headVersion(root)
    val rowsBefore = SnapshotLake.read(spark, root).count()
    val v = SnapshotLake.commit(spark, root, frame(5), "event_id",
      txn = Some(("appA", 1L)))
    assert(v === headBefore, "replayed batch must not publish after vacuum")
    assert(SnapshotLake.read(spark, root).count() === rowsBefore)
  }

  test("lastTxn is O(1): one head manifest answers a long multi-writer chain") {
    val root = Housekeeping.tempDir("txn_o1")
    // 30-commit chain from three interleaved writers, plus an
    // OVERWRITE and a RESTORE in the middle — every publish shape
    // must carry the accumulated map forward
    (0 until 10).foreach { b =>
      SnapshotLake.commit(spark, root, frame(3), "event_id",
        txn = Some(("appA", b.toLong)))
      SnapshotLake.commit(spark, root, frame(3), "event_id",
        txn = Some(("appB", (b * 2).toLong)))
      SnapshotLake.commit(spark, root, frame(3), "event_id",
        overwrite = b == 5, txn = Some(("appC", (100 + b).toLong)))
    }
    SnapshotLake.restore(root, 3)
    // the hard proof of O(1): delete EVERY manifest except the head —
    // a lookup that still walked the chain would now throw or forget
    val (dropped, _) = SnapshotLake.vacuum(root, keepVersions = 1)
    assert(dropped === 30)
    assert(SnapshotLake.lastTxn(root, "appA") === 9L)
    assert(SnapshotLake.lastTxn(root, "appB") === 18L)
    assert(SnapshotLake.lastTxn(root, "appC") === 109L)
    assert(SnapshotLake.lastTxn(root, "appD") === -1L)
  }

  test("q102 gate: checkpoint loss + re-delivery still lands every event exactly once") {
    val dir = sf("sf0.001")
    val got = StreamingGate.q102StreamLakeOffsets(spark, dir)
    val want = graft.sources.Tables.events(spark, dir).select(
      col("event_id"), col("user_id"),
      coalesce(round(col("value") * 100).cast("long"), lit(0L)).as("cents"))
      .orderBy(col("event_id"))
    assert(got.count() === want.count(), "row count drifted — dupes or loss")
    assert(got.collect().toSeq === want.collect().toSeq)
  }
}
