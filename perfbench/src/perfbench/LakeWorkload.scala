package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotLake

/** What the lake should hold: the live rows (key -> value) and, per
  * committed version, its row count, key sum and value sum.
  */
final class LakeModel {
  val rows = mutable.TreeMap.empty[Long, Long]
  val versions = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  def stats: (Long, Long, Long) = (rows.size.toLong, rows.keysIterator.sum, rows.valuesIterator.sum)
  def range(lo: Long, hi: Long): Iterable[(Long, Long)] = rows.range(lo, hi)
  def commitVersion(): Unit = versions += stats
}

/** A seeded stream of writes and reads on two fresh lakes.
  *
  * Lake `A` is written through the Scala verbs (`commit`, `merge`,
  * `delete`, `deleteRows`, `updateRows`, `compactLake`); lake `B`
  * through `graftcat` SQL (`INSERT`, `MERGE INTO`, `DELETE`, `UPDATE`,
  * `CALL graftcat.optimize`). Reads are `readPruned` ranges,
  * `readPoint` lookups and `read(asOf)` time travel on A, `VERSION AS
  * OF` time travel and full aggregates on B: as many reads as writes,
  * plus the judged streaming gate `q54_stream_dedup`. Every pass runs
  * the same operations in the same order (`LakeWorkload.Order`); keys,
  * ranges and versions come from the seed and the model. After each operation the
  * model is advanced and compared with the lake: the head version after
  * every write and the exact answer of every read; before the lakes are
  * dropped, the row count, key sum and value sum of every version of
  * both lakes.
  *
  * `reset` starts two fresh lakes and restarts the seeded stream, so
  * every set-up, and a traced window after a reset, runs exactly the
  * operations of the untraced one on exactly the same data.
  */
final class LakeWorkload(work: String, seed: Long, tables: String, eventRows: Long)
    extends Workload {
  val initialRows = 20000
  val nominalPassS = 5.0
  private val gate = new GateOp(work, tables, eventRows)
  private var rng = new SplittableRandom(seed)
  private var rep = 0
  private var rootA = ""
  private val catRoot = s"$work/cat"
  private def table = s"lb$rep"
  private def rootB = s"$catRoot/$table"
  private var a = new LakeModel
  private var b = new LakeModel
  private var nextKey = 0L

  def prepare(): Unit = new java.io.File(work).mkdirs()

  def inputs: Seq[(String, Any)] = Seq("initial_rows_per_lake" -> initialRows,
    "writes_per_pass" -> LakeWorkload.Writes.size,
    "reads_per_pass" -> LakeWorkload.Order.count(_.startsWith("read_")), "gates_per_pass" -> 1,
    "event_rows" -> eventRows)

  private def v0(k: Long): Long = (k * 37) % 1000

  def reset(s: SparkSession): Unit = {
    rep += 1
    rng = new SplittableRandom(seed)
    createdBy.clear()
    rootA = s"$work/lakeA-$rep"
    a = new LakeModel
    b = new LakeModel
    nextKey = initialRows
    SnapshotLake.commit(s, rootA, s.range(0, initialRows, 1, 4)
      .select(col("id").as("k"), (col("id") * 37 % 1000).as("v")), "k", bloomCol = Some("k"))
    s.conf.set("spark.sql.catalog.graftcat", "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catRoot)
    s.sql(s"CREATE TABLE graftcat.$table (k BIGINT, v BIGINT) TBLPROPERTIES ('statCol' = 'k')")
    s.sql(s"INSERT INTO graftcat.$table SELECT id AS k, id * 37 % 1000 AS v " +
      s"FROM range(0, $initialRows, 1, 4)").collect()
    for (m <- Seq(a, b)) {
      (0L until initialRows).foreach(k => m.rows(k) = v0(k))
      m.commitVersion()
    }
  }

  /** A window [lo, lo + w) inside the live key range. */
  private def window(m: LakeModel, w: Long): (Long, Long) = {
    val lo = m.rows.firstKey + (rng.nextLong(math.max(1L, m.rows.lastKey - m.rows.firstKey - w)))
    (lo, lo + w)
  }

  private def agg3(r: Array[Row]): (Long, Long, Long) = {
    val x = r.head
    (x.getLong(0), if (x.isNullAt(1)) 0L else x.getLong(1), if (x.isNullAt(2)) 0L else x.getLong(2))
  }

  private def expect3(rows: Iterable[(Long, Long)]): (Long, Long, Long) =
    (rows.size.toLong, rows.map(_._1).sum, rows.map(_._2).sum)

  /** (lake root, version) -> id of the operation that published it */
  private val createdBy = mutable.Map.empty[(String, Int), Int]

  /** A write: `apply` moves the model and the check compares the head
    * version; each version's contents are compared in `verify`.
    */
  private abstract class Write(name: String, m: LakeModel, root: => String)
      extends Op(s"lake.$name", "write") {
    private var filesBefore = Set.empty[String]
    private var headBefore = -1
    override def before(): Unit = {
      val snap = SnapshotLake.snapshot(root)
      filesBefore = snap.files.map(_.name).toSet
      headBefore = snap.version
    }
    def apply(): Unit
    def check(s: SparkSession, r: Any): Option[String] = {
      apply()
      // a write that changes nothing (compaction with no small files)
      // may publish no version; `verify` still checks the contents
      if (SnapshotLake.headVersion(root) != headBefore) {
        m.commitVersion()
        createdBy((root, m.versions.size - 1)) = id
      }
      val t0 = System.nanoTime()
      val snap = SnapshotLake.snapshot(root)
      Counters.add("lake.snapshot_s", (System.nanoTime() - t0) / 1e9)
      val added = snap.files.filterNot(f => filesBefore(f.name))
      Counters.add("lake.files_written", added.size.toDouble)
      Counters.add("lake.bytes_written", added.map(f => fileBytes(root, f.name)).sum.toDouble)
      Counters.add("lake.write_user_bytes", inputRows * 16.0)
      if (snap.version != m.versions.size - 1)
        Some(s"head version ${snap.version}, model expects ${m.versions.size - 1} (was $headBefore)")
      else None
    }
  }

  private abstract class Read(name: String) extends Op(s"lake.$name", "read") {
    def expected: Any
    def check(s: SparkSession, r: Any): Option[String] = {
      val want = expected
      if (r == want) None else Some(s"got $r, model expects $want")
    }
  }

  /** A graftcat SQL write: Spark runs a command inside `s.sql`, so the
    * whole statement is the operation's `execute` phase.
    */
  private def sqlWrite(s: SparkSession, ph: Phases, sql: String): Any =
    ph("execute")(s.sql(sql))

  def pass(s: SparkSession, passNo: Int): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    // Scala verbs on lake A
    ops += new Write("commit", a, rootA) {
      inputRows = 2000
      var lo = 0L
      override def before(): Unit = { super.before(); lo = nextKey; nextKey += 2000 }
      def run(s: SparkSession, ph: Phases): Any = ph("execute")(SnapshotLake.commit(s, rootA,
        s.range(lo, lo + 2000, 1, 2).select(col("id").as("k"), (col("id") * 37 % 1000).as("v")), "k",
        bloomCol = Some("k")))
      def apply(): Unit = (lo until lo + 2000).foreach(k => a.rows(k) = v0(k))
    }
    ops += new Write("merge", a, rootA) {
      inputRows = 800
      var ups = Seq.empty[(Long, Long)]
      var dels = Seq.empty[Long]
      override def before(): Unit = {
        super.before()
        val (lo, hi) = window(a, 1500)
        val live = a.range(lo, hi).map(_._1).toVector
        val picked = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
          .shuffle(live).take(600)
        ups = picked.take(500).map(k => k -> (a.rows(k) + 7)) ++
          (nextKey until nextKey + 200).map(k => k -> v0(k))
        nextKey += 200
        dels = picked.drop(500)
      }
      def run(s: SparkSession, ph: Phases): Any = {
        import s.implicits._
        ph("execute")(SnapshotLake.merge(s, rootA, ups.toDF("k", "v"), dels.toDF("k")))
      }
      def apply(): Unit = { ups.foreach { case (k, v) => a.rows(k) = v }; dels.foreach(a.rows.remove) }
    }
    ops += new Write("delete", a, rootA) {
      var lo, hi = 0L
      override def before(): Unit = {
        super.before(); val w = window(a, 600); lo = w._1; hi = w._2; inputRows = a.range(lo, hi).size }
      def run(s: SparkSession, ph: Phases): Any = ph("execute")(SnapshotLake.delete(s, rootA, lo, hi))
      def apply(): Unit = a.range(lo, hi).map(_._1).toVector.foreach(a.rows.remove)
    }
    ops += new Write("delete_rows", a, rootA) {
      var lo, hi = 0L
      override def before(): Unit = {
        super.before(); val w = window(a, 3000); lo = w._1; hi = w._2; inputRows = a.range(lo, hi).size }
      def run(s: SparkSession, ph: Phases): Any = ph("execute")(SnapshotLake.deleteRows(s, rootA,
        col("k") >= lo && col("k") < hi && col("k") % 7 === 3))
      def apply(): Unit = a.range(lo, hi).map(_._1).filter(_ % 7 == 3).toVector.foreach(a.rows.remove)
    }
    ops += new Write("update_rows", a, rootA) {
      var lo, hi = 0L
      override def before(): Unit = {
        super.before(); val w = window(a, 3000); lo = w._1; hi = w._2; inputRows = a.range(lo, hi).size }
      def run(s: SparkSession, ph: Phases): Any = ph("execute")(SnapshotLake.updateRows(s, rootA,
        col("k") >= lo && col("k") < hi && col("k") % 5 === 1, Seq("v" -> (col("v") + 1))))
      def apply(): Unit = a.range(lo, hi).filter(_._1 % 5 == 1).toVector
        .foreach { case (k, v) => a.rows(k) = v + 1 }
    }
    ops += new Write("compact", a, rootA) {
      override def before(): Unit = { super.before(); inputRows = a.rows.size }
      def run(s: SparkSession, ph: Phases): Any = ph("execute")(SnapshotLake.compactLake(s, rootA, 20000L))
      def apply(): Unit = ()
    }
    // graftcat SQL on lake B
    ops += new Write("sql_insert", b, rootB) {
      inputRows = 1000
      var lo = 0L
      override def before(): Unit = { super.before(); lo = b.rows.lastKey + 1 }
      def run(s: SparkSession, ph: Phases): Any = sqlWrite(s, ph,
        s"INSERT INTO graftcat.$table SELECT id AS k, id * 37 % 1000 AS v FROM range($lo, ${lo + 1000}, 1, 2)")
      def apply(): Unit = (lo until lo + 1000).foreach(k => b.rows(k) = v0(k))
    }
    ops += new Write("sql_merge", b, rootB) {
      inputRows = 600
      var lo = 0L
      override def before(): Unit = { super.before(); lo = b.rows.lastKey - 400 }
      def run(s: SparkSession, ph: Phases): Any = sqlWrite(s, ph, s"""
        MERGE INTO graftcat.$table AS t
        USING (SELECT id AS k, id % 1000 + 11 AS v FROM range($lo, ${lo + 600})) AS u
        ON t.k = u.k
        WHEN MATCHED THEN UPDATE SET v = u.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (u.k, u.v)""")
      def apply(): Unit = (lo until lo + 600).foreach(k => b.rows(k) = k % 1000 + 11)
    }
    ops += new Write("sql_delete", b, rootB) {
      var lo, hi = 0L
      override def before(): Unit = {
        super.before(); val w = window(b, 2400); lo = w._1; hi = w._2; inputRows = b.range(lo, hi).size }
      def run(s: SparkSession, ph: Phases): Any = sqlWrite(s, ph,
        s"DELETE FROM graftcat.$table WHERE k >= $lo AND k < $hi AND k % 3 = 0")
      def apply(): Unit = b.range(lo, hi).map(_._1).filter(_ % 3 == 0).toVector.foreach(b.rows.remove)
    }
    ops += new Write("sql_update", b, rootB) {
      var lo, hi = 0L
      override def before(): Unit = {
        super.before(); val w = window(b, 1500); lo = w._1; hi = w._2; inputRows = b.range(lo, hi).size }
      def run(s: SparkSession, ph: Phases): Any = sqlWrite(s, ph,
        s"UPDATE graftcat.$table SET v = v + 2 WHERE k >= $lo AND k < $hi")
      def apply(): Unit = b.range(lo, hi).toVector.foreach { case (k, v) => b.rows(k) = v + 2 }
    }
    ops += new Write("sql_optimize", b, rootB) {
      override def before(): Unit = { super.before(); inputRows = b.rows.size }
      def run(s: SparkSession, ph: Phases): Any = sqlWrite(s, ph,
        s"CALL graftcat.optimize(table => '$table', target_rows => 20000)")
      def apply(): Unit = ()
    }
    // reads: pruned ranges, point lookups and time travel on A, time
    // travel and a full aggregate on B
    def readRange() = new Read("read_range") {
      var lo, hi = 0L
      override def before(): Unit = {
        val w = window(a, 1000); lo = w._1; hi = w._2; inputRows = a.range(lo, hi).size }
      def run(s: SparkSession, ph: Phases): Any = agg3(ph.rows {
        val (df, kept, total) = SnapshotLake.readPruned(s, rootA, lo, hi)
        Counters.add("lake.files_kept_ratio", kept.toDouble / math.max(1, total))
        df.agg(count(lit(1)), sum(col("k")), sum(col("v")))
      })
      def expected: Any = expect3(a.range(lo, hi))
    }
    def readPoint() = new Read("read_point") {
      var key = 0L
      override def before(): Unit = { key = window(a, 1)._1; inputRows = 1 }
      def run(s: SparkSession, ph: Phases): Any =
        ph.rows(SnapshotLake.readPoint(s, rootA, key)._1.select("k", "v"))
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      def expected: Any = a.rows.get(key).map(v => (key, v)).toSeq
    }
    def readAsOf() = new Read("read_asof") {
      var ver = 0
      override def before(): Unit = {
        ver = rng.nextInt(a.versions.size); inputRows = a.versions(ver)._1 }
      def run(s: SparkSession, ph: Phases): Any = agg3(ph.rows(
        SnapshotLake.read(s, rootA, Some(ver)).agg(count(lit(1)), sum(col("k")), sum(col("v")))))
      def expected: Any = a.versions(ver)
    }
    def readAsOfSql() = new Read("read_asof_sql") {
      var ver = 0
      override def before(): Unit = {
        ver = rng.nextInt(b.versions.size); inputRows = b.versions(ver)._1 }
      def run(s: SparkSession, ph: Phases): Any = agg3(ph.rows(s.sql(
        s"SELECT count(*), sum(k), sum(v) FROM graftcat.$table VERSION AS OF $ver")))
      def expected: Any = b.versions(ver)
    }
    def readAggSql() = new Read("read_agg_sql") {
      override def before(): Unit = inputRows = b.rows.size
      def run(s: SparkSession, ph: Phases): Any =
        agg3(ph.rows(s.sql(s"SELECT count(*), sum(k), sum(v) FROM graftcat.$table")))
      def expected: Any = expect3(b.rows)
    }
    val make = Map[String, () => Op]("read_range" -> (() => readRange()),
      "read_point" -> (() => readPoint()), "read_asof" -> (() => readAsOf()),
      "read_asof_sql" -> (() => readAsOfSql()), "read_agg_sql" -> (() => readAggSql()))
    val writes = ops.map(o => o.name.stripPrefix("lake.") -> o).toMap
    LakeWorkload.Order.map {
      case GateOp.Name => gate.op()
      case n => writes.getOrElse(n, make(n)())
    }
  }

  /** Row count, key sum and value sum of every version of both lakes
    * against the model, in one job per lake; a mismatch fails the operation that
    * published the version (id -1: the initial commit).
    */
  override def verify(s: SparkSession): Seq[(Int, String)] =
    Seq(rootA -> a, rootB -> b).flatMap { case (root, m) =>
      val got = m.versions.indices.map { v =>
        SnapshotLake.read(s, root, Some(v)).agg(count(lit(1)).as("n"),
          coalesce(sum(col("k")), lit(0L)).as("ks"), coalesce(sum(col("v")), lit(0L)).as("vs"))
          .withColumn("ver", lit(v))
      }.reduce(_ unionByName _).collect()
        .map(r => r.getInt(3) -> ((r.getLong(0), r.getLong(1), r.getLong(2)))).toMap
      m.versions.indices.collect { case v if !got.get(v).contains(m.versions(v)) =>
        createdBy.getOrElse((root, v), -1) ->
          s"$root v$v (rows, key sum, value sum) = ${got.get(v)}, model ${m.versions(v)}"
      }
    }

  private def fileBytes(root: String, name: String): Long =
    new java.io.File(if (name.startsWith("/")) name else s"$root/$name").length()

  /** Live data-file bytes per byte of live user data (two BIGINTs a row). */
  def spaceAmp(): Double = {
    val live = Seq(rootA, rootB).map { r =>
      SnapshotLake.snapshot(r).files.map(f => fileBytes(r, f.name)).sum
    }.sum
    live / ((a.rows.size + b.rows.size) * 16.0)
  }

  def filesLive(): Int = Seq(rootA, rootB).map(SnapshotLake.snapshot(_).files.size).sum

  override def afterPass(): Unit = {
    Counters.add("lake.space_amp", spaceAmp())
    Counters.add("lake.files_live", filesLive().toDouble)
  }

  override def extras: Seq[(String, Any)] = Seq("space_amp" -> spaceAmp(),
    "files_live" -> filesLive(), "versions_a" -> a.versions.size, "versions_b" -> b.versions.size,
    "rows_a" -> a.rows.size, "rows_b" -> b.rows.size)
}

object LakeWorkload {
  val Writes: Seq[String] = Seq("commit", "merge", "delete", "delete_rows", "update_rows",
    "compact", "sql_insert", "sql_merge", "sql_delete", "sql_update", "sql_optimize")

  val Reads: Seq[String] = Seq("read_range", "read_point", "read_asof", "read_asof_sql",
    "read_agg_sql")

  /** The operations of a pass, in order: as many reads as writes, each
    * read after a write, and compaction last. A read that follows a
    * write loads a new snapshot, so a fixed order gives every seed the
    * same mix of cold and warm reads (in a shuffled order the read
    * times, and so the median operation, depend on the seed).
    */
  val Order: Seq[String] = Seq("commit", "read_range", "merge", "read_point", "delete",
    "read_asof", "delete_rows", "read_range", "update_rows", "read_point", "sql_insert",
    "read_asof_sql", "sql_merge", "read_agg_sql", "sql_delete", "read_asof_sql", "sql_update",
    "read_asof", "q54_stream_dedup", "read_range", "read_point", "compact", "sql_optimize")
  require(Writes.forall(w => Order.count(_ == w) == 1) &&
    Order.forall(n => Writes.contains(n) || Reads.contains(n) || n == GateOp.Name))

  val OpNames: Seq[String] = Writes ++ Reads
}
