package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility (measurement only — not a judged query): build a K×
  * scale-up of an sf dir by unioning K key-shifted copies of every
  * table, so the bench can measure PARALLEL SPEEDUP (8 vs 32 cores)
  * on data big enough to leave the per-job scheduling floor — the
  * r15 verdict's ask #3 (at sf0.1 the median c8/c32 ratio was 0.93:
  * fixture size, not the operators, capped every stage).
  *
  * Key shifting keeps join relationships intact copy-by-copy
  * (lineitem.l_orderkey ↔ orders.o_orderkey, orders.o_custkey ↔
  * customer.c_custkey, events.user_id ↔ customer.c_custkey,
  * lineitem.l_partkey/l_suppkey ↔ part/supplier), so join fan-outs
  * scale linearly like a real bigger dataset. Dims (region, nation)
  * copy once. Text/embedding payloads are NOT perturbed — exact
  * copies shift duplicate-pair densities for the dedup family, which
  * is irrelevant for the c8-vs-c32 comparison (both core counts run
  * the identical data) and noted in the probe writeup.
  *
  * Usage: `runMain graft.ScaleUp [srcDir] [dstDir] [k]`
  * (defaults: /root/testdata/sf0.1 → /tmp/graft_sf1, k=10).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.get()

    def load(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")
    // per-key shift base: one more than the key's max, so copies'
    // key ranges never collide; the cast admits int keys
    def base(t: String, key: String): Long = {
      val m = load(t).agg(max(col(key)).cast("long")).head()
      require(!m.isNullAt(0), s"scale-up: table $t has no $key values to shift from")
      m.getLong(0) + 1
    }

    val cb = base("customer", "c_custkey")
    val ob = base("orders", "o_orderkey")
    val pb = base("part", "p_partkey")
    val sb = base("supplier", "s_suppkey")
    val eb = base("events", "event_id")
    val db = base("documents", "doc_id")
    val vb = base("embeddings", "vec_id")

    val copies = spark.range(k).select(col("id").as("__copy"))
    /** K key-shifted copies in one pass: cross-join the K-row copy
      * frame (broadcast) and add copy×base to each listed key.
      */
    def rep(t: String, shifts: Map[String, Long]): Unit = {
      val df = load(t)
      val out =
        if (k <= 1 || shifts.isEmpty) df
        else df.crossJoin(broadcast(copies)).select(df.columns.map { c =>
          shifts.get(c) match {
            case Some(b) => (col(c) + col("__copy") * b).as(c)
            case None => col(c)
          }
        }.toIndexedSeq: _*)
      out.write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t -> ${k}x")
    }

    rep("region", Map.empty)
    rep("nation", Map.empty)
    rep("customer", Map("c_custkey" -> cb))
    rep("supplier", Map("s_suppkey" -> sb))
    rep("part", Map("p_partkey" -> pb))
    rep("orders", Map("o_orderkey" -> ob, "o_custkey" -> cb))
    rep("lineitem", Map("l_orderkey" -> ob, "l_partkey" -> pb,
      "l_suppkey" -> sb))
    rep("events", Map("event_id" -> eb, "user_id" -> cb))
    rep("documents", Map("doc_id" -> db))
    rep("embeddings", Map("vec_id" -> vb))
    println(s"[scaleup] done: $dst (k=$k from $src)")
    spark.stop()
  }
}
