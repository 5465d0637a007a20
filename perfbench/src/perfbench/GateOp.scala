package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The judged streaming gate `q54_stream_dedup` (`Catalog.Q`) on the
  * generated `events` table. Constructing the query drives a whole
  * two-batch stateful dedup stream; that is the `construct` phase of
  * the operation.
  *
  * The gate's first result is written as parquet under `dumps/` for
  * the DuckDB comparison made after the run (`oracle.py`, with the
  * query's oracle SQL from `oracle_sql.json`); every later result must
  * hash the same as that first one.
  */
final class GateOp(work: String, tables: String, eventRows: Long) {
  private val q = graft.Catalog.all.find(_.name == GateOp.Name)
    .getOrElse(sys.error(s"${GateOp.Name} is not in the catalog"))
  private var firstHash: Option[String] = None

  new java.io.File(work).mkdirs()
  java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/oracle_sql.json"),
    Json.render(Map(GateOp.Name -> q.oracle.get)).getBytes("UTF-8"))

  def op(): Op = new Op(GateOp.Name, "gate", eventRows) {
    def run(s: SparkSession, ph: Phases): Any = {
      var df: DataFrame = null
      val rows = ph.rows { df = q.fn(s, tables); df }
      (rows, df.schema)
    }
    def check(s: SparkSession, r: Any): Option[String] = {
      val (rows, schema) = r.asInstanceOf[(Array[Row], StructType)]
      val h = GateOp.hash(rows)
      firstHash match {
        case None =>
          firstHash = Some(h)
          s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.parquet(s"$work/dumps/${GateOp.Name}")
          None
        case Some(h0) if h0 == h => None
        case Some(_) => Some("result differs from the gate's first result")
      }
    }
  }
}

object GateOp {
  val Name = "q54_stream_dedup"

  /** Order-free fingerprint of a result: doubles to 12 significant
    * digits (last-ulp noise between runs is not a different answer),
    * rows sorted.
    */
  def hash(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "\u0000NULL"
      case d: Double => new java.math.BigDecimal(d + 0.0).round(new java.math.MathContext(12))
        .stripTrailingZeros.toPlainString
      case x => x.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(canon).mkString("\u0001")).sorted
      .foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
