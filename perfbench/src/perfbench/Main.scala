package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One call into the engine. `run` is the timed part; `check`
  * validates its result afterwards, outside the timed region, and
  * returns the reason when the result is wrong.
  */
abstract class Op(val name: String, val kind: String, rows: Long = 0L) {
  /** Set by the runner before `before`. */
  var id: Int = 0
  /** Rows of input the operation takes in, known from the generator. */
  var inputRows: Long = rows
  /** Picks the operation's parameters, before the timer starts. */
  def before(): Unit = ()
  def run(s: SparkSession, ph: Phases): Any
  def check(s: SparkSession, result: Any): Option[String]
}

/** The construct / plan / execute split of one operation. Each phase
  * runs under its own Spark job group (`op<id>:<phase>`), which is how
  * the tracer links jobs back to the operation that caused them.
  */
final class Phases(s: SparkSession, val opId: Int) {
  val spans = ArrayBuffer.empty[(String, Long, Long)]

  def apply[T](phase: String)(body: => T): T = {
    val sc = s.sparkContext
    sc.setJobGroup(s"op$opId:$phase", phase, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += ((phase, t0, System.nanoTime()))
      sc.clearJobGroup()
    }
  }

  /** Build the frame, force its physical plan, then collect it. */
  def rows(df: => DataFrame): Array[Row] = {
    val d = apply("construct")(df)
    apply("plan")(d.queryExecution.executedPlan)
    apply("execute")(d.collect())
  }
}

/** A workload: inputs made from the seed, a fresh state per set-up,
  * and the operations of each pass.
  */
trait Workload {
  /** About how long one warm pass takes on 4 cores; sets the number of
    * measured passes for a time budget.
    */
  def nominalPassS: Double
  def prepare(): Unit
  def inputs: Seq[(String, Any)]
  def reset(s: SparkSession): Unit
  def pass(s: SparkSession, passNo: Int): Seq[Op]
  def afterPass(): Unit = ()
  /** Checks made once per session, outside timing: (op id, reason). */
  def verify(s: SparkSession): Seq[(Int, String)] = Nil
  def extras: Seq[(String, Any)] = Nil
}

final case class OpRec(pass: Int, phase: String, id: Int, name: String,
    kind: String, secs: Double, rows: Long, err: Option[String])

/** Closed-loop runner: one client thread, one operation at a time.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --work DIR --out FILE --spans FILE
  *                [--tables DIR --event-rows N]
  * }}}
  *
  * Set-up is repeated `SetupReps` times, each a fresh session plus the
  * workload's first pass; then a fixed number of passes, about `S`
  * seconds of them, run back to back and are measured. With
  * `--trace 1` the set-up is made once (set-up time is not among the
  * traced metrics) and `TracedWindow` passes run three times:
  * untraced, traced, and untraced again, each time after the workload
  * is reset and re-warmed with one pass. Every window does the same
  * operations on the same data, and the untraced ones bracket the
  * traced one (so JIT warm-up over the run cancels out): the traced
  * pass time minus the untraced one is the tracing overhead.
  */
object Main {
  val SetupReps = 3
  val TracedWindow = 1
  /** Seconds into the run after which a window stops after its current
    * pass, so a run ends within its time limit on a machine several
    * times slower than usual; on a normal machine no window gets near it.
    */
  val DeadlineS = 110.0
  val PauseMs = 200L

  def main(argv: Array[String]): Unit = {
    val runStart = System.nanoTime()
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val wl: Workload = a("workload") match {
      case "weather-csv" => new WeatherWorkload(work, seed)
      case "lake-mixed" => new LakeWorkload(work, seed, a("tables"), a("event-rows").toLong)
      case w => sys.error(s"unknown workload $w")
    }
    wl.prepare()

    val recs = ArrayBuffer.empty[OpRec]
    val passes = ArrayBuffer.empty[(Int, String, Double)]
    val setupS = ArrayBuffer.empty[Double]
    val sessionS = ArrayBuffer.empty[Double]
    // attached during the traced window only
    var tracer: Option[Tracer] = None
    var nextOp = 0
    var passNo = 0

    def runPass(s: SparkSession, phase: String): Double = {
      passNo += 1
      var wall = 0.0
      for (op <- wl.pass(s, passNo)) {
        nextOp += 1
        val ph = new Phases(s, nextOp)
        op.id = nextOp
        op.before()
        val t0 = System.nanoTime()
        val res = try Right(op.run(s, ph)) catch { case e: Throwable => Left(e) }
        val t1 = System.nanoTime()
        wall += (t1 - t0) / 1e9
        // the operation's listener events are handled before the next
        // operation starts, traced or not: the tracer has to read them
        // here, and an untraced pass must not differ from a traced one
        // by event handling overlapping its next operation
        BenchBridge.drainListenerBus(s.sparkContext)
        tracer.foreach(_.op(nextOp, passNo, op, t0, t1, ph.spans.toSeq))
        val err = res match {
          case Left(e) => Some(s"error: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
          case Right(r) =>
            try op.check(s, r)
            catch { case e: Throwable => Some(s"check error: ${e.toString.take(300)}") }
        }
        err.foreach(m => System.err.println(s"[perfbench] ${op.name} pass $passNo: $m"))
        recs += OpRec(passNo, phase, nextOp, op.name, op.kind, (t1 - t0) / 1e9,
          op.inputRows, err)
      }
      passes += ((passNo, phase, wall))
      wl.afterPass()
      tracer.foreach(_.passDone(passNo))
      // each pass starts from a collected heap and after a pause for the
      // engine's background threads (block cleanup, state maintenance),
      // so one pass's leftover work does not land on the next one's clock
      System.gc()
      Thread.sleep(PauseMs)
      wall
    }

    def verify(s: SparkSession): Unit = for ((id, why) <- wl.verify(s)) {
      System.err.println(s"[perfbench] verify: $why")
      val i = recs.indexWhere(_.id == id)
      if (i >= 0) recs(i) = recs(i).copy(err = Some(why))
      else recs += OpRec(0, "setup", id, "initial", "write", 0.0, 0L, Some(why))
    }

    var spark: SparkSession = null
    for (_ <- 1 to (if (traced) 1 else SetupReps)) {
      if (spark != null) {
        verify(spark)
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = graft.GraftSession.get(cores.toString)
      sessionS += (System.nanoTime() - t0) / 1e9
      wl.reset(spark)
      val started = (System.nanoTime() - t0) / 1e9
      // the first pass's operations; result checks are not set-up
      setupS += started + runPass(spark, "setup")
    }

    val measured = math.max(3, math.round(seconds / wl.nominalPassS).toInt)
    var cutShort = false
    def window(phase: String, n: Int = measured): Unit = {
      var done = 0
      while (done < n && !(done > 0 && (System.nanoTime() - runStart) / 1e9 > DeadlineS)) {
        runPass(spark, phase)
        done += 1
      }
      cutShort ||= done < n
    }
    val traceOf = if (traced) {
      def fresh(): Unit = { verify(spark); wl.reset(spark); runPass(spark, "rewarm") }
      fresh()
      window("untraced", TracedWindow)
      fresh()
      val t = new Tracer(spark, cores, sessionS.toSeq)
      tracer = Some(t)
      window("traced", TracedWindow)
      t.detach()
      tracer = None
      fresh()
      window("untraced", TracedWindow)
      Some(t)
    } else {
      window("measured")
      None
    }
    // live heap after full collections once the measured passes are
    // done; the later collections free what the engine's cleaner
    // threads released (broadcast and shuffle blocks) after the first
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(PauseMs) }
    val heapAfterGc = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    verify(spark)
    Calibration.run(cores) // compiles the loop
    val calibration = Calibration.run(cores)
    val traceJson = traceOf.map(_.report(recs.toSeq, passes.toSeq, a.get("spans")))
    val extras = wl.extras
    val inputs = wl.inputs
    spark.stop()

    val rt = Runtime.getRuntime
    val out = Json.obj(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores,
      "heap_max_mb" -> rt.maxMemory / 1048576.0,
      "inputs" -> Json.obj(inputs: _*),
      "extras" -> Json.obj(extras: _*),
      "setup_s" -> setupS.toSeq, "session_s" -> sessionS.toSeq,
      "heap_after_gc_mb" -> heapAfterGc,
      "calibration_s" -> calibration, "cut_short" -> cutShort,
      "passes" -> passes.toSeq.map { case (n, ph, w) =>
        Json.obj("pass" -> n, "phase" -> ph, "secs" -> w) },
      "ops" -> recs.toSeq.map(r => Json.obj("pass" -> r.pass, "phase" -> r.phase,
        "id" -> r.id, "name" -> r.name, "kind" -> r.kind, "secs" -> r.secs,
        "rows" -> r.rows, "err" -> r.err.orNull)),
      "trace" -> traceJson.orNull)
    Files.write(Paths.get(a("out")), Json.render(out).getBytes(StandardCharsets.UTF_8))
  }
}

/** A fixed integer workload on every core, timed at the end of a run:
  * the machine's own speed at the time, so that a shift shared by every
  * metric of a run can be told apart from a change in the engine.
  */
object Calibration {
  def run(threads: Int): Double = {
    @volatile var sink = 0L
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { i =>
      val t = new Thread(() => {
        var x = i.toLong
        var n = 0
        while (n < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
        sink += x
      })
      t.start()
      t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** Minimal JSON rendering for the result file (no dependency). */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }
}
