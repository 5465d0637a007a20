package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchSqlBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Counters a workload records at its own layer boundaries (lake
  * snapshot reads, pruning ratios, files written), read by the tracer.
  */
object Counters {
  private val values = mutable.Map.empty[String, ArrayBuffer[Double]]
  @volatile var enabled = false
  def add(name: String, v: Double): Unit =
    if (enabled) synchronized { values.getOrElseUpdate(name, ArrayBuffer.empty) += v }
  def get(name: String): Seq[Double] = synchronized { values.get(name).map(_.toSeq).getOrElse(Nil) }
}

final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def dur: Double = endMs - startMs
}

/** Spans and counters at each layer boundary, recorded from the
  * benchmark's side of the calls: operation phases from the runner,
  * Spark jobs, stages and tasks from a `SparkListener`, Catalyst phase
  * times and micro-batches from the same listener, and GC / JIT / code cache from the JVM's
  * management beans. Catalyst phases and micro-batch progress are
  * read from the events every session posts to the shared listener
  * bus, so sessions the engine opens itself are covered too.
  * Everything stays in memory until `report`.
  */
final class Tracer(spark: SparkSession, cores: Int, sessionStarts: Seq[Double]) {
  private final class Job(val id: Int, val group: String, val start: Long,
      val stages: Seq[Int]) { var end: Long = start }
  private final case class Stage(id: Int, submit: Long, complete: Long, tasks: Int,
      runMs: Long, cpuNs: Long, inBytes: Long, inRows: Long, shufW: Long,
      spill: Long, outBytes: Long)
  private final case class Progress(startMs: Double, durMs: Map[String, Long],
      inputRows: Long, stateCommitMs: Long)
  private final case class Planning(analysis: Long, optimization: Long, planning: Long)
  private final case class OpTrace(id: Int, pass: Int, name: String, kind: String,
      t0: Double, t1: Double, phases: Seq[(String, Double, Double)],
      jobs: Seq[Job], stages: Seq[Stage], taskTimes: Seq[(Int, Long)],
      progress: Seq[Progress], planning: Seq[Planning])

  // epoch milliseconds of a System.nanoTime reading, with the clocks'
  // offset taken when the reading is filed: Spark stamps its events
  // with the wall clock, which can be stepped while the run goes on
  private def ms(nano: Long, offsetNs: Long): Double = (nano + offsetNs) / 1e6

  private val pendJobs = ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val pendStages = ArrayBuffer.empty[Stage]
  private val pendTasks = ArrayBuffer.empty[(Int, Long)]
  private val pendProgress = ArrayBuffer.empty[Progress]
  private val pendPlanning = ArrayBuffer.empty[Planning]
  private var taskFailures = 0L
  private val ops = ArrayBuffer.empty[OpTrace]
  private val tracedPasses = mutable.LinkedHashSet.empty[Int]

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private val gc0 = gcMs
  private val jit0 = jitMs

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val j = new Job(e.jobId, g.getOrElse(""), e.time, e.stageIds)
      pendJobs += j
      jobById(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobById.remove(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        val end = i.completionTime.getOrElse(System.currentTimeMillis())
        pendStages += Stage(i.stageId, i.submissionTime.getOrElse(end), end, i.numTasks,
          m.executorRunTime, m.executorCpuTime, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (e.taskInfo.successful) pendTasks += ((e.stageId, e.taskInfo.duration))
      else taskFailures += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        BenchSqlBridge.queryExecution(end).foreach { qe =>
          val p = qe.tracker.phases
          def phase(n: String): Long = p.get(n).map(_.durationMs).getOrElse(0L)
          Tracer.this.synchronized {
            pendPlanning += Planning(phase("analysis"), phase("optimization"), phase("planning"))
          }
        }
      case pe: QueryProgressEvent =>
        val p = pe.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        Tracer.this.synchronized {
          pendProgress += Progress(start,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.numInputRows, p.stateOperators.map(_.commitTimeMs).sum)
        }
      case _ =>
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  Counters.enabled = true

  /** Called after each operation, once the runner has drained the
    * listener bus: files everything that arrived under that operation
    * (one client, one operation at a time, so nothing else can be in
    * flight).
    */
  def op(id: Int, pass: Int, o: Op, t0: Long, t1: Long,
      phases: Seq[(String, Long, Long)]): Unit = {
    val off = System.currentTimeMillis() * 1000000L - System.nanoTime()
    synchronized {
      ops += OpTrace(id, pass, o.name, o.kind, ms(t0, off), ms(t1, off),
        phases.map { case (n, a, b) => (n, ms(a, off), ms(b, off)) },
        pendJobs.toSeq, pendStages.toSeq, pendTasks.toSeq, pendProgress.toSeq,
        pendPlanning.toSeq)
      Seq(pendJobs, pendStages, pendTasks, pendProgress, pendPlanning).foreach(_.clear())
    }
  }

  def passDone(pass: Int): Unit = tracedPasses += pass

  private var gcEnd = 0L
  private var jitEnd = 0L
  def detach(): Unit = {
    gcEnd = gcMs
    jitEnd = jitMs
    Counters.enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Spans of one operation: op -> {construct, plan, execute} -> job
    * -> stage, plus its micro-batches. Jobs link to their phase
    * through the `op<id>:<phase>` job group; jobs started on other
    * threads (stream execution) link to the micro-batch running when
    * they started, else to the operation itself.
    */
  private def spans(o: OpTrace, nextId: () => Int, passSpan: Int): Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    val opSpan = Span(nextId(), passSpan, s"op:${o.name}", o.t0, o.t1)
    out += opSpan
    val phaseIds = o.phases.map { case (n, a, b) =>
      val sp = Span(nextId(), opSpan.id, n, a, b); out += sp; n -> sp.id }.toMap
    val stageById = o.stages.map(s => s.id -> s).toMap
    val batches = o.progress.map { p =>
      val sp = Span(nextId(), opSpan.id, "stream.batch", p.startMs,
        p.startMs + p.durMs.getOrElse("triggerExecution", 0L))
      out += sp
      sp
    }
    for (j <- o.jobs) {
      val parent = j.group.split(":") match {
        case Array(g, ph) if g == s"op${o.id}" => phaseIds.getOrElse(ph, opSpan.id)
        // jobs of a stream's execution thread belong to its batch
        case _ => batches.find(b => b.startMs <= j.start && j.start < b.endMs)
          .map(_.id).getOrElse(opSpan.id)
      }
      val js = Span(nextId(), parent, s"job:${j.id}", j.start, j.end)
      out += js
      for (sid <- j.stages; st <- stageById.get(sid))
        out += Span(nextId(), js.id, s"stage:$sid", st.submit, st.complete)
    }
    out.toSeq
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a0, b0) <- iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (curA.isNaN || a0 > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a0; curB = b0
      } else curB = math.max(curB, b0)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer metrics for the traced window, per traced pass. */
  def report(recs: Seq[OpRec], passes: Seq[(Int, String, Double)],
      spansPath: Option[String]): Json.Obj = {
    val np = math.max(1, tracedPasses.size).toDouble
    val all = ops.toSeq
    var sid = 0
    val nextId = () => { sid += 1; sid }
    val allSpans = ArrayBuffer.empty[(Span, Double)] // with self time
    val selfRatios = ArrayBuffer.empty[Double]
    for ((p, pops) <- all.groupBy(_.pass).toSeq.sortBy(_._1)) {
      val ps = Span(nextId(), 0, s"pass:$p", pops.map(_.t0).min, pops.map(_.t1).max)
      allSpans += ((ps, ps.dur - covered(pops.map(o => (o.t0, o.t1)), ps.startMs, ps.endMs)))
      for (o <- pops.sortBy(_.t0)) {
        val sp = spans(o, nextId, ps.id)
        val kids = sp.groupBy(_.parent)
        val selfs = sp.map(x => x -> (x.dur - covered(
          kids.getOrElse(x.id, Nil).map(c => (c.startMs, c.endMs)), x.startMs, x.endMs)))
        allSpans ++= selfs
        if (o.t1 > o.t0) selfRatios += selfs.map(_._2).sum / (o.t1 - o.t0)
      }
    }
    spansPath.foreach { p =>
      val w = new java.io.PrintWriter(p)
      try allSpans.foreach { case (s, self) => w.println(Json.render(Json.obj("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "self_ms" -> self))) }
      finally w.close()
    }

    def phaseSum(n: String, of: Seq[OpTrace] = all): Double =
      of.flatMap(_.phases.collect { case (`n`, a, b) => (b - a) / 1000 }).sum / np
    // construction inside `Catalog.Q.fn`: the catalog operations only
    val gates = all.filter(_.kind == "gate")
    val stages = all.flatMap(_.stages)
    val jobs = all.flatMap(_.jobs)
    val progress = all.flatMap(_.progress)
    val planning = all.flatMap(_.planning)
    // time covered by Spark jobs inside each operation
    val execS = all.map(o => covered(o.jobs.map(j => (j.start.toDouble, j.end.toDouble)),
      o.t0, o.t1)).sum / 1000 / np
    val taskRun = stages.map(_.runMs).sum / 1000.0 / np
    val opSecs = recs.filter(_.phase == "traced")
    def medOf(name: String): Double = median(opSecs.filter(_.name == name).map(_.secs))
    val traced = passes.filter(_._2 == "traced").map(_._3)
    val untraced = passes.filter(_._2 == "untraced").map(_._3)
    val weatherRows = recs.filter(r => r.phase == "traced" && r.name.startsWith("weather."))
      .map(_.rows).sum.toDouble
    def dur(k: String): Double = progress.map(_.durMs.getOrElse(k, 0L)).sum / np
    val codeCacheMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0
    val lakeOps = LakeWorkload.OpNames.map(n => s"lake.${n}_s" -> medOf(s"lake.$n"))
    def p50(kind: String): Double = median(recs.filter(r =>
      r.phase == "untraced" && r.kind == kind && r.name.startsWith("lake.")).map(_.secs))
    val writtenBytes = Counters.get("lake.bytes_written").sum
    val userBytes = Counters.get("lake.write_user_bytes").sum
    Json.obj(
      Seq[(String, Any)](
        "session.start_s" -> median(sessionStarts),
        "catalog.construct_s" -> phaseSum("construct", gates),
        // jobs of the stream threads carry the stream's own job group
        "catalog.construct_jobs" -> gates.flatMap(_.jobs).count(j =>
          !j.group.endsWith(":plan") && !j.group.endsWith(":execute")) / np,
        "plans.analysis_s" -> planning.map(_.analysis).sum / 1000.0 / np,
        "plans.optimization_s" -> planning.map(_.optimization).sum / 1000.0 / np,
        "plans.planning_s" -> planning.map(_.planning).sum / 1000.0 / np,
        "plans.plan_s" -> phaseSum("plan"),
        "exec.exec_s" -> execS,
        "exec.task_run_s" -> taskRun,
        "exec.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / np,
        "exec.core_util" -> (if (execS > 0) taskRun / (execS * cores) else 0.0),
        "exec.task_skew" -> skewOf(all),
        "exec.input_bytes" -> stages.map(_.inBytes).sum / np,
        "exec.input_rows" -> stages.map(_.inRows).sum / np,
        "exec.shuffle_write_bytes" -> stages.map(_.shufW).sum / np,
        "exec.spill_bytes" -> stages.map(_.spill).sum / np,
        "exec.output_bytes" -> stages.map(_.outBytes).sum / np,
        "exec.jobs" -> jobs.size / np,
        "exec.stages" -> stages.size / np,
        "exec.tasks" -> stages.map(_.tasks).sum / np,
        "exec.task_failures" -> taskFailures.toDouble,
        "weather.q1_s" -> medOf("weather.q1"),
        "weather.q2_s" -> medOf("weather.q2"),
        "weather.shuffle_bytes_per_row" -> (if (weatherRows > 0)
          all.filter(_.name.startsWith("weather.")).flatMap(_.stages).map(_.shufW).sum / weatherRows
          else 0.0)) ++
      lakeOps ++
      Seq[(String, Any)](
        "lake.snapshot_s" -> median(Counters.get("lake.snapshot_s")),
        "lake.write_amp" -> (if (userBytes > 0) writtenBytes / userBytes else 0.0),
        "lake.files_written_per_op" -> median(Counters.get("lake.files_written")),
        "lake.files_kept_ratio" -> median(Counters.get("lake.files_kept_ratio")),
        "lake.files_live" -> Counters.get("lake.files_live").lastOption.getOrElse(0.0),
        "lake.write_op_p50_s" -> p50("write"),
        "lake.read_op_p50_s" -> p50("read"),
        "lake.space_amp" -> Counters.get("lake.space_amp").lastOption.getOrElse(0.0),
        "streaming.batches" -> progress.size / np,
        "streaming.empty_batches" -> progress.count(_.inputRows == 0) / np,
        "streaming.useful_batch_ratio" -> (if (progress.isEmpty) 0.0
          else progress.count(_.inputRows > 0).toDouble / progress.size),
        "streaming.batch_p50_ms" -> median(progress.map(_.durMs.getOrElse("triggerExecution", 0L).toDouble)),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.commit_offsets_ms" -> dur("commitOffsets"),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.state_commit_ms" -> progress.map(_.stateCommitMs).sum / np,
        "jvm.gc_s" -> (gcEnd - gc0) / 1000.0 / np,
        "jvm.jit_s" -> (jitEnd - jit0) / 1000.0 / np,
        "jvm.code_cache_mb" -> codeCacheMb,
        "trace.overhead_s" -> (median(traced) - median(untraced)),
        "trace.spans_per_pass" -> allSpans.size / np,
        "trace.self_time_ratio_p50" -> median(selfRatios.toSeq),
        "trace.self_time_ratio_max" -> (if (selfRatios.isEmpty) 0.0 else selfRatios.max),
        "trace.self_time_within_5pct" -> (if (selfRatios.isEmpty) 0.0
          else selfRatios.count(r => math.abs(r - 1) <= 0.05).toDouble / selfRatios.size)
      ): _*)
  }

  /** Worst stage's slowest task over its median task, over stages with
    * at least as many tasks as cores (smaller stages cannot be skewed).
    */
  private def skewOf(all: Seq[OpTrace]): Double = {
    val perStage = all.flatMap(o => o.taskTimes.groupBy(_._1).values
      .map(_.map(_._2.toDouble)).filter(_.size >= cores))
    val skews = perStage.map(ts => ts.max / math.max(1.0, median(ts)))
    if (skews.isEmpty) 0.0 else skews.max
  }
}
