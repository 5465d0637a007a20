package graft

/** Dev utility: dump `.explain("formatted")` for EVERY catalog query
  * to one file per query — the plan corpus the optimization rounds
  * grep for Exchange counts, join strategies and pushdown evidence.
  * Usage: `sbt "runMain graft.PlanDump <outDir> [sfDir] [q1,q2,...]"`.
  * Construction (not execution) cost only; a query whose constructor
  * throws gets an `ERROR` file instead of killing the sweep.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(out)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
      else None
    val spark = GraftSession.get()
    val names = Catalog.all.map(_.name).filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      val txt =
        try {
          val df = Catalog.queryMap(name)(spark, dir)
          // "formatted" via the public API (captures the string
          // instead of printing): same text explain("formatted") shows
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        } catch { case e: Throwable =>
          s"ERROR constructing $name: ${e.getClass.getName}: ${e.getMessage}"
        }
      java.nio.file.Files.write(out.resolve(s"$name.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $name")
    }
    spark.stop()
  }
}

/** Dev utility: run one (or more) catalog queries at a given SF with
  * a StreamingQueryListener attached and print every micro-batch's
  * duration breakdown (triggerExecution / getBatch / addBatch /
  * walCommit / commitOffsets / stateStore metrics) plus the wall
  * clock of the whole invocation — the measurement §1 of the
  * optimization guide asks for before touching a streaming gate.
  * Usage: `sbt "runMain graft.StreamProbe q188_stream_full_outer [sfDir]"`.
  */
class ProbeListener
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    println(s"[probe] started ${e.name} wall=${System.currentTimeMillis()}")
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    println(s"[probe] ${p.name} batch=${p.batchId} rows=${p.numInputRows} " +
      s"wall=${System.currentTimeMillis()} durations=${p.durationMs} " +
      s"state=${p.stateOperators.map(s =>
        s"(rows=${s.numRowsTotal},commitMs=${s.commitTimeMs})").mkString}")
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    println(s"[probe] terminated wall=${System.currentTimeMillis()}")
}

object StreamProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // conf-registered (not addListener): the gates run on CLONED
    // sessions, whose own StreamingQueryManagers instantiate the
    // listener from the inherited conf
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.streaming.streamingQueryListeners",
        "graft.ProbeListener")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val n = Catalog.queryMap(name)(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $name run$i: $dt%.2f s ($n rows)")
      }
    }
    spark.stop()
  }
}
