package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Graft, SparkEntry}
import graft.mr.{Apps, MRJob}

/** Runs one workload's job list in a closed loop (one client thread) in
  * the engine's own `local[4]` session and writes a JSON report
  * for `run.py`, which derives every metric from it and checks every
  * output. Arguments are `--key value` pairs; see `run.py`.
  *
  * Phases: three fresh sessions from `Graft.local` (timed), `warmups`
  * untimed passes over the job list, then `passes` measured passes. With
  * `--trace 1`, untraced, traced, untraced; a traced pass records
  * spans around each call into the engine and a [[Listener]] attributes
  * Spark stages and tasks to them. */
object Main {
  val Cores = 4
  val Setups = 3
  /** The compat layer's job names; every other name is a SparkEntry query. */
  val Compat: Map[String, (MRJob.MapF, MRJob.ReduceF)] = Map(
    "mr_wc_compat" -> ((Apps.wcMap, Apps.wcReduce)),
    "mr_indexer_compat" -> ((Apps.indexerMap, Apps.indexerReduce)))
  val NReduce = 10

  final case class Exec(job: String, pass: Int, traced: Boolean, out: String,
      latencyS: Double, error: Option[String])
  final case class Pass(index: Int, traced: Boolean, startUs: Long, endUs: Long,
      cpuS: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val corpus = opt.getOrElse("corpus", "")
    val out = opt("out")
    val warmups = opt("warmups").toInt
    val passCount = opt("passes").toInt
    val trace = opt("trace") == "1"
    val jobs = opt("jobs").split(",").toSeq
    // no pass starts that would end after this (epoch seconds)
    val deadline = opt("deadline").toDouble

    // set-up: fresh engine sessions, each timed from the session request to
    // the registered views
    val setupS = mutable.ArrayBuffer.empty[Double]
    var g: Graft = null
    for (_ <- 1 to Setups) {
      if (g != null) g.spark.stop()
      val t0 = System.nanoTime()
      g = Graft.local(data, Cores)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val spark = g.spark

    // registered around the traced pass only, so the untraced passes
    // pay for no listener
    val listener = new Listener
    val spans = new Spans(spark.sparkContext)
    val scans = new Scans

    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[Pass]
    var runId = 0

    /** One job execution: build the frame, write it, release engine
      * state. Traced, each step is a span under one `job` span. */
    def execute(job: String, dest: String, pass: Int, traced: Boolean): Exec = {
      runId += 1
      val run = runId
      def step[T](name: String)(body: Span => T): T =
        if (traced) spans(name, run)(body) else body(null)
      val t0 = System.nanoTime()
      var error: Option[String] = None
      step("job") { js =>
        if (traced) js.attrs("job") = job
        try Compat.get(job) match {
          case Some((mapf, reducef)) =>
            // graft.mr's entry in one call (read, map, shuffle, reduce and
            // the mr-out write), the same call in every pass
            step("exec") { _ =>
              MRJob.runFiles(spark, s"$corpus/*", dest, mapf, reducef, NReduce)
            }
          case None =>
            val df = step("build") { _ => SparkEntry.queries(job)(spark, data) }
            if (traced) {
              step("plan") { _ => df.queryExecution.executedPlan }
              js.attrs("input_files") = df.inputFiles.distinct.length
            }
            step("exec") { _ => df.write.mode("overwrite").parquet(dest) }
        } catch {
          case e: Throwable =>
            error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}".take(300))
        }
        step("release") { _ => Graft.releaseState(spark) }
      }
      Exec(job, pass, traced, dest, (System.nanoTime() - t0) / 1e9, error)
    }

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

    val warmS = mutable.ArrayBuffer.empty[Double]
    val warm = (1 to warmups).flatMap { w =>
      val t0 = System.nanoTime()
      val ex = jobs.map(j => execute(j, s"$out/warm$w/$j", -w, traced = false))
      warmS += (System.nanoTime() - t0) / 1e9
      ex
    }

    // a fixed number of passes (not a time window), so every run and
    // every commit measures the same work at the same JIT warmth; traced,
    // an untraced pass (more warm-up), the traced pass, and the untraced
    // pass the tracing overhead is taken against
    val n = if (trace) 3 else passCount
    var p = 0
    var lastPassS = 0.0
    while (p < n && (p == 0 || Clock.us() / 1e6 + lastPassS < deadline)) {
      val traced = trace && p == 1
      val cpu0 = os.getProcessCpuTime
      val u0 = Clock.us()
      if (traced) register(listener, scans, spark)
      val passSpan = if (traced) Some(spans.open("pass", 0)) else None
      jobs.foreach(j => execs += execute(j, s"$out/$j/$p", p, traced))
      passSpan.foreach(spans.close)
      val u1 = Clock.us()
      if (traced) unregister(listener, scans, spark)
      passes += Pass(p, traced, u0, u1, (os.getProcessCpuTime - cpu0) / 1e9)
      lastPassS = (u1 - u0) / 1e6
      p += 1
    }
    // the live old-generation heap the passes leave: the least of three
    // full collections 300 ms apart, so the listener bus and the
    // ContextCleaner catch up and a transient buffer does not count
    val liveHeapMb = (1 to 3).map { _ =>
      Thread.sleep(300)
      System.gc()
      oldGen.map(_.getCollectionUsage.getUsed / 1048576.0).getOrElse(0.0)
    }.min

    val report = Json.obj(
      "cores" -> Cores,
      "setup_s" -> setupS.toSeq,
      "warmup_s" -> warmS.toSeq,
      "oracle_sql" -> Json.obj(jobs.flatMap(j => SparkEntry.oracleSql.get(j).map(j -> _)): _*),
      "warm_errors" -> warm.flatMap(e => e.error.map(m => Json.obj("job" -> e.job, "error" -> m))),
      "passes" -> passes.toSeq.map(x => Json.obj("pass" -> x.index, "traced" -> x.traced,
        "start_us" -> x.startUs, "end_us" -> x.endUs, "cpu_s" -> x.cpuS)),
      "live_heap_mb" -> liveHeapMb,
      "execs" -> execs.toSeq.map(e => Json.obj("job" -> e.job, "pass" -> e.pass,
        "traced" -> e.traced, "out" -> e.out, "latency_s" -> e.latencyS,
        "error" -> e.error.orNull)),
      "spans" -> spans.all.toSeq.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "run" -> s.run, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "attrs" -> Json.obj(s.attrs.toSeq: _*))),
      "stages" -> listener.synchronized(listener.stages.values.toSeq).map(r => Json.obj(
        "id" -> r.id, "attempt" -> r.attempt, "span" -> r.span, "num_tasks" -> r.numTasks,
        "submit_ms" -> r.submitMs, "complete_ms" -> r.completeMs, "failed" -> r.failed,
        "tasks" -> r.tasks, "failed_tasks" -> r.failedTasks, "run_ms" -> r.runMs.toSeq,
        "cpu_ns" -> r.cpuNs, "gc_ms" -> r.gcMs, "sched_delay_ms" -> r.schedDelayMs,
        "in_records" -> r.inRecords, "in_tasks" -> r.inTasks,
        "shw_bytes" -> r.shWBytes, "shw_records" -> r.shWRecords, "shw_ns" -> r.shWNs,
        "shr_bytes" -> r.shRBytes, "shr_records" -> r.shRRecords, "fetch_ms" -> r.shFetchMs,
        "spill_mem" -> r.spillMem, "spill_disk" -> r.spillDisk, "out_records" -> r.outRecords)),
      "jobs" -> listener.synchronized(listener.jobSpans.toSeq).map { case (j, s) =>
        Json.obj("id" -> j, "span" -> s) },
      "blocks" -> listener.synchronized(listener.blocks.toSeq).map { case (t, n, b) =>
        Seq(t, n, b) },
      "storage_after" -> Json.obj("listener_blocks" -> listener.storage._1,
        "driver_blocks" -> spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum),
      "scans" -> scans.synchronized(scans.log.toSeq).map { case (t, f, b) => Seq(t, f, b) })
    Files.writeString(Paths.get(opt("report")), report.s)
    spark.stop()
  }

  /** Registers the traced pass's listeners; the blocks already stored
    * seed the listener's storage timeline. */
  private def register(l: Listener, scans: Scans, spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    l.seed(sc.getRDDStorageInfo.toSeq.map(i => (i.id, i.numCachedPartitions, i.memSize + i.diskSize)))
    sc.addSparkListener(l)
    spark.listenerManager.register(scans)
  }

  /** Waits until the listener bus has delivered every job's end event, so
    * the report holds all stages and tasks of the traced pass, then
    * removes the listeners. */
  private def unregister(l: Listener, scans: Scans, spark: SparkSession): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    def started = l.synchronized(l.jobSpans.size)
    while (l.jobsEnded < started && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // trailing task, block and query events
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(scans)
  }
}

/** Minimal JSON writer for the report. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
