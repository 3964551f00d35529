package graft.tools

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper,
  QueryStageExec, ShuffleQueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import graft.Graft

/** Ask a gate what it does, in the session Bench, Verify and perfbench
  * run ([[Graft.local]] at `SPARK_GRAFT_CPUS` cores):
  *
  * {{{
  * scripts/run.sh graft.tools.Probe plan   <sfDir> <gate...>
  * scripts/run.sh graft.tools.Probe final  <sfDir> <gate...>
  * scripts/run.sh graft.tools.Probe stages <sfDir> <gate...>
  * }}}
  *
  *   - `plan`: the formatted physical plan ([[Graft.explain]]). Redirect
  *     stdout to a file under `plans/` to keep it as evidence.
  *   - `final`: runs the gate and prints the node census of its FINAL
  *     adaptive plan — which scans and exchanges actually executed and
  *     which AQE served by stage reuse. The static plan shows every
  *     branch copy as its own scan; only the final plan tells a real
  *     duplicate subtree from a cosmetic one.
  *   - `stages`: one warm-up run, then a timed run under a listener;
  *     prints per job and per stage the tasks, run time, slowest task,
  *     CPU, GC, deserialize time, input, shuffle and spill, then totals.
  *
  * Each gate prints under a `===== gate =====` header; a failing gate
  * prints its error and the probe moves on to the next one. */
object Probe extends AdaptiveSparkPlanHelper {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Set("plan", "final", "stages")(args(0)),
      "usage: Probe <plan|final|stages> <sfDir> <gate...>")
    val g = Graft.local(args(1), Graft.cpus)
    for (gate <- args.drop(2)) {
      println(s"===== $gate =====")
      try args(0) match {
        case "plan" => println(g.explain(gate))
        case "final" => println(census(finalPlan(g.run(gate))))
        case "stages" => stages(g, gate).foreach(println)
      } catch { case e: Exception => println(s"FAILED: $e") }
      Graft.releaseState(g.spark)
    }
    g.spark.stop()
  }

  /** Execute `df`'s OWN plan and return it, finalized. `df.count()`
    * would run a new Dataset wrapping df and leave df's executedPlan
    * unfinalized (isFinalPlan=false, no query stages); `df.rdd` runs a
    * separate rddQueryExecution, the same trap. `toRdd` runs df's
    * queryExecution, and foreach drops the rows in the executors, so a
    * row-explosive gate cannot exhaust the driver. */
  def finalPlan(df: DataFrame): SparkPlan = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.executedPlan
  }

  /** Node census of an executed plan, read from AQE's final plan (not
    * the initial plan its tree string also prints) and its subqueries.
    * Shuffle-stage refs above distinct ids means one stage object
    * serves several consumers. */
  def census(plan: SparkPlan): String = {
    def n(pf: PartialFunction[SparkPlan, Unit]) =
      collectWithSubqueries(plan)(pf).size
    val ids = collectWithSubqueries(plan) {
      case s: ShuffleQueryStageExec => s.id
    }
    s"final=${plan.simpleString(1).contains("isFinalPlan=true")} " +
      s"scans=${n { case _: FileSourceScanExec => }} " +
      s"exchanges=${n { case _: Exchange => }} " +
      s"reusedStages=${n { case s: QueryStageExec
        if s.plan.isInstanceOf[ReusedExchangeExec] => }} " +
      s"reusedExchanges=${n { case _: ReusedExchangeExec => }} " +
      s"tableCacheStages=${n { case _: TableCacheQueryStageExec => }} " +
      s"shuffleStageRefs=${ids.size} distinct=${ids.distinct.size}"
  }

  /** Task metrics summed over a stage's (or a job's) tasks; `maxTaskMs`
    * is the slowest single task. */
  final case class Cost(tasks: Long, runMs: Long, maxTaskMs: Long,
      cpuMs: Long, gcMs: Long, deserMs: Long, inputB: Long,
      shuffleReadB: Long, shuffleWriteB: Long, spillB: Long) {
    def +(o: Cost): Cost = Cost(tasks + o.tasks, runMs + o.runMs,
      math.max(maxTaskMs, o.maxTaskMs), cpuMs + o.cpuMs, gcMs + o.gcMs,
      deserMs + o.deserMs, inputB + o.inputB, shuffleReadB + o.shuffleReadB,
      shuffleWriteB + o.shuffleWriteB, spillB + o.spillB)

    override def toString: String = {
      def s(ms: Long) = f"${ms / 1000.0}%.2f s"
      def mb(b: Long) = f"${b / 1e6}%.1f MB"
      s"tasks=$tasks run=${s(runMs)} max-task=${s(maxTaskMs)} " +
        s"cpu=${s(cpuMs)} gc=${s(gcMs)} deser=${s(deserMs)} " +
        s"input=${mb(inputB)} shuffle-read=${mb(shuffleReadB)} " +
        s"shuffle-write=${mb(shuffleWriteB)} spill=${mb(spillB)}"
    }
  }
  private val NoCost = Cost(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** The `stages` report of one gate: a header line, one line per job
    * followed by one per stage it ran, and a totals line. */
  def stages(g: Graft, gate: String): Seq[String] = {
    val sc = g.spark.sparkContext
    // warm-up: JVM, codegen and parquet-footer costs land here
    g.run(gate).count()
    Graft.releaseState(g.spark)
    Thread.sleep(500) // the listener bus is async: let warm-up events drain

    val jobs = new ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
    val maxTask = new ConcurrentHashMap[Int, Long]()
    val costs = new ConcurrentHashMap[Int, (Cost, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, (e.time, e.time, e.stageIds))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(_2 = e.time))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          maxTask.merge(e.stageId, e.taskMetrics.executorRunTime,
            (a, b) => math.max(a, b))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        costs.put(i.stageId, (Cost(i.numTasks, m.executorRunTime,
          maxTask.getOrDefault(i.stageId, 0L), m.executorCpuTime / 1000000L,
          m.jvmGCTime, m.executorDeserializeTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled),
          // the RDD scope names say which physical operators ran
          i.rddInfos.map(_.name.replaceAll("\\s+", " ")).distinct
            .mkString(" | ").take(160)))
      }
    }
    sc.addSparkListener(listener)
    val (rows, wall) =
      try {
        val t0 = System.nanoTime()
        val n = g.run(gate).count()
        (n, (System.nanoTime() - t0) / 1e9)
      } finally { Thread.sleep(500); sc.removeSparkListener(listener) }

    val stageCosts = costs.asScala.toMap
    // a stage shared by several jobs runs in the first and is skipped
    // by the rest: list it under the first
    val listed = scala.collection.mutable.Set.empty[Int]
    val jobLines = jobs.asScala.toSeq.sortBy(_._1).flatMap {
      case (id, (start, end, stageIds)) =>
        val ran = stageIds.sorted
          .filter(s => stageCosts.contains(s) && listed.add(s))
        val cost = ran.map(stageCosts(_)._1).foldLeft(NoCost)(_ + _)
        f"[job] $id wall=${(end - start) / 1000.0}%.2f s stages=${ran.size} $cost" +:
          ran.map { s =>
            val (c, ops) = stageCosts(s)
            s"  [stage] $s $c  $ops"
          }
    }
    val total = stageCosts.values.map(_._1).foldLeft(NoCost)(_ + _)
    (f"[stages] $gate: $rows rows, wall=$wall%.2f s, jobs=${jobs.size}, " +
      s"stages=${stageCosts.size}") +: jobLines :+ s"[total] $total"
  }
}
