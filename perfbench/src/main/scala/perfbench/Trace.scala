package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Wall clock in epoch microseconds, monotonic within the run: a
  * nanoTime offset from one epoch reading, so benchmark spans line up
  * with the listener's epoch-millisecond stage times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** One timed interval at a layer boundary. `run` groups the spans of one
  * job execution; `parent` is the span that caused this one (0 = none). */
final case class Span(id: Int, parent: Int, run: Int, name: String,
    startUs: Long, var endUs: Long = -1, attrs: mutable.Map[String, Any] = mutable.Map())

/** In-memory span recorder. Spans are written out when the run ends; the
  * Spark jobs a span fires are tied to it through the `perfbench.span`
  * local property, which [[Listener]] reads back from each stage. */
final class Spans(sc: SparkContext) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def open(name: String, run: Int): Span = {
    val s = Span(all.size + 1, stack.headOption.map(_.id).getOrElse(0), run,
      name, Clock.us())
    all += s
    stack = s :: stack
    sc.setLocalProperty(Spans.Prop, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.endUs = Clock.us()
    stack = stack.dropWhile(_.id != s.id).drop(1)
    sc.setLocalProperty(Spans.Prop, stack.headOption.map(_.id.toString).orNull)
  }

  def apply[T](name: String, run: Int)(body: Span => T): T = {
    val s = open(name, run)
    try body(s) finally close(s)
  }
}

object Spans { val Prop = "perfbench.span" }

/** Per-stage record: the stage's interval and the sums of its tasks'
  * metrics, tagged with the span whose action submitted it. */
final class StageRec(val id: Int, val attempt: Int, val span: Int,
    val numTasks: Int) {
  var submitMs = -1L
  var completeMs = -1L
  var failed = false
  val runMs = mutable.ArrayBuffer.empty[Long]
  var tasks, failedTasks = 0
  var cpuNs, gcMs, schedDelayMs = 0L
  var inRecords, inTasks = 0L
  var shWBytes, shWRecords, shWNs = 0L
  var shRBytes, shRRecords, shFetchMs = 0L
  var spillMem, spillDisk, outRecords = 0L
}

/** The benchmark's SparkListener: stages and tasks attributed to spans,
  * plus a timeline of RDD block storage (count and bytes). Everything it
  * records comes from the listener bus; nothing inside the engine is
  * instrumented.
  *
  * Stored blocks enter the timeline through block updates and leave it
  * through a block update to an invalid level or through an RDD's
  * unpersist: `RDD.unpersist` (what `Graft.releaseState` and the
  * ContextCleaner call) removes its blocks without a block update and
  * posts only `SparkListenerUnpersistRDD`. Blocks stored before the
  * listener was registered are taken from [[seed]]. */
final class Listener extends SparkListener {
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val jobSpans = mutable.LinkedHashMap.empty[Int, Int]
  /** (epoch ms, stored RDD blocks, stored RDD bytes) after each change */
  val blocks = mutable.ArrayBuffer.empty[(Long, Int, Long)]
  /** rdd id -> block name -> stored bytes */
  private val stored = mutable.HashMap.empty[Int, mutable.HashMap[String, Long]]
  private var storedBlocks = 0
  private var storedBytes = 0L
  @volatile var jobsEnded = 0

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Spans.Prop))).map(_.toInt).getOrElse(0)

  private def mark(): Unit =
    blocks += ((System.currentTimeMillis(), storedBlocks, storedBytes))

  private def put(rdd: Int, name: String, size: Long): Unit = {
    val m = stored.getOrElseUpdate(rdd, mutable.HashMap.empty)
    m.put(name, size) match {
      case Some(old) => storedBytes += size - old
      case None => storedBlocks += 1; storedBytes += size
    }
  }

  private def drop(rdd: Int, name: String): Unit =
    stored.get(rdd).flatMap(_.remove(name)).foreach { old =>
      storedBlocks -= 1; storedBytes -= old
    }

  /** Blocks already stored when the listener is registered, as
    * (rdd id, cached partitions, bytes): partition blocks of equal size. */
  def seed(rdds: Seq[(Int, Int, Long)]): Unit = synchronized {
    for ((rdd, n, bytes) <- rdds; k <- 0 until n)
      put(rdd, s"rdd_${rdd}_$k", bytes / n + (if (k < bytes % n) 1 else 0))
    mark()
  }

  /** (stored RDD blocks, stored RDD bytes) as the listener has seen them */
  def storage: (Int, Long) = synchronized((storedBlocks, storedBytes))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobSpans(e.jobId) = spanOf(e.properties)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val r = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      new StageRec(i.stageId, i.attemptNumber(), spanOf(e.properties), i.numTasks))
    r.submitMs = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { r =>
      r.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
      r.failed = i.failureReason.isDefined
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
      val info = e.taskInfo
      r.tasks += 1
      if (info.failed || info.killed) r.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        // Spark UI's "scheduler delay": task wall time not spent
        // deserializing, running or serializing the result
        r.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        val in = m.inputMetrics
        r.inRecords += in.recordsRead
        if (in.recordsRead > 0) r.inTasks += 1
        val w = m.shuffleWriteMetrics
        r.shWBytes += w.bytesWritten
        r.shWRecords += w.recordsWritten
        r.shWNs += w.writeTime
        val rd = m.shuffleReadMetrics
        r.shRBytes += rd.totalBytesRead
        r.shRRecords += rd.recordsRead
        r.shFetchMs += rd.fetchWaitTime
        r.spillMem += m.memoryBytesSpilled
        r.spillDisk += m.diskBytesSpilled
        r.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case RDDBlockId(rdd, _) =>
        val size = b.memSize + b.diskSize
        if (b.storageLevel.isValid && size > 0) put(rdd, b.blockId.name, size)
        else drop(rdd, b.blockId.name)
        mark()
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    stored.remove(e.rddId).foreach { m =>
      storedBlocks -= m.size
      storedBytes -= m.values.sum
      mark()
    }
  }
}

/** File scans of every query the session executes, from the scan nodes'
  * SQL metrics in the executed (adaptive) plan: files and their bytes,
  * keyed by the epoch millisecond the query started planning. These are
  * the files a scan lists, not the bytes it reads: neither the tasks'
  * input metrics nor Hadoop's file-system statistics see the parquet
  * reader's row-group reads (both count only the footer). */
final class Scans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  /** (start epoch ms, files read, bytes of those files) per query */
  val log = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  private def record(qe: QueryExecution): Unit = {
    val start = qe.tracker.phases.values.map(_.startTimeMs).minOption
      .getOrElse(System.currentTimeMillis())
    val scans = collectWithSubqueries(qe.executedPlan) {
      case p: SparkPlan if p.metrics.contains("filesSize") => p.metrics
    }
    val files = scans.map(m => m.get("numFiles").map(_.value).getOrElse(0L)).sum
    val bytes = scans.map(_("filesSize").value).sum
    synchronized { log += ((start, files, bytes)) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
