package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Counters for one op execution, filled by the listeners below. Every
  * field is written on a listener thread and read by the harness only
  * after the listener bus has drained, under this object's lock. */
final class OpCounters {
  var jobs, stages, tasks, emptyTasks = 0L
  var schedDelayMs, runMs, cpuNs, gcMs = 0L
  var inRecs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var memSpill, diskSpill = 0L
  /** (submission, completion) wall-clock ms of every completed stage */
  val stageSpans = mutable.ArrayBuffer[(Long, Long)]()
  /** (start, end) wall-clock ms of every job the op ran */
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  /** (start, end) wall-clock ms of the optimization and physical-planning
    * phases of the queries the op's writes executed */
  val planSpans = mutable.ArrayBuffer[(Long, Long)]()
  /** tracker phases of the queries the op's writes executed */
  var analysisMs, optimizeMs, physicalMs = 0L
  /** memory bytes of the op's cached RDD blocks: now, and the most at once */
  val cacheBlocks = mutable.Map[BlockId, Long]()
  var cacheMem, cacheMemPeak = 0L
  /** file bytes their scans read (the scan node's own metric: task input
    * metrics miss parquet's vectored reads) */
  var scanBytes = 0L
  var streamBatches, streamTriggerMs, streamCommitMs, streamStateRows = 0L
}

/** Spark's public listeners, attributed to ops through the job group the
  * harness sets before each op (streaming jobs carry the stream's run id as
  * their group; the start callback, which runs on the starting thread,
  * maps it to the op). */
final class Trace extends SparkListener {
  private val groupOp = new ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, OpCounters]()
  private val jobOp = new ConcurrentHashMap[Int, (OpCounters, Long)]()
  private val rddOp = new ConcurrentHashMap[Int, OpCounters]()

  def begin(opId: String): OpCounters = {
    val c = new OpCounters
    groupOp.put(opId, c)
    c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(g => Option(groupOp.get(g))).foreach { c =>
      c.synchronized {
        c.jobs += 1
        c.stages += e.stageIds.size
      }
      e.stageIds.foreach(stageOp.put(_, c))
      e.stageInfos.foreach(_.rddInfos.foreach(r => rddOp.put(r.id, c)))
      jobOp.put(e.jobId, (c, e.time))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execOp.put(x.toLong, c))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOp.remove(e.jobId)).foreach { case (c, start) =>
      c.synchronized { c.jobSpans += ((start, e.time)) }
    }

  /** Cached RDD blocks, booked to the op whose jobs hold the RDD; the op's
    * peak is taken as its blocks are stored and dropped, so it does not
    * depend on when the ContextCleaner frees them. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val u = e.blockUpdatedInfo
    u.blockId match {
      case RDDBlockId(rdd, _) => Option(rddOp.get(rdd)).foreach { c =>
        c.synchronized {
          c.cacheMem += u.memSize - c.cacheBlocks.getOrElse(u.blockId, 0L)
          c.cacheBlocks(u.blockId) = u.memSize
          c.cacheMemPeak = math.max(c.cacheMemPeak, c.cacheMem)
        }
      }
      case _ =>
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { c =>
      for (s <- e.stageInfo.submissionTime; f <- e.stageInfo.completionTime)
        c.synchronized { c.stageSpans += ((s, f)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { c =>
      val m = e.taskMetrics
      if (m != null) c.synchronized {
        c.tasks += 1
        val sr = m.shuffleReadMetrics
        if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0)
          c.emptyTasks += 1
        // the scheduler-delay formula of Spark's own UI
        c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inRecs += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += sr.remoteBytesRead + sr.localBytesRead
        c.fetchWaitMs += sr.fetchWaitTime
        c.memSpill += m.memoryBytesSpilled
        c.diskSpill += m.diskBytesSpilled
      }
    }

  /** SQL executions, linked to ops through the jobs they run; AQE plan
    * updates are counted per execution and summed per op on read, since an
    * update can be posted before the execution's first job. */
  private val execOp = new ConcurrentHashMap[Long, OpCounters]()
  private val aqeUpdates = new ConcurrentHashMap[Long, java.lang.Long]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      aqeUpdates.merge(u.executionId, 1L, (a, b) => a + b)
    case _ =>
  }

  /** AQE plan updates of the executions that ran jobs for `c`. */
  def aqeUpdatesOf(c: OpCounters): Long = {
    var n = 0L
    execOp.forEach((x, o) => if (o eq c) n += Option(aqeUpdates.get(x)).map(_.longValue).getOrElse(0L))
    n
  }

  /** Planning phases of every query an op's session executes. */
  def queryListener(c: OpCounters): QueryExecutionListener =
    new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val ph = qe.tracker.phases
        def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
        val bytes = Trace.fileScans(qe.executedPlan)
          .flatMap(_.metrics.get("filesSize")).map(_.value).sum
        c.synchronized {
          c.analysisMs += ms("analysis")
          c.optimizeMs += ms("optimization")
          c.physicalMs += ms("planning")
          for (k <- Seq("optimization", "planning"); p <- ph.get(k))
            c.planSpans += ((p.startTimeMs, p.endTimeMs))
          c.scanBytes += bytes
        }
      }
      override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
    }

  /** Micro-batch progress of every stream an op's session starts. */
  def streamListener(c: OpCounters): StreamingQueryListener =
    new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        groupOp.put(e.runId.toString, c)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def ms(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        c.synchronized {
          c.streamBatches += 1
          c.streamTriggerMs += ms("triggerExecution")
          c.streamCommitMs += ms("walCommit") + ms("commitOffsets") +
            p.stateOperators.map(_.commitTimeMs).sum
          // state rows held at the end of the drain (last progress wins)
          c.streamStateRows = p.stateOperators.map(_.numRowsTotal).sum
        }
      }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
}

object Trace {
  /** Every file scan of an executed plan, through adaptive and query-stage
    * wrappers and subquery expressions. */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case o => (o.children ++ o.subqueries).flatMap(fileScans)
  }
}

/** Wall time of [from, to] (epoch ms) not covered by any of `spans`. */
object Intervals {
  def uncovered(from: Long, to: Long, spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = from
    spans.map { case (s, f) => (math.max(s, from), math.min(f, to)) }
      .filter { case (s, f) => f > s }.sortBy(_._1).foreach { case (s, f) =>
        if (f > end) { covered += f - math.max(s, end); end = f }
      }
    (to - from) - covered
  }
}
