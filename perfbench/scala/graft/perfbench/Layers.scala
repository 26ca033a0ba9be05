package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.perfbench.Bus

/** Per-op figures of the `plans` and `exec` layers, gathered by a
  * listener the traced run registers. Jobs carry the op id as the local
  * property [[Layers.OpKey]], set by the benchmark before each op, and
  * the id of the SQL execution that ran them; a finished execution
  * belongs to the op its jobs ran under. Executions of other threads —
  * the streaming sinks' writes — carry no op and are not counted.
  */
final class Layers(spark: SparkSession, trace: Trace) {
  import Layers._

  final class OpExec {
    var jobs = 0; var stages = 0; var tasks = 0
    var runMs = 0.0; var cpuMs = 0.0; var schedMs = 0.0; var gcMs = 0.0
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    val jobSpans = ArrayBuffer.empty[(Long, Long)]
    val stageTasks = TrieMap.empty[Int, ArrayBuffer[Double]]
  }
  final class OpPlan {
    var analysisMs = 0.0; var optimizationMs = 0.0; var physicalMs = 0.0
    var filesRead = 0L; var filesTotal = 0L
  }

  val exec = TrieMap.empty[String, OpExec]
  private val stageOp = TrieMap.empty[Int, String]
  private val jobStart = TrieMap.empty[Int, (String, Long)]
  private val executionOp = TrieMap.empty[Long, String]
  /** finished executions per op, until the op closes */
  private val qes = TrieMap.empty[String, ArrayBuffer[QueryExecution]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
        val x = exec.getOrElseUpdate(op, new OpExec)
        x.synchronized { x.jobs += 1 }
        e.stageIds.foreach(stageOp.put(_, op))
        jobStart.put(e.jobId, (op, e.time))
        Option(e.properties.getProperty(SqlExecutionKey)).foreach(x => executionOp.put(x.toLong, op))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (op, t0) =>
        val x = exec(op)
        x.synchronized { x.jobSpans += ((t0, e.time)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageOp.get(e.stageInfo.stageId).foreach { op =>
        val x = exec(op)
        x.synchronized { x.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOp.get(e.stageId).foreach { op =>
        val x = exec(op)
        val m = e.taskMetrics
        val i = e.taskInfo
        if (m != null) x.synchronized {
          x.tasks += 1
          x.runMs += m.executorRunTime
          x.cpuMs += m.executorCpuTime / 1e6
          x.gcMs += m.jvmGCTime
          x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          val dur = i.finishTime - i.launchTime
          val getting = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          x.schedMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - getting)
          x.stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += dur.toDouble
        }
      }
    // job events of an execution are delivered before its end event
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      Bus.executionEnd(e).foreach { case (id, qe) =>
        executionOp.remove(id).foreach(op => qes.getOrElseUpdate(op, ArrayBuffer.empty) += qe)
      }
  }

  def start(): Unit = spark.sparkContext.addSparkListener(listener)

  def stop(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** Close op `op`: drain the listener bus, fold the query executions
    * that ran the op's jobs (and the `extra` ones the op noted) into the
    * op's plan figures, and add planning-phase and job spans under the
    * op's own spans.
    */
  def close(op: String, extra: Seq[QueryExecution] = Nil): OpPlan = {
    Bus.drain(spark.sparkContext)
    val p = new OpPlan
    val done = qes.remove(op).getOrElse(ArrayBuffer.empty[QueryExecution]).toSeq
    (extra ++ done).foreach { qe =>
      qe.tracker.phases.foreach { case (phase, s) =>
        val ms = (s.endTimeMs - s.startTimeMs).toDouble
        phase match {
          case "analysis" => p.analysisMs += ms
          case "optimization" => p.optimizationMs += ms
          case "planning" => p.physicalMs += ms
          case _ =>
        }
        if (ms > 0) trace.add(op, "plans", phase, trace.msToNs(s.startTimeMs), trace.msToNs(s.endTimeMs))
      }
    }
    // only executed plans: touching executedPlan on a noted one would plan it
    done.foreach { qe =>
      val (r, t) = files(qe.executedPlan)
      p.filesRead += r; p.filesTotal += t
    }
    exec.get(op).foreach(_.jobSpans.foreach { case (a, b) =>
      trace.add(op, "exec", "job", trace.msToNs(a), trace.msToNs(b))
    })
    p
  }
}

object Layers extends AdaptiveSparkPlanHelper {
  val OpKey = "perfbench.op"
  val SqlExecutionKey = "spark.sql.execution.id"

  /** (files read, files the scanned relations hold) over every scan of
    * an executed plan, subqueries and adaptive stages included.
    */
  def files(plan: SparkPlan): (Long, Long) = {
    val per = collectWithSubqueries(plan) {
      case s: FileSourceScanExec =>
        (s.metrics.get("numFiles").map(_.value).getOrElse(0L),
          s.relation.location.inputFiles.length.toLong)
      case b: BatchScanExec =>
        val read = b.inputPartitions.flatMap {
          case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
          case _ => Nil
        }.distinct.size.toLong
        val total = b.scan match {
          case g: org.apache.spark.sql.graft.GraftLakeScan => g.initial.fileIndex.inputFiles.length.toLong
          case f: org.apache.spark.sql.execution.datasources.v2.FileScan => f.fileIndex.inputFiles.length.toLong
          case _ => read
        }
        (read, total)
    }
    (per.map(_._1).sum, per.map(_._2).sum)
  }

  /** max ÷ median task time in the op's widest stage (most tasks). */
  def skew(x: Layers#OpExec): Double =
    if (x.stageTasks.isEmpty) 1.0
    else {
      val ts = x.stageTasks.values.maxBy(_.size)
      val med = Stats.median(ts)
      if (med <= 0) 1.0 else ts.max / med
    }
}
