package graft.warmbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Records Spark stages, jobs and SQL executions, so the traced run can
  * attribute a pass's time, CPU and shuffle bytes to layers. Registered
  * only for the traced passes; the timed passes run without it. Times
  * are epoch milliseconds, as the scheduler stamps them.
  */
final class Recorder extends SparkListener {
  import Recorder._

  val stages = new ConcurrentLinkedQueue[StageRec]
  val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String, Boolean)]
  val execEnds = new java.util.concurrent.ConcurrentHashMap[Long, Long]
  val jobs = new AtomicLong
  val tasks = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(StageRec(i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      org.apache.spark.WarmbenchBus.isShuffleMap(i),
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
    ()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStarts.put(s.executionId, (s.time, s.physicalPlanDescription, s.rootExecutionId.forall(_ == s.executionId))); ()
    case s: SparkListenerSQLExecutionEnd => execEnds.put(s.executionId, s.time); ()
    case _ =>
  }

  def clear(): Unit = {
    stages.clear(); execStarts.clear(); execEnds.clear()
    jobs.set(0); tasks.set(0)
  }

  def stageList: Seq[StageRec] = stages.asScala.toSeq.sortBy(_.submitted)

  /** Root SQL executions (those not nested in another), by start time. */
  def execList: Seq[ExecRec] =
    execStarts.asScala.toSeq.collect { case (id, (t0, plan, true)) =>
      ExecRec(id, t0, Option(execEnds.get(id)).map(_.longValue).getOrElse(t0), plan)
    }.sortBy(_.start)

  def shuffleMb: Double = stageList.map(_.shuffleWrite).sum / 1e6
  def cpuS: Double = stageList.map(_.cpuNs).sum / 1e9
  def stageS: Double = stageList.map(s => s.completed - s.submitted).sum / 1e3
}

object Recorder {
  final case class StageRec(submitted: Long, completed: Long, shuffleMap: Boolean, cpuNs: Long, shuffleWrite: Long)
  final case class ExecRec(id: Long, start: Long, end: Long, plan: String) {
    def seconds: Double = (end - start) / 1e3
    def isWrite: Boolean = plan.contains("Execute InsertIntoHadoopFsRelationCommand")
  }

  /** Runs `f` with `rec` registered and cleared, and returns f's result
    * and its wall seconds once the listener has seen every event it
    * caused. The listener-bus drains sit outside the timed window. */
  def timed[T](spark: SparkSession, rec: Recorder)(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    org.apache.spark.WarmbenchBus.drain(sc)
    rec.clear()
    sc.addSparkListener(rec)
    try {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      org.apache.spark.WarmbenchBus.drain(sc)
      sc.removeSparkListener(rec)
    }
  }
}
