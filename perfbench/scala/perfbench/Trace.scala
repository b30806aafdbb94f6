package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One finished task, as the listener saw it. */
final case class TaskRec(stageId: Int, finishMs: Long, runMs: Long,
    shuffleWriteBytes: Long, fetchWaitMs: Long, spillBytes: Long,
    ok: Boolean)

/** One finished stage; `shuffleMap` stages are the exchanges that ran. */
final case class StageRec(completionMs: Long, shuffleMap: Boolean)

/** Collects task and stage metrics from the scheduler. Windows are
  * selected by finish time: the benchmark runs one job at a time, so
  * every task that finishes inside a window belongs to it. */
final class TaskListener extends SparkListener {
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val rec =
      if (m == null) TaskRec(e.stageId, e.taskInfo.finishTime, 0L, 0L, 0L, 0L,
        e.taskInfo.successful)
      else TaskRec(e.stageId, e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, e.taskInfo.successful)
    synchronized(tasks += rec)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    synchronized(stages += StageRec(
      s.completionTime.getOrElse(System.currentTimeMillis()), SparkInternals.isShuffleMap(s)))
  }

  def failedTasks: Int = synchronized(tasks.count(!_.ok))

  def tasksIn(w: Window): Seq[TaskRec] =
    synchronized(tasks.filter(t => t.finishMs >= w.startMs && t.finishMs <= w.endMs).toSeq)
  def stagesIn(w: Window): Seq[StageRec] =
    synchronized(stages.filter(s => s.completionMs >= w.startMs && s.completionMs <= w.endMs).toSeq)
}

/** A wall-clock interval, in epoch milliseconds and in seconds. */
final case class Window(startMs: Long, endMs: Long, seconds: Double)

object Window {
  /** Runs `body` and returns its window; listener events are drained
    * first so the window's task metrics are complete when it returns. */
  def of[T](spark: SparkSession)(body: => T): (T, Window) = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    SparkInternals.drainListeners(spark.sparkContext)
    (r, Window(ms0, ms1, sec))
  }
}

/** Spans and counts of one traced job. A span is a bracketed call into
  * one layer, with its output forced; its busy time and shuffle bytes
  * come from the tasks that finish inside it. */
final class Tracer(spark: SparkSession, listener: TaskListener) {
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def span[T](name: String)(body: => T): T = {
    val (r, w) = Window.of(spark)(body)
    val ts = listener.tasksIn(w)
    add(s"$name.wall_s", w.seconds)
    add(s"$name.task_s", ts.map(_.runMs).sum / 1e3)
    add(s"$name.shuffle_write_mb", ts.map(_.shuffleWriteBytes).sum / 1e6)
    r
  }

  /** A span reported by wall time alone, under the key `name`. */
  def timed[T](name: String)(body: => T): T = {
    val (r, w) = Window.of(spark)(body)
    add(name, w.seconds)
    r
  }

  /** A span the benchmark cannot bracket: only its wall time is known. */
  def wallOnly(name: String, seconds: Double): Unit = add(s"$name.wall_s", seconds)

  def count(name: String, v: Double): Unit = values(name) = v

  private def add(k: String, v: Double): Unit =
    values(k) = values.getOrElse(k, 0d) + v
}

object JvmStats {
  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Old-generation occupancy after a full collection, in MB. The second
    * collection frees what Spark's cleaner released after the first. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.map(_.getUsage.getUsed / 1e6).getOrElse(0d)
  }

  /** Accumulated collection time of every collector, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}
