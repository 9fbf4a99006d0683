package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Where a job crosses from one layer into the next.
  *
  * The untimed-by-layer run passes plans through untouched, so Spark can
  * pipeline across layers as a user's program would. The traced run
  * materializes each layer's output once (persist + count) inside the
  * layer's span, so a span covers only its own layer's work, and tags the
  * span's Spark jobs with a job group. */
sealed trait Boundary {
  /** A lazy layer call: `df` builds the layer's output plan. */
  def layer(name: String)(df: => DataFrame): DataFrame
  /** An eager layer call (it runs its own Spark jobs before returning). */
  def eager[A](name: String)(body: => A): A
  /** The whole job, the parent of its layer spans. */
  def job[A](name: String)(body: => A): A
  /** Releases what the job persisted. */
  def release(): Unit
}

object Untraced extends Boundary {
  def layer(name: String)(df: => DataFrame): DataFrame = df
  def eager[A](name: String)(body: => A): A = body
  def job[A](name: String)(body: => A): A = body
  def release(): Unit = ()
}

/** One recorded span: name, parent, interval, and the iteration it ran in.
  * Its job group names all three, so a layer that runs in two jobs of one
  * iteration keeps two sets of counters. */
final case class Span(name: String, parent: String, iter: Int, startNs: Long, endNs: Long) {
  def group: String = Span.group(name, parent, iter)
  def wallS: Double = (endNs - startNs) / 1e9
}

object Span {
  def group(name: String, parent: String, iter: Int): String = s"$parent>$name#$iter"
}

final class Traced(spark: SparkSession) extends Boundary {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val persisted = mutable.ArrayBuffer[DataFrame]()
  private var parent = ""
  var iter = 0

  def recorded: Seq[Span] = spans.toSeq

  private var grandparent = ""

  private def span[A](name: String)(body: => A): A = {
    val (outer, outerParent) = (parent, grandparent)
    val group = Span.group(name, outer, iter)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    parent = name
    grandparent = outer
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, outer, iter, t0, System.nanoTime())
      parent = outer
      grandparent = outerParent
      if (outer.isEmpty) sc.clearJobGroup()
      else {
        val g = Span.group(outer, outerParent, iter)
        sc.setJobGroup(g, g, interruptOnCancel = false)
      }
    }
  }

  def layer(name: String)(df: => DataFrame): DataFrame = span(name) {
    val out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    persisted += out
    out
  }

  def eager[A](name: String)(body: => A): A = span(name)(body)

  def job[A](name: String)(body: => A): A = span(name)(body)

  def release(): Unit = {
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
  }
}

/** Sums Spark task counters per job group. Owned by the benchmark; the
  * product has no instrumentation of its own. */
final class GroupListener extends SparkListener {
  final class Acc {
    var jobs = 0
    var taskRunMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
    val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val accs = mutable.Map[String, Acc]()
  @volatile private var jobsStarted = 0
  @volatile private var jobsEnded = 0
  @volatile var taskFailures = 0
  @volatile var stageRetries = 0
  @volatile var spillBytes = 0L

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    acc(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.attemptNumber() > 0) stageRetries += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo.failed) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(Option(stageGroup.get(e.stageId)).getOrElse(""))
      a.taskRunMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      val spill = m.memoryBytesSpilled + m.diskBytesSpilled
      a.spillBytes += spill
      spillBytes += spill
      a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  /** Waits until every started job's end event has been delivered, so the
    * task counters of finished spans are complete. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobsEnded < jobsStarted) && System.currentTimeMillis() < end)
      Thread.sleep(10)
    Thread.sleep(50)
  }

  /** The six per-span metrics for one span instance. */
  def spanMetrics(s: Span): Map[String, Double] = synchronized {
    val a = accs.getOrElse(s.group, new Acc)
    // time some task of the span was running: the union of its task
    // intervals (each span runs alone, so all of them fall inside it)
    val busyMs = unionMs(a.intervals.toSeq)
    val wallMs = (s.endNs - s.startNs) / 1e6
    val largest = a.stageTaskMs.values.maxByOption(_.sum)
    val skew = largest.filter(_.size > 1).map { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2).max(1L)
      sorted.last.toDouble / med
    }.getOrElse(1.0)
    Map(
      "wall_s" -> wallMs / 1e3,
      "task_s" -> a.taskRunMs / 1e3,
      "driver_s" -> math.max(0.0, wallMs - busyMs) / 1e3,
      "jobs" -> a.jobs.toDouble,
      "shuffle_mb" -> a.shuffleBytes / 1048576.0,
      "skew" -> skew)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
