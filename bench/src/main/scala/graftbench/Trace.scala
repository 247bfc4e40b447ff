package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded from the benchmark's own code around each call into a
  * library layer. A disabled tracer runs the body and records nothing, so
  * untraced iterations pay no tracing cost. */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.size
      spans += Span(id, name, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Seconds spent in spans of each name since the last [[reset]]. */
  def seconds: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).sum }

  def recorded: Seq[Span] = spans.toSeq

  def reset(): Unit = { spans.clear(); open = Nil }
}

object Tracer {
  val off = new Tracer(false)

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Spark's own accounting for the jobs that carried one job tag. */
final case class JobTotals(jobs: Long, stages: Long, tasks: Long, taskCpuS: Double,
    taskRunS: Double, gcS: Double, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    spillBytes: Long, taskSkew: Double)

/** Aggregates task metrics by the job tags (`SparkContext.addJobTag`) that
  * were set on the thread submitting each job. Tags are inherited by threads
  * the tagged thread starts, so jobs the library overlaps on its own threads
  * are counted too. */
final class JobTagListener extends SparkListener {
  private final class Acc {
    var jobs, stages, tasks, cpuNs, runMs, gcMs, shW, shR, spill = 0L
    val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val byTag = mutable.Map.empty[String, Acc]
  private val stageTags = mutable.Map.empty[Int, Set[String]]

  private def acc(tag: String) = byTag.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    tags.foreach(acc(_).jobs += 1)
    e.stageIds.foreach(s => stageTags(s) = stageTags.getOrElse(s, Set.empty) ++ tags)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTags.getOrElse(e.stageInfo.stageId, Set.empty).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageTags.getOrElse(e.stageId, Set.empty).foreach { t =>
      val a = acc(t)
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  /** Totals for `tag`, after every event already posted has been handled. */
  def totals(sc: SparkContext, tag: String): JobTotals = {
    org.apache.spark.BenchListenerBus.drain(sc)
    synchronized {
      val a = byTag.getOrElse(tag, new Acc)
      JobTotals(a.jobs, a.stages, a.tasks, a.cpuNs / 1e9, a.runMs / 1e3, a.gcMs / 1e3,
        a.shW, a.shR, a.spill, JobTagListener.skew(a.taskMsByStage.values.map(_.toSeq).toSeq))
    }
  }
}

object JobTagListener {
  /** Max over median task time of each stage, averaged over stages weighted
    * by their total task time, so that stages of a few milliseconds do not
    * dominate. 1.0 when every task of every stage took equally long, and
    * when there are no tasks. */
  def skew(stageTaskMs: Seq[Seq[Long]]): Double = {
    val weighted = stageTaskMs.filter(_.nonEmpty).map { ms =>
      val med = Stats.median(ms.map(_.toDouble))
      val ratio = if (med > 0) ms.max / med else 1.0
      (ratio, ms.sum.toDouble)
    }
    val total = weighted.map(_._2).sum
    if (total <= 0) 1.0 else weighted.map { case (r, w) => r * w }.sum / total
  }

  def install(sc: SparkContext): JobTagListener = {
    val l = new JobTagListener
    sc.addSparkListener(l)
    l
  }
}
