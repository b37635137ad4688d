package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The six numbers every span records, plus the skew ratio of its
  * heaviest stage (max task time / median task time).
  */
final case class SpanStats(
    busyS: Double, taskS: Double, coreUtil: Double, jobs: Int,
    shuffleWriteMb: Double, filesWritten: Long, maxTaskRatio: Double)

object SpanStats {
  val Empty: SpanStats = SpanStats(0, 0, 0, 0, 0, 0, 0)
}

/** What the tracer knows about one job when it assigns it to a span:
  * the output path if it ran inside a file write, and the user call site
  * that started it.
  */
final case class JobInfo(outPath: Option[String], callSite: String)

/** Benchmark-owned listener. It records jobs, the SQL executions they
  * belong to (with the landing-write path parsed from the physical plan)
  * and task metrics, and cuts an iteration's jobs into named spans.
  * Attach it only for the traced run; the untraced run has no listener.
  */
final class Tracer(sc: SparkContext, cores: Int) extends SparkListener {

  private final class Job(val id: Int, val exec: Long, val start: Long, val site: String) {
    var end: Long = -1L
  }
  private final case class Exec(site: String, outPath: Option[String])

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val execs = mutable.Map.empty[Long, Exec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageShuffleBytes = mutable.Map.empty[Int, Long]

  /** The output path of a file write, in either plan explain format. */
  private val WritePath =
    ("""(?s)(?:\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s*\n.*?Arguments: """ +
      """|Execute InsertIntoHadoopFsRelationCommand )(file:[^,\s\]]+)""").r

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs += new Job(e.jobId, prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time,
      e.stageInfos.map(_.details).find(_.nonEmpty).getOrElse(""))
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      stageShuffleBytes(e.stageId) =
        stageShuffleBytes.getOrElse(e.stageId, 0L) + m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
        execs(s.executionId) = Exec(s.details,
          WritePath.findFirstMatchIn(s.physicalPlanDescription).map(_.group(1)))
      }
    case _ => ()
  }

  def reset(): Unit = synchronized {
    jobs.clear(); execs.clear(); stageJob.clear(); stageTaskMs.clear(); stageShuffleBytes.clear()
  }

  /** Cuts the jobs recorded since the last reset into spans. `label`
    * names a job's span, or None to let it join the span of the next
    * labelled job (the work a landing write pays for). Each span's busy
    * time is the wall time from the end of the previous span to the end
    * of its last job; the tail after the last job goes to the last span,
    * so busy times add up to the iteration's wall time from `t0Ms` to
    * `t1Ms`.
    */
  def spans(label: JobInfo => Option[String], t0Ms: Long, t1Ms: Long): Map[String, SpanStats] = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    synchronized {
      val ordered = jobs.filter(j => j.end >= 0 && j.start <= t1Ms).sortBy(_.start).toSeq
      val infos = ordered.map { j =>
        val ex = execs.get(j.exec)
        JobInfo(ex.flatMap(_.outPath), ex.map(_.site).filter(_.nonEmpty).getOrElse(j.site))
      }
      val raw = infos.map(label)
      // Unlabelled jobs join the next labelled one; trailing ones the last.
      val labels = raw.indices.map { i =>
        raw.drop(i).flatten.headOption.orElse(raw.take(i).flatten.lastOption).getOrElse("unattributed")
      }
      val busy = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var cursor = t0Ms
      var i = 0
      while (i < ordered.size) {
        var k = i
        while (k + 1 < ordered.size && labels(k + 1) == labels(i)) k += 1
        val end = if (k == ordered.size - 1) t1Ms else (i to k).map(ordered(_).end).max
        busy(labels(i)) += math.max(0L, end - cursor) / 1000.0
        cursor = math.max(cursor, end)
        i = k + 1
      }
      val jobLabel = ordered.map(_.id).zip(labels).toMap
      val paths = infos.zip(labels).collect { case (JobInfo(Some(p), _), l) => l -> p }.distinct
      labels.distinct.map { l =>
        val stages = stageJob.collect { case (s, j) if jobLabel.get(j).contains(l) => s }.toSeq
        val taskMs = stages.flatMap(s => stageTaskMs.getOrElse(s, Nil))
        val heaviest = stages.map(s => stageTaskMs.getOrElse(s, mutable.ArrayBuffer.empty[Long]))
          .filter(_.nonEmpty).sortBy(-_.sum).headOption
        val ratio = heaviest.map { ts =>
          val sorted = ts.sorted
          val med = sorted(sorted.size / 2).max(1L)
          sorted.last.toDouble / med
        }.getOrElse(0.0)
        val taskS = taskMs.sum / 1000.0
        val b = busy(l)
        l -> SpanStats(
          busyS = b, taskS = taskS, coreUtil = if (b > 0) taskS / (b * cores) else 0.0,
          jobs = labels.count(_ == l),
          shuffleWriteMb = stages.map(s => stageShuffleBytes.getOrElse(s, 0L)).sum / 1e6,
          filesWritten = paths.filter(_._1 == l).map(p => Tracer.countFiles(p._2)).sum,
          maxTaskRatio = ratio)
      }.toMap
    }
  }
}

object Tracer {
  /** Data files under a written path (hidden and `_`-prefixed files excluded). */
  def countFiles(path: String): Long = {
    val p = Paths.get(path.stripPrefix("file:"))
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toLong
      finally s.close()
    }
  }
}
