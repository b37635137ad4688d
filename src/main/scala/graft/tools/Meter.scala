package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftMeterBridge, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkEntry
import graft.core.GraftSession

/** Per-query meter: what a contract query costs, read from Spark's task
  * metrics instead of an attached profiler. The job, stage and task
  * counts are the pass structure a plan change must move (at sf0.1 the
  * wall is mostly scheduling floor); input records are the scale-relevant
  * scan work; `cached` counts the plans a query leaves in the cache
  * manager, which later calls in the same session would silently reuse.
  *
  * The main warms every query once at the sibling `sf0.001` directory,
  * then runs `passes` separated passes over the list (Bench's protocol),
  * clearing the cache after each query. It prints one line per query and
  * pass, then each query's fastest pass with its costliest stages and the
  * `graft.*` call site that created them.
  *
  *   sbt "runMain graft.tools.Meter <sfDir> q_a,q_b [passes]"
  */
object Meter {
  /** Runs `df` to the end and discards its rows: every row and every
    * column is computed. The harnesses measure queries through this, not
    * `count()`, which lets Spark prune unused projections and drop a left
    * outer join onto a side unique on its key, so it times only part of
    * the query.
    */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  final case class Stage(id: Int, name: String, site: String, tasks: Long, taskMs: Long)

  final case class Reading(
      wallS: Double,
      jobs: Long,
      stages: Long,
      tasks: Long,
      taskMs: Long,
      shuffleRead: Long,
      shuffleWrite: Long,
      inputRecords: Long,
      inputBytes: Long,
      spillBytes: Long,
      cachedPlans: Int,
      stageCosts: Seq[Stage]) {
    def line: String =
      f"wall=$wallS%7.2f s jobs=$jobs%3d stages=$stages%4d tasks=$tasks%5d " +
        f"taskTime=${taskMs / 1000.0}%7.2f s shufR=$shuffleRead%10d shufW=$shuffleWrite%10d " +
        f"inRec=$inputRecords%10d inBytes=$inputBytes%11d spill=$spillBytes%d cached=$cachedPlans%d"
  }

  /** Sums every event it receives; the listener bus delivers to it from
    * one thread, the reader takes the same lock after draining the bus.
    */
  private final class Listener extends SparkListener {
    var jobs, stages, tasks, taskMs, shufR, shufW, inRec, inBytes, spill = 0L
    val perStage = mutable.Map.empty[Int, Stage]
    // Adaptive execution submits shuffle stages from a thread pool, so
    // their own call site holds no graft frame; they are charged to the
    // call site of the SQL execution whose job ran them. Stages of the
    // returned frame's own plan have no graft frame at all.
    private val executionSite = mutable.Map.empty[Long, String]
    private val stageSite = mutable.Map.empty[Int, String]

    private def stage(id: Int): Stage = perStage.getOrElse(id, Stage(id, "", "", 0L, 0L))

    private def graftFrame(callSite: String): Option[String] =
      callSite.linesIterator.map(_.trim)
        .find(l => l.startsWith("graft.") && !l.startsWith("graft.tools."))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized { graftFrame(x.details).foreach(executionSite(x.executionId) = _) }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      for {
        props <- Option(e.properties)
        id <- Option(props.getProperty(SQLExecution.EXECUTION_ID_KEY))
        site <- executionSite.get(id.toLong)
      } e.stageIds.foreach(stageSite(_) = site)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      val info = e.stageInfo
      val site = graftFrame(info.details).orElse(stageSite.get(info.stageId))
        .getOrElse("the query's final action")
      perStage(info.stageId) = stage(info.stageId).copy(name = info.name, site = site)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        shufR += m.shuffleReadMetrics.totalBytesRead
        shufW += m.shuffleWriteMetrics.bytesWritten
        inRec += m.inputMetrics.recordsRead
        inBytes += m.inputMetrics.bytesRead
        spill += m.diskBytesSpilled
        val s = stage(e.stageId)
        perStage(e.stageId) = s.copy(tasks = s.tasks + 1, taskMs = s.taskMs + m.executorRunTime)
      }
    }
  }

  /** Runs `body` with a fresh listener attached and returns what it cost.
    * The bus is drained before attaching (no earlier query's events are
    * counted) and before reading (every event `body` caused is counted);
    * the listener is removed on return. `cachedPlans` is the change in
    * cached plans across `body`.
    */
  def measure(spark: SparkSession)(body: => Unit): Reading = {
    val sc = spark.sparkContext
    val l = new Listener
    GraftMeterBridge.drainListeners(spark)
    val cachedBefore = GraftMeterBridge.cachedPlans(spark)
    sc.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      body
      val wallS = (System.nanoTime() - t0) / 1e9
      val cached = GraftMeterBridge.cachedPlans(spark) - cachedBefore
      GraftMeterBridge.drainListeners(spark)
      l.synchronized {
        Reading(wallS, l.jobs, l.stages, l.tasks, l.taskMs, l.shufR, l.shufW,
          l.inRec, l.inBytes, l.spill, cached, l.perStage.values.toSeq)
      }
    } finally sc.removeSparkListener(l)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Meter <sfDir> <q1,q2,...> [passes]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val passes = args.lift(2).fold(3)(_.toInt)
    val bad = names.filterNot(SparkEntry.queries.contains)
    require(bad.isEmpty, s"unknown queries: ${bad.mkString(",")}")
    val spark = GraftSession.local(GraftSession.cores())
    val warmDir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001").toString
    names.foreach { n =>
      try consume(SparkEntry.queries(n)(spark, warmDir))
      catch { case e: Throwable =>
        System.err.println(s"[meter] warm-up $n failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    val readings = (1 to passes).map { p =>
      System.gc()
      names.map { n =>
        val r = measure(spark)(consume(SparkEntry.queries(n)(spark, sfDir)))
        spark.catalog.clearCache()
        println(f"[meter] pass $p%-3d $n%-28s ${r.line}")
        n -> r
      }.toMap
    }
    for (n <- names) {
      val best = readings.map(_(n)).minBy(_.wallS)
      println(f"[meter] min      $n%-28s ${best.line}")
      best.stageCosts.sortBy(-_.taskMs).take(8).foreach { s =>
        println(f"[meter]   stage ${s.id}%5d tasks=${s.tasks}%4d taskTime=${s.taskMs / 1000.0}%7.2f s  " +
          s"${s.name} @ ${s.site}")
      }
    }
    spark.stop()
  }
}
