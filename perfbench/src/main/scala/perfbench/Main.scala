package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One benchmark run of one workload in a fresh JVM:
  *
  *   main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * The working directory is the run's scratch root; every input and
  * output lands below it. Set-up is the session start plus the median
  * of `SetupReps` input generations. The first iteration is the cold
  * one; warm iterations then run until `--seconds` have passed (at
  * least `MinWarm`). The last line of standard output is the JSON
  * result.
  */
object Main {

  val SetupReps = 3
  val MinWarm = 1

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wlName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val root = Paths.get("").toAbsolutePath

    val wl: Workload = wlName match {
      case "fraud_medallion" => new FraudMedallion
      case "corpus_prep" => new CorpusPrep
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val session = Op.timed("session") { spark = GraftSession.local(cores) }
    try {
      val in = root.resolve("in")
      val gens = (1 to SetupReps).map { _ =>
        delete(in)
        Op.timed("setup")(wl.setup(spark, in, seed, cores))
      }
      (session +: gens).find(_.error.isDefined).foreach(o => throw new IllegalStateException(o.error.get))
      val setupS = session.seconds + median(gens.map(_.seconds))

      val tracer = if (trace) Some(new Tracer(spark.sparkContext, cores)) else None
      tracer.foreach(spark.sparkContext.addSparkListener)

      val allOps = mutable.ArrayBuffer.empty[Op]
      val spanRuns = mutable.ArrayBuffer.empty[Map[String, SpanStats]]
      var heapMb = 0.0
      def iteration(pass: Int): Op = {
        val out = root.resolve(s"out/iter-$pass")
        delete(root.resolve("out"))
        Files.createDirectories(out)
        spark.catalog.clearCache()
        tracer.foreach(_.reset())
        val op = wl.iterate(spark, in, out)
        if (pass > 0) tracer.foreach(t => spanRuns += t.spans(wl.label, op.startMs, op.endMs))
        allOps += op
        System.err.println(f"[perfbench] iteration $pass%d ${op.seconds}%8.3f s " +
          f"(raw ${op.rawSeconds}%.3f s, steal ${op.steal * 100}%.1f%%)" + op.error.fold("")(e => s" FAILED $e"))
        heapMb = math.max(heapMb, oldGenAfterGcMb())
        op
      }

      val cold = iteration(0)
      val warm = mutable.ArrayBuffer.empty[Op]
      val tWarm = System.nanoTime()
      while (warm.size < MinWarm || (System.nanoTime() - tWarm) / 1e9 < seconds)
        warm += iteration(warm.size + 1)

      val failed = allOps.filter(_.error.isDefined)
      failed.foreach(o => println(Json.obj("failure" -> Json.obj(
        "op" -> Json.str(o.name), "error" -> Json.str(o.error.get)))))
      val wallS = median(warm.map(_.seconds).toSeq)
      def fmt(ops: Seq[Op], f: Op => Double) = ops.map(o => f"${f(o)}%.4f").mkString(" ")
      val timed = (session +: gens) ++ (cold +: warm)
      println(Json.obj("info" -> Json.obj((wl.info ++ Map(
        "workload" -> wl.name, "seed" -> seed.toString, "cores" -> cores.toString,
        "warm_iterations" -> warm.size.toString, "traced" -> trace.toString,
        "timed_s (session, setups, cold, warm...)" -> fmt(timed.toSeq, _.seconds),
        "raw_s" -> fmt(timed.toSeq, _.rawSeconds),
        "steal" -> fmt(timed.toSeq, _.steal))).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*)))

      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", wallS, "s"),
          ("cold_wall_s", cold.seconds, "s"),
          ("throughput_per_s", wl.unitsPerIteration / wallS, "1/s"),
          ("peak_heap_mb", heapMb, "MB"))
        else Layers.report(wl, spanRuns.toSeq, wallS)
      metrics.foreach { case (n, v, u) => System.err.println(f"[perfbench] $n%-48s $v%14.4f $u") }
      println(Json.obj(
        "correct" -> Json.bool(failed.isEmpty),
        "attempted" -> allOps.size.toString,
        "failed" -> failed.size.toString,
        "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
        }: _*)))
    } finally if (spark != null) spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Old-generation bytes in use right after a full collection. */
  private def oldGenAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1e6
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** Per-layer metric names and values for the traced run. Every workload
  * reports every name; a span the workload does not run reads 0.
  */
object Layers {
  val Spans: Seq[String] = new FraudMedallion().spans ++ new CorpusPrep().spans
  val Fields: Seq[(String, String, SpanStats => Double)] = Seq(
    ("busy_s", "s", _.busyS), ("task_s", "s", _.taskS), ("core_util", "ratio", _.coreUtil),
    ("jobs", "count", _.jobs.toDouble), ("shuffle_write_mb", "MB", _.shuffleWriteMb),
    ("files_written", "count", _.filesWritten.toDouble))

  def report(wl: Workload, runs: Seq[Map[String, SpanStats]], wallS: Double)
      : Seq[(String, Double, String)] = {
    def med(span: String, f: SpanStats => Double): Double =
      if (!wl.spans.contains(span)) 0.0
      else Main.median(runs.map(r => f(r.getOrElse(span, SpanStats.Empty))))
    Spans.flatMap(s => Fields.map { case (f, unit, get) => (s"$s.$f", med(s, get), unit) }) ++ Seq(
      ("operators.features.max_task_ratio", med("operators.features", _.maxTaskRatio), "ratio"),
      ("operators.gate_dedup.keep_frac",
        wl.layerExtras.getOrElse("operators.gate_dedup.keep_frac", 0.0), "ratio"),
      ("trace.wall_s", wallS, "s"))
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
