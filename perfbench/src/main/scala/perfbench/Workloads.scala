package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.app.{RunCorpusPipeline, RunPipeline}
import graft.app.RunCorpusPipeline.CorpusConfig
import graft.core.PipelineConfig

/** One timed operation: one pipeline run. A failed output check or an
  * exception makes it failed, with the cause. `steal` is the share of
  * CPU time the host took from this machine while it ran.
  */
final case class Op(name: String, startMs: Long, endMs: Long, steal: Double, error: Option[String]) {
  def rawSeconds: Double = (endMs - startMs) / 1000.0
  /** Wall time with the stolen share removed (see [[Steal]]). */
  def seconds: Double = rawSeconds * (1 - steal)
}

object Op {
  def cause(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}"

  /** Times `body`; an exception becomes a failed op with its cause. */
  def timed(name: String)(body: => Unit): Op = {
    val m0 = Steal.mark()
    val t0 = System.currentTimeMillis()
    val err = try { body; None } catch { case t: Throwable => Some(cause(t)) }
    val t1 = System.currentTimeMillis()
    Op(name, t0, t1, Steal.fraction(m0, Steal.mark()), err)
  }
}

/** CPU time the hypervisor gave to other guests while this one wanted
  * to run: the `steal` column of /proc/stat over the busy columns plus
  * steal. On a shared host it is the box-load signal. While the host
  * steals a share s, every thread of a run, the job-scheduling thread on
  * the critical path included, runs 1/(1-s) slower, so timings are
  * reported as wall x (1 - s). Trial runs on a 4-vCPU VM saw s from
  * ~3% to over 25% within minutes, and raw wall times followed it. Where
  * /proc/stat is missing, s = 0 and timings are raw.
  */
object Steal {
  final case class Mark(busy: Long, steal: Long)

  def mark(): Mark =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      Mark(f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => Mark(0L, 0L) }

  def fraction(a: Mark, b: Mark): Double = {
    val busy = b.busy - a.busy
    val steal = b.steal - a.steal
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0
  }
}

trait Workload {
  def name: String
  /** Spans, in pipeline order, that the traced run reports for this workload. */
  def spans: Seq[String]
  /** Writes the inputs under `in` (outside every timed region). */
  def setup(spark: SparkSession, in: Path, seed: Long, files: Int): Unit
  /** Units of work in one iteration, for throughput. */
  def unitsPerIteration: Long
  /** One timed pipeline run into the fresh root `out`, then its output checks. */
  def iterate(spark: SparkSession, in: Path, out: Path): Op
  /** The span a job belongs to (None: the span of the next labelled job). */
  def label(j: JobInfo): Option[String]
  /** Extra per-layer numbers measured from the outputs of the last iteration. */
  def layerExtras: Map[String, Double] = Map.empty
  /** One-line facts about the run for the log (not metrics). */
  def info: Map[String, String] = Map.empty
}

/** Small helpers shared by the output checks. */
object Check {
  def require(ok: Boolean, what: => String): Option[String] = if (ok) None else Some(what)

  /** Runs the checks after the timed body; the first failure fails the op. */
  def after(op: Op)(checks: => Seq[Option[String]]): Op =
    if (op.error.isDefined) op
    else {
      val failed = try checks.flatten.headOption catch { case t: Throwable => Some(Op.cause(t)) }
      op.copy(error = failed.map(m => s"output check failed: $m"))
    }
}

/** `app.RunPipeline.run(train = true)` over generated A.1 transactions. */
final class FraudMedallion extends Workload {
  val name = "fraud_medallion"
  val spans = Seq("sources.bronze", "quality.silver_gate", "operators.silver",
    "operators.features", "operators.gold", "ml.train", "ml.predict")
  val Rows = 40000L
  /** The planted signal gives ~0.9; labels at random give ~0.5. */
  val AucFloor = 0.8
  /** Row order into the stratified sample follows file listing order,
    * so the fit, and its AUC, may move slightly between iterations.
    */
  val AucDrift = 0.02

  private var stats: TxnGen.Stats = _
  private var firstAuc: Option[Double] = None
  private var lastAuc = Double.NaN

  def setup(spark: SparkSession, in: Path, seed: Long, files: Int): Unit =
    stats = TxnGen.write(in.resolve("raw/transactions"), seed, Rows, files)

  def unitsPerIteration: Long = Rows

  def iterate(spark: SparkSession, in: Path, out: Path): Op = {
    val cfg = PipelineConfig(out.toString)
    // The pipeline reads <root>/raw/transactions: link the inputs there.
    val raw = Paths.get(cfg.rawCsv)
    Files.createDirectories(raw)
    Files.list(in.resolve("raw/transactions")).forEach(f => Files.createLink(raw.resolve(f.getFileName), f))
    val op = Op.timed(name)(RunPipeline.run(spark, cfg, train = true))
    Check.after(op)(checks(spark, cfg))
  }

  private def checks(spark: SparkSession, cfg: PipelineConfig): Seq[Option[String]] = {
    val split = lit(java.sql.Timestamp.valueOf("2023-10-20 12:00:00"))
    val quarantined = spark.read.parquet(cfg.quarantine).count()
    val train = spark.read.parquet(cfg.silver("train"))
    val test = spark.read.parquet(cfg.silver("test"))
    val (nTrain, nTest) = (train.count(), test.count())
    val goldTotal = spark.read.parquet(cfg.goldDaily)
      .agg(sum(col("total_transactions"))).head().getLong(0)
    val auc = """"test_auc": ([-0-9.eE]+)""".r
      .findFirstMatchIn(Files.readString(Paths.get(cfg.modelDir, "registry.json")))
      .map(_.group(1).toDouble).getOrElse(Double.NaN)
    lastAuc = auc
    if (firstAuc.isEmpty) firstAuc = Some(auc)
    Seq(
      Check.require(quarantined == stats.malformed,
        s"quarantine rows $quarantined != injected malformed rows ${stats.malformed}"),
      Check.require(nTrain + nTest == stats.clean,
        s"silver train $nTrain + test $nTest != clean rows ${stats.clean}"),
      Check.require(train.filter(col("timestamp") >= split).isEmpty,
        "a silver train row is at or after the split timestamp"),
      Check.require(test.filter(col("timestamp") === split).count() == stats.boundary,
        s"split-boundary rows in test != ${stats.boundary}"),
      Check.require(goldTotal == nTrain + nTest,
        s"gold daily total $goldTotal != silver rows ${nTrain + nTest}"),
      Check.require(auc >= AucFloor, s"test_auc $auc < floor $AucFloor"),
      Check.require(math.abs(auc - firstAuc.get) <= AucDrift,
        s"test_auc $auc drifts from the first iteration's ${firstAuc.get}"))
  }

  def label(j: JobInfo): Option[String] = {
    val site = j.callSite
    j.outPath match {
      case Some(p) if p.contains("/bronze/") => Some("sources.bronze")
      case Some(p) if p.contains("/silver/") => Some("operators.silver")
      case Some(p) if p.contains("/features/") => Some("operators.features")
      case Some(p) if p.contains("/gold/predictions") => Some("ml.predict")
      case Some(p) if p.contains("/gold/") => Some("operators.gold")
      case Some(p) if p.contains("/models/") => Some("ml.train")
      case _ =>
        if (site.contains("graft.quality.")) Some("quality.silver_gate")
        else if (site.contains("graft.sources.BronzeIngestion")) Some("sources.bronze")
        else if (site.contains("FraudModel$.predict")) Some("ml.predict")
        else if (site.contains("graft.ml.")) Some("ml.train")
        else None
    }
  }

  override def info: Map[String, String] = Map(
    "rows" -> Rows.toString, "malformed" -> stats.malformed.toString,
    "boundary" -> stats.boundary.toString, "bursts" -> stats.bursts.toString,
    "fraud" -> stats.fraud.toString, "test_auc" -> f"$lastAuc%.6f")
}

/** `app.RunCorpusPipeline.run` with near dedup and an eval set. */
final class CorpusPrep extends Workload {
  val name = "corpus_prep"
  val spans = Seq("functions.annotate", "operators.gate_dedup", "operators.chunk_pack")
  val Docs = 1000L

  private var expected = 0L
  private var gatePass = 0L
  private var keepFrac = Double.NaN

  def setup(spark: SparkSession, in: Path, seed: Long, files: Int): Unit = {
    CorpusGen.docs(spark, seed, Docs, files).write.mode("overwrite").parquet(in.resolve("docs").toString)
    CorpusGen.eval(spark, seed).write.mode("overwrite").parquet(in.resolve("eval").toString)
    expected = CorpusGen.expectedSurvivors(seed, Docs)
    // Every English document passes the quality + language gate except
    // the low-quality ones; decontamination and dedup remove the rest.
    gatePass = (0L until Docs).count { id =>
      Set("clean", "exact_dup", "near_dup", "contaminated")(CorpusGen.category(seed, id))
    }.toLong
  }

  def unitsPerIteration: Long = Docs

  def iterate(spark: SparkSession, in: Path, out: Path): Op = {
    val cfg = CorpusConfig(root = out.toString, nearDedup = true)
    val op = Op.timed(name) {
      RunCorpusPipeline.run(spark, spark.read.parquet(in.resolve("docs").toString), cfg,
        Some(spark.read.parquet(in.resolve("eval").toString)))
    }
    Check.after(op)(checks(spark, cfg))
  }

  private def checks(spark: SparkSession, cfg: CorpusConfig): Seq[Option[String]] = {
    val ann = spark.read.parquet(RunCorpusPipeline.annotated(cfg))
    val gated = ann.filter(col("quality") >= cfg.minQuality && col("lang_pred").isin(cfg.langs.toSeq: _*))
      .count()
    val silver = spark.read.parquet(RunCorpusPipeline.silver(cfg))
    val nSilver = silver.count()
    keepFrac = nSilver.toDouble / Docs
    val data = spark.read.parquet(s"${RunCorpusPipeline.shards(cfg)}/data")
    val manifest = spark.read.parquet(s"${RunCorpusPipeline.shards(cfg)}/manifest")
    val chunkTokens = data.agg(sum(col("n_chunk_tokens"))).head().getLong(0)
    val manifestTokens = manifest.agg(sum(col("shard_tokens"))).head().getLong(0)
    Seq(
      Check.require(ann.count() == Docs, s"annotated rows != input docs $Docs"),
      Check.require(gated == gatePass, s"quality+language gate kept $gated, expected $gatePass"),
      Check.require(nSilver == expected, s"silver kept $nSilver docs, expected $expected"),
      Check.require(silver.select("fp").distinct().count() == nSilver, "two silver docs share fp"),
      Check.require(data.select("doc_id").distinct().join(silver, Seq("doc_id"), "left_anti").isEmpty,
        "a sharded doc_id is not in silver"),
      Check.require(manifestTokens == chunkTokens,
        s"manifest tokens $manifestTokens != chunk tokens $chunkTokens"))
  }

  def label(j: JobInfo): Option[String] = j.outPath match {
    case Some(p) if p.contains("/annotated") => Some("functions.annotate")
    case Some(p) if p.contains("/silver") => Some("operators.gate_dedup")
    case Some(p) if p.contains("/shards") => Some("operators.chunk_pack")
    case _ => None
  }

  override def layerExtras: Map[String, Double] = Map("operators.gate_dedup.keep_frac" -> keepFrac)

  override def info: Map[String, String] = Map(
    "docs" -> Docs.toString, "expected_survivors" -> expected.toString,
    "gate_pass" -> gatePass.toString, "keep_frac" -> f"$keepFrac%.6f")
}
