package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.tools.Meter
object Bench {
  /** Fixed-work calibration canary, run once per timed pass.
    *
    * Round 5's bench total drifted +38% with no plan changes; the judge could
    * only adjudicate it as box noise via builder-side A/B runs the driver never
    * sees. The canary's work is CONSTANT across rounds (independent of the
    * query list, the sf dir, and any operator code), so the ratio
    * canary_r{N}/canary_r{M} measures the box, and cross-round totals can be
    * normalized by dividing it out. Shape: one 50M-row codegen'd scan+agg
    * (CPU-bound, measures raw executor throughput) plus one small fixed
    * shuffle (measures exchange machinery), both fully deterministic.
    */
  private def canaryOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(50000000L)
      .select(sum(col("id") % 7L).as("s"))
      .collect()
    spark.range(1000000L)
      .withColumn("k", col("id") % 256L)
      .groupBy("k").agg(sum("id").as("s"), count(lit(1)).as("n"))
      .agg(sum("s")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** `s` as a JSON string literal. */
  private def jsonString(s: String): String = s.map {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Contract default is local[32]; SPARK_GRAFT_CPUS overrides for
    // iterating on smaller boxes.
    val cpus = GraftSession.cores(32)
    val spark = GraftSession.local(cpus)
    // Schema tripwire (r9: a silent fixture regeneration turned 39 bench
    // entries into -1). Loud on stderr, non-fatal — the contract line
    // still reports whatever runs, with `failed` carrying the signal.
    val schemaDrift = graft.sources.TestDataSchema.drift(spark, sfDir)
    if (schemaDrift.nonEmpty)
      System.err.println(
        s"[bench] TESTDATA SCHEMA DRIFT at $sfDir — ${schemaDrift.size} finding(s):\n  " +
          schemaDrift.mkString("\n  "))
    // A failed query still reads -1 in the contract line; stderr names
    // the cause, and the detail file keeps each query's first one.
    val errors = scala.collection.mutable.TreeMap.empty[String, String]
    def reportFailure(phase: String, name: String, e: Throwable): Unit = {
      val cause = s"${e.getClass.getName}: ${e.getMessage}"
      System.err.println(s"[bench] $phase $name failed: $cause")
      if (!errors.contains(name)) errors(name) = cause
    }
    // JIT/codegen warmup: run every bench query once on the tiny sf so
    // headline timings measure the queries, not first-use classloading and
    // codegen of each operator's expression tree.
    val warmDir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001").toString
    SparkEntry.benchQueries.foreach { name =>
      try Meter.consume(SparkEntry.queries(name)(spark, warmDir))
      catch { case e: Throwable => reportFailure("warm-up", name, e) }
      spark.catalog.clearCache()
    }
    canaryOnce(spark) // warm the canary's own codegen too
    // Two timed runs per query, report the min: a single pass conflates
    // engine throughput with whatever GC debt the preceding 30+ plans
    // left behind (observed 3-5x swings on the same query in one session).
    // The runs are TWO FULL PASSES over the query list, not back-to-back
    // repeats: a transient stall (GC, IO contention) hits both adjacent
    // samples of one query, and round 3's driver bench showed exactly that
    // signature — a handful of unchanged queries 30-50x their round-2
    // times. Separating the samples by a whole pass makes min() robust to
    // any stall shorter than the pass itself.
    def timedPass(): Map[String, Double] = SparkEntry.benchQueries.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok = try { Meter.consume(fn(spark, sfDir)); true }
        catch { case e: Throwable => reportFailure("timed pass", name, e); false }
      val dt = (System.nanoTime() - t0) / 1e9
      // Drop intermediates persisted by operators (dedup gram/band
      // tables) so successive runs are timed from a clean state.
      spark.catalog.clearCache()
      name -> (if (ok) dt else -1.0)
    }.toMap
    // THREE separated passes, min per query: the dedup-family numbers
    // swing +/-30% between full passes on this box, and a two-sample min
    // still let a coincident stall read as a regression in rounds 5, 6
    // and twice in round 7 (each time adjudicated transient by a later
    // A/B). A third sample makes min() robust to any stall that misses
    // one of three well-separated windows.
    val canary1 = canaryOnce(spark)
    val pass1 = timedPass()
    System.gc()
    val canary2 = canaryOnce(spark)
    val pass2 = timedPass()
    System.gc()
    val canary3 = canaryOnce(spark)
    val pass3 = timedPass()
    val canary = math.min(canary1, math.min(canary2, canary3))
    val results = SparkEntry.benchQueries.map { name =>
      val samples = Seq(pass1(name), pass2(name), pass3(name))
      val ok = samples.filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }.toMap
    // The driver captures only a bounded tail of stdout; rounds 3 AND 4 both
    // lost their bench signal because the full per-query map (~2.3 KB at 85
    // queries) overflowed that window and the line head was clipped
    // ("parsed": null). Precision trims alone cannot keep up with a growing
    // query list, so the contract line is now BUDGETED: total + as many
    // per-query entries as fit (slowest first — they carry the perf signal),
    // an "omitted" count for the rest, and a hard self-check. The complete
    // map goes to BENCH_DETAIL.json in the repo for the judge.
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.2f"
    val total = if (results.nonEmpty) results.values.filter(_ > 0).sum else 0.0
    // Box-normalized total: the canary's work is constant across rounds, so
    // total/canary is comparable round-over-round in one field read even
    // when the box was slow or noisy that day.
    val totalNorm = if (canary > 0) total / canary else -1.0
    // Failures (-1 in both passes) must stay distinguishable from entries
    // merely omitted for line-budget reasons: a newly-failing query lowers
    // the positive-only total, which would otherwise read as a perf win.
    val failed = results.values.count(_ < 0)
    val bySlowest = results.toSeq.sortBy { case (_, v) => -v }
    val lineBudget = 1400 // bytes; well under the ~1.8 KB tail window
    def line(entries: Seq[(String, Double)], omitted: Int): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // "cpus" (r20, additions-only): the line self-describes its core
      // count so the driver's low/high-core scaling probe can tell "the
      // box is quota-limited below local[32]" apart from "the harness
      // ignored SPARK_GRAFT_CPUS" (r19's suspect_cpus_ignored false
      // positive — the canary ratio proved the env var took effect).
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","canary":${fmt(canary)},"value_norm":${fmt(totalNorm)},"cpus":$cpus,"failed":$failed,"queries":$qs,"omitted":$omitted,"sf":"$sfDir"}"""
    }
    // Greedy prefix of the slowest-first list that keeps the line in budget.
    val keep = (bySlowest.length to 0 by -1).view
      .map(n => line(bySlowest.take(n), bySlowest.length - n))
      .find(_.length <= lineBudget)
      .getOrElse(line(Nil, bySlowest.length))
    require(keep.length <= 1800,
      s"bench line ${keep.length} bytes exceeds the driver stdout tail budget")
    try {
      val detail = results.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + (if (v < 0) "-1" else f"$v%.3f") }
        .mkString("{", ",", "}")
      // Per-pass samples make stall signatures visible post-hoc: a query
      // whose min is fine but whose other sample is 30x tells the reader a
      // transient hit that pass, not the plan.
      def p(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
      val passes = results.toSeq.sortBy(_._1)
        .map { case (k, _) =>
          "\"" + k + "\":[" + p(pass1(k)) + "," + p(pass2(k)) + "," + p(pass3(k)) + "]" }
        .mkString("{", ",", "}")
      val errs = errors.map { case (k, v) => "\"" + k + "\":" + jsonString(v) }
        .mkString("{", ",", "}")
      val json =
        s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","canary":${f"$canary%.3f"},"canary_passes":[${f"$canary1%.3f"},${f"$canary2%.3f"},${f"$canary3%.3f"}],"value_norm":${f"$totalNorm%.3f"},"cpus":$cpus,"failed":$failed,"queries":$detail,"passes":$passes,"errors":$errs,"sf":"$sfDir"}"""
      // BENCH_DETAIL.json is the committed cross-round artifact and is only
      // comparable at the canonical scale factor: a dev-loop run at sf0.001
      // replacing an sf0.1 baseline once masqueraded as a 2x speedup that
      // was actually a 100x smaller dataset. Non-canonical runs land in a
      // sibling file the repo never tracks.
      val canonical = sfDir.replaceAll("/+$", "").endsWith("sf0.1")
      val detailFile = if (canonical) "BENCH_DETAIL.json" else "BENCH_DETAIL_local.json"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(detailFile),
        (json + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => // detail file is best-effort
      System.err.println(s"[bench] detail file not written: ${e.getClass.getName}: ${e.getMessage}")
    }
    // The contract line has been lost to the driver's bounded stdout tail two
    // rounds running ("parsed": null in BENCH_r8/r9) — shutdown-hook WARNs
    // landing after it pushed it out of the window. Defense in depth:
    //   1. silence ALL logging before emitting (nothing can land after),
    //   2. print the line before AND after spark.stop() (identical copies —
    //      whichever end of the tail the driver reads, the line is there),
    //   3. persist the same line to BENCH_LINE.json as a committed fallback.
    // Same canonical-scale discipline as BENCH_DETAIL: only an sf0.1 run
    // may write the committed fallback; dev-loop runs land in an ignored
    // sibling so a small-sf line can never masquerade as the real one.
    val lineFile =
      if (sfDir.replaceAll("/+$", "").endsWith("sf0.1")) "BENCH_LINE.json"
      else "BENCH_LINE_local.json"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(lineFile), (keep + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.sparkContext.setLogLevel("OFF")
    org.apache.log4j.LogManager.getRootLogger.setLevel(org.apache.log4j.Level.OFF)
    println(keep)
    spark.stop()
    println(keep)
    System.out.flush()
  }
}
