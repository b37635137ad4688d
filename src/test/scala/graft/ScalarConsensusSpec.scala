package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{CollectBound, ScalarConsensus}
import graft.tools.Meter

class ScalarConsensusSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(df.columns.head).collect().map(_.toSeq).toSeq

  // noiseless planted panel: truth t = u/10; a fair rater (a=0, b=1),
  // a harsh one (a=-0.2, b=1), a rubric-stretcher (a=0.1, b=2)
  private def planted: Seq[(Long, String, Double)] =
    (0 to 40).flatMap { u =>
      val t = u / 10.0
      Seq((u.toLong, "fair", t), (u.toLong, "harsh", t - 0.2),
        (u.toLong, "stretch", 0.1 + 2.0 * t))
    }

  test("fit recovers the planted lenses: scale ratio, bias order, gauge pins") {
    val fit = ScalarConsensus.fit(planted.toDF("u", "r", "y"), "u", "r", "y",
      iters = 5)
    val raters = fit.raters.collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // gauge pins: mean-0 bias, mean-1 scale (up to 6dp grid residue)
    val biases = raters.values.map(_._1)
    val scales = raters.values.map(_._2)
    assert(math.abs(biases.sum / 3.0) < 1e-5, s"bias gauge: $biases")
    assert(math.abs(scales.sum / 3.0 - 1.0) < 1e-5, s"scale gauge: $scales")
    // the stretcher reads the rubric at exactly twice the fair gain
    assert(math.abs(raters("stretch")._2 / raters("fair")._2 - 2.0) < 0.01,
      s"scale ratio: $raters")
    // the harsh rater's bias sits clearly below the fair rater's
    assert(raters("harsh")._1 < raters("fair")._1 - 0.1, s"bias order: $raters")
    // consensus truth is strictly monotone in the planted truth
    val t = fit.truth.orderBy(org.apache.spark.sql.functions.col("u").cast("long"))
      .collect().map(_.getDouble(1))
    assert(t.zip(t.tail).forall { case (x, y) => x < y },
      "consensus must preserve the planted order")
    // noiseless data: the fitted lens reproduces every observed grade
    val tMap = fit.truth.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val maxResid = planted.map { case (u, r, y) =>
      val (a, b) = raters(r)
      math.abs(a + b * tMap(u.toString) - y)
    }.max
    assert(maxResid < 1e-3, s"max residual $maxResid")
  }

  test("consensus reads THROUGH the harsh lens: plain mean is biased, fit is not") {
    // with the harsh rater abstaining on half the units, the plain
    // per-unit mean is 0.0667 lower exactly where it votes; the fitted
    // consensus corrects for the lens instead of inheriting the dent
    val rows = (0 to 40).flatMap { u =>
      val t = u / 10.0
      Seq((u.toLong, "fair", t), (u.toLong, "stretch", 0.1 + 2.0 * t)) ++
        (if (u % 2 == 0) Seq((u.toLong, "harsh", t - 0.2)) else Nil)
    }
    val fit = ScalarConsensus.fit(rows.toDF("u", "r", "y"), "u", "r", "y",
      iters = 5)
    val t = fit.truth.collect().map(r => r.getString(0).toLong -> r.getDouble(1)).toMap
    // adjacent units (one with the harsh vote, one without) must keep
    // nearly the planted spacing of 0.1 — a mean would dent by ~0.067
    val gaps = (0 until 40).map(u => t(u.toLong + 1) - t(u.toLong))
    assert(gaps.forall(g => math.abs(g - gaps.head) < 0.02),
      s"uneven spacing betrays an uncorrected lens: ${gaps.take(6)}")
  }

  test("deterministic replay; degenerate variance falls back, never NaN") {
    val df = planted.toDF("u", "r", "y")
    val a = ScalarConsensus.fit(df, "u", "r", "y", iters = 3)
    val b = ScalarConsensus.fit(df, "u", "r", "y", iters = 3)
    assert(a.truth.orderBy("u").collect().toSeq ==
      b.truth.orderBy("u").collect().toSeq, "bitwise deterministic")
    // one unit only: every rater sees zero truth variance -> b = 1
    // fallback, finite outputs
    val one = Seq((1L, "r1", 0.4), (1L, "r2", 0.8)).toDF("u", "r", "y")
    val f = ScalarConsensus.fit(one, "u", "r", "y", iters = 2)
    val tr = f.truth.collect().head
    assert(!tr.getDouble(1).isNaN)
    assert(f.raters.collect().forall(r =>
      !r.getDouble(2).isNaN && !r.getDouble(3).isNaN))
  }

  test("in-place sweeps are bitwise the collected fit on 1 and on 7 census partitions") {
    // the harsh rater abstains on odd units, so the lenses move every sweep
    val df = planted.filter { case (u, r, _) => r != "harsh" || u % 2 == 0 }
      .toDF("u", "r", "y")
    def fit(bound: CollectBound) = {
      val f = ScalarConsensus.fit(df, "u", "r", "y", 5, bound)
      Seq(rows(f.truth), rows(f.raters))
    }
    val collected = fit(CollectBound.Default)
    Seq(1, 7).foreach { n =>
      assert(withShufflePartitions(n)(fit(CollectBound.InPlace)) == collected,
        s"in place on $n partitions")
    }
  }

  test("a sweep runs no job collected and one job in place; the census is released") {
    val df = planted.toDF("u", "r", "y")
    def run(iters: Int, bound: CollectBound) = Meter.measure(spark)(
      ScalarConsensus.fit(df, "u", "r", "y", iters, bound).truth.collect())
    val (c3, c4) = (run(3, CollectBound.Default), run(4, CollectBound.Default))
    val (i3, i4) = (run(3, CollectBound.InPlace), run(4, CollectBound.InPlace))
    assert(c4.jobs == c3.jobs, s"collected: ${c3.jobs} -> ${c4.jobs} jobs")
    assert(i4.jobs == i3.jobs + 1, s"in place: ${i3.jobs} -> ${i4.jobs} jobs")
    assert(Seq(c3, c4, i3, i4).forall(_.cachedPlans == 0))
  }
}
