package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{CollectBound, DawidSkene}
import graft.tools.Meter

class DawidSkeneSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(df.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
      .collect().map(_.toSeq).toSeq

  /** Deterministic planted-rater fixture: `n` units with truth class
    * `u % 3`, five raters with planted confusion — two accurate (90%),
    * two mediocre (60%), one near-random (40%) — votes drawn by a
    * seeded congruential hash so the fixture replays bitwise.
    */
  private def planted(n: Int): (Seq[(Long, String, String)], Map[Long, String]) = {
    val classes = Vector("c0", "c1", "c2")
    val acc = Map("r1" -> 0.9, "r2" -> 0.9, "r3" -> 0.6, "r4" -> 0.6, "r5" -> 0.4)
    val truth = (0 until n).map(u => u.toLong -> classes(u % 3)).toMap
    val votes = for {
      u <- 0 until n
      (r, a) <- acc.toSeq.sortBy(_._1)
    } yield {
      val h = (u * 2654435761L + r.hashCode.toLong * 40503L) & 0x7fffffffL
      val roll = (h % 1000).toDouble / 1000.0
      val lab =
        if (roll < a) truth(u.toLong)
        else classes(((u % 3) + 1 + (h % 2).toInt) % 3) // wrong, split between the two others
      (u.toLong, r, lab)
    }
    (votes, truth)
  }

  test("dawidSkene: beats majority vote on a planted-confusion panel") {
    val (votes, truth) = planted(240)
    val df = votes.toDF("u", "r", "l")
    val ds = DawidSkene.label(df, "u", "r", "l", iters = 10)
      .collect().map(r => r.getString(0).toLong -> r.getString(1)).toMap
    // majority vote baseline (ties to smaller label, same tie-break)
    val mv = votes.groupBy(_._1).map { case (u, vs) =>
      u -> vs.groupBy(_._3).toSeq
        .sortBy { case (lab, g) => (-g.size, lab) }.head._1
    }
    def accOf(pred: Map[Long, String]) =
      truth.count { case (u, t) => pred(u) == t }.toDouble / truth.size
    val (aDs, aMv) = (accOf(ds), accOf(mv))
    assert(aDs >= aMv, s"DS $aDs must not lose to majority vote $aMv")
    assert(aDs > 0.9, s"DS accuracy $aDs too low on a 2-good-rater panel")
  }

  test("dawidSkene: recovers the planted confusion structure") {
    val (votes, _) = planted(240)
    val fit = DawidSkene.fit(votes.toDF("u", "r", "l"), "u", "r", "l", iters = 10)
    val conf = fit.confusion.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getDouble(3))
      .toMap
    // complete grid: 5 raters x 3 x 3
    assert(conf.size == 45, s"expected full 45-cell grid, got ${conf.size}")
    // accurate rater's diagonal well above the noisy rater's
    val diag = (r: String) => Seq("c0", "c1", "c2").map(c => conf((r, c, c))).sum / 3
    assert(diag("r1") > 0.8, s"r1 diagonal ${diag("r1")}")
    assert(diag("r1") > diag("r5") + 0.2,
      s"planted ordering lost: r1 ${diag("r1")} vs r5 ${diag("r5")}")
    // rows are (smoothed) distributions: each (r, j) sums to ~1
    val rows = conf.groupBy { case ((r, j, _), _) => (r, j) }
      .map { case (_, cells) => cells.values.sum }
    assert(rows.forall(s => math.abs(s - 1.0) < 1e-3), s"row sums: $rows")
    // priors roughly uniform thirds on the balanced fixture
    val priors = fit.priors.collect().map(r => r.getDouble(1))
    assert(priors.forall(p => math.abs(p - 1.0 / 3) < 0.1), priors.mkString(","))
  }

  test("dawidSkene: iters = 0 is exactly the vote-share (majority) posterior") {
    val df = Seq(
      (1L, "a", "x"), (1L, "b", "x"), (1L, "c", "y"),
      (2L, "a", "y"), (2L, "b", "y"), (2L, "c", "y"),
      (3L, "a", "x")
    ).toDF("u", "r", "l")
    val p = DawidSkene.fit(df, "u", "r", "l", iters = 0).posterior
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(p(("1", "x")) == 0.666667 && p(("1", "y")) == 0.333333)
    assert(p(("2", "x")) == 0.0 && p(("2", "y")) == 1.0)
    assert(p(("3", "x")) == 1.0 && p(("3", "y")) == 0.0)
    // consensus at the init = plain majority vote with the a-tie-break
    val lab = DawidSkene.consensus(
      DawidSkene.fit(df, "u", "r", "l", iters = 0).posterior)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lab == Map("1" -> "x", "2" -> "y", "3" -> "x"))
  }

  test("dawidSkene: abstaining raters (unbalanced panels) are handled; deterministic") {
    // rater c abstains on unit 2; unit 3 has one vote
    val df = Seq(
      (1L, "a", "x"), (1L, "b", "x"), (1L, "c", "y"),
      (2L, "a", "y"), (2L, "b", "y"),
      (3L, "b", "x")
    ).toDF("u", "r", "l")
    val r1 = DawidSkene.label(df, "u", "r", "l", iters = 5)
      .orderBy("u").collect().map(_.toSeq).toSeq
    val r2 = DawidSkene.label(df, "u", "r", "l", iters = 5)
      .orderBy("u").collect().map(_.toSeq).toSeq
    assert(r1 == r2, "bitwise deterministic")
    val lab = r1.map(s => s(0).toString -> s(1).toString).toMap
    assert(lab("1") == "x" && lab("2") == "y" && lab("3") == "x")
  }

  test("dawidSkene: a consistent minority rater outvotes two anti-correlated ones") {
    // Rater g is always right; raters b1, b2 always flip the binary
    // label. Majority vote is always wrong; DS learns b1/b2's flipped
    // confusion and recovers truth through them.
    val n = 60
    val votes = (0 until n).flatMap { u =>
      val t = if (u % 2 == 0) "pos" else "neg"
      val f = if (t == "pos") "neg" else "pos"
      Seq((u.toLong, "g", t), (u.toLong, "b1", f), (u.toLong, "b2", f))
    }
    val lab = DawidSkene.label(votes.toDF("u", "r", "l"), "u", "r", "l", iters = 15)
      .collect().map(r => r.getString(0).toLong -> r.getString(1)).toMap
    val acc = (0 until n).count(u =>
      lab(u.toLong) == (if (u % 2 == 0) "pos" else "neg")).toDouble / n
    // EM is symmetric in label permutation: it converges either to the
    // truth or to the global flip. The flip maps accuracy to 1 - acc,
    // so "far from 0.5" is the learnable claim; majority vote is
    // pinned AT 0 here (always outvoted), which EM must escape.
    assert(acc > 0.95 || acc < 0.05, s"DS failed to polarize: acc $acc")
  }

  test("dawidSkene: a posterior underflow fails loudly, never ships NaN consensus") {
    // 600 raters x 20 classes on ONE unit: each rater's smoothed pi for
    // its own voted label is ~(p+0.01)/(p+0.2) ≈ 0.24, so every
    // per-class E-step product folds 600 such factors (~1e-372) — past
    // even the subnormal floor for EVERY class, so the normalizer is
    // 0/0 = NaN. The r18 guard must raise instead of propagating it.
    val votes = (0 until 600).map(r => (0L, f"r$r%03d", s"c${r % 20}"))
    val ex = intercept[IllegalArgumentException] {
      DawidSkene.fit(votes.toDF("u", "r", "l"), "u", "r", "l", iters = 1)
    }
    assert(ex.getMessage.contains("underflow"), ex.getMessage)
    val inPlace = intercept[IllegalArgumentException] {
      DawidSkene.fit(votes.toDF("u", "r", "l"), "u", "r", "l", 1, 0.01, CollectBound.InPlace)
    }
    assert(inPlace.getMessage == ex.getMessage, inPlace.getMessage)
  }

  test("in-place sweeps are bitwise the collected fit on 1 and on 7 census partitions") {
    // exact decimal partial sums merge to the same bits in any order,
    // so the partitioning of the cached census cannot show in the fit
    val df = planted(240)._1.toDF("u", "r", "l")
    def fit(bound: CollectBound) = {
      val f = DawidSkene.fit(df, "u", "r", "l", 5, 0.01, bound)
      Seq(rows(f.posterior), rows(f.confusion), rows(f.priors))
    }
    val collected = fit(CollectBound.Default)
    Seq(1, 7).foreach { n =>
      assert(withShufflePartitions(n)(fit(CollectBound.InPlace)) == collected,
        s"in place on $n partitions")
    }
  }

  test("a sweep runs no job collected and one job in place; the census is released") {
    val df = planted(60)._1.toDF("u", "r", "l")
    def run(iters: Int, bound: CollectBound) = Meter.measure(spark)(
      DawidSkene.fit(df, "u", "r", "l", iters, 0.01, bound).posterior.collect())
    val (c3, c4) = (run(3, CollectBound.Default), run(4, CollectBound.Default))
    val (i3, i4) = (run(3, CollectBound.InPlace), run(4, CollectBound.InPlace))
    assert(c4.jobs == c3.jobs, s"collected: ${c3.jobs} -> ${c4.jobs} jobs")
    assert(i4.jobs == i3.jobs + 1, s"in place: ${i3.jobs} -> ${i4.jobs} jobs")
    assert(Seq(c3, c4, i3, i4).forall(_.cachedPlans == 0))
  }
}
