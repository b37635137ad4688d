package graft

import org.apache.spark.sql.functions._

import graft.operators.MlEval

class MlEvalSpec extends SparkSpec {
  import spark.implicits._

  // (group, label, score)
  private def scored(rows: (String, Boolean, Double)*) =
    rows.toDF("g", "y", "s")

  test("rocAuc: hand-checked values — perfect, inverted, ties, random") {
    val df = scored(
      // perfect separation: all positives above all negatives
      ("perfect", true, 0.9), ("perfect", true, 0.8),
      ("perfect", false, 0.2), ("perfect", false, 0.1),
      // inverted scorer
      ("inverted", false, 0.9), ("inverted", false, 0.8),
      ("inverted", true, 0.2), ("inverted", true, 0.1),
      // all four tied: auc = 0.5 by half-credit
      ("tied", true, 0.5), ("tied", true, 0.5),
      ("tied", false, 0.5), ("tied", false, 0.5),
      // one class only -> null
      ("onlypos", true, 0.7), ("onlypos", true, 0.3))
    val got = MlEval.rocAuc(df, "g", col("y"), col("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(got("perfect") == ((2L, 2L, Some(1.0))))
    assert(got("inverted") == ((2L, 2L, Some(0.0))))
    assert(got("tied") == ((2L, 2L, Some(0.5))))
    assert(got("onlypos") == ((2L, 0L, None)))
  }

  test("rocAuc: equals the O(n^2) pairwise definition on a messy fixture") {
    val rows = (1 to 120).map { i =>
      val y = (i * 7) % 3 == 0
      // Coarse 1dp grid forces heavy ties across both classes.
      val s = ((i * 13) % 10) / 10.0
      ("g", y, s)
    }
    val got = MlEval.rocAuc(rows.toDF("g", "y", "s"), "g", col("y"), col("s"))
      .collect().head.getDouble(3)
    val pos = rows.filter(_._2).map(_._3)
    val neg = rows.filterNot(_._2).map(_._3)
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val brute = math.rint(wins / (pos.size * neg.size) * 1e6) / 1e6
    assert(got == brute, s"U-statistic AUC $got != pairwise $brute")
  }

  test("rocCurve: cumulative counts, monotone, endpoints hit (n_pos, n_neg)") {
    val df = scored(
      ("g", true, 0.9), ("g", false, 0.9), ("g", true, 0.6),
      ("g", false, 0.4), ("g", true, 0.4), ("g", false, 0.1))
    val got = MlEval.rocCurve(df, "g", col("y"), col("s"))
      .orderBy(col("threshold").desc)
      .select("threshold", "tp", "fp", "tpr", "fpr")
      .as[(Double, Long, Long, Double, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(0.9, 0.6, 0.4, 0.1))
    assert(got.map(r => (r._2, r._3)).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 2L), (3L, 3L)))
    assert(got.last._4 == 1.0 && got.last._5 == 1.0)
    // tpr = tp/3, fpr = fp/3 on every row.
    got.foreach { r =>
      assert(r._4 == math.rint(r._2 / 3.0 * 1e6) / 1e6)
      assert(r._5 == math.rint(r._3 / 3.0 * 1e6) / 1e6)
    }
  }

  test("calibrationBins: bin edges, top-edge clamp, rates and means") {
    val df = scored(
      ("g", true, 1.0),  // 1.0 clamps into bin 9
      ("g", true, 0.95), ("g", false, 0.91),
      ("g", false, 0.05), ("g", false, 0.0))
    val got = MlEval.calibrationBins(df, "g", col("y"), col("s"))
      .orderBy("bin")
      .select("bin", "n", "n_pos", "mean_score", "pos_rate")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(got.length == 2)
    assert(got(0) == ((0L, 2L, 0L, 0.025, 0.0)))
    val top = got(1)
    assert(top._1 == 9L && top._2 == 3L && top._3 == 2L)
    assert(top._4 == math.rint((1.0 + 0.95 + 0.91) / 3 * 1e6) / 1e6)
    assert(top._5 == 0.666667)
  }

  test("prCurve: cumulative precision/recall, hand-checked") {
    val df = scored(
      ("g", true, 0.9), ("g", false, 0.9), ("g", true, 0.6),
      ("g", false, 0.4), ("g", true, 0.4), ("g", false, 0.1))
    val got = MlEval.prCurve(df, "g", col("y"), col("s"))
      .orderBy(col("threshold").desc)
      .select("threshold", "tp", "fp", "precision", "recall")
      .as[(Double, Long, Long, Double, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(0.9, 0.6, 0.4, 0.1))
    // tp/fp cumulative: (1,1) (2,1) (3,2) (3,3)
    assert(got.map(r => (r._2, r._3)).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 2L), (3L, 3L)))
    assert(got(0)._4 == 0.5 && got(1)._4 == math.rint(2.0 / 3 * 1e6) / 1e6)
    assert(got.last._5 == 1.0) // full recall at the lowest threshold
  }

  test("averagePrecision: equals the per-threshold hand fold; null when no positives") {
    val df = scored(
      ("g", true, 0.9), ("g", false, 0.9), ("g", true, 0.6),
      ("g", false, 0.4), ("g", true, 0.4), ("g", false, 0.1),
      ("noneg", true, 0.7), ("noneg", true, 0.2),
      ("nopos", false, 0.7))
    val got = MlEval.averagePrecision(df, "g", col("y"), col("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)))).toMap
    // thresholds desc: (pos,tp,fp) = (1,1,1) (1,2,1) (1,3,2) (0,3,3)
    def term(pos: Long, tp: Long, fp: Long): Double =
      math.rint(pos * tp.toDouble / (tp + fp) * 1e12) / 1e12
    val expect = math.rint(
      (term(1, 1, 1) + term(1, 2, 1) + term(1, 3, 2) + term(0, 3, 3))
        / 3 * 1e6) / 1e6
    assert(got("g") == ((3L, Some(expect))))
    assert(got("noneg") == ((2L, Some(1.0)))) // perfect precision everywhere
    assert(got("nopos") == ((0L, None)))
  }

  test("averagePrecision: perfect ranker = 1.0, inverted ranker is the pessimal fold") {
    val df = scored(
      ("p", true, 0.9), ("p", true, 0.8), ("p", false, 0.2), ("p", false, 0.1),
      ("i", false, 0.9), ("i", false, 0.8), ("i", true, 0.2), ("i", true, 0.1))
    val got = MlEval.averagePrecision(df, "g", col("y"), col("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("p") == 1.0)
    // inverted: thresholds desc (pos,tp,fp): (0,0,1)(0,0,2)(1,1,2)(1,2,2)
    val expect = math.rint((1.0 / 3 + 2.0 / 4) / 2 * 1e6) / 1e6
    assert(got("i") == expect)
  }

  test("bestF1: argmax threshold, high-threshold tie-break, no-positive groups drop") {
    val df = scored(
      // F1 by threshold: 0.9 -> 2/4; 0.6 -> 4/5; 0.4 -> 6/7 (max); 0.1 -> 6/8
      ("g", true, 0.9), ("g", true, 0.6),
      ("g", false, 0.4), ("g", true, 0.4), ("g", false, 0.1),
      ("nopos", false, 0.7))
    val got = MlEval.bestF1(df, "g", col("y"), col("s")).collect()
    assert(got.length == 1) // nopos dropped
    val r = got.head
    assert(r.getString(0) == "g" && r.getDouble(1) == 0.4)
    assert(r.getLong(2) == 3L && r.getLong(3) == 1L
      && r.getDouble(4) == math.rint(6.0 / 7 * 1e6) / 1e6)
    // Tie case: two thresholds with identical F1 -> the higher wins.
    val tie = scored(("t", true, 0.9), ("t", false, 0.5), ("t", true, 0.3))
    val tr = MlEval.bestF1(tie, "g", col("y"), col("s")).collect().head
    // F1 at 0.9: 2/3; at 0.3: 4/5 -> no tie here. Build a real tie:
    // (t2) pos at 0.9, neg at 0.7, pos at 0.5:
    //   thr 0.9: tp=1 fp=0 fn=1 -> 2/3;  thr 0.7: tp=1 fp=1 fn=1 -> 0.5
    //   thr 0.5: tp=2 fp=1 fn=0 -> 4/5 -> max unique again; assert order
    assert(tr.getDouble(1) == 0.3 && tr.getDouble(4) == 0.8)
    val tie2 = scored(
      ("u", true, 0.9), ("u", false, 0.6), ("u", true, 0.6), ("u", false, 0.2))
    // thr 0.9: 1,0,1 -> 2/3 ; thr 0.6: tp=2 fp=1 fn=0 -> 4/5 ; thr 0.2: 2,2,0 -> 2/3
    // ties between 0.9 and 0.2 at 2/3 are below the max; max unique.
    val u = MlEval.bestF1(tie2, "g", col("y"), col("s")).collect().head
    assert(u.getDouble(1) == 0.6 && u.getDouble(4) == 0.8)
  }

  test("brierDecomposition: hand values; Murphy identity exact for constant-score bins") {
    // Scores constant within each bin -> no within-bin variance -> the
    // identity brier = REL - RES + UNC holds EXACTLY.
    // bin 2: 5 rows at 0.2 with 1 positive; bin 8: 5 rows at 0.8 with 4.
    val rows = Seq.fill(4)(("g", false, 0.2)) ++ Seq(("g", true, 0.2)) ++
      Seq.fill(4)(("g", true, 0.8)) ++ Seq(("g", false, 0.8))
    val got = MlEval.brierDecomposition(
      scored(rows: _*), "g", col("y"), col("s")).collect().head
    assert(got.getLong(1) == 10L && got.getLong(2) == 5L)
    val (brier, rel, res, unc) =
      (got.getDouble(3), got.getDouble(4), got.getDouble(5), got.getDouble(6))
    // brier = [4*.04 + .64 + 4*.04 + .64]/10 = 0.16
    assert(brier == 0.16, s"brier $brier")
    // mean_score == rate in both bins -> perfectly calibrated
    assert(rel == 0.0, s"reliability $rel")
    // 5*(0.2-0.5)^2 + 5*(0.8-0.5)^2 = 0.9 -> /10 = 0.09
    assert(res == 0.09, s"resolution $res")
    assert(unc == 0.25, s"uncertainty $unc")
    assert(math.abs(brier - (rel - res + unc)) < 1e-12, "Murphy identity")
    // null scores drop, like calibrationBins/scoreCounts
    val withNull = Seq(
      ("g", true, Some(0.8)), ("g", false, Some(0.2)), ("g", true, None))
      .toDF("g", "y", "s")
    val n = MlEval.brierDecomposition(withNull, "g", col("y"), col("s"))
      .collect().head.getLong(1)
    assert(n == 2L, "null score must not count")
  }

  test("rocAuc/rocCurve: null scores drop, output bounded by distinct scores") {
    val df = Seq(
      ("g", true, Some(0.8)), ("g", false, Some(0.8)),
      ("g", true, Some(0.2)), ("g", false, None),
      ("g", true, None)).toDF("g", "y", "s")
    val auc = MlEval.rocAuc(df, "g", col("y"), col("s")).collect().head
    assert(auc.getLong(1) == 2L && auc.getLong(2) == 1L)
    // curve rows = distinct non-null scores
    assert(MlEval.rocCurve(df, "g", col("y"), col("s")).count() == 2L)
  }

  test("cohenKappa: hand value, perfect agreement, constant raters null out") {
    // Classic 2x2 example: cells yes/yes=20, yes/no=5, no/yes=10, no/no=15.
    // po = 35/50 = 0.7; pe = (25*30 + 25*20)/2500 = 0.5; kappa = 0.4.
    val rows =
      Seq.fill(20)(("yes", "yes")) ++ Seq.fill(5)(("yes", "no")) ++
      Seq.fill(10)(("no", "yes")) ++ Seq.fill(15)(("no", "no"))
    val r = MlEval.cohenKappa(rows.toDF("ra", "rb"), "ra", "rb").collect().head
    assert(r.getLong(0) == 50L)
    assert(r.getDouble(1) == 0.7 && r.getDouble(2) == 0.5)
    assert(r.getDouble(3) == 0.4, s"kappa = ${r.getDouble(3)}, want 0.4")
    // Perfect agreement with mixed categories -> kappa = 1.
    val perfect = Seq(("x", "x"), ("y", "y"), ("x", "x")).toDF("ra", "rb")
    assert(MlEval.cohenKappa(perfect, "ra", "rb").collect().head.getDouble(3) == 1.0)
    // Both raters constant: pe = 1, agreement is vacuous -> kappa null.
    val const = Seq(("x", "x"), ("x", "x")).toDF("ra", "rb")
    val c = MlEval.cohenKappa(const, "ra", "rb").collect().head
    assert(c.isNullAt(3), "constant raters must yield null kappa, not 1")
  }

  test("driver cell-census gate: loud failure past MaxDriverCells, unchanged results under it") {
    // r20: the kappa/AC1/weighted driver assemblies collect a
    // categories²-bounded cell census; the gate rides the same job
    // (limit max+1) and must fail loudly on a high-cardinality label
    // column instead of OOMing the driver. Pass a low limit, prove the
    // message, and pin that gated == ungated values.
    val rows =
      Seq.fill(20)(("yes", "yes")) ++ Seq.fill(5)(("yes", "no")) ++
      Seq.fill(10)(("no", "yes")) ++ Seq.fill(15)(("no", "no"))
    val df = rows.toDF("ra", "rb")
    val before = MlEval.cohenKappa(df, "ra", "rb").collect().head
    // census has 4 cells -> over a limit of 3
    val ex = intercept[IllegalArgumentException](
      MlEval.cohenKappa(df, "ra", "rb", 3).collect())
    assert(ex.getMessage.contains("cell census exceeds"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException](
      MlEval.gwetAc1(df, "ra", "rb", 3).collect())
    assert(ex2.getMessage.contains("cell census exceeds"), ex2.getMessage)
    val graded = Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 3L)).toDF("ga", "gb")
    val ex3 = intercept[IllegalArgumentException](
      MlEval.cohenKappaWeighted(graded, "ga", "gb", 3).collect())
    assert(ex3.getMessage.contains("cell census exceeds"), ex3.getMessage)
    assert(MlEval.cohenKappa(df, "ra", "rb", 4).collect().head == before,
      "the gate must not change values at the limit")
  }

  test("fleissKappa: hand value; unbalanced panel fails loudly; degenerate nulls") {
    // 3 units x 2 raters: (a,a), (a,b), (b,b).
    // P_i = 1, 0, 1 -> P-bar = 2/3; marginals a=3, b=3 of 6 ->
    // P-bar_e = 0.25 + 0.25 = 0.5; kappa = (2/3 - 1/2)/(1/2) = 1/3.
    val long = Seq(
      (1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"), (3L, "b"), (3L, "b")
    ).toDF("u", "k")
    val r = MlEval.fleissKappa(long, "u", "k").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.666667 && r.getDouble(3) == 0.5)
    assert(r.getDouble(4) == 0.333333, s"kappa ${r.getDouble(4)}")
    // All assignments one category: chance agreement 1 -> kappa null.
    val deg = Seq((1L, "x"), (1L, "x"), (2L, "x"), (2L, "x")).toDF("u", "k")
    assert(MlEval.fleissKappa(deg, "u", "k").collect().head.isNullAt(4))
    // Unbalanced panel (unit 2 has one rater) must refuse, not reweight.
    val bad = Seq((1L, "a"), (1L, "b"), (2L, "a")).toDF("u", "k")
    val e = intercept[IllegalArgumentException](
      MlEval.fleissKappa(bad, "u", "k").collect())
    assert(e.getMessage.contains("constant rater count"))
    // Empty input: the intended loud error, not an NPE from reading the
    // null max(m) while building the message (r16 advice).
    val empty = Seq.empty[(Long, String)].toDF("u", "k")
    val e2 = intercept[IllegalArgumentException](
      MlEval.fleissKappa(empty, "u", "k").collect())
    assert(e2.getMessage.contains("constant rater count"))
  }

  test("gwetAc1: survives the kappa paradox; hand values; degenerate null") {
    // Feinstein-Cicchetti fixture: 80% observed agreement on a skewed
    // 2x2 (80 yes/yes, 10 yes/no, 10 no/yes, 0 no/no). Cohen's kappa
    // goes NEGATIVE (pe = 0.82 > po); AC1 reads the agreement.
    val skewed = (
      Seq.fill(80)(("y", "y")) ++ Seq.fill(10)(("y", "n")) ++
      Seq.fill(10)(("n", "y"))
    ).toDF("a", "b")
    val k = MlEval.cohenKappa(skewed, "a", "b").collect().head
    assert(k.getDouble(3) < 0, s"paradox kappa should be negative: ${k.getDouble(3)}")
    val g = MlEval.gwetAc1(skewed, "a", "b").collect().head
    // pi_y = 180/200, pi_n = 20/200; S = 180*20 + 20*180 = 7200;
    // pe = 7200/(200*200*1) = 0.18; AC1 = (0.8 - 0.18)/0.82
    assert(g.getLong(0) == 100L)
    assert(g.getDouble(1) == 0.8 && g.getDouble(2) == 0.18)
    assert(g.getDouble(3) == 0.756098, s"ac1 ${g.getDouble(3)}")
    // perfect agreement on a balanced pair -> AC1 = 1
    val perfect = (Seq.fill(50)(("y", "y")) ++ Seq.fill(50)(("n", "n")))
      .toDF("a", "b")
    assert(MlEval.gwetAc1(perfect, "a", "b").collect().head.getDouble(3) == 1.0)
    // single category: K = 1 -> chance agreement vacuous -> nulls
    val deg = Seq.fill(10)(("x", "x")).toDF("a", "b")
    val d = MlEval.gwetAc1(deg, "a", "b").collect().head
    assert(d.isNullAt(2) && d.isNullAt(3))
    // one-sided category (rater b never says 'n'): full-join marginal
    // still counts it; AC1 defined
    val oneSided = (Seq.fill(9)(("y", "y")) ++ Seq.fill(1)(("n", "y")))
      .toDF("a", "b")
    val o = MlEval.gwetAc1(oneSided, "a", "b").collect().head
    assert(!o.isNullAt(3) && o.getDouble(1) == 0.9)
  }

  test("cohenKappaWeighted: quadratic near-miss credit; hand value; degenerate null") {
    // Grades {0,2}: cells (0,0)=10, (0,2)=2, (2,0)=3, (2,2)=5; n=20.
    // D_o = (2+3)*4/20 = 1.0; marginals r=(12,8), c=(13,7);
    // D_e = (12*7 + 8*13)*4/400 = 1.88; kappa_w = 1 - 1/1.88 = 0.468085.
    val rows = Seq.fill(10)((0L, 0L)) ++ Seq.fill(2)((0L, 2L)) ++
      Seq.fill(3)((2L, 0L)) ++ Seq.fill(5)((2L, 2L))
    val r = MlEval.cohenKappaWeighted(rows.toDF("ga", "gb"), "ga", "gb")
      .collect().head
    assert(r.getLong(0) == 20L)
    assert(r.getDouble(1) == 1.0 && r.getDouble(2) == 1.88)
    assert(r.getDouble(3) == 0.468085, s"kappa_w ${r.getDouble(3)}")
    // Perfect ordinal agreement -> 1.
    val perfect = Seq((0L, 0L), (1L, 1L), (3L, 3L)).toDF("ga", "gb")
    assert(MlEval.cohenKappaWeighted(perfect, "ga", "gb")
      .collect().head.getDouble(3) == 1.0)
    // Both raters constant -> D_e = 0 -> null.
    val const = Seq((1L, 1L), (1L, 1L)).toDF("ga", "gb")
    assert(MlEval.cohenKappaWeighted(const, "ga", "gb")
      .collect().head.isNullAt(3))
  }

  test("krippendorffAlphaInterval: hand value; near-miss forgiven; nulls; abstention") {
    // u1: [1,1] du=0; u2: [0,2] du=(2*2*4-2*4)/(2-1)=8; u3: [3,3] du=0.
    // Do = 8/6; pooled s1=10, s2=24 -> De = (2*6*24-200)/30 = 88/30;
    // alpha = 1 - (8/6)/(88/30) = 0.545455 (after 6dp staging).
    val v = Seq((1L, 1L), (1L, 1L), (2L, 0L), (2L, 2L), (3L, 3L), (3L, 3L))
      .toDF("u", "x")
    val r = MlEval.krippendorffAlphaInterval(v, "u", "x").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 6L)
    assert(r.getDouble(2) == 1.333333 && r.getDouble(3) == 2.933333)
    assert(r.getDouble(4) == 0.545455, s"alpha ${r.getDouble(4)}")
    // interval metric forgives ADJACENT disagreement where nominal
    // charges it fully: same unit structure, off-by-1 vs off-by-3
    def alphaOf(d: Long) = MlEval.krippendorffAlphaInterval(
      (0L until 8L).flatMap(u => Seq((u, u % 4), (u, u % 4 + d)))
        .toDF("u", "x"), "u", "x").collect().head.getDouble(4)
    assert(alphaOf(1L) > alphaOf(3L),
      "adjacent grades must disagree more mildly than far grades")
    // perfect agreement -> Do = 0 -> alpha 1
    val perfect = Seq((1L, 2L), (1L, 2L), (2L, 0L), (2L, 0L)).toDF("u", "x")
    assert(MlEval.krippendorffAlphaInterval(perfect, "u", "x")
      .collect().head.getDouble(4) == 1.0)
    // constant grades -> De = 0 -> null
    val const = Seq((1L, 2L), (1L, 2L), (2L, 2L), (2L, 2L)).toDF("u", "x")
    assert(MlEval.krippendorffAlphaInterval(const, "u", "x")
      .collect().head.isNullAt(4))
    // single-vote units drop as unpairable
    val abst = Seq((1L, 0L), (1L, 2L), (2L, 3L)).toDF("u", "x")
    val a = MlEval.krippendorffAlphaInterval(abst, "u", "x").collect().head
    assert(a.getLong(0) == 1L && a.getLong(1) == 2L)
  }

  test("krippendorffAlpha: hand value; abstainers drop as unpairable; degenerate null") {
    // Pairable units (a,a), (a,b), (b,b) -> D_o = 2/6 = 0.333333;
    // marginals 3/3 of 6 -> D_e = 18/30 = 0.6; alpha = 1 - 1/1.8 = 0.444444.
    // Unit 4 has a single vote (an abstaining panel) and must not count.
    val long = Seq(
      (1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"), (3L, "b"), (3L, "b"),
      (4L, "a")
    ).toDF("u", "k")
    val r = MlEval.krippendorffAlpha(long, "u", "k").collect().head
    assert(r.getLong(0) == 3L, "unpairable unit dropped")
    assert(r.getLong(1) == 6L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 0.333333 && r.getDouble(4) == 0.6)
    assert(r.getDouble(5) == 0.444444, s"alpha ${r.getDouble(5)}")
    // Perfect agreement across two categories -> D_o = 0, alpha = 1.
    val perfect = Seq((1L, "x"), (1L, "x"), (2L, "y"), (2L, "y")).toDF("u", "k")
    assert(MlEval.krippendorffAlpha(perfect, "u", "k")
      .collect().head.getDouble(5) == 1.0)
    // One category overall: D_e = 0 -> alpha null (vacuous agreement).
    val deg = Seq((1L, "x"), (1L, "x"), (2L, "x"), (2L, "x")).toDF("u", "k")
    assert(MlEval.krippendorffAlpha(deg, "u", "k").collect().head.isNullAt(5))
  }

  test("krippendorffAlphaInterval: grade translation invariance at +-2e9 (decimal lanes)") {
    // alpha depends only on pairwise grade DIFFERENCES, so shifting
    // every grade by a constant is an exact invariance of D_o, D_e and
    // alpha. Under the old signed-long moment lane a 2e9 shift
    // overflowed (Σx)² and silently broke it; the decimal(38,0)
    // staging keeps the integer folds exact (r17 verdict item).
    val base = Seq(
      (1L, 0L), (1L, 1L), (2L, 2L), (2L, 3L), (3L, 1L), (3L, 3L))
    val shift = 2000000000L
    def run(rows: Seq[(Long, Long)]) =
      MlEval.krippendorffAlphaInterval(rows.toDF("u", "x"), "u", "x")
        .collect().head
    val a = run(base)
    val b = run(base.map { case (u, x) => (u, x + shift) })
    assert(a.getDouble(2) == b.getDouble(2), "d_o must be shift-invariant")
    assert(a.getDouble(3) == b.getDouble(3), "d_e must be shift-invariant")
    assert(a.getDouble(4) == b.getDouble(4), "alpha must be shift-invariant")
    // and the negative range too (s1 signs exercise the squared fold)
    val c = run(base.map { case (u, x) => (u, x - shift) })
    assert(a.getDouble(4) == c.getDouble(4))
  }

  test("raterGoldEval: gold-covered votes only; accuracy + Wilson; spammer surfaces") {
    // gold covers units 1..4; rater "good" is right 4/4, "spam" votes
    // constant and lands 2/4, "off" never votes on gold units and
    // must not appear
    val gold = Seq(("1", "y"), ("2", "n"), ("3", "y"), ("4", "n")).toDF("u", "g")
    val votes = Seq(
      ("1", "good", "y"), ("2", "good", "n"), ("3", "good", "y"),
      ("4", "good", "n"),
      ("1", "spam", "y"), ("2", "spam", "y"), ("3", "spam", "y"),
      ("4", "spam", "y"),
      ("9", "off", "y")).toDF("u", "r", "l")
    val got = MlEval.raterGoldEval(votes, "u", "r", "l", gold, "u", "g")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(got.keySet == Set("good", "spam"), "off-gold rater must not appear")
    assert(got("good")._1 == 4L && got("good")._2 == 4L &&
      got("good")._3 == 1.0)
    assert(got("spam")._2 == 2L && got("spam")._3 == 0.5)
    // Wilson bounds bracket the rate, stay in [0,1], and 4-vote
    // perfection is NOT a confident 1.0 lower bound
    for ((_, (_, _, p, lo, hi)) <- got)
      assert(lo <= p && p <= hi && lo >= 0.0 && hi <= 1.0)
    assert(got("good")._4 < 0.6, s"4/4 must stay humble: ${got("good")}")
    // matches the itemWinRates Wilson tree on the same (n, k)
    val iw = graft.operators.Preferences.itemWinRates(
      Seq.fill(2)(("spam", "x")).++(Seq.fill(2)(("x", "spam")))
        .toDF("w", "l"), "w", "l")
      .filter(col("item") === "spam").collect().head
    assert(got("spam")._4 == iw.getDouble(4) && got("spam")._5 == iw.getDouble(5),
      "Wilson tree must mirror itemWinRates literally")
  }

  test("gwetAc1 / cohenKappa: null votes drop as unrated, never as phantom categories") {
    // a null surviving the cell census would miss the marginal full
    // join and count as an extra category in K and the chance folds
    // (r17 advice) — rows with a missing vote must simply drop
    val withNulls = Seq(
      (Option("y"), Option("y")), (Option("y"), Option("y")),
      (Option("y"), Option("n")), (Option("n"), Option("n")),
      (Option.empty[String], Option("y")), (Option("n"), Option.empty[String]))
      .toDF("a", "b")
    val clean = Seq(("y", "y"), ("y", "y"), ("y", "n"), ("n", "n")).toDF("a", "b")
    assert(MlEval.gwetAc1(withNulls, "a", "b").collect().toSeq ==
      MlEval.gwetAc1(clean, "a", "b").collect().toSeq)
    assert(MlEval.cohenKappa(withNulls, "a", "b").collect().toSeq ==
      MlEval.cohenKappa(clean, "a", "b").collect().toSeq)
  }
}
