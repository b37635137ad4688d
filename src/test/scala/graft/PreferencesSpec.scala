package graft

import graft.operators.{CollectBound, Preferences}
import graft.tools.Meter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_timestamp, when}

class PreferencesSpec extends SparkSpec {
  import spark.implicits._

  // Fixtures of the collected-vs-in-place pins: every fit runs the same
  // fold either way, so outputs must agree bitwise.
  private lazy val btCmp = (
    Seq.fill(8)(("x", "y")) ++ Seq.fill(2)(("y", "x")) ++
    Seq.fill(9)(("x", "z")) ++ Seq.fill(1)(("z", "x")) ++
    Seq.fill(7)(("y", "z")) ++ Seq.fill(3)(("z", "y")) ++
    Seq.fill(4)(("w", "x")) ++ Seq.fill(2)(("x", "w"))
  ).toDF("winner", "loser")
  private lazy val tiesCmp = (
    Seq.fill(6)(("x", "y", "a")) ++ Seq.fill(2)(("x", "y", "b")) ++
    Seq.fill(8)(("x", "y", "tie")) ++
    Seq.fill(5)(("y", "z", "a")) ++ Seq.fill(1)(("y", "z", "b")) ++
    Seq.fill(2)(("y", "z", "tie")) ++
    Seq.fill(6)(("x", "z", "a")) ++ Seq.fill(2)(("x", "z", "tie"))
  ).toDF("item_a", "item_b", "outcome")
  private lazy val orderCmp = (
    (1 to 7).map(_ => ("a", "b", "a")) ++ (1 to 3).map(_ => ("b", "a", "a")) ++
    (1 to 6).map(_ => ("a", "c", "c")) ++ (1 to 2).map(_ => ("c", "a", "c")) ++
    (1 to 5).map(_ => ("b", "c", "b")) ++ (1 to 4).map(_ => ("c", "b", "c"))
  ).toDF("winner", "loser", "first")
  private lazy val plRankings = samplePlRankings(
      Seq("a" -> 3.0, "b" -> 1.5, "c" -> 1.0, "d" -> 0.7, "e" -> 0.4), 120, seed = 11L)
    .toDF("session", "item", "rank")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("item").collect().map(_.toSeq).toSeq

  private def btFit(bound: CollectBound) =
    Preferences.bradleyTerry(btCmp, "winner", "loser", 10, bound)
  private def tiesFit(bound: CollectBound) =
    Preferences.bradleyTerryTies(tiesCmp, "item_a", "item_b", "outcome", 1.5, 10, bound)
  private def orderFit(bound: CollectBound) =
    Preferences.bradleyTerryOrder(orderCmp, "winner", "loser", "first", 10, bound)
  private def plFit(bound: CollectBound) =
    Preferences.plackettLuce(plRankings, "session", "item", "rank", 10, bound)
  private def rcFit(bound: CollectBound) =
    Preferences.rankCentrality(btCmp, "winner", "loser", 10, bound)
  private val fits = Seq[(String, CollectBound => DataFrame)](
    ("bradleyTerry", btFit _), ("bradleyTerryTies", tiesFit _),
    ("bradleyTerryOrder", orderFit _), ("plackettLuce", plFit _),
    ("rankCentrality", rcFit _))

  test("bradleyTerry: recovers a planted total order; win probs track strengths") {
    // Planted strengths x > y > z via lopsided head-to-head records:
    // x beats y 8/2, x beats z 9/1, y beats z 7/3.
    val cmp = (
      Seq.fill(8)(("x", "y")) ++ Seq.fill(2)(("y", "x")) ++
      Seq.fill(9)(("x", "z")) ++ Seq.fill(1)(("z", "x")) ++
      Seq.fill(7)(("y", "z")) ++ Seq.fill(3)(("z", "y"))
    ).toDF("winner", "loser")
    val got = Preferences.bradleyTerry(cmp, "winner", "loser", iters = 20)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.keySet == Set("x", "y", "z"))
    val (sx, sy, sz) = (got("x")._1, got("y")._1, got("z")._1)
    assert(sx > sy && sy > sz, s"order wrong: $sx, $sy, $sz")
    // mean-1 normalization
    assert(math.abs((sx + sy + sz) / 3.0 - 1.0) < 1e-4)
    // censuses: x won 17 of 20 comparisons it appeared in
    assert(got("x")._2 == 17L && got("x")._3 == 20L)
    // p_beat_avg is monotone in strength and matches gamma/(gamma+1)
    assert(got("x")._4 > got("y")._4 && got("y")._4 > got("z")._4)
    assert(math.abs(got("x")._4 - sx / (sx + 1.0)) < 1e-6)
  }

  test("bradleyTerry: symmetric records give equal strengths; deterministic replay") {
    val cmp = (Seq.fill(5)(("a", "b")) ++ Seq.fill(5)(("b", "a")))
      .toDF("winner", "loser")
    val r1 = Preferences.bradleyTerry(cmp, "winner", "loser")
      .orderBy("item").collect().map(_.toSeq).toSeq
    assert(r1.map(_(1)).distinct.size == 1, "equal records -> equal strengths")
    assert(r1.head(1) == 1.0, "mean-1 normalization on the symmetric pair")
    val r2 = Preferences.bradleyTerry(cmp, "winner", "loser")
      .orderBy("item").collect().map(_.toSeq).toSeq
    assert(r1 == r2, "bitwise deterministic")
  }

  test("bradleyTerry: driver fast path is bitwise identical to the distributed MM") {
    assert(rows(btFit(CollectBound.Default)) == rows(btFit(CollectBound.InPlace)),
      "collected and in-place sweeps must agree bitwise")
  }

  test("circularTriads: rock-paper-scissors is one cycle; transitive data none") {
    // Majority a>b, b>c, c>a: the canonical cyclic triad. k=3 complete
    // tournament, d_max = 1 -> consistency 0.
    val rps = (Seq.fill(3)(("a", "b")) ++ Seq.fill(1)(("b", "a")) ++
      Seq.fill(3)(("b", "c")) ++ Seq.fill(3)(("c", "a"))).toDF("winner", "loser")
    val r = graft.operators.Preferences.circularTriads(rps, "winner", "loser")
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 1L, "one cyclic triad")
    assert(r.getDouble(4) == 0.0, "fully inconsistent")
    // Transitive a>b>c (and a>c): zero cycles, consistency 1.
    val lin = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("winner", "loser")
    val l = graft.operators.Preferences.circularTriads(lin, "winner", "loser")
      .collect().head
    assert(l.getLong(3) == 0L && l.getDouble(4) == 1.0)
    // Tied pair -> incomplete tournament -> coefficient null.
    val tied = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"))
      .toDF("winner", "loser")
    val td = graft.operators.Preferences.circularTriads(tied, "winner", "loser")
      .collect().head
    assert(td.getLong(2) == 2L, "a-b undecided")
    assert(td.isNullAt(4), "coefficient undefined on partial tournaments")
  }

  test("bradleyTerryCalibration: perfect two-item fit has zero gap; lopsided triads gap") {
    // Two items: the BT model can always match a single pair's rate
    // exactly, so the gap is ~0 (up to the 6dp fit grid).
    val two = (Seq.fill(7)(("a", "b")) ++ Seq.fill(3)(("b", "a")))
      .toDF("winner", "loser")
    val r2 = graft.operators.Preferences
      .bradleyTerryCalibration(two, "winner", "loser", iters = 20)
      .collect().head
    assert(r2.getDouble(6) < 0.001, s"two-item gap ${r2.getDouble(6)}")
    assert(r2.getDouble(5) == 0.7, "empirical rate 7/10")
    // Rock-paper-scissors: no strength vector explains any pair; all
    // three gaps are large (model says ~1/2 everywhere).
    val rps = (Seq.fill(9)(("a", "b")) ++ Seq.fill(1)(("b", "a")) ++
      Seq.fill(9)(("b", "c")) ++ Seq.fill(1)(("c", "b")) ++
      Seq.fill(9)(("c", "a")) ++ Seq.fill(1)(("a", "c"))).toDF("winner", "loser")
    val gaps = graft.operators.Preferences
      .bradleyTerryCalibration(rps, "winner", "loser", iters = 20)
      .select("abs_gap").collect().map(_.getDouble(0))
    assert(gaps.length == 3 && gaps.forall(_ > 0.3),
      s"cyclic data must misfit every pair: ${gaps.toSeq}")
  }

  test("bradleyTerryTies: ties pull strengths together; tie-free matches plain BT order") {
    // x dominates y in decided games, but half the records are ties —
    // strengths must still order x > y, with ties counted in the census.
    val cmp = tiesCmp
    val got = graft.operators.Preferences
      .bradleyTerryTies(cmp, "item_a", "item_b", "outcome", theta = 1.5, iters = 20)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("x")._1 > got("y")._1 && got("y")._1 > got("z")._1,
      s"order wrong: $got")
    assert(got("x")._2 == 12L, "x won 6+6 decided games")
    assert(got("x")._3 == 10L, "x tied 8+2 times")
    // collected == in place, bitwise
    assert(rows(tiesFit(CollectBound.Default)) == rows(tiesFit(CollectBound.InPlace)))
    // theta = 1 rejected (ties would carry zero mass)
    intercept[IllegalArgumentException] {
      graft.operators.Preferences.bradleyTerryTies(
        cmp, "item_a", "item_b", "outcome", theta = 1.0)
    }
  }

  test("positionBias: planted bias flags; balanced data does not") {
    // 40 comparisons, first wins 36 -> chi2 = (2*36-40)^2/40 = 25.6 > 3.841.
    val biased = ((1 to 36).map(_ => ("a", "a")) ++ (1 to 4).map(_ => ("b", "a")))
      .toDF("winner", "first")
    val b = graft.operators.Preferences.positionBias(biased, "winner", "first")
      .collect().head
    assert(b.getLong(0) == 40L && b.getLong(1) == 36L)
    assert(b.getDouble(2) == 0.9 && b.getDouble(3) == 25.6)
    assert(b.getBoolean(4), "36/40 first wins must flag")
    // 50/50: chi2 = 0.
    val fair = ((1 to 20).map(_ => ("a", "a")) ++ (1 to 20).map(_ => ("b", "a")))
      .toDF("winner", "first")
    val f = graft.operators.Preferences.positionBias(fair, "winner", "first")
      .collect().head
    assert(f.getDouble(3) == 0.0 && !f.getBoolean(4))
  }

  test("circularTriads: complete-tournament degree identity matches brute enumeration") {
    // Seeded complete tournament on 9 items: every pair decided once,
    // direction from a fixed hash — the fast path (Kendall's
    // d = C(k,3) − Σ C(wins_i, 2)) must agree with independent
    // brute-force triangle counting.
    val items = (0 until 9).map(i => s"it$i")
    val dirs = for {
      i <- items.indices; j <- items.indices if i < j
    } yield {
      val h = (i * 31 + j * 17) % 5
      if (h < 3) (items(i), items(j)) else (items(j), items(i))
    }
    val winsOf = dirs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val beats = dirs.toSet
    val brute = (for {
      a <- items; b <- items; c <- items
      if a < b && b < c
    } yield {
      val tri = Seq((a, b), (b, c), (a, c)).map(p => beats.contains(p))
      // cyclic iff no item beats both others in the triad
      val w = Seq(a, b, c).map(x =>
        Seq((x, a), (x, b), (x, c)).count(beats.contains))
      if (w.max < 2) 1 else 0
    }).sum.toLong
    val identity = {
      val k = 9L
      k * (k - 1) * (k - 2) / 6 -
        winsOf.values.map(w => w * (w - 1) / 2).sum
    }
    assert(identity == brute, s"identity $identity != brute $brute")
    val r = graft.operators.Preferences.circularTriads(
      dirs.toDF("winner", "loser"), "winner", "loser").collect().head
    assert(r.getLong(0) == 9L && r.getLong(2) == 36L, "complete tournament")
    assert(r.getLong(3) == brute, s"engine ${r.getLong(3)} != brute $brute")
    // ζ = 1 − d/d_max, d_max = 9·80/24 = 30 for odd k
    assert(r.getDouble(4) ==
      BigDecimal(1.0 - brute.toDouble / 30.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("bradleyTerry: byte-bounded driver gate falls back to the distributed path") {
    // Long string keys: 4 rows but ~enough bytes that a tiny byte
    // limit rejects the driver collect; results must stay bitwise
    // identical to the driver fold.
    val big = "k" * 200
    val cmp = (
      Seq.fill(6)((s"${big}x", s"${big}y")) ++ Seq.fill(2)((s"${big}y", s"${big}x")) ++
      Seq.fill(5)((s"${big}x", s"${big}z")) ++ Seq.fill(4)((s"${big}z", s"${big}y"))
    ).toDF("winner", "loser")
    def fit(byteLimit: Long) = rows(Preferences.bradleyTerry(cmp, "winner", "loser",
      10, CollectBound(Long.MaxValue, byteLimit)))
    assert(fit(Long.MaxValue) == fit(0L),
      "byte-gated in-place sweeps must agree bitwise with the collected fold")
  }

  test("bradleyTerryOrder: pure position effect loads on theta, not strengths") {
    // Two equal items; the first-shown side wins 9 of 10 in EACH
    // presentation direction (interior MLE: theta* = 9 at gamma 1,1 —
    // a boundary all-first-wins fixture would diverge). A plain BT fit
    // sees symmetric records (gamma 1,1) and can't explain the data;
    // the order model pushes the whole signal into theta.
    val cmp = (
      (1 to 9).map(_ => ("a", "b", "a")) ++ Seq(("b", "a", "a")) ++
      (1 to 9).map(_ => ("b", "a", "b")) ++ Seq(("a", "b", "b"))
    ).toDF("winner", "loser", "first")
    val got = graft.operators.Preferences
      .bradleyTerryOrder(cmp, "winner", "loser", "first", iters = 40)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(4)))
      .toMap
    assert(math.abs(got("a")._1 - got("b")._1) < 1e-6,
      s"equal items must stay equal: ${got("a")._1} vs ${got("b")._1}")
    assert(got("a")._2 > 3.0, s"position effect: theta ${got("a")._2}")
    // swap the presentation labels -> advantage inverts: theta' ~ 1/theta
    val swapped = cmp.select(col("winner"), col("loser"),
      when(col("first") === col("winner"), col("loser"))
        .otherwise(col("winner")).as("first"))
    val thetaInv = graft.operators.Preferences
      .bradleyTerryOrder(swapped, "winner", "loser", "first", iters = 40)
      .collect().head.getDouble(4)
    assert(math.abs(got("a")._2 * thetaInv - 1.0) < 0.05,
      s"reciprocity: ${got("a")._2} * $thetaInv")
  }

  test("bradleyTerryOrder: balanced presentation gives theta ~ 1 and the BT order") {
    // Strength-driven outcomes with presentation alternating evenly:
    // theta stays near 1 and the strength order matches plain BT's.
    val rows = (0 until 10).flatMap { i =>
      val first = if (i % 2 == 0) "x" else "y"
      val xy = if (i < 8) ("x", "y") else ("y", "x") // x beats y 8/2
      val xz = if (i < 9) ("x", "z") else ("z", "x")
      val yz = if (i < 7) ("y", "z") else ("z", "y")
      Seq((xy._1, xy._2, first), (xz._1, xz._2, if (i % 2 == 0) "x" else "z"),
        (yz._1, yz._2, if (i % 2 == 0) "y" else "z"))
    }
    val got = graft.operators.Preferences
      .bradleyTerryOrder(rows.toDF("winner", "loser", "first"),
        "winner", "loser", "first", iters = 20)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(4)))
      .toMap
    val (sx, sy, sz) = (got("x")._1, got("y")._1, got("z")._1)
    assert(sx > sy && sy > sz, s"order wrong: $sx $sy $sz")
    assert(got("x")._2 > 0.6 && got("x")._2 < 1.7,
      s"balanced presentation: theta ${got("x")._2} should sit near 1")
  }

  test("bradleyTerryOrder: driver fast path is bitwise identical to distributed") {
    assert(rows(orderFit(CollectBound.Default)) == rows(orderFit(CollectBound.InPlace)),
      "collected and in-place alternating sweeps must agree bitwise")
  }

  test("bradleyTerryStdErr: se shrinks as 1/sqrt(n); fit is count-scale invariant") {
    val base = (
      Seq.fill(8)(("x", "y")) ++ Seq.fill(2)(("y", "x")) ++
      Seq.fill(9)(("x", "z")) ++ Seq.fill(1)(("z", "x")) ++
      Seq.fill(7)(("y", "z")) ++ Seq.fill(3)(("z", "y"))
    )
    def fit(reps: Int) = Preferences
      .bradleyTerryStdErr((1 to reps).flatMap(_ => base).toDF("winner", "loser"),
        "winner", "loser", iters = 10)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(4), r.getDouble(5)))
      .toMap
    val (f1, f4) = (fit(1), fit(4))
    for (it <- Seq("x", "y", "z")) {
      assert(f1(it)._1 == f4(it)._1,
        s"MM fit must be invariant to count scaling: $it ${f1(it)._1} vs ${f4(it)._1}")
      assert(f4(it)._2 > f1(it)._2 * 3.9 && f4(it)._2 < f1(it)._2 * 4.1,
        s"4x comparisons must ~4x the information: $it")
      assert(math.abs(f4(it)._3 - f1(it)._3 / 2.0) < 1e-5,
        s"4x comparisons must halve the SE: $it ${f1(it)._3} -> ${f4(it)._3}")
    }
    // more comparisons -> tighter: x appears in 20, so its SE beats a
    // 10-comparison fixture's
    assert(f1.values.forall(v => v._3 > 0))
  }

  test("judgeQc: planted biased judge flags; anti-judge gets negative kappa") {
    // Two disjoint pairs with OPPOSITE pooled-majority directions (so
    // the majority verdict varies and kappa is non-degenerate):
    // (a,b) -> majority a (the lexicographically smaller side), and
    // (c,d) -> majority d (the larger side). Judges: j0 faithful with
    // alternating presentation, j1 faithful but ALWAYS shown-first-wins
    // (position-pure), j2 contrarian on every pair.
    val rows = (0 until 10).flatMap { i =>
      val alt = i % 2 == 0
      Seq(
        ("a", "b", if (alt) "a" else "b", "j0"),
        ("d", "c", if (alt) "d" else "c", "j0"),
        ("a", "b", "a", "j1"),
        ("d", "c", "d", "j1"),
        ("b", "a", if (alt) "a" else "b", "j2"),
        ("c", "d", if (alt) "d" else "c", "j2"))
    }
    val df = rows.toDF("winner", "loser", "first", "judge")
    val got = graft.operators.Preferences
      .judgeQc(df, "winner", "loser", "first", "judge", iters = 10)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getBoolean(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    assert(got.keySet == Set("j0", "j1", "j2"))
    // position: j0/j2 alternate presentation (rate 0.5, unbiased); j1
    // always matches first (rate 1, chi2 = 20 -> biased)
    assert(got("j0")._2 == 0.5 && !got("j0")._3)
    assert(got("j1")._2 == 1.0 && got("j1")._3, "position-addicted judge must flag")
    assert(got("j2")._2 == 0.5 && !got("j2")._3)
    // conformity: j0 matches the pooled majority on both pairs (kappa
    // 1 with split marginals), j2 opposes both (kappa -1)
    assert(got("j0")._5 == 1.0, s"faithful judge kappa ${got("j0")._5}")
    assert(got("j2")._5 == -1.0, s"contrarian judge kappa ${got("j2")._5}")
    // calibration: the contrarian's empirical rates sit farther from
    // the pooled fit than the faithful judge's
    assert(got("j0")._4 < got("j2")._4)
  }

  test("itemWinRates: Wilson bounds match rateWilson on the same (n, k); zero-win item") {
    val cmp = (
      (1 to 15).map(_ => ("a", "b")) ++ (1 to 5).map(_ => ("b", "a")) ++
      (1 to 4).map(_ => ("b", "c"))
    ).toDF("winner", "loser")
    // a: n=20 k=15; b: n=24 k=9; c: n=4 k=0
    val got = Preferences.itemWinRates(cmp, "winner", "loser")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)) ->
        (r.getString(0), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(got.keySet == Set((20L, 15L), (24L, 9L), (4L, 0L)))
    // the same (n, k) through rateWilson must give identical bounds —
    // one day per item with matching event counts
    val ev = (
      (1 to 20).map(i => ("2024-01-01 00:00:00", if (i <= 15) "purchase" else "view")) ++
      (1 to 24).map(i => ("2024-01-02 00:00:00", if (i <= 9) "purchase" else "view")) ++
      (1 to 4).map(_ => ("2024-01-03 00:00:00", "view"))
    ).toDF("ts_s", "event_type")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"))
    val wr = graft.operators.EventAnalytics
      .rateWilson(ev, "ts", col("event_type") === "purchase")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> (r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    for ((nk, (_, rate, lo, hi)) <- got) {
      val (r2, l2, h2) = wr(nk)
      assert(rate == r2 && lo == l2 && hi == h2,
        s"$nk: ($rate,$lo,$hi) != ($r2,$l2,$h2)")
    }
    // zero-win item: interval floored sensibly inside [0,1]
    val (_, _, cLo, cHi) = got((4L, 0L))
    assert(cLo == 0.0 && cHi > 0.0 && cHi < 0.7)
  }

  test("bradleyTerry: self-comparisons and null sides are dropped") {
    val cmp = Seq(
      (Some("a"), Some("b")), (Some("a"), Some("a")), (None, Some("b")),
      (Some("b"), None), (Some("b"), Some("a"))
    ).toDF("winner", "loser")
    val got = Preferences.bradleyTerry(cmp, "winner", "loser")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got == Map("a" -> 2L, "b" -> 2L), s"censuses wrong: $got")
  }

  test("preferenceConnectivity: a planted 2-island tournament is flagged; the plain fit is not") {
    // Island 1: a > b > c (complete); island 2: x > y. No comparison
    // ever crosses islands, so cross-island strength ratios from a
    // plain BT fit are pure gauge — the fit itself runs happily (that
    // is the trap); only the connectivity gate names the degeneracy.
    val cmp = (
      Seq.fill(4)(("a", "b")) ++ Seq.fill(4)(("b", "c")) ++
      Seq.fill(4)(("a", "c")) ++ Seq.fill(6)(("x", "y"))
    ).toDF("winner", "loser")
    val rows = Preferences.preferenceConnectivity(cmp, "winner", "loser")
      .orderBy("component").collect()
    assert(rows.length == 2, s"expected 2 islands, got ${rows.length}")
    val byComp = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // island "a": 3 items, 3 pairs, 12 comparisons; c never wins,
    // a never loses
    assert(byComp("a") == ((3L, 3L, 12L, 1L, 1L)), s"island a: ${byComp("a")}")
    // island "x": 2 items, 1 pair, 6 comparisons; y never wins,
    // x never loses
    assert(byComp("x") == ((2L, 1L, 6L, 1L, 1L)), s"island x: ${byComp("x")}")
    // the degeneracy the gate exists for: the PLAIN fit runs without
    // complaint on the same data and publishes strengths for all five
    // items on one mean-1 scale — nothing in its output distinguishes
    // the meaningless cross-island ratios
    val fit = Preferences.bradleyTerry(cmp, "winner", "loser", iters = 10)
      .collect()
    assert(fit.length == 5, "plain fit happily publishes all five items")
    // a healthy (connected) tournament reads as ONE row
    val healthy = (cmp.collect().map(r => (r.getString(0), r.getString(1)))
      :+ (("c", "x"))).toSeq.toDF("winner", "loser")
    assert(Preferences.preferenceConnectivity(healthy, "winner", "loser")
      .count() == 1L)
  }

  /** Sequential PL sampler: choose stage-by-stage proportional to the
    * remaining strengths (the model's own generative story).
    */
  private def samplePlRankings(
      strengths: Seq[(String, Double)], n: Int, seed: Long): Seq[(Int, String, Int)] = {
    val rng = new scala.util.Random(seed)
    (0 until n).flatMap { g =>
      var rem = strengths.toBuffer
      (1 to strengths.size).map { pos =>
        val tot = rem.map(_._2).sum
        var u = rng.nextDouble() * tot
        var i = 0
        while (i < rem.size - 1 && u > rem(i)._2) { u -= rem(i)._2; i += 1 }
        val it = rem.remove(i)._1
        (g, it, pos)
      }
    }
  }

  test("plackettLuce: recovers a planted order from listwise rankings") {
    val planted = Seq("a" -> 4.0, "b" -> 2.0, "c" -> 1.0, "d" -> 0.5)
    val rk = samplePlRankings(planted, 600, seed = 7L)
      .toDF("session", "item", "rank")
    val got = Preferences.plackettLuce(rk, "session", "item", "rank", iters = 20)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == Set("a", "b", "c", "d"))
    val s = got.view.mapValues(_._1).toMap
    assert(s("a") > s("b") && s("b") > s("c") && s("c") > s("d"),
      s"order wrong: $s")
    // mean-1 normalization
    assert(math.abs(s.values.sum / 4.0 - 1.0) < 1e-4)
    // every item appears in every 4-item ranking; chosen = not-last
    assert(got.values.forall(_._3 == 600L))
    assert(got.values.map(_._2).sum == 600L * 3L, "3 choice stages per ranking")
  }

  test("plackettLuce: driver fast path is bitwise identical to the distributed sweeps") {
    assert(rows(plFit(CollectBound.Default)) == rows(plFit(CollectBound.InPlace)),
      "collected and in-place sweeps must agree bitwise")
  }

  test("plackettLuce: two-item rankings agree with bradleyTerry") {
    // PL with m = 2 IS Bradley-Terry; the only daylight is grid
    // staging (PL rounds per ordered ordering, BT per unordered pair),
    // so compare to tolerance, not bitwise.
    val cmp = (
      Seq.fill(8)(("x", "y")) ++ Seq.fill(2)(("y", "x")) ++
      Seq.fill(9)(("x", "z")) ++ Seq.fill(1)(("z", "x")) ++
      Seq.fill(7)(("y", "z")) ++ Seq.fill(3)(("z", "y"))
    ).toDF("winner", "loser")
    val bt = Preferences.bradleyTerry(cmp, "winner", "loser", iters = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rk = cmp.collect().zipWithIndex.flatMap { case (r, g) =>
      Seq((g, r.getString(0), 1), (g, r.getString(1), 2))
    }.toSeq.toDF("session", "item", "rank")
    val pl = Preferences.plackettLuce(rk, "session", "item", "rank", iters = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bt.keySet == pl.keySet)
    bt.foreach { case (it, v) =>
      assert(math.abs(v - pl(it)) < 1e-4, s"$it: bt $v vs pl ${pl(it)}")
    }
  }

  test("plackettLuce: input hygiene — dup items keep best rank, singletons and nulls drop") {
    val rk = Seq(
      (1, "a", 1), (1, "b", 2), (1, "a", 3),      // dup a keeps rank 1
      (2, "b", 1), (2, "a", 2),
      (3, "a", 1),                                // singleton session: drops
      (4, "a", 1), (4, "b", 2)
    ).toDF("session", "item", "rank")
      .unionByName(Seq((5, null.asInstanceOf[String], 1), (5, "b", 2))
        .toDF("session", "item", "rank"))        // null item drops -> singleton
    val got = Preferences.plackettLuce(rk, "session", "item", "rank", iters = 5)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    // 3 surviving sessions: a>b, b>a, a>b
    assert(got("a") == ((2L, 3L)), s"a census: ${got("a")}")
    assert(got("b") == ((1L, 3L)), s"b census: ${got("b")}")
  }

  test("rankCentrality: recovers the planted order and agrees with the BT ranking") {
    val cmp = (
      Seq.fill(8)(("x", "y")) ++ Seq.fill(2)(("y", "x")) ++
      Seq.fill(9)(("x", "z")) ++ Seq.fill(1)(("z", "x")) ++
      Seq.fill(7)(("y", "z")) ++ Seq.fill(3)(("z", "y"))
    ).toDF("winner", "loser")
    val rc = Preferences.rankCentrality(cmp, "winner", "loser", iters = 20)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    assert(rc.keySet == Set("x", "y", "z"))
    val s = rc.view.mapValues(_._1).toMap
    assert(s("x") > s("y") && s("y") > s("z"), s"order wrong: $s")
    // stationary distribution sums to ~1
    assert(math.abs(s.values.sum - 1.0) < 1e-4)
    // censuses match the BT fit's
    assert(rc("x")._2 == 17L && rc("x")._3 == 20L)
    // the two estimators rank identically on clean transitive data
    val bt = Preferences.bradleyTerry(cmp, "winner", "loser", iters = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s.toSeq.sortBy(-_._2).map(_._1) == bt.toSeq.sortBy(-_._2).map(_._1))
  }

  test("rankCentrality: driver fast path is bitwise identical to the distributed sweeps") {
    assert(rows(rcFit(CollectBound.Default)) == rows(rcFit(CollectBound.InPlace)),
      "collected and in-place sweeps must agree bitwise")
  }

  test("rankCentrality: symmetric records give the uniform stationary vector") {
    val cmp = (
      Seq.fill(5)(("a", "b")) ++ Seq.fill(5)(("b", "a")) ++
      Seq.fill(5)(("b", "c")) ++ Seq.fill(5)(("c", "b")) ++
      Seq.fill(5)(("a", "c")) ++ Seq.fill(5)(("c", "a"))
    ).toDF("winner", "loser")
    val rc = Preferences.rankCentrality(cmp, "winner", "loser")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rc.values.forall(v => math.abs(v - 1.0 / 3) < 1e-5), s"not uniform: $rc")
  }

  test("bradleyTerryBySlice: per-slice fits flag a planted order flip; single slice == plain fit") {
    // pooled: a and b look even; sliced: a dominates in A, b in B
    val cmp = (
      Seq.fill(8)(("A", "a", "b")) ++ Seq.fill(2)(("A", "b", "a")) ++
      Seq.fill(2)(("B", "a", "b")) ++ Seq.fill(8)(("B", "b", "a"))
    ).toDF("seg", "winner", "loser")
    val got = Preferences.bradleyTerryBySlice(cmp, "seg", "winner", "loser", iters = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got(("A", "a")) > got(("A", "b")), "slice A: a should dominate")
    assert(got(("B", "b")) > got(("B", "a")), "slice B: b should dominate")
    // the flip the pooled fit averages away
    val pooled = Preferences.bradleyTerry(cmp, "winner", "loser", iters = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pooled("a") - pooled("b")) < 1e-6, "pooled strengths are even")
    // one-slice output is BITWISE the plain fit plus the slice tag
    val one = cmp.filter(col("seg") === "A")
    val sliced = Preferences.bradleyTerryBySlice(one, "seg", "winner", "loser")
      .select("item", "strength", "n_wins", "n_comparisons", "p_beat_avg")
      .orderBy("item").collect().map(_.toSeq).toSeq
    val plain = Preferences.bradleyTerry(one, "winner", "loser")
      .orderBy("item").collect().map(_.toSeq).toSeq
    assert(sliced == plain, "single slice must reproduce the plain fit bitwise")
    // the slice cap fails loudly
    val ex = intercept[IllegalArgumentException](
      Preferences.bradleyTerryBySlice(cmp, "seg", "winner", "loser", maxSlices = 1))
    assert(ex.getMessage.contains("maxSlices"))
  }

  test("bradleyTerryBySlice: over-limit slices fall back distributed BEFORE any census collect, same output") {
    // r20 gate: the pair-row/byte bound is checked from a slice-grain
    // stats job before the census collect, so an over-bound slice is
    // swept in place (never collected) and the under-bound slice is
    // collected — outputs identical to the all-collected run.
    val cmp = (
      Seq.fill(8)(("A", "a", "b")) ++ Seq.fill(2)(("A", "b", "a")) ++
      Seq.fill(2)(("B", "a", "b")) ++ Seq.fill(8)(("B", "b", "a")) ++
      Seq.fill(3)(("B", "c", "a"))
    ).toDF("seg", "winner", "loser")
    val default = Preferences.bradleyTerryBySlice(cmp, "seg", "winner", "loser")
      .orderBy("slice", "item").collect().map(_.toSeq).toSeq
    // row bound 2: slice B (3 distinct pairs) exceeds it and is swept
    // in place; slice A (1 pair) is collected
    def fit(bound: CollectBound) = Preferences
      .bradleyTerryBySlice(cmp, "seg", "winner", "loser", 10, 1000, bound)
      .orderBy("slice", "item").collect().map(_.toSeq).toSeq
    assert(fit(CollectBound.Default.copy(rows = 2L)) == default,
      "in-place sweeps must reproduce the collected fit bitwise")
    // byte bound 1: EVERY slice is swept in place; still identical
    assert(fit(CollectBound.Default.copy(bytes = 1L)) == default)
  }

  test("rankBreak: every in-session pair, winner = better-ranked; hygiene matches plackettLuce") {
    val rk = Seq(
      (1, "a", 1), (1, "b", 2), (1, "c", 3),
      (2, "c", 1), (2, "a", 2),
      (3, "a", 1),                       // singleton: contributes nothing
      (4, "b", 10), (4, "b", 20), (4, "a", 30) // dup b keeps rank 10
    ).toDF("session", "item", "rank")
    val got = Preferences.rankBreak(rk, "session", "item", "rank")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    assert(got == Seq(
      ("1", "a", "b"), ("1", "a", "c"), ("1", "b", "c"),
      ("2", "c", "a"),
      ("4", "b", "a")), s"pairs wrong: $got")
    // the bridge feeds the pairwise gates: one session ranking can
    // never self-cycle, so triads on a single 3-item session read 0
    val tri = Preferences.circularTriads(
      Preferences.rankBreak(rk.filter(col("session") === 1), "session", "item", "rank"),
      "winner", "loser").collect().head
    assert(tri.getLong(3) == 0L, "a total order has no cyclic triads")
  }

  test("listwiseTopRates: first-place census with Wilson bounds matching itemWinRates arithmetic") {
    // 4 sessions: a first in 3, b first in 1, c never
    val rk = Seq(
      (1, "a", 1), (1, "b", 2), (1, "c", 3),
      (2, "a", 1), (2, "c", 2),
      (3, "b", 1), (3, "a", 2),
      (4, "a", 1), (4, "b", 2), (4, "c", 3)
    ).toDF("session", "item", "rank")
    val got = Preferences.listwiseTopRates(rk, "session", "item", "rank")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(got("a")._1 == 4L && got("a")._2 == 3L && got("a")._3 == 0.75)
    assert(got("b")._1 == 3L && got("b")._2 == 1L)
    assert(got("c")._1 == 3L && got("c")._2 == 0L && got("c")._3 == 0.0)
    // Wilson tree mirrors itemWinRates term for term: same (n, k) in
    // must give the same interval out
    val cmp = (Seq.fill(3)(("i", "j")) :+ (("j", "i")))
      .toDF("winner", "loser")
    val wref = Preferences.itemWinRates(cmp, "winner", "loser")
      .filter(col("item") === "i").collect().head
    assert(wref.getLong(1) == 4L && wref.getLong(2) == 3L)
    assert(got("a")._4 == wref.getDouble(4) && got("a")._5 == wref.getDouble(5),
      "same (n=4, k=3) must give the same Wilson bounds")
    // bounds are honest: rate inside, lo < rate < hi for interior rates
    assert(got("b")._4 < got("b")._3 && got("b")._3 < got("b")._5)
  }

  test("plackettLuce: an always-last item sinks toward zero with n_chosen = 0") {
    val rk = (0 until 30).flatMap { g =>
      val top = if (g % 2 == 0) Seq("a", "b") else Seq("b", "a")
      (top :+ "z").zipWithIndex.map { case (it, i) => (g, it, i + 1) }
    }.toDF("session", "item", "rank")
    val got = Preferences.plackettLuce(rk, "session", "item", "rank", iters = 15)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got("z")._2 == 0L)
    assert(got("z")._1 < 0.05, s"always-last strength: ${got("z")._1}")
    assert(got("a")._1 > 1.0 && got("b")._1 > 1.0)
  }

  test("in-place sweeps are bitwise the collected fold on 1 and on 7 census partitions") {
    // exact decimal partial sums merge to the same bits in any order,
    // so the partitioning of the cached census cannot show in the output
    fits.foreach { case (name, fit) =>
      val collected = rows(fit(CollectBound.Default))
      Seq(1, 7).foreach { n =>
        val inPlace = withShufflePartitions(n)(rows(fit(CollectBound.InPlace)))
        assert(inPlace == collected, s"$name on $n partitions")
      }
    }
  }

  test("every fit releases its census cache, collected and in place") {
    val bySlice = (bound: CollectBound) => Preferences.bradleyTerryBySlice(
      btCmp.withColumn("seg", when(col("winner") < "y", "p").otherwise("q")),
      "seg", "winner", "loser", 10, 1000, bound)
    (fits :+ (("bradleyTerryBySlice", bySlice))).foreach { case (name, fit) =>
      val collected = Meter.measure(spark)(fit(CollectBound.Default).collect())
      val inPlace = Meter.measure(spark)(fit(CollectBound.InPlace).collect())
      assert(collected.cachedPlans == 0 && inPlace.cachedPlans == 0, name)
      // in place, each of the 10 sweeps is its own job over the cache
      assert(inPlace.jobs >= collected.jobs + 9, s"$name did not sweep in place")
    }
  }

  test("an item vector past the item bound fails loudly and names the bound") {
    // 100001 comparisons in a chain: 100002 items, over the 100000 bound
    val chain = spark.range(100001L)
      .select(col("id").cast("string").as("winner"),
        (col("id") + 1L).cast("string").as("loser"))
    val ex = intercept[IllegalArgumentException](
      Preferences.bradleyTerry(chain, "winner", "loser"))
    assert(ex.getMessage.contains("item vector exceeds 100000 rows"), ex.getMessage)
  }
}
