package graft

import org.apache.spark.sql.functions._

import graft.operators.Selection

class SelectionSpec extends SparkSpec {
  import spark.implicits._

  test("kthSmallest matches the sorted reference across ranks, with duplicates") {
    val rng = new scala.util.Random(42)
    // Heavy duplicates + spread: the all-equal-bucket exit and the
    // histogram routing both get exercised.
    val vals = Seq.fill(5000)(rng.nextInt(300).toDouble) ++
      Seq.fill(500)(rng.nextDouble() * 1e9) ++ Seq.fill(200)(7.0)
    val df = vals.toDF("v")
    val sorted = vals.sorted
    for (k <- Seq(1, 2, 57, 700, 2849, 5000, vals.size)) {
      val got = Selection.kthSmallest(df, "v", k, tailThreshold = 64)
      assert(got == sorted(k - 1), s"k=$k")
    }
  }

  test("kthSmallest on a tiny tail goes straight to TakeOrdered") {
    val df = Seq(5.0, 1.0, 3.0, 2.0, 4.0).toDF("v")
    assert(Selection.kthSmallest(df, "v", 3) == 3.0)
    assert(Selection.kthSmallest(df, "v", 1) == 1.0)
    assert(Selection.kthSmallest(df, "v", 5) == 5.0)
  }

  test("nulls are ignored; NaN tail ranks return NaN; all-equal column returns the value") {
    val df = Seq(Some(2.0), None, Some(1.0), Some(Double.NaN), Some(3.0)).toDF("v")
    assert(Selection.kthSmallest(df, "v", 3) == 3.0) // nulls excluded
    assert(Selection.kthSmallest(df, "v", 4).isNaN)  // NaN after +inf
    intercept[IllegalArgumentException] { Selection.kthSmallest(df, "v", 5) }
    val same = Seq.fill(100000)(42.0).toDF("v")
    assert(Selection.kthSmallest(same, "v", 99999, tailThreshold = 10) == 42.0)
  }

  test("long columns route correctly through the monotone double cast") {
    val df = (1L to 100000L).toDF("v")
    assert(Selection.kthSmallest(df, "v", 12345, tailThreshold = 100) == 12345.0)
    assert(Selection.quantilesDisc(df, "v", Seq(0.5))(0.5) == 50000.0)
    assert(Selection.quantilesDisc(df, "v", Seq(0.0))(0.0) == 1.0)
    assert(Selection.quantilesDisc(df, "v", Seq(1.0))(1.0) == 100000.0)
  }

  test("quantileDisc uses the lower-nearest-rank definition") {
    val df = Seq(10.0, 20.0, 30.0, 40.0).toDF("v")
    assert(Selection.quantilesDisc(df, "v", Seq(0.5))(0.5) == 20.0)  // floor(0.5*3)+1 = rank 2
    assert(Selection.quantilesDisc(df, "v", Seq(0.75))(0.75) == 30.0) // floor(.75*3)+1 = rank 3
  }

  test("quantilesDisc: one descent, same answers as per-q calls, q=0/1 endpoints") {
    val rng = new scala.util.Random(3)
    val vals = Seq.fill(20000)(rng.nextDouble() * 1e7)
    val df = vals.toDF("v")
    val qs = Seq(0.0, 0.25, 0.5, 0.99, 1.0)
    val multi = Selection.quantilesDisc(df, "v", qs)
    qs.foreach(q => assert(multi(q) == Selection.quantilesDisc(df, "v", Seq(q))(q), s"q=$q"))
    assert(multi(0.0) == vals.min && multi(1.0) == vals.max)
  }

  test("kthSmallestMulti equals independent single-rank calls on every rank") {
    val rng = new scala.util.Random(7)
    val vals = Seq.fill(4000)(rng.nextInt(200).toDouble) ++
      Seq.fill(400)(rng.nextDouble() * 1e6) ++ Seq.fill(100)(Double.NaN)
    val df = vals.toDF("v")
    // Spread of ranks: some share early buckets, some diverge, one in
    // the NaN tail, plus duplicates of the same rank in the input.
    val ks = Seq(1L, 2L, 1000L, 1001L, 2500L, 4399L, 4450L, 1000L)
    val multi = Selection.kthSmallestMulti(df, "v", ks, tailThreshold = 64)
    ks.distinct.foreach { k =>
      val single = Selection.kthSmallest(df, "v", k, tailThreshold = 64)
      if (single.isNaN) assert(multi(k).isNaN, s"k=$k")
      else assert(multi(k) == single, s"k=$k")
    }
  }

  test("multi-rank shares scans: fewer Spark jobs than three single descents") {
    val rng = new scala.util.Random(11)
    val df = Seq.fill(50000)(rng.nextDouble() * 1e9).toDF("v").localCheckpoint(true)
    def jobsOf(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val ks = Seq(12500L, 25000L, 49500L)
    var multiRes: Map[Long, Double] = null
    val multiJobs = jobsOf("sel_multi") {
      multiRes = Selection.kthSmallestMulti(df, "v", ks, tailThreshold = 500)
    }
    var singleRes: Map[Long, Double] = null
    val singleJobs = jobsOf("sel_single") {
      singleRes = ks.map(k => k -> Selection.kthSmallest(df, "v", k, tailThreshold = 500)).toMap
    }
    assert(multiRes == singleRes)
    // Shared head pass + shared rounds until divergence: must beat the
    // three independent descents by a wide margin, not noise.
    assert(multiJobs * 2 <= singleJobs, s"multi=$multiJobs single=$singleJobs")
  }
}
