package graft

import org.apache.spark.sql.functions._

import graft.operators.{ClusterStore, Ingest, TrainingData}

/** Per-batch ingestion composition: hard copies drop, soft revisions
  * survive but LINK, state extends append-only, replays are no-ops.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = s"target/tmp/${name}_${System.nanoTime()}"

  // 40 distinct words; the revision swaps the last 8 -> 3-gram jaccard
  // ~0.65: above the 0.5 link threshold, far below the 0.9 drop one.
  private val baseWords = (1 to 40).map(i => s"w$i")
  private val baseText = baseWords.mkString(" ")
  private val revisionText =
    (baseWords.take(32) ++ (1 to 8).map(i => s"z$i")).mkString(" ")

  test("ingestIncrement: hard copies drop, soft revisions link, replays are no-ops") {
    val idx = tmp("ingest_idx")
    val store = tmp("ingest_store")
    val out = tmp("ingest_out")
    val b1 = Seq(
      (1L, baseText),
      (2L, (100 to 140).map(i => s"q$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val b2 = Seq(
      (11L, baseText),      // exact copy of 1 -> dropped
      (12L, revisionText),  // soft revision of 1 -> kept, LINKED
      (13L, (200 to 240).map(i => s"r$i").mkString(" "))) // novel
      .toDF("doc_id", "text")

    val r1 = Ingest.ingestIncrement(b1, "doc_id", "text", idx, store, out, batchId = 0L)
    assert(r1.dropped == 0)
    assert(r1.survivors.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))

    val r2 = Ingest.ingestIncrement(b2, "doc_id", "text", idx, store, out, batchId = 1L)
    assert(r2.dropped == 1, "the exact copy must drop")
    assert(r2.survivors.select("doc_id").as[Long].collect().toSet == Set(12L, 13L))

    // the revision joined doc 1's cluster; unrelated docs stayed singleton
    val m = ClusterStore.read(spark, store).as[(Long, Long)].collect().toMap
    assert(m.get(12L).contains(1L), s"revision must link to the base: $m")
    assert(!m.contains(2L) && !m.contains(13L), s"singletons stay absent: $m")

    // standing split can never separate base from revision
    val corpus = b1.unionByName(b2.filter(col("doc_id") =!= 11L))
    val split = TrainingData.leakageSafeSplitIncremental(
        corpus, "doc_id", store, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(split(1L) == split(12L), s"linked docs share a split: $split")

    // REPLAY of batch 1: identical survivors, no double state
    val r2b = Ingest.ingestIncrement(b2, "doc_id", "text", idx, store, out, batchId = 1L)
    assert(r2b.dropped == 1)
    assert(r2b.survivors.select("doc_id").as[Long].collect().toSet == Set(12L, 13L))
    assert(ClusterStore.read(spark, store).as[(Long, Long)].collect().toMap == m)
    val deltas = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.startsWith("delta=")).toSet
    assert(deltas == Set("delta=0", "delta=1"))
    // index holds exactly the survivors' fingerprints
    assert(Ingest.readIndex(spark, idx).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 12L, 13L))
    // the landed corpus holds exactly the survivors, batch-partitioned
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 12L, 13L))

    // threshold sanity: a linkAgreement above dropAgreement is rejected
    intercept[IllegalArgumentException] {
      Ingest.ingestIncrement(b2, "doc_id", "text", idx, store, out, batchId = 2L,
        dropAgreement = 0.5, linkAgreement = 0.9)
    }
  }

  test("ingestIncrement: a held result keeps its dropped count across a replay of its batch") {
    val (idx, store, out) = (tmp("held_idx"), tmp("held_store"), tmp("held_out"))
    Ingest.ingestIncrement(Seq((1L, baseText)).toDF("doc_id", "text"),
      "doc_id", "text", idx, store, out, batchId = 0L)
    val held = Ingest.ingestIncrement(
      Seq((11L, baseText), (12L, revisionText)).toDF("doc_id", "text"),
      "doc_id", "text", idx, store, out, batchId = 1L)
    // the replay lands different survivors over batch=1's files
    val replay = Ingest.ingestIncrement(
      Seq((21L, (300 to 340).map(i => s"s$i").mkString(" ")),
        (22L, (400 to 440).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", idx, store, out, batchId = 1L)
    assert(replay.dropped == 0L)
    assert(held.dropped == 1L, "the held result must keep its own count")
    // the counting leaves the session serializable (task closures that
    // capture it, like a RandomForest model's summary, still ship)
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream()).writeObject(spark)
  }

  test("ingestBackfill: N batches with one cluster fold == sequential ingestIncrement") {
    val b1 = Seq(
      (1L, baseText),
      (2L, (100 to 140).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val b2 = Seq(
      (11L, baseText),
      (12L, revisionText),
      (13L, (200 to 240).map(i => s"r$i").mkString(" ")))
      .toDF("doc_id", "text")
    val b3 = Seq(
      (21L, revisionText), // exact copy of 12 -> dropped
      (22L, (300 to 340).map(i => s"s$i").mkString(" ")))
      .toDF("doc_id", "text")

    // sequential reference
    val (idxS, stS, outS) = (tmp("bk_idx_s"), tmp("bk_st_s"), tmp("bk_out_s"))
    Seq((0L, b1), (1L, b2), (2L, b3)).foreach { case (i, b) =>
      Ingest.ingestIncrement(b, "doc_id", "text", idxS, stS, outS, batchId = i)
    }
    // backfill: same batches, one fold
    val (idxB, stB, outB) = (tmp("bk_idx_b"), tmp("bk_st_b"), tmp("bk_out_b"))
    val rs = Ingest.ingestBackfill(
      Seq((0L, b1), (1L, b2), (2L, b3)), "doc_id", "text", idxB, stB, outB)
    assert(rs.map(_.dropped) == Seq(0L, 1L, 1L))

    def landed(out: String) =
      spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(landed(outB) == landed(outS), "identical survivor landings")
    def fingerprints(idx: String) =
      Ingest.readIndex(spark, idx).orderBy("id").collect().map(_.toSeq).toSeq
    assert(fingerprints(idxB) == fingerprints(idxS), "identical index deltas")
    def membership(st: String) =
      ClusterStore.read(spark, st).as[(Long, Long)].collect().toMap
    assert(membership(stB) == membership(stS),
      "one batched fold must land the sequential membership")
    // the chain 1 ~ 12 (revision) must be clustered in both
    assert(membership(stB).get(12L).contains(1L))
  }

}
