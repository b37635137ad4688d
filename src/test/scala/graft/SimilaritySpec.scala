package graft

import org.apache.spark.sql.functions.col

import graft.functions.VectorOps
import graft.operators.SimilaritySearch
import graft.sources.{TableIO, VersionedTable}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = TableIO.table(spark, Sf0001, "embeddings")
  private lazy val query: Seq[Double] = emb.filter(col("vec_id") === 0)
    .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)

  test("brute-force top-k: correct size, descending, deterministic") {
    val rows = SimilaritySearch.bruteForceTopK(
      emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", query, 10).collect()
    assert(rows.length == 10)
    val sims = rows.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    val again = SimilaritySearch.bruteForceTopK(
      emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", query, 10).collect()
    assert(rows.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("PCA->IVF: exhaustive mode is exact brute force; reduced routing keeps recall") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val n = corpus.count()
    val brute = SimilaritySearch.bruteForceTopK(
      corpus, "vec_id", "embedding", query, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))

    // Exhaustive identity: all cells probed + shortlist covering the
    // corpus => candidates = everything, re-rank = exact full-dim
    // cosine — equality holds whatever the eigenbasis or cells did.
    val idx = SimilaritySearch.buildPcaIvfIndex(
      corpus, "vec_id", "embedding", components = 16, nlist = 4, maxIter = 2)
    val exhaustive = SimilaritySearch.pcaIvfTopK(idx, "vec_id", query, 10,
        nprobe = 4, shortlist = ((n / 10) + 1).toInt).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(exhaustive.toSeq == brute.toSeq)

    // Reduced-shortlist recall with all cells probed (isolates the
    // 16-of-64-dim shortlist quality from cell-routing loss). The
    // fixture embeddings are ISOTROPIC (equal per-dim variance — the
    // truncation test's caveat): no 16-dim linear view can separate
    // neighbors much beyond chance here, so the pins are chance-level
    // floors plus recall MONOTONE in shortlist width; on real
    // (anisotropic) embeddings the variance-ordered basis is the whole
    // point.
    def recallAt(sl: Int): Double = {
      val approx = SimilaritySearch.pcaIvfTopK(idx, "vec_id", query, 10,
        nprobe = 4, shortlist = sl).collect().map(_.getLong(0)).toSet
      brute.map(_._1).count(approx) / 10.0
    }
    val r4 = recallAt(4)
    val r16 = recallAt(16)
    assert(r4 >= 0.2, s"PCA-reduced recall@10 = $r4 at shortlist 4")
    assert(r16 >= 0.5, s"PCA-reduced recall@10 = $r16 at shortlist 16")
    assert(r16 >= r4, s"recall must be monotone in shortlist: $r4 -> $r16")
    idx.release()
  }

  test("binary sign quantization: Hamming ranks approximate cosine; rerank recovers it") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = query.toArray
    val brute = SimilaritySearch.bruteForceTopK(corpus, "vec_id", "embedding", q, 20)
      .select("vec_id").as[Long].collect().toSet

    // Deterministic and total: k rows, hamming ascending, rerun-stable.
    val plain = SimilaritySearch.binarySignTopK(corpus, "vec_id", "embedding", q, 20)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(plain.length == 20)
    assert(plain.map(_._2).sliding(2).forall(w => w.head <= w.last))
    val again = SimilaritySearch.binarySignTopK(corpus, "vec_id", "embedding", q, 20)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(plain == again)

    // 1 bit/dim still carries signal: the Hamming shortlist overlaps the
    // true cosine top-k, and an exact re-rank of a wider shortlist dominates it.
    val plainRecall = plain.map(_._1).count(brute.contains)
    assert(plainRecall >= 4, s"binary recall $plainRecall/20 collapsed")
    // Shortlist + exact re-rank composed from the public forms: the
    // k * 8 Hamming shortlist, re-scored by exact cosine.
    val shortlist = SimilaritySearch.binarySignTopK(corpus, "vec_id", "embedding", q, 20 * 8)
      .select("vec_id")
    val reranked = SimilaritySearch.bruteForceTopK(
        corpus.join(shortlist, Seq("vec_id"), "left_semi"), "vec_id", "embedding", q, 20)
      .select("vec_id").as[Long].collect()
    val rerankRecall = reranked.count(brute.contains)
    assert(rerankRecall >= plainRecall, s"rerank $rerankRecall < plain $plainRecall")
    assert(rerankRecall >= 12, s"rerank recall $rerankRecall/20")

    // Codes at rest: the stored-words probe is bit-identical to the
    // in-session ranking (packing is deterministic).
    val path = s"target/tmp/bin_store_${System.nanoTime()}"
    SimilaritySearch.saveBinaryIndex(corpus, "vec_id", "embedding", path,
      carryCols = Seq("label"))
    val stored = SimilaritySearch.binaryTopKStored(spark, path, q, 20)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(stored == plain)
    // Attribute-filtered stored probe == in-session ranking of the
    // filtered corpus (carryCols co-located with the sign words).
    val storedF = SimilaritySearch
      .binaryTopKStoredWhere(spark, path, q, 20, col("label") === 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val plainF = SimilaritySearch.binarySignTopK(
      corpus.filter(col("label") === 1), "vec_id", "embedding", q, 20)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(storedF == plainF)

    // Tombstone lifecycle (same contract as the IVF/PQ stores):
    // deletion is metadata-only, probes exclude victims at load,
    // vacuum folds them in and removes the tombstone file.
    val victims = stored.take(2).map(_._1)
    SimilaritySearch.deleteFromIndex(spark, path, victims.toSeq.toDF("vec_id"))
    val afterDel = SimilaritySearch.binaryTopKStored(spark, path, q, 20)
      .collect().map(_.getLong(0)).toSeq
    assert(victims.forall(v => !afterDel.contains(v)))
    assert(new java.io.File(s"$path/_tombstones").exists())
    // raw words still hold the victims until vacuum
    val raw = VersionedTable.read(spark, s"$path/words").select("vec_id").as[Long].collect().toSet
    assert(victims.forall(raw.contains))
    SimilaritySearch.vacuumBinaryIndex(spark, path)
    assert(!new java.io.File(s"$path/_tombstones").exists())
    val afterVacuum = SimilaritySearch.binaryTopKStored(spark, path, q, 20)
      .collect().map(_.getLong(0)).toSeq
    assert(afterVacuum == afterDel)
    // physically gone: no file left under words/ holds a victim
    val onDisk = new java.io.File(s"$path/words/files").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    val rawAfter = spark.read.parquet(onDisk: _*).select("vec_id").as[Long].collect().toSet
    assert(victims.forall(v => !rawAfter.contains(v)))

    // A save clears the store's tombstones: a deleted id saved again is
    // probed again.
    def top1(): Long = SimilaritySearch.binaryTopKStored(spark, path, q, 1).head().getLong(0)
    SimilaritySearch.saveBinaryIndex(corpus, "vec_id", "embedding", path)
    val x = stored.head._1
    assert(top1() == x)
    SimilaritySearch.deleteFromIndex(spark, path, Seq(x).toDF("vec_id"))
    assert(top1() != x)
    SimilaritySearch.saveBinaryIndex(corpus, "vec_id", "embedding", path)
    assert(top1() == x)

    // Batch probe agrees with the single-query form per query.
    val batch = SimilaritySearch
      .binarySignTopKBatch(emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 20)
      .filter(col("qid") === 0)
      .orderBy("rnk")
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
    val single = SimilaritySearch
      .binarySignTopK(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 20)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(batch == single)
  }

  test("LSH ANN returns a subset of the corpus ranked by true cosine, nonzero recall") {
    val brute = SimilaritySearch.bruteForceTopK(
      emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", query, 20)
      .select("vec_id").as[Long].collect().toSet
    val ann = SimilaritySearch.lshTopK(
      emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", query,
      k = 20, numPlanes = 8, maxProbeHamming = 2).collect()
    assert(ann.nonEmpty && ann.length <= 20)
    val sims = ann.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    val recall = ann.map(_.getLong(0)).count(brute.contains).toDouble / 20
    assert(recall > 0.0, "ANN should recover at least some true neighbors")
  }

  test("IVF ANN: cells partition the corpus; probed top-k overlaps brute force") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 8)
    assert(idx.centroids.length == 8)
    assert(idx.assigned.count() == corpus.count())
    val brute = SimilaritySearch.bruteForceTopK(corpus, "vec_id", "embedding", query, 20)
      .select("vec_id").as[Long].collect().toSet
    val ivfAll = SimilaritySearch.ivfTopK(idx, "vec_id", query, 20, nprobe = 8).collect()
    assert(ivfAll.map(_.getLong(0)).toSet == brute, "nprobe = nlist must equal brute force")
    val ivfProbe = SimilaritySearch.ivfTopK(idx, "vec_id", query, 20, nprobe = 3).collect()
    assert(ivfProbe.nonEmpty && ivfProbe.length <= 20)
    val sims = ivfProbe.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  private def idScore(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("full probe is brute force, bitwise: ivfTopK at nprobe = nlist") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 8)
    try {
      val brute = idScore(SimilaritySearch.bruteForceTopK(corpus, "vec_id", "embedding", query, 20))
      assert(idScore(SimilaritySearch.ivfTopK(idx, "vec_id", query, 20, nprobe = 8)) == brute)
    } finally idx.release()
  }

  test("full probe is brute force, bitwise: ivfTopKBatch at nprobe = nlist, self excluded") {
    val idx = SimilaritySearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8)
    try {
      val qids = Seq(0L, 1L, 2L)
      val batch = SimilaritySearch.ivfTopKBatch(
          idx, emb.filter(col("vec_id").isin(qids: _*)), "vec_id", "embedding", k = 10, nprobe = 8)
        .collect()
        .groupBy(_.getAs[Long]("qid"))
        .view.mapValues(_.sortBy(_.getAs[Int]("rank")).map(r =>
          (r.getAs[Long]("id"), r.getAs[Double]("cos_sim"))).toSeq).toMap
      qids.foreach { qid =>
        val qv = emb.filter(col("vec_id") === qid)
          .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
        val brute = idScore(SimilaritySearch.bruteForceTopK(
          emb.filter(col("vec_id") =!= qid), "vec_id", "embedding", qv, 10))
        assert(batch(qid) == brute, s"mismatch for query $qid")
      }
    } finally idx.release()
  }

  test("full probe is brute force, bitwise: LSH at maxProbeHamming = numPlanes, both forms") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val brute = idScore(SimilaritySearch.bruteForceTopK(corpus, "vec_id", "embedding", query, 20))
    assert(idScore(SimilaritySearch.lshTopK(
      corpus, "vec_id", "embedding", query, k = 20, numPlanes = 8, maxProbeHamming = 8)) == brute)
    assert(idScore(SimilaritySearch.lshTopKMultiProbe(
      corpus, "vec_id", "embedding", query, k = 20, numPlanes = 8, maxProbeHamming = 8)) == brute)
  }

  test("a zero vector has no cosine: brute, IVF and batch IVF drop it instead of failing") {
    // Spark 4 runs ANSI mode, where x / 0.0 raises DIVIDE_BY_ZERO: one
    // all-zero vector on either side must not abort the query.
    val zeroId = 1000000L
    val zero = Seq((zeroId, Array.fill(query.length)(0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val corpus = emb.filter(col("vec_id") =!= 0).unionByName(zero)
    val brute = SimilaritySearch.bruteForceTopK(corpus, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0))
    assert(brute.length == 10 && !brute.contains(zeroId))
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 4)
    try {
      val ivf = SimilaritySearch.ivfTopK(idx, "vec_id", query, 10, nprobe = 4)
        .collect().map(_.getLong(0))
      assert(ivf.length == 10 && !ivf.contains(zeroId))
      val queries = emb.filter(col("vec_id").isin(1L, 2L)).unionByName(zero)
      val batch = SimilaritySearch.ivfTopKBatch(
          idx, queries, "vec_id", "embedding", k = 10, nprobe = 4)
        .select("qid", "id").as[(Long, Long)].collect()
      assert(batch.groupBy(_._1).view.mapValues(_.length).toMap == Map(1L -> 10, 2L -> 10))
      assert(!batch.exists(_._2 == zeroId))
    } finally idx.release()
  }

  test("filtered search: predicate prunes inside the probe; exhaustive == filtered brute") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(
      corpus, "vec_id", "embedding", nlist = 8, carryCols = Seq("label"))
    // carryCols land beside the codes — the prerequisite for in-probe filtering.
    assert(idx.assigned.columns.contains("label"))
    val pred = col("label") === 1
    val bruteF = SimilaritySearch.bruteForceTopK(
      corpus.filter(pred), "vec_id", "embedding", query, 20).collect()
    // nprobe = nlist: the filtered probe IS filtered brute force, exactly.
    val exhaustive = SimilaritySearch
      .ivfTopKWhere(idx, "vec_id", query, pred, k = 20, nprobe = 8).collect()
    assert(exhaustive.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      bruteF.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // Pruned probe: every row satisfies the predicate (exact filter
    // semantics) and recall against filtered brute force stays useful.
    val labels = corpus.select(col("vec_id"), col("label")).as[(Long, Int)]
      .collect().toMap
    val pruned = SimilaritySearch
      .ivfTopKWhere(idx, "vec_id", query, pred, k = 20, nprobe = 3)
      .collect().map(_.getLong(0))
    assert(pruned.forall(labels(_) == 1))
    val recall = pruned.count(bruteF.map(_.getLong(0)).toSet)
    assert(recall >= 8, s"filtered-probe recall $recall/20 collapsed")
    // carryCols survive the persist/load round-trip: a loaded index
    // filters identically to the in-session one.
    val path = s"target/tmp/ivf_filtered_${System.nanoTime()}"
    SimilaritySearch.saveIvfIndex(idx, "vec_id", "ivf_filtered_rt", path, buckets = 4)
    val loaded = SimilaritySearch.loadIvfIndex(spark, "ivf_filtered_rt", path)
    assert(loaded.assigned.columns.contains("label"))
    val loadedRows = SimilaritySearch
      .ivfTopKWhere(loaded, "vec_id", query, pred, k = 20, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(loadedRows == exhaustive.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("filtered search auto-widen: selective predicate recovers filtered brute force") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(
      corpus, "vec_id", "embedding", nlist = 8, carryCols = Seq("label"))
    try {
      // ~1%-selective predicate: 4 of 499 rows. At nprobe = 2 the fixed
      // probe under-fills (the few matches spread across cells it never
      // scans) with NO signal to the caller.
      val pred = col("vec_id") % 100 === 0
      val bruteF = SimilaritySearch.bruteForceTopK(
          corpus.filter(pred), "vec_id", "embedding", query, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fixed = SimilaritySearch
        .ivfTopKWhere(idx, "vec_id", query, pred, k = 20, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(fixed.size < bruteF.size,
        s"fixture must under-fill at nprobe=2 (got ${fixed.size}/${bruteF.size}) - retune")
      // Auto-widen: pool target 4*20 exceeds the 4 matching rows, so the
      // probe widens to every cell and the answer IS filtered brute force.
      val widened = SimilaritySearch
        .ivfTopKWhereWiden(idx, "vec_id", query, pred, k = 20, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(widened == bruteF,
        s"auto-widen must recover filtered brute force: $widened vs $bruteF")
      // Dense predicate: the first count already clears the pool target,
      // so no widening happens and the result matches the fixed probe at
      // the starting nprobe — auto-widen costs one counting pass, not a
      // full scan.
      val all = SimilaritySearch
        .ivfTopKWhereWiden(idx, "vec_id", query, org.apache.spark.sql.functions.lit(true),
          k = 20, nprobe = 2, minPoolFactor = 1)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val allFixed = SimilaritySearch
        .ivfTopKWhere(idx, "vec_id", query, org.apache.spark.sql.functions.lit(true),
          k = 20, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(all == allFixed, "dense predicate must stop at the starting nprobe")
    } finally idx.release()
  }

  test("filtered batch probe (ivfTopKBatch over assigned.filter(pred)) equals per-query filtered brute at full probe") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(
      corpus, "vec_id", "embedding", nlist = 8, carryCols = Seq("label"))
    try {
      val pred = col("label") === 1
      val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      val batch = SimilaritySearch.ivfTopKBatch(
          idx.copy(assigned = idx.assigned.filter(pred)), queries, "vec_id", "embedding",
          k = 10, nprobe = 8, excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // Per-query filtered brute force (label slice, self excluded).
      val expected = Seq(0L, 1L, 2L).flatMap { qid =>
        val qv = emb.filter(col("vec_id") === qid)
          .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
        SimilaritySearch.bruteForceTopK(
            corpus.filter(pred && col("vec_id") =!= qid), "vec_id", "embedding", qv, 10)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }.toSet
      assert(batch == expected)
      // Every returned corpus row is in the slice.
      val inSlice = corpus.filter(pred).select("vec_id").as[Long].collect().toSet
      assert(batch.forall { case (_, id, _) => inSlice(id) })
    } finally idx.release()
  }

  test("ivfTopKBatchWhereWiden: per-query minimal-prefix widening recovers the slice") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(
      corpus, "vec_id", "embedding", nlist = 8, carryCols = Seq("label"))
    try {
      val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      // Selective predicate: 4 slice rows, pool target 4*20 = 80 ->
      // every query's prefix runs to all cells == filtered brute force.
      val sel = col("vec_id") % 100 === 0
      val widened = SimilaritySearch.ivfTopKBatchWhereWiden(
          idx, queries, "vec_id", "embedding", sel, k = 20, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expected = Seq(0L, 1L, 2L).flatMap { qid =>
        val qv = emb.filter(col("vec_id") === qid)
          .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
        SimilaritySearch.bruteForceTopK(
            corpus.filter(sel && col("vec_id") =!= qid), "vec_id", "embedding", qv, 20)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }.toSet
      assert(widened == expected)
      // Dense predicate: the probed prefix is a superset of the fixed
      // nprobe cells, so per-query scores dominate the fixed batch probe
      // pointwise — and the widen never returns fewer rows.
      val dense = col("label") === 1
      def byQuery(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getInt(3)) -> r.getDouble(2)).toMap
      val fixedD = byQuery(SimilaritySearch.ivfTopKBatch(
        idx.copy(assigned = idx.assigned.filter(dense)), queries, "vec_id", "embedding",
        k = 10, nprobe = 2).collect())
      val widenD = byQuery(SimilaritySearch.ivfTopKBatchWhereWiden(
        idx, queries, "vec_id", "embedding", dense, k = 10, nprobe = 2,
        minPoolFactor = 4).collect())
      assert(widenD.size >= fixedD.size)
      fixedD.foreach { case (key, s) =>
        assert(widenD(key) >= s, s"rank ${key._2} of query ${key._1}: ${widenD(key)} < $s")
      }
    } finally idx.release()
  }

  test("allowed-id batch probe (ivfTopKBatch over a semi-joined index) is exact at full probe") {
    val idx = SimilaritySearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select("vec_id")
    val allowSet = allowed.as[Long].collect().toSet
    val queries = emb.filter(col("vec_id").isin(1L, 2L))
    val got = SimilaritySearch.ivfTopKBatch(
        idx.copy(assigned = idx.assigned.join(allowed, Seq("vec_id"), "left_semi")),
        queries, "vec_id", "embedding", k = 10, nprobe = 8)
      .collect()
    assert(got.map(_.getAs[Long]("id")).forall(allowSet))
    // Full probe == per-query brute force over the allowed slice.
    got.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rows) =>
      val qv = emb.filter(col("vec_id") === qid)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      val brute = SimilaritySearch.bruteForceTopK(
        emb.filter(col("vec_id").isin(allowSet.toSeq.map(java.lang.Long.valueOf): _*)
          && col("vec_id") =!= qid),
        "vec_id", "embedding", qv, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("id"), r.getAs[Double]("cos_sim"))).toSeq == brute,
        s"allowed-slice mismatch for query $qid")
    }
  }

  test("knn join ranks per left row") {
    val tiny = emb.filter(col("vec_id") < 20)
    val knn = SimilaritySearch.knnJoin(tiny, tiny, "vec_id", "vec_id", "embedding", "embedding", 3)
    val byLeft = knn.collect().groupBy(_.getLong(0))
    assert(byLeft.size == 20)
    assert(byLeft.values.forall(_.length == 3))
    assert(byLeft.values.forall(rs => rs.map(_.getInt(3)).sorted.sameElements(Array(1, 2, 3))))
  }

  test("ivfTopKBatch matches single-query ivfTopK for every query") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.TableIO.table(spark, Sf0001, "embeddings")
    val idx = SimilaritySearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8)
    val qids = Seq(0L, 1L, 2L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
    val batch = SimilaritySearch.ivfTopKBatch(idx, queries, "vec_id", "embedding", k = 10, nprobe = 3)
      .collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank")).map(r =>
        (r.getAs[Long]("id"), r.getAs[Double]("cos_sim"))).toSeq).toMap
    qids.foreach { qid =>
      val qv = emb.filter(col("vec_id") === qid)
        .select(graft.functions.VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      val single = SimilaritySearch.ivfTopK(idx, "vec_id", qv, k = 11, nprobe = 3)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
        .filterNot(_._1 == qid).take(10).toSeq
      assert(batch(qid) == single, s"mismatch for query $qid")
    }
  }

  test("knnJoinLSH achieves high recall of the brute-force kNN join") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.TableIO.table(spark, Sf0001, "embeddings").limit(300)
    val brute = SimilaritySearch.knnJoin(emb, emb, "vec_id", "vec_id", "embedding", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("id_l"), r.getAs[Long]("id_r"))).toSet
    val lsh = SimilaritySearch.knnJoinLSH(emb, emb, "vec_id", "vec_id", "embedding", "embedding",
      k = 5, numPlanes = 12, maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id_l"), r.getAs[Long]("id_r"))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.6, s"LSH kNN recall too low: $recall")
    // candidates actually pruned: the lsh result must not just be the cross join
    assert(lsh.size <= brute.size)
  }

  test("knnJoinLSH rejects the degenerate numPlanes < maxHamming + 1 config") {
    val emb = graft.sources.TableIO.table(spark, Sf0001, "embeddings").limit(10)
    intercept[IllegalArgumentException] {
      SimilaritySearch.knnJoinLSH(emb, emb, "vec_id", "vec_id", "embedding", "embedding",
        k = 5, numPlanes = 2, maxHamming = 3)
    }
  }

  test("knnJoinLSH self-join fast path equals the two-sided path") {
    val tiny = emb.filter(col("vec_id") < 200)
    // Same data through a separately-constructed frame: forces the
    // general two-sided code path (reference inequality).
    val tinyCopy = graft.sources.TableIO.table(spark, Sf0001, "embeddings")
      .filter(col("vec_id") < 200)
    def run(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      SimilaritySearch.knnJoinLSH(l, r, "vec_id", "vec_id", "embedding", "embedding",
        k = 5, numPlanes = 12, maxHamming = 2)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getInt(3))).toSet
    assert(run(tiny, tiny) == run(tiny, tinyCopy))
  }

  test("multi-probe LSH: identical to the XOR-filter form; recall nondecreasing in probes") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val brute = SimilaritySearch.bruteForceTopK(corpus, "vec_id", "embedding", query, 20)
      .select("vec_id").as[Long].collect().toSet
    val recalls = (0 to 2).map { h =>
      val filterForm = SimilaritySearch.lshTopK(
        corpus, "vec_id", "embedding", query, k = 20, numPlanes = 8, maxProbeHamming = h)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val probeForm = SimilaritySearch.lshTopKMultiProbe(
        corpus, "vec_id", "embedding", query, k = 20, numPlanes = 8, maxProbeHamming = h)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(probeForm == filterForm,
        s"multi-probe must match the bit_count filter exactly at h=$h")
      probeForm.map(_._1).count(brute.contains).toDouble / 20
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be nondecreasing in probe radius: $recalls")
    assert(recalls.last > 0.0)
  }

  test("probeSignatures enumerates the exact hamming ball") {
    val probes = SimilaritySearch.probeSignatures(qSig = 0b1010L, numPlanes = 8, maxHamming = 2)
    assert(probes.length == 1 + 8 + 28)      // C(8,0)+C(8,1)+C(8,2)
    assert(probes.distinct.length == probes.length)
    assert(probes.forall(p => java.lang.Long.bitCount(p ^ 0b1010L) <= 2))
    assert(SimilaritySearch.probeSignatures(5L, 8, 0) == Seq(5L))
    intercept[IllegalArgumentException](SimilaritySearch.probeSignatures(0L, 8, 9))
  }

  test("probeSignatures refuses combinatorial hamming balls") {
    // C(63, i) summed to i=8 is ~4.5e9 driver-side signatures — an OOM and
    // a useless IN-list. The bound must trip well before enumeration.
    intercept[IllegalArgumentException](SimilaritySearch.probeSignatures(0L, 63, 8))
    intercept[IllegalArgumentException](SimilaritySearch.probeSignatures(0L, 63, 63))
    // ...while legitimate multi-probe radii still enumerate.
    assert(SimilaritySearch.probeSignatures(0L, 16, 2).length == 1 + 16 + 120)
  }

  test("persisted IVF index round-trips and probes equal the in-session index") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 8)
    val path = s"target/tmp/ivf_spec_${System.nanoTime()}"
    SimilaritySearch.saveIvfIndex(idx, "vec_id", "ivf_spec_tbl", path, buckets = 4)
    try {
      val loaded = SimilaritySearch.loadIvfIndex(spark, "ivf_spec_tbl", path)
      assert(loaded.centroids.length == 8)
      assert(loaded.centroids.zip(idx.centroids).forall { case (a, b) => a.sameElements(b) })
      val inSession = SimilaritySearch.ivfTopK(idx, "vec_id", query, 20, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val persisted = SimilaritySearch.ivfTopK(loaded, "vec_id", query, 20, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(persisted == inSession)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_spec_tbl")
  }

  test("truncated-dimension retrieval: identity at full dims, useful recall at 1/4") {
    import graft.functions.VectorOps
    val corpus = emb.filter(col("vec_id") =!= 0)
    def topAt(dims: Int): Seq[Long] = {
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.truncate(col("embedding"), dims)).head().getSeq[Double](0)
      SimilaritySearch.bruteForceTopK(
        corpus.withColumn("t", VectorOps.truncate(col("embedding"), dims)),
        "vec_id", "t", q, k = 20)
        .select("vec_id").as[Long].collect().toSeq
    }
    val full = topAt(64)
    val fullDirect = {
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      SimilaritySearch.bruteForceTopK(corpus, "vec_id", "embedding", q, k = 20)
        .select("vec_id").as[Long].collect().toSeq
    }
    assert(topAt(64) == fullDirect) // dims = all is exactly full search
    // Fixture embeddings are RANDOM (every dim equally informative), so
    // 1/4-dim overlap is structurally weak here — on MRL-trained
    // embeddings the leading dims are privileged by construction. Pin
    // well above chance (random 20-of-499 overlap ~= 0.8 expected).
    val t16 = topAt(16)
    val overlap = t16.toSet.intersect(full.toSet).size
    assert(overlap >= 3, s"16-dim overlap $overlap/20 vs full")
    assert(topAt(16) == t16) // deterministic
  }

  test("coarse-to-fine: identity when nothing pruned; recall beats coarse-only") {
    import graft.functions.VectorOps
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
    val brute = SimilaritySearch.bruteForceTopK(corpus, "vec_id", "embedding", q, 20)
      .select("vec_id").as[Long].collect().toSeq
    // coarseK = whole corpus -> the coarse stage prunes nothing
    val noPrune = SimilaritySearch
      .coarseToFineTopK(corpus, "vec_id", "embedding", q, 20, coarseDims = 16, coarseK = 499)
      .select("vec_id").as[Long].collect().toSeq
    assert(noPrune == brute)
    // pruned: re-ranked recall must dominate the coarse-only top-20
    val reranked = SimilaritySearch
      .coarseToFineTopK(corpus, "vec_id", "embedding", q, 20, coarseDims = 16, coarseK = 60)
      .select("vec_id").as[Long].collect().toSeq
    val coarseOnly = {
      val q16 = q.take(16)
      SimilaritySearch.bruteForceTopK(
        corpus.withColumn("t", VectorOps.truncate(col("embedding"), 16)),
        "vec_id", "t", q16, 20)
        .select("vec_id").as[Long].collect().toSeq
    }
    val rr = reranked.toSet.intersect(brute.toSet).size
    val co = coarseOnly.toSet.intersect(brute.toSet).size
    assert(rr >= co, s"re-rank recall $rr < coarse-only $co")
    // absolute floor is fixture-limited (random dims — see the
    // truncated-retrieval test's caveat); dominance above is the pin
    assert(rr >= 5, s"re-ranked recall $rr/20")
  }

  test("IVF tombstone deletion: probes of a loaded index exclude deleted ids") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 8)
    val path = s"target/tmp/ivf_del_${System.nanoTime()}"
    SimilaritySearch.saveIvfIndex(idx, "vec_id", "ivf_del_tbl", path, buckets = 4)
    try {
      val before = SimilaritySearch
        .ivfTopK(SimilaritySearch.loadIvfIndex(spark, "ivf_del_tbl", path),
          "vec_id", query, 20, nprobe = 8)
        .select("vec_id").as[Long].collect().toSeq
      val victims = before.take(3)
      SimilaritySearch.deleteFromIndex(spark, path, victims.toDF("vec_id"))
      // double delete is harmless (duplicate tombstones)
      SimilaritySearch.deleteFromIndex(spark, path, victims.take(1).toDF("vec_id"))
      val after = SimilaritySearch
        .ivfTopK(SimilaritySearch.loadIvfIndex(spark, "ivf_del_tbl", path),
          "vec_id", query, 20, nprobe = 8)
        .select("vec_id").as[Long].collect().toSeq
      assert(victims.forall(v => !after.contains(v)))
      // the survivors keep their relative order, and the freed slots
      // admit the next-best candidates
      assert(after.size == 20)
      assert(before.filterNot(victims.contains) == after.take(before.size - victims.size))
      // deletion is metadata-only: tombstones exist, and the assigned
      // table still holds every original row (including the victims)
      assert(new java.io.File(s"$path/_tombstones").exists())
      val tableIds = spark.table("ivf_del_tbl").select("vec_id").as[Long].collect().toSet
      assert(victims.forall(tableIds.contains))
      // vacuum folds tombstones into the store: file gone, probe results
      // unchanged, and the victims are now physically absent
      SimilaritySearch.vacuumIvfIndex(spark, "vec_id", "ivf_del_tbl", path, buckets = 4)
      assert(!new java.io.File(s"$path/_tombstones").exists())
      val vacuumed = SimilaritySearch
        .ivfTopK(SimilaritySearch.loadIvfIndex(spark, "ivf_del_tbl", path),
          "vec_id", query, 20, nprobe = 8)
        .select("vec_id").as[Long].collect().toSeq
      assert(vacuumed == after)
      val tIds = spark.table("ivf_del_tbl").select("vec_id").as[Long].collect().toSet
      assert(victims.forall(v => !tIds.contains(v)))
    } finally spark.sql("DROP TABLE IF EXISTS ivf_del_tbl")
  }

  test("saving over an IVF store clears its tombstones: a re-saved deleted id is probed again") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 8)
    val path = s"target/tmp/ivf_resave_${System.nanoTime()}"
    def top1(): Long = SimilaritySearch
      .ivfTopK(SimilaritySearch.loadIvfIndex(spark, "ivf_resave_tbl", path), "vec_id", query, 1, nprobe = 8)
      .select("vec_id").as[Long].head()
    try {
      SimilaritySearch.saveIvfIndex(idx, "vec_id", "ivf_resave_tbl", path, buckets = 4)
      val x = top1()
      SimilaritySearch.deleteFromIndex(spark, path, Seq(x).toDF("vec_id"))
      assert(top1() != x)
      SimilaritySearch.saveIvfIndex(idx, "vec_id", "ivf_resave_tbl", path, buckets = 4)
      assert(top1() == x)
    } finally {
      idx.release()
      spark.sql("DROP TABLE IF EXISTS ivf_resave_tbl")
    }
  }

  test("IVF tombstones key on the id column by NAME, surviving a reordered store") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 8)
    val path = s"target/tmp/ivf_idcol_${System.nanoTime()}"
    SimilaritySearch.saveIvfIndex(idx, "vec_id", "ivf_idcol_tbl", path, buckets = 4)
    try {
      // Simulate a different writer / schema evolution: rewrite the
      // bucketed assignment with the id column LAST. The idcol sidecar
      // must keep the tombstone anti-join keyed on vec_id by name.
      val reordered = spark.table("ivf_idcol_tbl")
        .select(col("v"), col("cell"), col("vec_id"))
        .localCheckpoint(true) // survives the overwrite of its own files
      TableIO.writeBucketed(reordered, "ivf_idcol_tbl", s"$path/assigned", 4, Seq("cell"))
      val before = SimilaritySearch
        .ivfTopK(SimilaritySearch.loadIvfIndex(spark, "ivf_idcol_tbl", path),
          "vec_id", query, 10, nprobe = 8)
        .select("vec_id").as[Long].collect().toSeq
      val victims = before.take(2)
      SimilaritySearch.deleteFromIndex(spark, path, victims.toDF("vec_id"))
      val after = SimilaritySearch
        .ivfTopK(SimilaritySearch.loadIvfIndex(spark, "ivf_idcol_tbl", path),
          "vec_id", query, 10, nprobe = 8)
        .select("vec_id").as[Long].collect().toSeq
      assert(victims.forall(v => !after.contains(v)), s"victims $victims leaked into $after")
      assert(after.size == 10)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_idcol_tbl")
  }

  test("IVF hot-cell rebalance: bounds the hot cell, keeps partition + brute-force identity") {
    // How cells actually go hot: the index is built on one distribution
    // (100 scattered vectors), then appends concentrate into a blob the
    // ROUTING sends to a single existing cell (building on the full
    // corpus wouldn't show it — KMeans init would plant most centroids
    // inside the blob and pre-split it). Deterministic generator.
    val rng = new scala.util.Random(7)
    val blob = (0 until 900).map { i =>
      (i.toLong, Seq.tabulate(8)(d => 1.0 + (rng.nextDouble() - 0.5) * 0.4 * (d + 1)))
    }
    val scattered = (900 until 1000).map { i =>
      (i.toLong, Seq.fill(8)(rng.nextDouble() * 10.0 - 5.0))
    }
    val corpus = (blob ++ scattered).toDF("vec_id", "embedding")
    val idx0 = SimilaritySearch.buildIvfIndex(
      scattered.toDF("vec_id", "embedding"), "vec_id", "embedding", nlist = 8)
    // Persisted like a production index, so the test observes rebalance
    // actually releasing the superseded cache (see lifecycle asserts).
    val idx = SimilaritySearch.IvfIndex(
      idx0.centroids,
      idx0.assigned.union(SimilaritySearch.assignCells(
        blob.toDF("vec_id", "embedding"), "vec_id", "embedding", idx0.centroids))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pre = idx.assigned.groupBy("cell").count().select("count").as[Long].collect()
    val preMean = pre.sum.toDouble / idx.centroids.length
    assert(pre.max > 3.0 * preMean, "fixture must actually produce a hot cell")

    val reb = SimilaritySearch.rebalanceIvfIndex(idx, "vec_id", hotFactor = 3.0)
    // Partition preserved: same rows, each exactly once, every cell id valid.
    assert(reb.assigned.count() == 1000)
    assert(reb.assigned.select("vec_id").distinct().count() == 1000)
    assert(reb.centroids.length > idx.centroids.length, "split must add subcells")
    val post = reb.assigned.groupBy("cell").count()
      .select("cell", "count").as[(Int, Long)].collect().toMap
    assert(post.keys.forall(c => c >= 0 && c < reb.centroids.length))
    val postMean = post.values.sum.toDouble / reb.centroids.length
    assert(post.values.max <= pre.max / 2,
      s"hot-cell mass must shrink substantially (pre max ${pre.max}, post max ${post.values.max})")
    assert(post.values.max / postMean < pre.max / preMean,
      "max/mean imbalance must improve")

    // nprobe = nlist is still exactly brute force after the rebalance.
    val q = corpus.filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
    val brute = SimilaritySearch.bruteForceTopK(
      corpus.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 20)
      .select("vec_id").as[Long].collect().toSet
    val all = SimilaritySearch.ivfTopK(reb, "vec_id", q, 21, nprobe = reb.centroids.length)
      .filter(col("vec_id") =!= 0)
      .select("vec_id").as[Long].collect().take(20).toSet
    assert(all == brute, "nprobe = nlist must stay brute-force-identical")

    // A bounded probe still recovers the neighborhood (subcell centroids
    // sit inside the old blob, so routing finds them).
    val probed = SimilaritySearch.ivfTopK(reb, "vec_id", q, 21, nprobe = 4)
      .filter(col("vec_id") =!= 0)
      .select("vec_id").as[Long].collect().take(20).toSet
    assert(probed.count(brute.contains) >= 10, "recall collapsed after rebalance")

    // Rebalanced index honors the persistence contract unchanged.
    val path = s"target/tmp/ivf_reb_${System.nanoTime()}"
    SimilaritySearch.saveIvfIndex(reb, "vec_id", "ivf_reb_tbl", path, buckets = 4)
    try {
      val loaded = SimilaritySearch.loadIvfIndex(spark, "ivf_reb_tbl", path)
      assert(loaded.centroids.length == reb.centroids.length)
      assert(loaded.centroids.zip(reb.centroids).forall { case (a, b) => a.sameElements(b) })
      val inSession = SimilaritySearch.ivfTopK(reb, "vec_id", q, 20, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val persisted = SimilaritySearch.ivfTopK(loaded, "vec_id", q, 20, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(persisted == inSession)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_reb_tbl")

    // Cache lifecycle: rebalance released the superseded input cache as
    // it materialized its own, and release() retires the new one — no
    // index-sized cached plans accrete across builds in a long session.
    import org.apache.spark.storage.StorageLevel
    assert(idx.assigned.storageLevel == StorageLevel.NONE,
      "rebalance must unpersist the superseded input assignment")
    assert(reb.assigned.storageLevel != StorageLevel.NONE,
      "rebalanced assignment must be cached while the index is live")
    reb.release()
    assert(reb.assigned.storageLevel == StorageLevel.NONE,
      "release() must drop the rebalanced assignment cache")
  }

  test("rebalance is a no-op on a balanced index") {
    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 8)
    val counts = idx.assigned.groupBy("cell").count().select("count").as[Long].collect()
    val mean = counts.sum.toDouble / idx.centroids.length
    assume(counts.max <= 4.0 * mean, "embeddings fixture unexpectedly skewed")
    val reb = SimilaritySearch.rebalanceIvfIndex(idx, "vec_id", hotFactor = 4.0)
    assert(reb eq idx, "balanced index must be returned unchanged (no new plan, no new cells)")
  }

  test("streaming IVF assignment appends bucket-aligned rows probes can see") {
    val half = emb.filter(col("vec_id") < 250)
    val rest = emb.filter(col("vec_id") >= 250)
    val idx = SimilaritySearch.buildIvfIndex(half, "vec_id", "embedding", nlist = 8)
    val root = s"target/tmp/ivf_stream_${System.nanoTime()}"
    SimilaritySearch.saveIvfIndex(idx, "vec_id", "ivf_stream_tbl", s"$root/idx", buckets = 4)
    try {
      // Land the remaining vectors as a file-source stream.
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))
      rest.coalesce(1).write.parquet(s"$root/tmp_b0")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/tmp_b0"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$root/in/b0.parquet"))
      val stream = spark.readStream.schema(emb.schema).parquet(s"$root/in")
      val q = SimilaritySearch.streamingIvfAssign(
        stream, "vec_id", "embedding", idx.centroids,
        "ivf_stream_tbl", buckets = 4, checkpoint = s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()

      val loaded = SimilaritySearch.loadIvfIndex(spark, "ivf_stream_tbl", s"$root/idx")
      assert(loaded.assigned.count() == emb.count(), "probes must see streamed rows")

      // Streamed rows landed in their exact nearest-centroid cells.
      val expected = SimilaritySearch.assignCells(rest, "vec_id", "embedding", idx.centroids)
        .select("vec_id", "cell").as[(Long, Int)].collect().toMap
      val got = loaded.assigned.filter(col("vec_id") >= 250)
        .select("vec_id", "cell").as[(Long, Int)].collect().toMap
      assert(got == expected)

      // Bucket-pruned reads stay correct after the append: a cell filter
      // equals the in-memory filter of the full scan.
      val full = loaded.assigned.select("vec_id", "cell").as[(Long, Int)].collect()
      val cellOf = full.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
      cellOf.keys.foreach { c =>
        val pruned = loaded.assigned.filter(col("cell") === c)
          .select("vec_id").as[Long].collect().toSet
        assert(pruned == cellOf(c), s"pruned scan of cell $c diverged")
      }
    } finally spark.sql("DROP TABLE IF EXISTS ivf_stream_tbl")
  }

  test("replayed ivf micro-batch appends exactly once (batch-id marker)") {
    // foreachBatch is at-least-once: after a crash between sink write and
    // checkpoint commit the same batchId re-runs. The marker guard must
    // turn that replay into a no-op instead of duplicating index rows.
    val half = emb.filter(col("vec_id") < 250)
    val batch = emb.filter(col("vec_id") >= 250)
    val idx = SimilaritySearch.buildIvfIndex(half, "vec_id", "embedding", nlist = 8)
    val root = s"target/tmp/ivf_replay_${System.nanoTime()}"
    SimilaritySearch.saveIvfIndex(idx, "vec_id", "ivf_replay_tbl", s"$root/idx", buckets = 4)
    try {
      val before = spark.table("ivf_replay_tbl").count()
      SimilaritySearch.appendIvfBatchIdempotent(
        batch, "vec_id", "embedding", idx.centroids,
        "ivf_replay_tbl", buckets = 4, checkpoint = s"$root/ckpt", batchId = 0L)
      val afterFirst = spark.table("ivf_replay_tbl").count()
      assert(afterFirst == before + batch.count())
      SimilaritySearch.appendIvfBatchIdempotent(
        batch, "vec_id", "embedding", idx.centroids,
        "ivf_replay_tbl", buckets = 4, checkpoint = s"$root/ckpt", batchId = 0L)
      assert(spark.table("ivf_replay_tbl").count() == afterFirst,
        "same batchId must not append twice")
      // A NEW batch id still appends.
      SimilaritySearch.appendIvfBatchIdempotent(
        batch.limit(5), "vec_id", "embedding", idx.centroids,
        "ivf_replay_tbl", buckets = 4, checkpoint = s"$root/ckpt", batchId = 1L)
      assert(spark.table("ivf_replay_tbl").count() == afterFirst + 5)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_replay_tbl")
  }

  test("persisted IVF probe: bucket pruning on cell, corpus side joins without shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def shuffles(plan: org.apache.spark.sql.execution.SparkPlan): Seq[ShuffleExchangeExec] =
      plan.collect {
        case s: ShuffleExchangeExec => Seq(s)
        case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      }.flatten

    val corpus = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 8)
    val path = s"target/tmp/ivf_prune_${System.nanoTime()}"
    SimilaritySearch.saveIvfIndex(idx, "vec_id", "ivf_prune_tbl", path, buckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val table = spark.table("ivf_prune_tbl")

      // Single-cell probe reads a strict subset of buckets (file skipping).
      val probe = table.filter(col("cell") === 1)
      probe.collect()
      val scan = probe.queryExecution.executedPlan.collectFirst {
        case f: FileSourceScanExec => f
      }.orElse(probe.queryExecution.executedPlan.collect {
        case a: AdaptiveSparkPlanExec => a.executedPlan.collectFirst {
          case f: FileSourceScanExec => f
        }
      }.flatten.headOption)
      assert(scan.exists(_.optionalBucketSet.exists(_.cardinality() < 4)),
        "cell filter must prune buckets, not scan all of them")

      // Batch-probe shape: routed (qid, cell) join corpus on cell — the
      // bucketed corpus side must contribute no shuffle exchange.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val routed = Seq((0L, 0), (1L, 2), (2L, 3)).toDF("qid", "cell")
      val joined = routed.join(table, "cell")
      joined.collect()
      val overFileScan = shuffles(joined.queryExecution.executedPlan)
        .filter(_.collect { case f: FileSourceScanExec => f }.nonEmpty)
      assert(overFileScan.isEmpty,
        s"bucketed corpus side must not reshuffle, found: ${overFileScan.map(_.nodeName)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS ivf_prune_tbl")
    }
  }

  test("hardNegatives: role bands by hand; the ambiguous gap drops; k caps the band") {
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val anchors = Seq((0L, v(1, 0))).toDF("vec_id", "embedding")
    // cos vs (1,0): c1 ~0.99995 (positive), c2 ~0.707 (hard band),
    // c3 = 0 (below band), c4 ~0.904 (the deliberate gap [0.9, 0.95)).
    val cands = Seq(
      (10L, v(1, 0.01)), (11L, v(1, 1)), (12L, v(0, 1)), (13L, v(0.95, 0.45)))
      .toDF("vec_id", "embedding")
    val got = SimilaritySearch.hardNegatives(cands, anchors,
      "vec_id", "embedding", "vec_id", "embedding", k = 10)
      .collect().map(r => r.getLong(1) -> r.getString(3)).toMap
    assert(got == Map(10L -> "positive", 11L -> "hard_negative"),
      s"roles wrong: $got")
    // k cap: 12 candidates inside the band, k = 5 -> exactly the 5
    // most similar survive.
    val banded = (1 to 12).map { i =>
      val ang = 0.45 + i * 0.04 // cos in ~(0.55, 0.89) band, distinct
      (100L + i, v(math.cos(ang), math.sin(ang)))
    }.toDF("vec_id", "embedding")
    val capped = SimilaritySearch.hardNegatives(banded, anchors,
      "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .filter(col("role") === "hard_negative").collect()
    assert(capped.length == 5)
    val sims = capped.map(_.getDouble(2)).sorted.reverse
    assert(sims.head > sims.last, "ranked by similarity")
    assert(capped.map(_.getLong(1)).toSet == (101L to 105L).toSet,
      "the five smallest angles (most similar) survive")
  }

  test("hardNegativesIvf: exhaustive probe equals brute; partial probe keeps band recall") {
    val anchors = emb.filter(col("vec_id") <= 2)
    val cands = emb.filter(col("vec_id") > 2)
    val idx = SimilaritySearch.buildIvfIndex(cands, "vec_id", "embedding", nlist = 8)
    try {
      def pins(d: org.apache.spark.sql.DataFrame) =
        d.orderBy("anchor_id", "role", "vec_id").collect().map(_.toSeq).toSeq
      val brute = SimilaritySearch.hardNegatives(cands, anchors,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 10, posMin = 0.95, negMin = 0.2, negMax = 0.9)
      // nprobe = nlist probes every cell: bitwise the brute output.
      val full = SimilaritySearch.hardNegativesIvf(idx, anchors,
        "vec_id", "embedding",
        k = 10, posMin = 0.95, negMin = 0.2, negMax = 0.9, nprobe = 8)
      assert(pins(full) == pins(brute), "exhaustive probe must equal brute")
      // Partial probe: recall of the brute hard-negative set stays
      // useful (band members live beyond the nearest cells, so the
      // floor is deliberately moderate).
      val part = SimilaritySearch.hardNegativesIvf(idx, anchors,
        "vec_id", "embedding",
        k = 10, posMin = 0.95, negMin = 0.2, negMax = 0.9, nprobe = 4)
        .filter(col("role") === "hard_negative")
        .select("anchor_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val bruteNeg = brute.filter(col("role") === "hard_negative")
        .select("anchor_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bruteNeg.nonEmpty)
      val recall = part.intersect(bruteNeg).size.toDouble / bruteNeg.size
      assert(recall >= 0.4, f"half-probe hard-negative recall $recall%.2f < 0.4")
    } finally idx.release()
  }
}
