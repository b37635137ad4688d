package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.{Quantization, SimilaritySearch}
import graft.sources.{TableIO, VersionedTable}

class QuantizationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = TableIO.table(spark, Sf0001, "embeddings")

  test("params are exact per-dimension min/max; codes bounded 0..255") {
    val df = Seq(
      (1L, Seq(1.0f, 5.0f, 2.0f)),
      (2L, Seq(3.0f, 5.0f, 8.0f)),
      (3L, Seq(2.0f, 5.0f, 5.0f))).toDF("id", "v")
    val (mins, maxs) = Quantization.sq8Params(df, "v")
    assert(mins.toSeq == Seq(1.0, 5.0, 2.0))
    assert(maxs.toSeq == Seq(3.0, 5.0, 8.0))
    val codes = df.orderBy("id")
      .select(Quantization.sq8Quantize(col("v"), mins, maxs))
      .as[Seq[Int]].collect()
    codes.flatten.foreach(c => assert(c >= 0 && c <= 255))
    // constant dimension codes to 0 everywhere
    assert(codes.forall(_(1) == 0))
    // the per-dim min codes to 0, the per-dim max clamps to 255
    assert(codes(0)(0) == 0 && codes(1)(0) == 255)
    assert(codes(0)(2) == 0 && codes(1)(2) == 255)
  }

  test("unseen vectors outside the fitted range clamp to 0..255 both ways") {
    val fit = Seq((1L, Seq(0.0f, 10.0f)), (2L, Seq(10.0f, 20.0f))).toDF("id", "v")
    val (mins, maxs) = Quantization.sq8Params(fit, "v")
    // Apply the SAVED params to vectors below the min and above the max —
    // the persisted-codes path where params meet data they were not fit on.
    val unseen = Seq((3L, Seq(-5.0f, 25.0f)), (4L, Seq(15.0f, 5.0f))).toDF("id", "v")
    val codes = unseen.orderBy("id")
      .select(Quantization.sq8Quantize(col("v"), mins, maxs))
      .as[Seq[Int]].collect()
    assert(codes(0) == Seq(0, 255))
    assert(codes(1) == Seq(255, 0))
  }

  test("PQ: codes bounded, decode concatenates centroids, training is deterministic") {
    val model = Quantization.trainPq(emb, "embedding", m = 8, kc = 16)
    assert(model.subDim == 8)
    assert(model.codebook.size == 8 * 16 * 8)
    val codes = emb.select(Quantization.pqEncode(col("embedding"), model).as("c"))
      .as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // same data + seed -> identical codebooks (fit is seeded per subspace)
    val model2 = Quantization.trainPq(emb, "embedding", m = 8, kc = 16)
    assert(model.codebook == model2.codebook)
  }

  test("PQ: ADC score equals dot(query, reconstruction) and ranks identically") {
    val model = Quantization.trainPq(emb, "embedding", m = 8, kc = 16)
    val query = emb.filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding"))).as[Seq[Double]].head().toArray
    val adc = Quantization.pqTopK(emb, model, "vec_id", "embedding", query, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // decode-then-dot twin, same rounding and tie-break
    val qLit = typedLit(query.toSeq)
    val viaDecode = emb
      .select(col("vec_id"),
        round(VectorOps.dot(
          Quantization.pqDecode(Quantization.pqEncode(col("embedding"), model), model),
          qLit), 6).as("score"))
      .orderBy(desc("score"), col("vec_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(adc == viaDecode)
  }

  test("PQ per-query top-k of the decoded query tracks exact-dot top-k (mean recall floor)") {
    val k = 10
    // Symmetric PQ search composed from pqTopK: ADC against the query's
    // own reconstruction is dot(decoded query, decoded row), self excluded.
    val got = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), Quantization.pqDecode(
        Quantization.pqEncode(col("embedding"), model8), model8))
      .as[(Long, Seq[Double])].collect()
      .map { case (q, dec) =>
        q -> Quantization.pqTopK(emb.filter(col("vec_id") =!= q), model8, "vec_id",
            "embedding", dec.toArray, k)
          .select("vec_id").as[Long].collect().toSet
      }.toMap
    val v = emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("e"))
    val exact = v.select(col("vec_id").as("qid"), col("e").as("qe"))
      .filter(col("qid") < 5)
      .crossJoin(v)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorOps.dot(col("e"), col("qe")).as("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val recalls = exact.map { case (q, ex) =>
      got.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    // Random 64-dim data is PQ's worst case (no cluster structure), so
    // the pin is a floor; the ADC-vs-decode identity above is the exact
    // bit. m=16/kc=64 measures ~0.52 here.
    assert(mean >= 0.4, s"mean PQ recall $mean")
  }

  test("PQ shortlist + exact re-rank recovers near-exact recall") {
    val query = emb.filter(col("vec_id") === 7)
      .select(VectorOps.asDouble(col("embedding"))).as[Seq[Double]].head().toArray
    val brute = emb.filter(col("vec_id") =!= 7)
      .select(col("vec_id"),
        VectorOps.dot(VectorOps.asDouble(col("embedding")), typedLit(query.toSeq)).as("s"))
      .orderBy(desc("s"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    def recallOf(ids: Seq[Long]): Int = ids.toSet.intersect(brute).size
    val adcOnly = Quantization
      .pqTopK(emb.filter(col("vec_id") =!= 7), model8, "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSeq
    val reranked = Quantization
      .pqTopKReranked(emb.filter(col("vec_id") =!= 7), model8, "vec_id", "embedding",
        query, k = 10, shortlist = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(reranked.size == 10)
    assert(recallOf(reranked) >= recallOf(adcOnly),
      s"rerank ${recallOf(reranked)} < adc ${recallOf(adcOnly)}")
    assert(recallOf(reranked) >= 7, s"reranked recall ${recallOf(reranked)}/10")
  }

  private lazy val model8 = Quantization.trainPq(emb, "embedding", m = 16, kc = 64)

  test("IVF x PQ probe: exhaustive probe equals PQ-reranked search; pruned keeps recall") {
    import graft.operators.SimilaritySearch
    val corpus = emb.filter(col("vec_id") =!= 7)
    val query = emb.filter(col("vec_id") === 7)
      .select(VectorOps.asDouble(col("embedding"))).as[Seq[Double]].head().toArray
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 16)
    try {
      val full = Quantization
        .pqTopKReranked(corpus, model8, "vec_id", "embedding", query, k = 20, shortlist = 4)
        .select("vec_id").as[Long].collect().toSeq
      // nprobe = nlist scans every cell: identical to the plain PQ path
      val exhaustive = Quantization
        .ivfPqTopK(idx, model8, "vec_id", query, k = 20, nprobe = 16, shortlist = 4)
        .select("vec_id").as[Long].collect().toSeq
      assert(exhaustive == full)
      // pruned probe vs the FLOAT probe of the same cells: same routing,
      // so the only loss left is PQ scoring + shortlist truncation
      val pruned = Quantization
        .ivfPqTopK(idx, model8, "vec_id", query, k = 20, nprobe = 4, shortlist = 4)
        .select("vec_id").as[Long].collect().toSeq
      val floatProbe = SimilaritySearch
        .ivfTopK(idx, "vec_id", query.toSeq, k = 20, nprobe = 4)
        .select("vec_id").as[Long].collect().toSeq
      assert(pruned.size == 20)
      // measures 20/20 on the fixture (shortlist 4x covers the PQ
      // ranking noise); floor leaves margin for fixture drift
      val overlap = pruned.toSet.intersect(floatProbe.toSet).size
      assert(overlap >= 16, s"pruned-vs-float overlap $overlap/20")
    } finally idx.release()
  }

  test("persisted PQ store: codes at rest score identically to in-session ADC") {
    val path = s"target/tmp/pq_store_${System.nanoTime()}"
    val corpus = emb.filter(col("vec_id") =!= 0)
    val query = emb.filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding"))).as[Seq[Double]].head().toArray
    Quantization.savePqIndex(corpus, model8, "vec_id", "embedding", path,
      carryCols = Seq("label"))
    val (loaded, idCol) = Quantization.loadPqModel(spark, path)
    assert(idCol == "vec_id")
    assert(loaded == model8)
    val stored = Quantization.pqTopKStored(spark, path, query, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val live = Quantization.pqTopK(corpus, model8, "vec_id", "embedding", query, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == live)
    // Attribute-filtered stored probe == in-session ADC over the slice
    // (carryCols co-located with the codes, predicate before ranking).
    val storedF = Quantization
      .pqTopKStoredWhere(spark, path, query, 20, col("label") === 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val liveF = Quantization.pqTopK(
      corpus.filter(col("label") === 1), model8, "vec_id", "embedding", query, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(storedF == liveF)
  }

  test("OPQ rotation: orthonormal, dot-preserving, lifts recall on concentrated variance") {
    // Fixture built for PQ's failure mode: all variance in the first 8
    // of 64 dims, so the un-rotated split wastes 7 of 8 subspaces on
    // near-constants while subspace 0 absorbs every bit of distortion.
    val rnd = new scala.util.Random(11L)
    val rows = (0L until 400L).map { i =>
      val v = Array.fill(64)(0.001f * rnd.nextFloat())
      (0 until 8).foreach(j => v(j) = (10.0 * rnd.nextGaussian()).toFloat)
      (i, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val rot = Quantization.seededRotation(64, 42L)
    // orthonormality: R R^T = I (sampled entries)
    (0 until 8).foreach { i =>
      (0 until 8).foreach { j =>
        val dot = (0 until 64).map(l => rot(i * 64 + l) * rot(j * 64 + l)).sum
        assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RRt($i,$j)=$dot")
      }
    }
    val query = rows.head._2.map(_.toDouble).toArray
    val corpus = df.filter(col("vec_id") =!= 0)
    val exact = corpus
      .select(col("vec_id"),
        VectorOps.dot(VectorOps.asDouble(col("embedding")), typedLit(query.toSeq)).as("s"))
      .orderBy(desc("s"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    def recall(ids: Seq[Long]): Int = ids.toSet.intersect(exact).size
    // shortlist 1 isolates code quality: the re-rank arm gets exactly k
    // candidates, so recall IS the shortlist's quality
    val plainModel = Quantization.trainPq(corpus, "embedding", m = 8, kc = 16)
    val plain = Quantization
      .pqTopKReranked(corpus, plainModel, "vec_id", "embedding", query, k = 10, shortlist = 1)
      .select("vec_id").as[Long].collect().toSeq
    val opqModel = Quantization.trainPqRotated(corpus, "embedding", m = 8, kc = 16)
    val rotated = Quantization
      .opqTopKReranked(corpus, opqModel, "vec_id", "embedding", query, k = 10, shortlist = 1)
      .select("vec_id").as[Long].collect().toSeq
    println(s"[spec] OPQ recall ${recall(rotated)}/10 vs plain ${recall(plain)}/10")
    assert(recall(rotated) >= recall(plain),
      s"rotated ${recall(rotated)} < plain ${recall(plain)}")
    assert(recall(rotated) >= 5, s"rotated recall ${recall(rotated)}/10")
  }

  test("full OPQ: iters=1 is the seeded warm start; learning cuts distortion on concentrated variance") {
    // Same failure-mode fixture as the OPQ-lite test: all variance in
    // the first 8 of 64 dims.
    val rnd = new scala.util.Random(11L)
    val rows = (0L until 400L).map { i =>
      val v = Array.fill(64)(0.001f * rnd.nextFloat())
      (0 until 8).foreach(j => v(j) = (10.0 * rnd.nextGaussian()).toFloat)
      (i, v.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding").filter(col("vec_id") =!= 0)

    // The warm-start identity: one iteration trains codebooks against the
    // seeded rotation and never updates R — bit-for-bit trainPqRotated.
    val seeded = Quantization.trainPqRotated(corpus, "embedding", m = 8, kc = 16)
    val one = Quantization.trainOpq(corpus, "embedding", m = 8, kc = 16, opqIters = 1)
    assert(one.rotation == seeded.rotation)
    assert(one.pq == seeded.pq)

    // Mean squared reconstruction error in the rotated space — the exact
    // objective the alternating minimization descends.
    def distortion(mod: Quantization.OpqModel): Double = {
      val rc = corpus.select(
        Quantization.rotate(col("embedding"), mod.rotation, mod.dim).as("rv"))
        .withColumn("dec", Quantization.pqDecode(
          Quantization.pqEncode(col("rv"), mod.pq), mod.pq))
      rc.select(avg(
        VectorOps.dot(col("rv"), col("rv"))
          - lit(2.0) * VectorOps.dot(col("rv"), col("dec"))
          + VectorOps.dot(col("dec"), col("dec"))))
        .head().getDouble(0)
    }
    val learned = Quantization.trainOpq(corpus, "embedding", m = 8, kc = 16, opqIters = 4)
    val dSeeded = distortion(seeded)
    val dLearned = distortion(learned)
    println(s"[spec] OPQ distortion seeded=$dSeeded learned=$dLearned")
    assert(dLearned < dSeeded,
      s"learned rotation must cut quantization error: $dLearned !< $dSeeded")

    // And the error win must show up where it matters: shortlist recall
    // (shortlist 1 isolates code quality) at least matches the warm start.
    val query = rows.head._2.map(_.toDouble).toArray
    val exact = corpus
      .select(col("vec_id"),
        VectorOps.dot(VectorOps.asDouble(col("embedding")), typedLit(query.toSeq)).as("s"))
      .orderBy(desc("s"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    def recall(mod: Quantization.OpqModel): Int = Quantization
      .opqTopKReranked(corpus, mod, "vec_id", "embedding", query, k = 10, shortlist = 1)
      .select("vec_id").as[Long].collect().count(exact.contains)
    val rSeeded = recall(seeded)
    val rLearned = recall(learned)
    println(s"[spec] OPQ recall seeded=$rSeeded learned=$rLearned")
    assert(rLearned >= rSeeded, s"learned recall $rLearned < seeded $rSeeded")
  }

  test("PQ store deletion parity: tombstones filter probes, vacuum folds them in") {
    val path = s"target/tmp/pq_del_${System.nanoTime()}"
    val corpus = emb.filter(col("vec_id") =!= 0)
    val query = emb.filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding"))).as[Seq[Double]].head().toArray
    Quantization.savePqIndex(corpus, model8, "vec_id", "embedding", path)
    val before = Quantization.pqTopKStored(spark, path, query, k = 20)
      .select("vec_id").as[Long].collect().toSeq
    val victims = before.take(3)
    SimilaritySearch.deleteFromIndex(spark, path, victims.toDF("vec_id"))
    SimilaritySearch.deleteFromIndex(spark, path, victims.take(1).toDF("vec_id")) // double delete harmless
    val after = Quantization.pqTopKStored(spark, path, query, k = 20)
      .select("vec_id").as[Long].collect().toSeq
    assert(victims.forall(v => !after.contains(v)))
    assert(after.size == 20)
    // survivors keep relative order; freed slots admit next-best
    assert(before.filterNot(victims.contains) == after.take(before.size - victims.size))
    // deletion is metadata-only until vacuum: codes still hold victims
    assert(new java.io.File(s"$path/_tombstones").exists())
    val raw = VersionedTable.read(spark, s"$path/codes").select("vec_id").as[Long].collect().toSet
    assert(victims.forall(raw.contains))
    Quantization.vacuumPqIndex(spark, path)
    assert(!new java.io.File(s"$path/_tombstones").exists())
    val vacuumed = Quantization.pqTopKStored(spark, path, query, k = 20)
      .select("vec_id").as[Long].collect().toSeq
    assert(vacuumed == after)
    // physically gone: no file left under codes/ holds a victim
    val onDisk = new java.io.File(s"$path/codes/files").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    val rawAfter = spark.read.parquet(onDisk: _*).select("vec_id").as[Long].collect().toSet
    assert(victims.forall(v => !rawAfter.contains(v)))
  }

  test("saving over a PQ store clears its tombstones: a re-saved deleted id is probed again") {
    val path = s"target/tmp/pq_resave_${System.nanoTime()}"
    val corpus = emb.filter(col("vec_id") =!= 0)
    val query = emb.filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding"))).as[Seq[Double]].head().toArray
    Quantization.savePqIndex(corpus, model8, "vec_id", "embedding", path)
    val x = Quantization.pqTopKStored(spark, path, query, k = 1).select("vec_id").as[Long].head()
    SimilaritySearch.deleteFromIndex(spark, path, Seq(x).toDF("vec_id"))
    assert(Quantization.pqTopKStored(spark, path, query, k = 1).select("vec_id").as[Long].head() != x)
    Quantization.savePqIndex(corpus, model8, "vec_id", "embedding", path)
    assert(Quantization.pqTopKStored(spark, path, query, k = 1).select("vec_id").as[Long].head() == x)
  }

  test("streaming PQ append: streamed codes probe identically; replay is a no-op") {
    val half = emb.filter(col("vec_id") < 250 && col("vec_id") =!= 0)
    val rest = emb.filter(col("vec_id") >= 250)
    val query = emb.filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding"))).as[Seq[Double]].head().toArray
    val root = s"target/tmp/pq_stream_${System.nanoTime()}"
    Quantization.savePqIndex(half, model8, "vec_id", "embedding", s"$root/idx",
      carryCols = Seq("label"))
    // Land the remaining vectors as a file-source stream.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))
    rest.coalesce(1).write.parquet(s"$root/tmp_b0")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/tmp_b0"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$root/in/b0.parquet"))
    val stream = spark.readStream.schema(emb.schema).parquet(s"$root/in")
    val q = Quantization.streamingPqAppend(
      stream, model8, "vec_id", "embedding", s"$root/idx", s"$root/ckpt",
      carryCols = Seq("label"))
    try q.processAllAvailable() finally q.stop()

    // Probe over the grown store == probe over a store built in one shot.
    val streamed = Quantization.pqTopKStored(spark, s"$root/idx", query, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val oneShotPath = s"$root/oneshot"
    Quantization.savePqIndex(
      emb.filter(col("vec_id") =!= 0), model8, "vec_id", "embedding", oneShotPath,
      carryCols = Seq("label"))
    val oneShot = Quantization.pqTopKStored(spark, oneShotPath, query, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed == oneShot)
    // carryCols flow through the streamed appends too: the filtered
    // probe of the grown store == the filtered probe of the one-shot
    // store (no null-carry appended rows silently dropped).
    val streamedF = Quantization
      .pqTopKStoredWhere(spark, s"$root/idx", query, 20, col("label") === 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val oneShotF = Quantization
      .pqTopKStoredWhere(spark, oneShotPath, query, 20, col("label") === 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamedF == oneShotF && streamedF.nonEmpty)

    // Replayed batch id is a no-op; a new id appends.
    val codes = s"$root/idx/codes"
    def ids(): Seq[Long] = VersionedTable.read(spark, codes).select("vec_id").as[Long].collect().toSeq
    def assertEachOnce(why: String): Unit =
      assert(ids().groupBy(identity).forall(_._2.size == 1), why)
    val n0 = ids().size
    // batch 99: five vectors under ids the store does not hold yet
    val b99 = rest.limit(5).withColumn("vec_id", col("vec_id") + 100000L)
    Quantization.appendPqBatchIdempotent(
      rest, model8, "vec_id", "embedding", s"$root/idx", s"$root/ckpt", batchId = 0L,
      carryCols = Seq("label"))
    assert(ids().size == n0, "same batchId must not append twice")
    Quantization.appendPqBatchIdempotent(
      b99, model8, "vec_id", "embedding", s"$root/idx", s"$root/ckpt", batchId = 99L,
      carryCols = Seq("label"))
    assert(ids().size == n0 + 5)
    // replay after a clean commit
    Quantization.appendPqBatchIdempotent(
      b99, model8, "vec_id", "embedding", s"$root/idx", s"$root/ckpt", batchId = 99L,
      carryCols = Seq("label"))
    assertEachOnce("replay after a clean commit must not duplicate the batch")

    // The crash WINDOW: batch 100 was staged and its files moved under
    // codes/files, but the writer died before the manifest CAS. The
    // replay must land the batch once and ignore the orphaned files.
    val b100 = emb.filter(col("vec_id") === 0)
    b100.select(col("vec_id"), Quantization.pqEncode(col("embedding"), model8).as("codes"), col("label"))
      .coalesce(1).write.parquet(s"$codes/_stage_dead0100")
    val staged = new java.io.File(s"$codes/_stage_dead0100").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    val next = VersionedTable.latestVersion(spark, codes) + 1
    java.nio.file.Files.copy(staged, java.nio.file.Paths.get(s"$codes/files/v$next-dead0100-0.parquet"))
    Quantization.appendPqBatchIdempotent(
      b100, model8, "vec_id", "embedding", s"$root/idx", s"$root/ckpt", batchId = 100L,
      carryCols = Seq("label"))
    assert(ids().size == n0 + 6)
    assertEachOnce("replay through the crash window must not duplicate the batch")

    // replay after a vacuum: the compaction commit carries the record
    Quantization.vacuumPqIndex(spark, s"$root/idx")
    Quantization.appendPqBatchIdempotent(
      b100, model8, "vec_id", "embedding", s"$root/idx", s"$root/ckpt", batchId = 100L,
      carryCols = Seq("label"))
    Quantization.appendPqBatchIdempotent(
      b99, model8, "vec_id", "embedding", s"$root/idx", s"$root/ckpt", batchId = 99L,
      carryCols = Seq("label"))
    assert(ids().size == n0 + 6)
    assertEachOnce("replay after a vacuum must not duplicate a batch")

    // carryCols/store mismatch fails FAST: a batch appended without the
    // store's carry columns would write schema-divergent files whose
    // rows silently vanish from filtered probes — the append must
    // refuse before writing anything.
    val versionBefore = VersionedTable.latestVersion(spark, codes)
    val e = intercept[IllegalArgumentException] {
      Quantization.appendPqBatchIdempotent(
        rest.limit(3), model8, "vec_id", "embedding", s"$root/idx", s"$root/ckpt",
        batchId = 101L, carryCols = Nil)
    }
    assert(e.getMessage.contains("does not match table schema"))
    assert(VersionedTable.latestVersion(spark, codes) == versionBefore && ids().size == n0 + 6,
      "refused append must leave the store untouched")
  }

  test("self-excluding stored probe (pqTopKStoredWhere, id =!= qid) equals the plain stored probe") {
    val path = s"target/tmp/pq_batch_store_${System.nanoTime()}"
    val corpus = emb.filter(col("vec_id") >= 5)
    Quantization.savePqIndex(corpus, model8, "vec_id", "embedding", path)
    (0L until 3L).foreach { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select(VectorOps.asDouble(col("embedding"))).as[Seq[Double]].head().toArray
      val batch = Map(qid -> Quantization
        .pqTopKStoredWhere(spark, path, q, k = 10, col("vec_id") =!= qid)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      val single = Quantization.pqTopKStored(spark, path, q, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single, s"query $qid diverged")
    }
  }

  test("dequantized reconstruction error is bounded by half a bucket") {
    val (mins, maxs) = Quantization.sq8Params(emb, "embedding")
    val maxHalfDelta = mins.indices.map(i => (maxs(i) - mins(i)) / 255.0 / 2.0).max
    val worst = emb.select(max(aggregate(
      zip_with(
        VectorOps.asDouble(col("embedding")),
        Quantization.sq8Dequantize(
          Quantization.sq8Quantize(col("embedding"), mins, maxs), mins, maxs),
        (a, b) => abs(a - b)),
      lit(0.0), (s, v) => greatest(s, v)))).head().getDouble(0)
    assert(worst <= maxHalfDelta + 1e-12, s"$worst > $maxHalfDelta")
  }

  test("quantized batch top-k tracks exact-dot top-k (mean recall >= 0.8)") {
    val k = 10
    val queries = emb.filter(col("vec_id") < 5)
    val got = Quantization.sq8TopKBatch(emb, queries, "vec_id", "embedding", k)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val v = emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("e"))
    val exact = v.select(col("vec_id").as("qid"), col("e").as("qe"))
      .filter(col("qid") < 5)
      .crossJoin(v)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorOps.dot(col("e"), col("qe")).as("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    assert(got.keySet == exact.keySet)
    val recalls = got.map { case (q, ids) =>
      ids.intersect(exact(q)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall $mean < 0.8 (${recalls.toSeq.sorted})")
  }

  test("IVF x SQ8 probe tracks float search (recall >= 0.9 exhaustive, >= 0.6 pruned)") {
    import graft.operators.SimilaritySearch
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 16)
    val (mins, maxs) = Quantization.sq8Params(corpus, "embedding")
    val brute = SimilaritySearch.bruteForceTopK(corpus, "vec_id", "embedding", q, k = 20)
      .select("vec_id").as[Long].collect().toSet
    // exhaustive probe: the only loss left is quantization
    val exhaustive = Quantization
      .ivfSq8TopK(idx, "vec_id", q, mins, maxs, k = 20, nprobe = 16)
      .select("vec_id").as[Long].collect().toSet
    assert(exhaustive.intersect(brute).size >= 18,
      s"exhaustive recall ${exhaustive.intersect(brute).size}/20")
    // pruned probe: routing loss is the float IVF path's, so compare
    // against float IVF at the SAME nprobe — the delta is quantization
    val pruned = Quantization
      .ivfSq8TopK(idx, "vec_id", q, mins, maxs, k = 20, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    val floatPruned = SimilaritySearch.ivfTopK(idx, "vec_id", q, k = 20, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(pruned.intersect(floatPruned).size >= 18,
      s"vs float IVF ${pruned.intersect(floatPruned).size}/20")
    assert(pruned.intersect(brute).size >= 8,
      s"pruned recall ${pruned.intersect(brute).size}/20")
    idx.release()
  }

  test("full probe is brute force, bitwise: ivfSq8TopK at nprobe = nlist") {
    import graft.operators.SimilaritySearch
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
    val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 8)
    try {
      val (mins, maxs) = Quantization.sq8Params(corpus, "embedding")
      val decoded = corpus.withColumn("dec", Quantization.sq8Dequantize(
        Quantization.sq8Quantize(col("embedding"), mins, maxs), mins, maxs))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val brute = rows(SimilaritySearch.bruteForceTopK(decoded, "vec_id", "dec", q, 20))
      assert(rows(Quantization.ivfSq8TopK(idx, "vec_id", q, mins, maxs, k = 20, nprobe = 8)) == brute)
    } finally idx.release()
  }

  test("quantized scores and ranks are deterministic across runs") {
    def run() = Quantization
      .sq8TopKBatch(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
      .orderBy("qid", "rnk")
      .select("qid", "vec_id", "qscore", "rnk").collect().toSeq
    assert(run() == run())
  }
}
