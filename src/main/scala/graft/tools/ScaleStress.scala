package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.operators.{Dedup, SimilaritySearch}
import graft.functions.VectorOps
import graft.sources.TableIO

/** Dev tool: run the scale-path operators on a corpus replicated Nx
  * (ids offset per replica so replicas are exact cross-copy duplicates —
  * the worst case for dedup candidate volume). Surfaces the operators'
  * scaling shape before a cluster ever does.
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(20)
    // Optional third arg: comma-separated section names (dedup, sim,
    // stores, window, crossover, labels, scalar) to run a subset.
    val sections = args.lift(2).map(_.split(',').toSet)
    def section(name: String)(body: => Unit): Unit =
      if (sections.forall(_.contains(name))) body
    val spark = GraftSession.local(GraftSession.cores())

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stress] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    def replicate(df: DataFrame, idCol: String, n: Int): DataFrame = {
      val size = df.count()
      df.crossJoin(spark.range(n).select(col("id").as("_rep")))
        .withColumn(idCol, col(idCol) + col("_rep") * lit(size * 10))
        .drop("_rep")
    }

    /** Order-free checksum of every row and column, so runs of an arm
      * can be compared.
      */
    def checksum(df: DataFrame): Long =
      df.agg(bit_xor(xxhash64(df.columns.map(col).toSeq: _*))).head().getLong(0)

    /** Dawid-Skene votes: `units` units x 5 raters x 3 classes with
      * planted per-rater accuracies (two sharp, two mediocre, one noisy).
      */
    def dsVotes(units: Long): DataFrame = {
      val acc = array(lit(0.92), lit(0.88), lit(0.6), lit(0.6), lit(0.38))
      spark.range(units * 5).select(
          // Column `/` is FRACTIONAL division — floor+cast for the
          // integer unit id
          col("id"),
          floor(col("id") / 5L).cast("long").as("u"))
        .select(
          col("u"),
          concat(lit("r"), (col("id") % 5L).cast("string")).as("r"),
          (col("u") % 3L).as("truth"),
          element_at(acc, (col("id") % 5L + 1).cast("int")).as("a"),
          (conv(substring(md5(concat(col("id").cast("string"), lit("ds"))), 1, 8),
            16, 10).cast("double") / lit(4294967296.0)).as("coin"))
        .select(col("u"), col("r"),
          concat(lit("c"), when(col("coin") < col("a"), col("truth"))
            .otherwise(pmod(col("truth") + 1L
              + (col("coin") * 1000).cast("long") % 2L, lit(3L)))
            .cast("string")).as("l"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    /** Scalar grades: `units` units x 3 raters with planted lenses (fair
      * / harsh -0.2 / stretch 2x) and md5 noise.
      */
    def scGrades(units: Long): DataFrame =
      spark.range(units * 3).select(
          floor(col("id") / 3L).cast("long").as("u"),
          (col("id") % 3L).as("ri"),
          (conv(substring(md5(concat(col("id").cast("string"), lit("sc"))), 1, 8),
            16, 10).cast("double") / lit(4294967296.0) - 0.5).as("eps"))
        .select(col("u"),
          concat(lit("g"), col("ri").cast("string")).as("r"), {
            val t = (col("u") % 1000L).cast("double") / 1000.0
            round(when(col("ri") === 0L, t)
              .when(col("ri") === 1L, t - 0.2)
              .otherwise(lit(0.1) + t * 2.0) + col("eps") * 0.05, 6)
          }.as("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    section("dedup") {
    val docs = replicate(TableIO.table(spark, sfDir, "documents"), "doc_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.count()
    println(s"[stress] corpus: $nDocs docs (${reps}x replication)")

    /** Times a full consume of `df`, then prints its row count and
      * [[checksum]] from one more job, outside the timing.
      */
    def consumeTallied(label: String, rows: String)(df: DataFrame): Unit = {
      time(label)(Meter.consume(df))
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toSeq: _*))).head()
      println(s"[stress]   $rows = ${r.getLong(0)} checksum = ${r.get(1)}")
    }

    consumeTallied("exact dedup groups", "n_groups")(
      Dedup.exactDuplicateGroups(docs, "doc_id", "text"))
    time("simhash fingerprints")(
      Meter.consume(docs.select(Dedup.simHash(col("text")))))

    // The production near-dup pipeline: collapse exact copies FIRST
    // (cheap hash groupBy), sketch only distinct texts. Running sketches
    // on a copy-dense corpus makes every candidate bucket quadratically
    // hot with pairs that a content hash already proves identical.
    val distinctDocs = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    consumeTallied("collapse exact copies", "distinct docs")(distinctDocs)

    // Both near-dup forms on the same text-distinct docs: the fused
    // operator's collapse/expand only reproduces the distinct-text
    // core's pairs there, so the two checksums must be equal.
    consumeTallied("minhash near-dup on distinct (64/16, j>=0.5)", "n_pairs")(
      Dedup.minHashNearDuplicates(
        distinctDocs, "doc_id", "text", n = 3, numHashes = 64, bands = 16, minJaccard = 0.5))
    consumeTallied("minhash distinct core (64/16, j>=0.5)", "n_pairs")(
      Dedup.minHashNearDuplicatesDistinctPresketched(distinctDocs,
        Dedup.fingerprintIndex(distinctDocs, "doc_id", "text").select("id", "sig"),
        "doc_id", "text", n = 3, numHashes = 64, bands = 16, minJaccard = 0.5))
    consumeTallied("winnow candidates on distinct (minShared=4)", "n_cand")(
      Dedup.winnowCandidatePairs(distinctDocs, "doc_id", "text", minShared = 4))
    consumeTallied("minhash near-dup copy-dense (auto-collapse)", "n_pairs")(
      Dedup.minHashNearDuplicates(
        docs, "doc_id", "text", n = 3, numHashes = 64, bands = 16, minJaccard = 0.5))
    consumeTallied("group signatures by source", "n_groups")(
      Dedup.groupSignatures(docs, "source", "text"))
    }

    section("sim") {
    val emb = replicate(TableIO.table(spark, sfDir, "embeddings"), "vec_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] vectors: ${emb.count()} (${reps}x)")
    val q = TableIO.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
    time("brute cosine top-20")(
      SimilaritySearch.bruteForceTopK(emb, "vec_id", "embedding", q, 20).collect())
    time("lsh ann top-20")(
      SimilaritySearch.lshTopK(emb, "vec_id", "embedding", q, 20, numPlanes = 10, maxProbeHamming = 1).collect())
    val idx = time("ivf build (nlist=64)")(
      SimilaritySearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 64))
    time("ivf probe top-20 (nprobe=8)")(
      SimilaritySearch.ivfTopK(idx, "vec_id", q, 20, nprobe = 8).collect())
    time("emb near-dup LSH (cos>=0.9)")(
      Meter.consume(Dedup.embeddingNearDuplicatesLSH(
        emb, "vec_id", "embedding", 0.9, numPlanes = 20, maxHamming = 1)))
    // PCA->IVF (r13): the moments fold + clustering in 16-of-64 dims at
    // volume, then the coarse-to-fine probe. The claim: the reduced
    // probe touches k/d of the vector bytes in the shortlist stage, so
    // probe wall should sit at-or-under the plain IVF probe while the
    // build adds one moments pass over the corpus.
    val pidx = time("pca-ivf build (k=16, nlist=64)")(
      SimilaritySearch.buildPcaIvfIndex(
        emb, "vec_id", "embedding", components = 16, nlist = 64))
    time("pca-ivf probe top-20 (nprobe=8, shortlist=4)")(
      SimilaritySearch.pcaIvfTopK(pidx, "vec_id", q, 20, nprobe = 8).collect())
    pidx.release()
    // Filtered search at volume: the in-probe predicate (label slice
    // carried beside the codes, r10) must cost no more than the
    // unfiltered probe — it prunes rows the unfiltered probe scores —
    // while post-filtering an unfiltered top-k returns FEWER than k
    // slice rows (the correctness deficit that motivates in-probe
    // filtering; you cannot recover the missing rows without a second,
    // wider probe).
    val fidx = time("ivf build w/ carryCols(label)")(
      SimilaritySearch.buildIvfIndex(
        emb, "vec_id", "embedding", nlist = 64, carryCols = Seq("label")))
    val unfiltered = time("unfiltered probe top-20 (nprobe=8)")(
      SimilaritySearch.ivfTopK(fidx, "vec_id", q, 20, nprobe = 8).collect())
    val inProbe = time("in-probe filtered top-20 (label=1)")(
      SimilaritySearch.ivfTopKWhere(
        fidx, "vec_id", q, col("label") === 1, 20, nprobe = 8).collect())
    val labels = emb.select(col("vec_id"), col("label"))
      .filter(col("vec_id").isin(unfiltered.map(r => java.lang.Long.valueOf(r.getLong(0))).toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val postFilterRows = unfiltered.count(r => labels(r.getLong(0)) == 1)
    println(s"[stress]   in-probe rows = ${inProbe.length}/20; " +
      s"post-filtering the unfiltered top-20 keeps only $postFilterRows")

    // Auto-widen COST SHAPE at volume (the under-fill-then-recover
    // correctness story is SimilaritySpec's; replicas cluster
    // identically here, so selective slices concentrate in few cells):
    // the widen must cost one counting pass + the wider rank scan,
    // bounded — not a corpus rescan per round.
    val selPred = col("vec_id") % 2000 === 0
    val fixedSel = time("fixed filtered top-20 (sel ~0.05%, nprobe=8)")(
      SimilaritySearch.ivfTopKWhere(
        fidx, "vec_id", q, selPred, 20, nprobe = 8).collect())
    val widenSel = time("auto-widen filtered top-20 (same pred)")(
      SimilaritySearch.ivfTopKWhereWiden(
        fidx, "vec_id", q, selPred, 20, nprobe = 8).collect())
    println(s"[stress]   fixed rows = ${fixedSel.length}/20, " +
      s"widened rows = ${widenSel.length}/20")
    val queries100 = emb.filter(col("vec_id") % 400 === 1).limit(100)
    time("batch minimal-prefix widen, 100 queries")(
      Meter.consume(SimilaritySearch.ivfTopKBatchWhereWiden(
        fidx, queries100, "vec_id", "embedding", selPred, k = 20, nprobe = 8)))
    }

    section("stores") {
    // Filtered probes of the PERSISTED stores (binary sign + PQ codes)
    // at replicated volume — the on-disk counterpart of the r10
    // in-probe filtered-IVF arm. The claim under measurement: a slice
    // probe of a carry-bearing store costs no more than the unfiltered
    // probe (Catalyst pushes the predicate to the parquet scan of
    // words/codes — rows outside the slice are never unpacked or
    // scored), while post-filtering the unfiltered top-k keeps fewer
    // than k slice rows.
    import graft.operators.Quantization
    val emb = replicate(TableIO.table(spark, sfDir, "embeddings"), "vec_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] store vectors: ${emb.count()} (${reps}x)")
    val q = TableIO.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0).toArray

    val binPath = s"target/stress/bin_store_${System.nanoTime()}"
    time("binary store write w/ carryCols(label)")(
      SimilaritySearch.saveBinaryIndex(emb, "vec_id", "embedding", binPath,
        carryCols = Seq("label")))
    val binAll = time("binary stored top-20 unfiltered")(
      SimilaritySearch.binaryTopKStored(spark, binPath, q, 20).collect())
    val binSlice = time("binary stored top-20 label=1 (pushed)")(
      SimilaritySearch.binaryTopKStoredWhere(spark, binPath, q, 20,
        col("label") === 1).collect())
    val labels = emb.select(col("vec_id"), col("label"))
      .filter(col("vec_id").isin(binAll.map(r => java.lang.Long.valueOf(r.getLong(0))).toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    println(s"[stress]   filtered rows = ${binSlice.length}/20; " +
      s"post-filtering the unfiltered top-20 keeps only " +
      s"${binAll.count(r => labels(r.getLong(0)) == 1)}")

    val model = time("pq train (m=8, kc=16)")(
      Quantization.trainPq(emb, "embedding", m = 8, kc = 16))
    val pqPath = s"target/stress/pq_store_${System.nanoTime()}"
    time("pq store write w/ carryCols(label)")(
      Quantization.savePqIndex(emb, model, "vec_id", "embedding", pqPath,
        carryCols = Seq("label")))
    time("pq stored ADC top-20 unfiltered")(
      Quantization.pqTopKStored(spark, pqPath, q, 20).collect())
    val pqSlice = time("pq stored ADC top-20 label=1 (pushed)")(
      Quantization.pqTopKStoredWhere(spark, pqPath, q, 20,
        col("label") === 1).collect())
    println(s"[stress]   pq filtered rows = ${pqSlice.length}/20")
    }

    section("window") {
    // Hot-key range-window stress: one account holds 2M rows across one
    // day — the plain RANGE window puts ALL of them in a single task;
    // the blocked form bounds every partition by block width. Sums must
    // agree exactly (the blocked contract is output identity).
    import graft.operators.BehavioralFeatures
    val hot = spark.range(2000000L).select(
      lit("HOT").as("key"), (col("id") % 86400L).as("ts_unix"))
    val cold = spark.range(500000L).select(
      concat(lit("u"), col("id") % 50000L).as("key"), (col("id") % 864000L).as("ts_unix"))
    val ev = hot.unionByName(cold).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] window rows: ${ev.count()} (hot key = 2M)")
    val plainSum = time("plain trailing 1h count")(
      ev.select(BehavioralFeatures.trailingCount("key", "ts_unix", 3600L).as("c"))
        .agg(sum("c")).head().getLong(0))
    val blockedSum = time("blocked trailing 1h count")(
      BehavioralFeatures.blockedTrailingCount(ev, "key", "ts_unix", 3600L, "c")
        .agg(sum("c")).head().getLong(0))
    println(s"[stress]   plain sum = $plainSum, blocked sum = $blockedSum, " +
      s"equal = ${plainSum == blockedSum}")
    }

    section("crossover") {
    // Where the collected fold stops beating the in-place sweeps — the
    // row bound of CollectBound.Default. BT and RC (10 sweeps each) on
    // complete tournaments of k items: k(k-1)/2 pair-census rows, 3
    // planted-BT comparisons per pair (P(i wins) = (i+1)/(i+j+2)). Per
    // size each mode runs three times, interleaved C I / I C / C I.
    import graft.operators.{CollectBound, Preferences}
    val collectAll = CollectBound(Long.MaxValue, Long.MaxValue)
    def tournament(k: Long): DataFrame = {
      val ids = spark.range(k)
      ids.select(col("id").as("i"))
        .crossJoin(ids.select(col("id").as("j")))
        .filter(col("i") < col("j"))
        .crossJoin(spark.range(3L).select(col("id").as("rep")))
        .select(col("i"), col("j"),
          (conv(substring(md5(concat_ws("_", col("i"), col("j"), col("rep"))),
            1, 8), 16, 10).cast("double") / lit(4294967296.0)).as("u"))
        .select(
          when(col("u") < (col("i") + 1).cast("double")
            / (col("i") + col("j") + 2).cast("double"), col("i"))
            .otherwise(col("j")).cast("string").as("winner"),
          when(col("u") < (col("i") + 1).cast("double")
            / (col("i") + col("j") + 2).cast("double"), col("j"))
            .otherwise(col("i")).cast("string").as("loser"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // Both fits return a driver-local frame, so the checksums re-read
    // it rather than re-run the sweeps.
    def fits(cmps: DataFrame, bound: CollectBound, label: String): Unit = {
      val bt = time(s"crossover: BT $label") {
        val f = Preferences.bradleyTerry(cmps, "winner", "loser", iters = 10, bound = bound)
        Meter.consume(f)
        f
      }
      val rc = time(s"crossover: RC $label") {
        val f = Preferences.rankCentrality(cmps, "winner", "loser", iters = 10, bound = bound)
        Meter.consume(f)
        f
      }
      println(s"[stress]   BT checksum = ${checksum(bt)} RC checksum = ${checksum(rc)}")
    }
    // warm-up (JIT, first jobs), untimed in the table below
    val warm = tournament(46L)
    warm.count()
    fits(warm, collectAll, "warm-up collected")
    fits(warm, CollectBound.InPlace, "warm-up in place")
    warm.unpersist(blocking = false)
    for (k <- Seq(20L, 46L, 100L, 142L, 178L, 200L, 225L, 317L, 447L, 633L, 1000L)) {
      val cmps = tournament(k)
      cmps.count()
      val pairs = k * (k - 1) / 2
      for (rep <- 1 to 3) {
        val modes = Seq(collectAll -> "collected", CollectBound.InPlace -> "in place")
        for ((bound, mode) <- if (rep == 2) modes.reverse else modes)
          fits(cmps, bound, f"$pairs%6d pairs $mode")
      }
      cmps.unpersist(blocking = false)
    }
    // The label fits sweep a unit census: Dawid-Skene (5 raters, 3
    // classes) and scalar consensus (3 raters), 10 sweeps each, same
    // interleave.
    import graft.operators.{DawidSkene, ScalarConsensus}
    def labelFits(votes: DataFrame, grades: DataFrame, bound: CollectBound,
        label: String): Unit = {
      time(s"crossover: DS $label")(Meter.consume(DawidSkene.fit(
        votes, "u", "r", "l", 10, 0.01, bound).posterior))
      time(s"crossover: SC $label")(Meter.consume(ScalarConsensus.fit(
        grades, "u", "r", "y", 10, bound).truth))
    }
    val (warmV, warmG) = (dsVotes(1000L), scGrades(1000L))
    labelFits(warmV, warmG, collectAll, "warm-up collected")
    labelFits(warmV, warmG, CollectBound.InPlace, "warm-up in place")
    warmV.unpersist(blocking = false)
    warmG.unpersist(blocking = false)
    for (units <- Seq(1000L, 3000L, 10000L, 30000L, 100000L)) {
      val (votes, grades) = (dsVotes(units), scGrades(units))
      votes.count(); grades.count()
      for (rep <- 1 to 3) {
        val modes = Seq(collectAll -> "collected", CollectBound.InPlace -> "in place")
        for ((bound, mode) <- if (rep == 2) modes.reverse else modes)
          labelFits(votes, grades, bound, f"$units%6d units $mode")
      }
      votes.unpersist(blocking = false)
      grades.unpersist(blocking = false)
    }
    }

    section("labels") {
    // Dawid-Skene at scale (r17): 200k and 400k units x 5 raters x 3
    // classes, past the collect bound, so each of the 6 sweeps is one
    // job over the cached unit census; wall should track votes x
    // classes x sweeps. The checksum compares runs.
    import graft.operators.DawidSkene
    for (units <- Seq(200000L, 400000L)) {
      val v = dsVotes(units)
      println(s"[stress] ds votes: ${v.count()} over $units units")
      val lab = time(s"labels: dawid-skene fit+consensus, $units units x 5 raters") {
        val l = DawidSkene.label(v, "u", "r", "l", iters = 5)
        Meter.consume(l)
        l
      }
      println(s"[stress]   consensus rows = ${lab.count()} checksum = ${checksum(lab)}")
      v.unpersist(blocking = false)
    }
    }

    section("scalar") {
    // Scalar consensus at scale (r18): 500k units x 3 raters (1.5M
    // grades), past the collect bound, so each of the 5 sweeps is one
    // job over the cached unit census and the truth readback one more;
    // wall should track votes x sweeps. The checksum compares runs.
    import graft.operators.ScalarConsensus
    val units = 500000L
    val grades = scGrades(units)
    println(s"[stress] scalar grades: ${grades.count()} over $units units")
    val sfit = time(s"scalar: consensus ALS fit, $units units x 3 raters") {
      val f = ScalarConsensus.fit(grades, "u", "r", "y", iters = 5)
      Meter.consume(f.truth)
      f
    }
    println("[stress]   lenses: " + sfit.raters.orderBy("r").collect()
      .map(r => s"${r.getString(0)}: bias=${r.getDouble(2)} scale=${r.getDouble(3)}")
      .mkString("; "))
    println(s"[stress]   truths = ${sfit.truth.count()} checksum = ${checksum(sfit.truth)}")
    grades.unpersist(blocking = false)
    }

    spark.stop()
  }
}
