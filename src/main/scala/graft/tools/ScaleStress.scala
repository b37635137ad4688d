package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.operators.{Dedup, SimilaritySearch, SubstringDedup}
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
    // Optional third arg: comma-separated section names
    // (dedup,sim,window,cc) to run a targeted subset.
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

    section("anomaly") {
    // The r13 anomaly additions at volume. Claims under measurement:
    // seasonal robust-z costs the same THREE fact scans as the plain
    // group baseline (the composite key only widens the broadcast
    // stats table, <= 168 rows/group); Mahalanobis is one moments fold
    // (counters to the driver) + one row-local codegen'd mat-vec scan.
    import graft.operators.{Anomaly, EmbeddingStats}
    val ev = replicate(TableIO.table(spark, sfDir, "events")
        .select("event_id", "event_type", "ts", "value"), "event_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] anomaly events: ${ev.count()} (${reps}x)")
    time("robust z (group baseline)")(
      println("[stress]   outliers = " + Anomaly.robustZScore(ev, "event_type", "value")
        .filter(col("is_outlier")).count()))
    time("seasonal robust z (hour-of-day)")(
      println("[stress]   outliers = " +
        Anomaly.seasonalRobustZ(ev, "event_type", "ts", "value")
          .filter(col("is_outlier")).count()))
    ev.unpersist()
    val emb = replicate(TableIO.table(spark, sfDir, "embeddings"), "vec_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] anomaly vectors: ${emb.count()} (${reps}x)")
    time("mahalanobis scores (64-dim)")(
      println("[stress]   mean d2 = " + EmbeddingStats
        .mahalanobisScore(emb, "embedding", "d2")
        .agg(avg(col("d2"))).head().getDouble(0)))
    emb.unpersist()
    }

    section("events") {
    // The r13 event-analytics additions at volume. Replication keeps
    // user_id UNCHANGED, so every user's history grows reps x — the
    // worst case for the per-user session window (funnel/cohort reduce
    // to per-user milestones regardless of history depth; sessionize's
    // window is streaming-evaluated, never buffered whole).
    import graft.operators.EventAnalytics
    val ev = replicate(TableIO.table(spark, sfDir, "events")
        .select("event_id", "user_id", "ts", "event_type"), "event_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] events: ${ev.count()} (${reps}x per-user depth)")
    time("sessionize (30 min gap)")(
      println("[stress]   sessions = " + EventAnalytics
        .sessionStats(ev, "user_id", "ts", 1800L, col("event_id")).count()))
    time("transition matrix")(
      println("[stress]   cells = " + EventAnalytics
        .transitionMatrix(ev, "user_id", "ts", "event_type", 1800L,
          col("event_id")).count()))
    time("funnel view->click->purchase")(
      println("[stress]   reached = " + EventAnalytics
        .funnel(ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase")).count()))
    time("cohort retention (weekly)")(
      println("[stress]   cells = " + EventAnalytics
        .cohortRetention(ev.select("user_id", "ts"), "user_id", "ts").count()))
    ev.unpersist()
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

    section("neardup") {
    // Scale evidence for the corpus app's OPT-IN near-dedup arm. Exact
    // replicas would be collapsed by the exact-dedup stage before
    // near-dedup ever ran, so each replica appends a distinct token:
    // fingerprints all differ, and the near-dedup stage faces `reps`-sized
    // near-duplicate clusters (pairwise Jaccard ~ n/(n+2) >> 0.5) at full
    // corpus volume — its worst candidate-density shape.
    import graft.app.RunCorpusPipeline
    val docs = replicate(TableIO.table(spark, sfDir, "documents"), "doc_id", reps)
      .withColumn("text", concat(col("text"), lit(" zz"), col("doc_id").cast("string")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nIn = docs.count()
    println(s"[stress] neardup corpus: $nIn docs in ${reps}x near-duplicate clusters")
    val root = s"target/tmp/stress_neardup_${System.nanoTime()}"
    time("corpus pipeline, nearDedup=true")(
      RunCorpusPipeline.run(spark, docs,
        RunCorpusPipeline.CorpusConfig(root, nearDedup = true)))
    val silverCnt = spark.read.parquet(s"$root/silver").count()
    println(s"[stress]   silver survivors = $silverCnt of $nIn " +
      s"(clusters collapsed = ${silverCnt <= nIn / reps})")
    docs.unpersist()
    }

    section("pii") {
    // PII-bearing docs are the redaction hot path (clean docs exit at
    // the prescan in both formulations). Augment every doc with all
    // four kinds — q_pii_redact's shape — and compare the byte-scan
    // kernel against the four-regexp_replace cascade it replaced.
    import graft.functions.TextFunctions
    val docs = replicate(TableIO.table(spark, sfDir, "documents"), "doc_id", reps)
      .select(col("doc_id"), concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".7 ssn 123-45-6789 tel +1 555 123 4567")).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] pii corpus: ${docs.count()} docs, all PII-bearing")
    def sumLen(c: org.apache.spark.sql.Column): Long =
      docs.select(sum(length(c))).head().getLong(0)
    val regexLen = time("redact: regexp_replace cascade")(
      sumLen(TextFunctions.redactPiiRegex(col("text"))))
    val kernelLen = time("redact: byte-scan kernel")(
      sumLen(TextFunctions.redactPii(col("text"))))
    println(s"[stress]   identical output: ${regexLen == kernelLen} (len-sum $kernelLen)")
    docs.unpersist()
    }

    section("topgram") {
    // HOF fold vs byte kernel for the Gopher top-gram signal (r9
    // candidate d): same docs volume as the redact stress. The two
    // formulations are value-identical (property-pinned); this measures
    // whether the interpreted lambda is hot enough to matter.
    import graft.functions.TextFunctions
    val docs = replicate(TableIO.table(spark, sfDir, "documents"), "doc_id", reps)
      .select("doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] topgram corpus: ${docs.count()} docs")
    def sumFrac(c: org.apache.spark.sql.Column): Double =
      docs.select(sum(c)).head().getDouble(0)
    val hof = time("topgram: array_sort + HOF fold")(
      sumFrac(TextFunctions.topGramFractionHof(col("text"), 2)))
    val kernel = time("topgram: byte kernel")(
      sumFrac(TextFunctions.topGramFraction(col("text"), 2)))
    println(s"[stress]   identical output: ${hof == kernel} (sum $kernel)")
    docs.unpersist()
    }

    section("corpus") {
    // Corpus-prep at replica scale: replicas are exact copies, so the
    // dedup stage collapses them — the stress shows the stage ordering
    // payoff (row-local gates scan everything; chunking and packing
    // only ever see the distinct survivors).
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions
    import graft.operators.{Chunker, TrainingData}
    val docs = replicate(TableIO.table(spark, sfDir, "documents"), "doc_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] corpus-prep input: ${docs.count()} docs")
    val annotated = docs.select(col("doc_id"), col("source"), col("text"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.languageId(col("text")).as("lang_pred"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        TextFunctions.redactPii(col("text")).as("clean_text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("annotate (quality+lang+fp+redact)")(
      println(s"[stress]   annotated = ${annotated.count()}"))
    val deduped = annotated.filter(col("quality") >= 0.5 && col("lang_pred") === "en")
      .withColumn("_rn", row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("_rn") === 1).drop("_rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("gate + exact dedup")(
      println(s"[stress]   survivors = ${deduped.count()}"))
    val packed = TrainingData.packShards(
      Chunker.chunkDocuments(deduped, "clean_text", "doc_id",
        window = 64, stride = 48, carryCols = Seq("source"))
        .withColumn("chunk_uid", col("doc_id") * 1000 + col("chunk_id")),
      "chunk_uid", "source", col("n_chunk_tokens"), budgetTokens = 2048L)
    time("chunk + pack")(
      println(s"[stress]   packed chunks = ${packed.count()}"))
    deduped.unpersist(); annotated.unpersist(); docs.unpersist()
    }

    section("substr") {
    // Span-level substring dedup at volume. Exact replication is the
    // WORST case for the census (every gram site duplicated -> every
    // site survives the semi-join and feeds the per-doc window), so
    // this measures the operator with zero pruning help. Then the
    // incremental shape: standing census once, probe a 1-replica batch
    // against it — the per-batch cost a 100 TB ingestion actually pays.
    val base = TableIO.table(spark, sfDir, "documents")
    val docs = replicate(base, "doc_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = docs.count()
    println(s"[stress] substr corpus: $n docs (${reps}x exact replication, minLen=30)")
    time(s"full spans, ${reps}x corpus")(
      println("[stress]   spans = " +
        SubstringDedup.duplicatedSpans(docs, "doc_id", "text", 30).count()))
    val censusPath = s"target/tmp/stress_census_${System.nanoTime()}"
    time(s"census build+persist, ${reps}x corpus") {
      SubstringDedup.gramCensus(docs, "doc_id", "text", 30)
        .write.mode("overwrite").parquet(censusPath)
    }
    val census = spark.read.parquet(censusPath)
    println("[stress]   distinct grams = " + census.count())
    time("incremental probe, 1-replica batch")(
      println("[stress]   batch spans = " +
        SubstringDedup.duplicatedSpansAgainstCensus(
          base, "doc_id", "text", census, 30).count()))
    docs.unpersist()

    // Planted Zipf head (round-12 autopilot proof): 10k docs of 'a'*130
    // put ~10.1M sites on ONE gram — the skewed-key single-reducer worst
    // case for the window formulation. The DEFAULT API must detect it
    // (sampled probe) and route to census+join, keeping the LONGEST TASK
    // bounded; the forced window form funnels the gram through one
    // WindowExec task, and the max-task gap is the proof.
    def maxTaskSecs(body: => Unit): Double = {
      val mx = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskInfo != null)
            mx.getAndAccumulate(te.taskInfo.duration, math.max(_, _))
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(1500) } // listener bus is async; let it drain
      finally spark.sparkContext.removeSparkListener(l)
      mx.get / 1000.0
    }
    val hot = spark.range(100000).select(
      (col("id") + 900000000L).as("doc_id"),
      concat(lit("a" * 130), lit(" tail "), col("id").cast("string")).as("text"))
    val skewed = base.select(col("doc_id"), col("text")).unionByName(hot)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] skewed corpus: ${skewed.count()} docs, ONE ~10.1M-site gram")
    println("[stress]   probe picks census+join = " +
      SubstringDedup.probePicksCensusJoin(skewed, "doc_id", "text", 30))
    val autoMax = maxTaskSecs {
      time("spans, planted hot gram, DEFAULT API (auto)")(
        println("[stress]   spans = " +
          SubstringDedup.duplicatedSpans(skewed, "doc_id", "text", 30).count()))
    }
    val windowMax = maxTaskSecs {
      time("spans, planted hot gram, FORCED window form")(
        println("[stress]   spans = " + SubstringDedup
          .duplicatedSpans(skewed, "doc_id", "text", 30, skewSafe = Some(false))
          .count()))
    }
    println(f"[stress]   longest task: auto $autoMax%.2f s vs window $windowMax%.2f s")
    skewed.unpersist()
    }

    section("lines") {
    // Line-grain dedup at volume with a PLANTED hot line: every doc in
    // the replicated corpus carries the same footer, so one line key
    // holds ~nDocs occurrences. dropAll (census + anti-join, the
    // default) must keep the longest task bounded; keepFirst funnels
    // the footer's occurrence set through ONE rank-window task — the
    // measured gap is the reason dropAll is the documented scale mode.
    import graft.operators.LineDedup
    def maxTaskSecs(body: => Unit): Double = {
      val mx = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskInfo != null)
            mx.getAndAccumulate(te.taskInfo.duration, math.max(_, _))
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(1500) }
      finally spark.sparkContext.removeSparkListener(l)
      mx.get / 1000.0
    }
    val base = TableIO.table(spark, sfDir, "documents")
    val footerBlock = Seq.fill(10)("subscribe to our newsletter for updates").mkString("\n")
    val docs = replicate(base, "doc_id", reps * 5)
      .select(col("doc_id"),
        concat(col("text"), lit("\n" + footerBlock + "\n"),
          substring(col("text"), 1, 40)).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] lines corpus: ${docs.count()} docs, one ~${docs.count() * 10}-site footer line")
    time("duplicated-lines inventory")(
      println("[stress]   dup lines = " +
        LineDedup.duplicatedLines(docs, "doc_id", "text").count()))
    // Aggregate over clean_text, not count(): a bare count lets Catalyst
    // eliminate the unique-keyed left join and skip the strip entirely.
    val dropMax = maxTaskSecs {
      time("strip dropAll (census + anti-join)")(
        println("[stress]   clean chars = " +
          LineDedup.stripDuplicatedLines(docs, "doc_id", "text")
            .agg(sum(length(col("clean_text")))).head().getLong(0)))
    }
    val keepMax = maxTaskSecs {
      time("strip keepFirst (rank window)")(
        println("[stress]   clean chars = " +
          LineDedup.stripDuplicatedLines(docs, "doc_id", "text", keepFirst = true)
            .agg(sum(length(col("clean_text")))).head().getLong(0)))
    }
    println(f"[stress]   longest task: dropAll $dropMax%.2f s vs keepFirst $keepMax%.2f s")
    docs.unpersist()
    }

    section("sample") {
    // Weighted exactly-k at volume: the ES race + Selection descent on
    // a 20x corpus, and frozen-LM scoring of one batch against a
    // persisted census built from the whole corpus — the two
    // ingestion-time operators a 100 TB pipeline runs per batch.
    import graft.operators.{CensusStore, CorpusStats, TrainingData}
    val base = TableIO.table(spark, sfDir, "documents")
    val docs = replicate(base, "doc_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = docs.count()
    println(s"[stress] sample corpus: $n docs (${reps}x replication)")
    time(s"exactSampleWeighted k=10k, ${reps}x corpus") {
      val k = TrainingData.exactSampleWeighted(
        docs, "doc_id", col("n_chars"), 10000L).count()
      println(s"[stress]   sampled = $k (exact = ${k == 10000L})")
    }
    val censusPath = s"target/tmp/stress_tok_census_${System.nanoTime()}"
    time(s"token census build+persist, ${reps}x corpus")(
      CensusStore.appendDelta(CorpusStats.tokenCensus(docs, "text"), censusPath, 0L))
    val census = CensusStore.read(spark, censusPath, "tok")
    println("[stress]   vocab = " + census.count())
    time("frozen-LM scoring, 1-replica batch")(
      Meter.consume(CorpusStats.surprisalAgainstCensus(base, "doc_id", "text", Seq(census))))
    docs.unpersist()
    }

    section("dsir") {
    // DSIR at volume (r13, backing Dsir.scala's "100 TB shape" note):
    // census build, weight scoring, and the exactly-k resample at two
    // corpus sizes (reps and 2.5*reps), so the growth ratio is visible
    // next to the 2.5x data ratio. Post-r13 claims under measurement:
    // the fused census is ONE hashing pass; scoring is one zero-shuffle
    // pass; resample = one scoring pass into the narrow cache + a
    // descent on cached counters + one plain recovery scan — so
    // sample-wall should sit near score-wall + corpus-scan, NOT the
    // ~10x cascade r12 shipped. The sampled census reads `rate` of the
    // corpus and must come in well under the full census.
    import graft.operators.Dsir
    val base = TableIO.table(spark, sfDir, "documents")
      .select("doc_id", "lang", "source", "text")
    def run(r: Int): (Long, Double, Double, Double, Double) = {
      val docs = replicate(base, "doc_id", r)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = docs.count()
      var t0 = System.nanoTime()
      val (tc, rc) = Dsir.featureCensusPair(docs, "text", 1024, col("lang") === "en")
      val censusSec = (System.nanoTime() - t0) / 1e9 // pair builder is eager
      t0 = System.nanoTime()
      Dsir.featureCensusSampled(docs, "doc_id", "text", 1024, rate = 0.1)
        .agg(sum("cnt")).head()
      val sampledCensusSec = (System.nanoTime() - t0) / 1e9
      val w = Dsir.importanceWeights(docs, "doc_id", "text", tc, rc, 1024)
      t0 = System.nanoTime()
      // Aggregate the produced column: a bare count would prune the
      // scoring fold out of the measurement entirely.
      w.agg(sum("log_weight")).head()
      val scoreSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      Dsir.resampleTopK(w, "doc_id", col("log_weight"), 10000L, salt = "st",
          tailThreshold = 4096)
        .agg(sum(length(col("text")))).head()
      val sampleSec = (System.nanoTime() - t0) / 1e9
      docs.unpersist()
      println(f"[stress]   ${r}%3dx ($n%8d docs): census $censusSec%6.2f s, " +
        f"sampled-census $sampledCensusSec%6.2f s, score $scoreSec%6.2f s, " +
        f"resample $sampleSec%6.2f s")
      (n, censusSec, sampledCensusSec, scoreSec, sampleSec)
    }
    val a = run(reps)
    val b = run(reps * 5 / 2)
    println(f"[stress]   growth at 2.5x data: census ${b._2 / a._2}%.2f, " +
      f"score ${b._4 / a._4}%.2f, resample ${b._5 / a._5}%.2f (linear = 2.50)")
    println(f"[stress]   resample/score = ${b._5 / b._4}%.2f " +
      "(one cached scoring pass + descent + one plain recovery scan)")
    println(f"[stress]   sampled census / full census = ${b._3 / b._2}%.2f (rate 0.1)")
    }

    section("lm") {
    // The n-gram LM family at volume: census build cost and batch
    // scoring cost, unigram -> bigram -> trigram. The claim under
    // measurement: scoring is a row-local token explode + keyed census
    // joins, with no exchange by doc (census sizes grow with n, but
    // each is one row per gram), so depth buys signal at near-linear
    // cost.
    import graft.operators.CorpusStats
    val base = TableIO.table(spark, sfDir, "documents").select("doc_id", "text")
    val docs = replicate(base, "doc_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] lm corpus: ${docs.count()} docs (${reps}x)")
    // Consume the scores: a bare count() lets the optimizer drop the
    // scorer's left join onto its per-doc side (unique on the doc id),
    // which leaves a census head and a doc count.
    def scored(s: DataFrame): Unit =
      println(f"[stress]   score sum = ${s.agg(sum("avg_surprisal")).head().getDouble(0)}%.3f")
    time("unigram self-surprisal")(
      scored(CorpusStats.surprisal(docs, "doc_id", "text")))
    time("bigram self-surprisal")(
      scored(CorpusStats.surprisal(docs, "doc_id", "text", order = 2)))
    time("trigram self-surprisal")(
      scored(CorpusStats.surprisal(docs, "doc_id", "text", order = 3)))
    val uniC = CorpusStats.tokenCensus(docs, "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val biC = CorpusStats.gramCensus(docs, "text", 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val triC = CorpusStats.gramCensus(docs, "text", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress]   census sizes: uni=${uniC.count()} bi=${biC.count()} " +
      s"tri=${triC.count()}")
    time("frozen trigram scoring, 1-replica batch")(
      scored(CorpusStats.surprisalAgainstCensus(
        base, "doc_id", "text", Seq(uniC, biC, triC))))
    Seq(uniC, biC, triC).foreach(_.unpersist())
    docs.unpersist()
    }

    section("ingest") {
    // Per-batch ingestion at volume (round 12): standing corpus = the
    // replicated fixture ingested once; the measured unit is ONE
    // 1-replica batch folding in — index probe + pair linking + state
    // append. Replicas are exact copies, so the batch is 100%
    // duplicate-dense: worst case for candidate volume, and every doc
    // should drop.
    import graft.operators.{ClusterStore, Ingest}
    val base = TableIO.table(spark, sfDir, "documents").select("doc_id", "text")
    val docs = replicate(base, "doc_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] ingest standing corpus: ${docs.count()} docs (${reps}x)")
    val ingRoot = s"target/tmp/stress_ingest_${System.nanoTime()}"
    time(s"ingest batch 0 (standing corpus, ${reps}x)") {
      val r = Ingest.ingestIncrement(
        docs, "doc_id", "text", s"$ingRoot/idx", s"$ingRoot/store",
        s"$ingRoot/out", batchId = 0L)
      println(s"[stress]   survivors = ${r.survivors.count()}, dropped = ${r.dropped}")
    }
    time("ingest batch 1 (1-replica, all duplicates)") {
      val r = Ingest.ingestIncrement(
        base.withColumn("doc_id", col("doc_id") + lit(5000000000L)),
        "doc_id", "text", s"$ingRoot/idx", s"$ingRoot/store",
        s"$ingRoot/out", batchId = 1L)
      println(s"[stress]   survivors = ${r.survivors.count()}, dropped = ${r.dropped}")
    }
    println("[stress]   standing clusters = " +
      ClusterStore.read(spark, s"$ingRoot/store").select("cluster_id").distinct().count())
    docs.unpersist()
    }

    section("graph") {
    // PageRank stress: hub-skewed synthetic web graphs at 1M and 2M
    // edges (avg out-degree 10, 10% of edges land on a 1% hub set,
    // plus the dangling tail every real crawl has). The claims to
    // back: per-iteration cost is one rank-vector shuffle into the
    // cached edge layout (linear in edges), and mass stays ~1 through
    // the 6dp rounded dynamics.
    import graft.operators.Graph
    def webEdges(m: Long): DataFrame = {
      val n = m / 10
      spark.range(m).select(
        (col("id") % lit(n)).as("src"),
        when(col("id") % 10 === 0, col("id") % lit(math.max(n / 100, 1L)))
          .otherwise((col("id") * 2654435761L) % lit(n)).as("dst"))
        .filter(col("src") =!= col("dst"))
    }
    for (m <- Seq(1000000L, 2000000L)) {
      val e = webEdges(m).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[stress] graph edges: ${e.count()}")
      val pr = time(s"pagerank 5 iters ($m edges)")(
        Graph.pageRank(e, "src", "dst", iterations = 5)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val mass = pr.agg(sum(col("rank"))).collect().head.getDouble(0)
      val top = pr.orderBy(col("rank").desc).limit(3)
        .collect().map(r => s"${r.getLong(0)}=${r.getDouble(1)}").mkString(", ")
      println(f"[stress]   rank mass = $mass%.4f (~1 expected); top: $top")
      pr.unpersist(blocking = false); e.unpersist(blocking = false)
    }
    }

    section("cc") {
    // Connected-components stress: 2M edges over ~1M vertices shaped as
    // 100k chains of 10 plus 100k stars of 10 with cross-links — long
    // label chains (pointer-jumping territory) AND hub fan-out. Compare
    // the driver union-find fast path against the distributed fixpoint.
    import graft.operators.Components
    val chainEdges = spark.range(1000000L)
      .select((col("id") + lit(1000000L)).as("id_a"), (col("id") + lit(1000001L)).as("id_b"))
      .filter(col("id_a") % 10 =!= 9) // break into chains of 10
    val starEdges = spark.range(1000000L)
      .select((col("id") - col("id") % 10 + lit(3000000L)).as("id_a"),
        (col("id") + lit(3000000L)).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val edges = chainEdges.unionByName(starEdges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] cc edges: ${edges.count()}")
    val ufCount = time("cc driver union-find (2M edges)")(
      Components.connectedComponents(edges, "id_a", "id_b")
        .select("component").distinct().count())
    val distCount = time("cc distributed fixpoint (2M edges)")(
      Components.connectedComponents(edges, "id_a", "id_b", 30, driverEdgeLimit = 0L)
        .select("component").distinct().count())
    println(s"[stress]   components: union-find = $ufCount, distributed = $distCount, " +
      s"equal = ${ufCount == distCount}")

    // Incremental membership fold (round 12): standing store built from
    // the 2M-edge graph once, then one SMALL delta batch (0.1% new
    // edges, including cluster-linking ones) folds in. The claim: the
    // per-batch cost is delta-shaped — it must not rescan the 2M-edge
    // history the full recompute pays for.
    import graft.operators.ClusterStore
    val storePath = s"target/tmp/stress_cluster_${System.nanoTime()}"
    time("cluster store: initial fold (2M edges)")(
      ClusterStore.applyEdges(spark, storePath, edges))
    val delta = spark.range(2000L).select(
      (col("id") * 10 + lit(1000005L)).as("id_a"),   // chain members ...
      (col("id") * 10 + lit(3000000L)).as("id_b"))   // ... linked to stars
    time("cluster store: 2k-edge delta fold")(
      ClusterStore.applyEdges(spark, storePath, delta))
    val mergedCount = time("cluster store: read membership")(
      ClusterStore.read(spark, storePath).select("cluster_id").distinct().count())
    val fullCount = time("full CC recompute (2M + 2k edges)")(
      Components.connectedComponents(
        edges.unionByName(delta), "id_a", "id_b")
        .select("component").distinct().count())
    println(s"[stress]   clusters: store = $mergedCount, full = $fullCount, " +
      s"equal = ${mergedCount == fullCount}")
    }

    section("r14") {
    // HITS over the same hub-skewed web graphs the pagerank arm uses:
    // the claims are identical (per-iteration cost = two vector
    // shuffles into the cached edge layout; L1 mass holds ~1 on both
    // vectors through the 12dp rounded dynamics).
    import graft.operators.{Graph, PortableHll, Dedup => D}
    def webEdges(m: Long): DataFrame = {
      val n = m / 10
      spark.range(m).select(
        (col("id") % lit(n)).as("src"),
        when(col("id") % 10 === 0, col("id") % lit(math.max(n / 100, 1L)))
          .otherwise((col("id") * 2654435761L) % lit(n)).as("dst"))
        .filter(col("src") =!= col("dst"))
    }
    for (m <- Seq(1000000L, 2000000L)) {
      val e = webEdges(m).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[stress] hits edges: ${e.count()}")
      val hv = time(s"hits 3 iters ($m edges)")(
        Graph.hits(e, "src", "dst", iterations = 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val sums = hv.agg(sum(col("hub")), sum(col("authority"))).collect().head
      println(f"[stress]   L1 mass: hub = ${sums.getDouble(0)}%.4f, " +
        f"auth = ${sums.getDouble(1)}%.4f (~1 expected each)")
      hv.unpersist(blocking = false); e.unpersist(blocking = false)
    }

    // Portable HLL over a wide synthetic stream: 50M rows, 100 groups,
    // ~1M true distinct per group. Claims: one pass to <=256 counter
    // rows per group (map-side combined), estimate within the 6.5%
    // design error band.
    val wide = spark.range(50000000L).select(
      (col("id") % 100).cast("string").as("g"),
      floor(col("id") / 100).as("v")) // 500k distinct per group, exactly
    val est = time("portable HLL: 50M rows, 100 groups")(
      PortableHll.distinctApprox(wide, "g", col("v"))
        .agg(min(col("approx_distinct")), max(col("approx_distinct")))
        .collect().head)
    println(f"[stress]   est range = ${est.getDouble(0)}%.0f .. ${est.getDouble(1)}%.0f " +
      "(true 500000 per group)")

    // Portable MinHash at replicated-corpus scale: signatures + banded
    // pairs on the exact-dup-collapsed corpus (the production order).
    val docs = replicate(TableIO.table(spark, sfDir, "documents"), "doc_id", reps)
    val distinctDocs = D.dropExactDuplicates(docs, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] minhash corpus: ${distinctDocs.count()} distinct docs")
    time("portable minhash signatures (16 perms)")(
      Meter.consume(D.minHashSignaturesPortable(distinctDocs, "doc_id", "text")))
    val nPairs = time("portable minhash banded pairs")(
      D.minHashPairsPortable(distinctDocs, "doc_id", "text").count())
    println(s"[stress]   banded pairs = $nPairs")

    // Rolling active users over a year of synthetic activity: 10M
    // (user, day) facts -> 28x map-side fan-out, one shuffle.
    val act = spark.range(10000000L).select(
      (col("id") % 200000L).as("user_id"),
      to_timestamp(from_unixtime(lit(1700000000L) + (col("id") % 365) * 86400L))
        .as("ts"))
    val auDays = time("active users: 10M facts, 365 days")(
      graft.operators.EventAnalytics.activeUsers(act, "user_id", "ts").count())
    println(s"[stress]   active-user days = $auDays")
    }

    section("basket") {
    // Viral-basket skew (r16): 2M items over ~200k normal baskets
    // (~10 distinct items each — prime basket count so the item stride
    // doesn't alias to one item per basket) plus ONE 20k-item viral
    // basket — uncapped, that basket alone emits 2x10^8 pairs in one
    // task; the maxBasketSize gate drops it at the dedup stage (logged)
    // and the mining pass stays bounded by the normal baskets.
    import graft.operators.MarketBasket
    val normal = spark.range(2000000L).select(
      (col("id") % 200003L).as("basket"),
      (col("id") % 5000L).as("item"))
    val viral = spark.range(20000L).select(
      lit(999999L).as("basket"), col("id").as("item"))
    val baskets = normal.unionByName(viral)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] basket rows: ${baskets.count()}")
    time("basket: capped pair mining (cap=100)")(
      println("[stress]   pairs = " + MarketBasket.pairStats(
        baskets, "basket", "item", minPairCount = 2L, maxBasketSize = 100)
        .count()))
    baskets.unpersist(blocking = false)
    }

    section("webdedup") {
    // CCNet web-dedup at replica scale (r16): synthesized URLs alias
    // ~12k canonical fetch targets over 3 registered domains, so the
    // canon collapse eats ~8x and the domain-scoped LSH sees only the
    // keepers. The r16 operator: one groupBy + one row-local sig pass +
    // the domain-keyed band join.
    import graft.functions.TextFunctions
    val docs = replicate(TableIO.table(spark, sfDir, "documents"), "doc_id", reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] webdedup corpus: ${docs.count()} docs")
    val hosts = array(lit("en.wikipedia.org"), lit("news.bbc.co.uk"),
      lit("blogs.example.com"))
    val urld = docs.withColumn("url", concat(lit("HTTPS://"),
      element_at(hosts, (pmod(col("doc_id"), lit(3L)) + 1).cast("int")),
      lit("/p/"), pmod(col("doc_id"), lit(4000L)).cast("string"),
      lit("/?utm_source=feed&ref=stress")))
    time("web dedup (collapse + domain LSH)")(
      println("[stress]   survivors = " + graft.operators.Dedup
        .webDedup(urld, "doc_id", "url", "text").count()))
    docs.unpersist(blocking = false)
    }

    section("corpstats") {
    // Corpus-statistics growth curve (r16): heaps/zipf/hapax/source-
    // overlap/marked-tokens at reps and 2x reps — each is census-bound
    // with exactly ONE text scan (wave-9/r15b plan audits), so runtime
    // should grow ~linearly in corpus volume. The measured factors go
    // in SURVEY alongside the ab/minhash arms.
    import graft.operators.CorpusStats
    Seq(reps, reps * 2).foreach { r =>
      val docs = replicate(TableIO.table(spark, sfDir, "documents"), "doc_id", r)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[stress] corpstats corpus: ${docs.count()} docs (${r}x)")
      time(s"corpstats ${r}x: zipf fit")(
        CorpusStats.zipfFit(docs, "text").count())
      time(s"corpstats ${r}x: heaps fit")(
        CorpusStats.heapsFit(docs, "doc_id", "text").count())
      time(s"corpstats ${r}x: hapax")(
        CorpusStats.hapaxStats(docs, "source", "text").count())
      time(s"corpstats ${r}x: source overlap")(
        CorpusStats.sourceOverlap(docs, "text", "source").count())
      time(s"corpstats ${r}x: marked tokens")(
        CorpusStats.markedTokens(docs, "text", "source").count())
      docs.unpersist(blocking = false)
    }
    }

    section("pref") {
    // Preference aggregation at scale (r16): 5M comparisons over 1000
    // items with planted strengths (item id ~ skill; the md5-coin gives
    // the stronger item the win with probability skill_a/(skill_a +
    // skill_b) — the BT generative model). Folds to ~500k distinct
    // pairs, past CollectBound.Default: the default runs in place, and
    // the fit also runs forced collected for comparison.
    import graft.operators.{CollectBound, Preferences}
    val collectAll = CollectBound(Long.MaxValue, Long.MaxValue)
    val n = 5000000L
    // opponent = ia + (1..999 block offset) mod 1000: every item meets
    // every other across the 5000 blocks (~5 comparisons per pair)
    val cmps = spark.range(n).select(
        (col("id") % 1000L).as("ia"),
        pmod(col("id") % 1000L + 1L
          + (col("id") / 1000L).cast("long") % 999L, lit(1000L)).as("ib"),
        (conv(substring(md5(concat(col("id").cast("string"), lit("pf"))), 1, 8),
          16, 10).cast("double") / lit(4294967296.0)).as("u"))
      .filter(col("ia") =!= col("ib"))
      .select(
        // P(ia wins) = (ia+1)/(ia+ib+2): planted BT with skill ~ id+1
        when(col("u") < (col("ia") + 1).cast("double")
          / (col("ia") + col("ib") + 2).cast("double"),
          col("ia")).otherwise(col("ib")).cast("string").as("winner"),
        when(col("u") < (col("ia") + 1).cast("double")
          / (col("ia") + col("ib") + 2).cast("double"),
          col("ib")).otherwise(col("ia")).cast("string").as("loser"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] pref comparisons: ${cmps.count()}")
    val fitD = time("pref: BT collected fold (1000 items)")(
      Preferences.bradleyTerry(cmps, "winner", "loser", iters = 10,
        bound = collectAll).orderBy(desc("strength")).limit(5).collect())
    println("[stress]   top-5 by strength: " +
      fitD.map(r => s"${r.getString(0)}=${r.getDouble(1)}").mkString(", "))
    time("pref: BT in-place sweeps")(
      Preferences.bradleyTerry(cmps, "winner", "loser", iters = 10,
        bound = CollectBound.InPlace).count())
    time("pref: circular triads")(
      println("[stress]   " + Preferences
        .circularTriads(cmps, "winner", "loser").collect().head))
    // r17: order-effect BT at the same scale — "first" = the smaller
    // item id (an interior, non-degenerate theta: the planted skills
    // favor larger ids, so first-shown mostly loses and theta < 1);
    // one scalar fold per sweep on top of the plain fit's shape.
    val cmpsF = cmps.withColumn("first", least(col("winner"), col("loser")))
    time("pref: BT order-effect in place")(
      println("[stress]   theta(first=lower-id) = " + Preferences
        .bradleyTerryOrder(cmpsF, "winner", "loser", "first", iters = 10)
        .select("theta").head().getDouble(0)))
    // r18: the spectral estimator on the same 5M comparisons — both
    // regimes, same pair-census reuse as the MM fit
    val rcD = time("pref: rank centrality collected fold")(
      Preferences.rankCentrality(cmps, "winner", "loser", iters = 10,
        bound = collectAll).orderBy(desc("score")).limit(5).collect())
    println("[stress]   top-5 by score: " +
      rcD.map(r => s"${r.getString(0)}=${r.getDouble(1)}").mkString(", "))
    time("pref: rank centrality in-place")(
      Preferences.rankCentrality(cmps, "winner", "loser", iters = 10,
        bound = CollectBound.InPlace).count())
    cmps.unpersist(blocking = false)

    // r17: COMPLETE tournament (one decided comparison per pair, 2000
    // items -> ~2M pair edges): completeness engages the degree
    // identity d = C(k,3) - sum C(wins_i, 2) — the triangle
    // enumeration this replaces would walk ~C(2000,3)/4 ≈ 3x10^8
    // cycles; the identity is one out-degree census after the pair
    // fold, O(k) past it.
    val items2 = spark.range(2000L)
    val complete = items2.select(col("id").as("i"))
      .crossJoin(items2.select(col("id").as("j")))
      .filter(col("i") < col("j"))
      .select(
        when(conv(substring(md5(concat_ws("_", col("i"), col("j"))), 1, 4),
            16, 10).cast("long") % 2 === 0, col("i")).otherwise(col("j"))
          .cast("string").as("winner"),
        when(conv(substring(md5(concat_ws("_", col("i"), col("j"))), 1, 4),
            16, 10).cast("long") % 2 === 0, col("j")).otherwise(col("i"))
          .cast("string").as("loser"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] complete tournament edges: ${complete.count()}")
    time("pref: triads, complete 2k tournament (degree identity)")(
      println("[stress]   " + Preferences
        .circularTriads(complete, "winner", "loser").collect().head))
    complete.unpersist(blocking = false)
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
    def fits(cmps: DataFrame, bound: CollectBound, label: String): Unit = {
      time(s"crossover: BT $label")(Preferences.bradleyTerry(
        cmps, "winner", "loser", iters = 10, bound = bound).count())
      time(s"crossover: RC $label")(Preferences.rankCentrality(
        cmps, "winner", "loser", iters = 10, bound = bound).count())
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

    section("listwise") {
    // Plackett-Luce at scale (r18): 2M ranking sessions x 4 items over
    // 1000 items — each session draws four DISTINCT items from fixed
    // non-overlapping offset bands and ranks them by a noisy skill
    // draw (Thurstonian generator: value = skill x md5-uniform), so
    // higher ids should fit stronger. Noise makes nearly every
    // ordering distinct (~2M census rows), past the collect bound: each
    // sweep runs in place over the cached census.
    import graft.operators.Preferences
    val sessions = 2000000L
    val rank4 = spark.range(sessions * 4).select(
        floor(col("id") / 4L).cast("long").as("s"),
        (col("id") % 4L).as("slot"))
      .select(col("s"), {
        val h = conv(substring(md5(concat(col("s").cast("string"),
          lit("_"), col("slot").cast("string"), lit("pl"))), 1, 8), 16, 10)
          .cast("long")
        val base = col("s") % 1000L
        pmod(base + when(col("slot") === 0L, lit(0L))
          .when(col("slot") === 1L, lit(1L) + h % 200L)
          .when(col("slot") === 2L, lit(250L) + h % 200L)
          .otherwise(lit(550L) + h % 200L), lit(1000L)).as("item")
      })
      .select(col("s"), col("item"), {
        val u = conv(substring(md5(concat(col("s").cast("string"),
          lit("#"), col("item").cast("string"))), 1, 8), 16, 10)
          .cast("double") / lit(4294967296.0)
        // rank key: negative noisy skill, scaled onto a long grid
        // (rank VALUES only order)
        (-(col("item") + 1L).cast("double") * u * lit(1000000.0))
          .cast("long").as("rk")
      })
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] listwise rows: ${rank4.count()} over $sessions sessions")
    val plFit = time(s"listwise: PL fit, $sessions sessions x 4 (in place)")(
      Preferences.plackettLuce(rank4, "s", "item", "rk", iters = 5)
        .orderBy(desc("strength")).limit(5).collect())
    println("[stress]   top-5 by strength: " +
      plFit.map(r => s"${r.getString(0)}=${r.getDouble(1)}").mkString(", "))
    rank4.unpersist(blocking = false)
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

    section("connect") {
    // Connectivity gate at scale (r18): 5M comparisons over 90k items
    // planted into THREE islands (item ids stripe mod 3; comparisons
    // only ever pair ids from the same stripe). The item table is past
    // any driver shortcut worry; the pair table (~millions) exercises
    // the Components distributed/driver regimes behind the gate.
    import graft.operators.Preferences
    val n = 5000000L
    val cmpsC = spark.range(n).select(
        (col("id") % 90000L).as("ia"),
        // partner: same residue class mod 3, different id
        pmod(col("id") % 90000L
          + lit(3L) * (lit(1L) + (col("id") / 90000L).cast("long") % 29999L),
          lit(90000L)).as("ib"))
      .filter(col("ia") =!= col("ib"))
      .select(
        least(col("ia"), col("ib")).cast("string").as("winner"),
        greatest(col("ia"), col("ib")).cast("string").as("loser"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] connectivity comparisons: ${cmpsC.count()}")
    val comps = time("connect: preferenceConnectivity, 90k items / 3 islands")(
      Preferences.preferenceConnectivity(cmpsC, "winner", "loser")
        .orderBy("component").collect())
    println("[stress]   components = " + comps.map(r =>
      s"${r.getString(0)}: ${r.getLong(1)} items / ${r.getLong(3)} cmps").mkString("; "))
    require(comps.length == 3, s"expected 3 planted islands, got ${comps.length}")
    cmpsC.unpersist(blocking = false)
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

    section("ab") {
    // The r15b experimentation ladder at 10M events / 200k users:
    // every readout is one fact aggregation + bounded follow-up, so
    // the claims are "flat jobs, no user-grain windows, no collect".
    import graft.operators.EventAnalytics
    val ev = spark.range(10000000L).select(
      (col("id") % 200000L).as("user_id"),
      to_timestamp(from_unixtime(lit(1700000000L) + (col("id") % 30) * 86400L
        + (col("id") % 86400L))).as("ts"),
      element_at(array(lit("view"), lit("click"), lit("purchase"),
        lit("refund"), lit("search"), lit("share")),
        ((col("id") % 6L) + 1).cast("int")).as("event_type"),
      ((col("id") % 997L).cast("double") / lit(10.0)).as("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[stress] ab events: ${ev.count()} rows")
    time("ab: SRM gate")(
      EventAnalytics.srmCheck(ev.select("user_id"), "user_id").count())
    time("ab: DiD on change scores")(
      EventAnalytics.didTest(ev.select("user_id", "ts", "value"),
        "user_id", "value", dayofmonth(col("ts")) <= 15).count())
    time("ab: BH-FDR over 6 metrics")(
      EventAnalytics.fdrAdjust(ev.select("user_id", "event_type"),
        "user_id", "event_type").count())
    time("ab: bootstrap CI (40 reps)")(
      EventAnalytics.bootstrapTest(ev.select("user_id", "value"),
        "user_id", "value", reps = 40).count())
    val seqDays = time("ab: mSPRT sequential (30 days)")(
      EventAnalytics.sequentialTest(ev.select("user_id", "ts", "value"),
        "user_id", "ts", "value").count())
    println(s"[stress]   sequential days = $seqDays")
    time("ab: funnel x experiment")(
      EventAnalytics.funnelAbTest(ev.select("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")).count())
    ev.unpersist(blocking = false)
    }

    // r20 gate arms (the r19 verdict's #1/#9 done-criteria): prove the
    // driver-collect gates fire loudly (or fall back distributed) on
    // pathological inputs, and that the shared-exchange kappa folds
    // survive a hot unit without pathological spill.
    section("gates") {
      import graft.operators.{MlEval, Preferences}
      // 1) high-cardinality "label" column: every row its own category
      //    -> the cell census is row-sized, the gate must fail loudly
      //    BEFORE the driver holds it (2M+1 limit rides the collect job)
      val wide = spark.range(3000000L).select(
        concat(lit("a"), col("id")).as("ra"),
        concat(lit("b"), col("id")).as("rb"))
      time("gates: kappa high-cardinality label (expect loud require)") {
        val got = scala.util.Try(MlEval.cohenKappa(wide, "ra", "rb").count())
        println(s"[stress]   cohenKappa -> $got")
        require(got.isFailure &&
          got.failed.get.getMessage.contains("cell census exceeds"),
          s"gate did not fire: $got")
      }
      // 2) pathological slice: one slice's pair census above the
      //    collect bound -> that slice is swept in place, the query
      //    completes, and no slice census ever crossed ungated
      // hot: 1200 items -> far above the 10k-row bound (in place);
      // cold: 50 items -> ~1.2k pairs (collected). Both must
      // complete, and the hot slice's census must never be collected.
      val hotCmp = spark.range(720000L * 2).select(
        when(col("id") < 720000L, lit("hot")).otherwise(lit("cold")).as("seg"),
        concat(lit("i"), pmod(col("id") * 7919L,
          when(col("id") < 720000L, lit(1200L)).otherwise(lit(50L)))).as("winner"),
        concat(lit("i"), pmod(col("id") * 104729L + 1L,
          when(col("id") < 720000L, lit(1200L)).otherwise(lit(50L)))).as("loser"))
        .filter(col("winner") =!= col("loser"))
      time("gates: bt_by_slice hot slice swept in place") {
        val n = Preferences.bradleyTerryBySlice(
          hotCmp, "seg", "winner", "loser", iters = 2, maxSlices = 1000).count()
        println(s"[stress]   bt_by_slice rows = $n")
      }
      // 3) hot unit (verdict #9): one unit carrying 100k votes through
      //    the repartition(u)-shared fleiss/krippendorff folds — the
      //    lost map-side combine must degrade gracefully, not spill-die
      val hotVotes = spark.range(400000L).select(
        when(col("id") < 100000L, lit(0L)).otherwise(col("id") % 50000L).as("u"),
        (col("id") % 3L).cast("string").as("k"))
      time("gates: krippendorff hot unit (100k votes on one u)")(
        MlEval.krippendorffAlpha(hotVotes, "u", "k").count())
      val balanced = spark.range(300000L).select(
        (col("id") % 100000L).as("u"),
        (col("id") / 100000L).cast("long").cast("string").as("k"))
      time("gates: fleiss 100k balanced units x 3")(
        MlEval.fleissKappa(balanced, "u", "k").count())
    }

    spark.stop()
  }
}
