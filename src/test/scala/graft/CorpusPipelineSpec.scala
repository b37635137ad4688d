package graft

import org.apache.spark.sql.functions._

import graft.app.RunCorpusPipeline
import graft.app.RunCorpusPipeline.CorpusConfig
import graft.operators.Chunker
import graft.sources.TableIO

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val goodText =
    "the quick brown fox jumps over the lazy dog and it runs for the hills " +
      "again and again because that is what a fox in a story does for fun"

  test("every gate fires: quality, language, dedup, PII scrub, packing") {
    val docs = Seq(
      // survives, contains PII that must be scrubbed before chunking
      (1L, "web", goodText + " mail me at fox@example.com"),
      // exact duplicate (same fingerprint after case/whitespace norm) -> dropped
      (2L, "web", goodText.toUpperCase + "  mail me at FOX@EXAMPLE.COM"),
      // too short -> quality gate
      (3L, "web", "tiny doc"),
      // Spanish -> language gate
      (4L, "web", "el perro de la casa es un animal que vive en los jardines de una ciudad"),
      // survives, different source
      (5L, "books", goodText + " but in a book")
    ).toDF("doc_id", "source", "text")

    val root = "target/tmp/corpus_pipeline"
    RunCorpusPipeline.run(spark, docs, CorpusConfig(root = root, window = 8, stride = 6))

    val silver = spark.read.parquet(s"$root/silver")
    assert(silver.select("doc_id").as[Long].collect().toSet == Set(1L, 5L))

    val shards = spark.read.parquet(s"$root/shards/data")
    // chunk text comes from the REDACTED column: the email is gone
    val texts = shards.select("chunk_text").as[String].collect()
    assert(texts.nonEmpty)
    assert(!texts.exists(_.contains("@")))
    assert(texts.exists(_.contains("[EMAIL]")))
    // carried metadata partitions the shard layout
    assert(shards.select("source").distinct().as[String].collect().toSet == Set("web", "books"))

    // manifest totals agree with the written data
    val manifest = spark.read.parquet(s"$root/shards/manifest")
    val fromData = shards.groupBy("source", "shard_idx")
      .agg(count(lit(1)).as("n"), sum("n_chunk_tokens").as("tok"))
      .select("source", "shard_idx", "n", "tok")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val fromManifest = manifest
      .select("source", "shard_idx", "n_docs", "shard_tokens")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(fromData == fromManifest)
  }

  test("Gopher repetition gates: boilerplate loops drop only when thresholds are set") {
    // doc 2 loops one 2-gram (top_gram_frac ~0.38) on top of prose so it
    // still passes the quality gate; doc 3 repeats a 7-word phrase
    // (duplicate 3-grams ~0.66) while no single 2-gram dominates.
    val loop = goodText + " " + ("the fox " * 50).trim
    val phrase = goodText + " " + ("over the lazy dog jumps the fox " * 12).trim
    val docs = Seq(
      (1L, "web", goodText),
      (2L, "web", loop),
      (3L, "web", phrase)
    ).toDF("doc_id", "source", "text")

    // Defaults (1.0): gates off, every doc that passes quality survives.
    val off = s"target/tmp/corpus_gopher_off_${System.nanoTime()}"
    RunCorpusPipeline.run(spark, docs, CorpusConfig(root = off, window = 8, stride = 6))
    val keptOff = spark.read.parquet(s"$off/silver").select("doc_id").as[Long].collect().toSet
    assert(keptOff.contains(2L) && keptOff.contains(3L),
      s"default thresholds must not gate (kept $keptOff)")
    // annotations carry the signals either way
    val ann = spark.read.parquet(s"$off/annotated")
    assert(ann.columns.contains("top_gram_frac") && ann.columns.contains("repetition_ratio"))

    val on = s"target/tmp/corpus_gopher_on_${System.nanoTime()}"
    RunCorpusPipeline.run(spark, docs,
      CorpusConfig(root = on, window = 8, stride = 6,
        maxTopGramFrac = 0.2, maxRepetition = 0.5))
    val keptOn = spark.read.parquet(s"$on/silver").select("doc_id").as[Long].collect().toSet
    assert(!keptOn.contains(2L), "looping doc must fail the top-gram gate")
    assert(!keptOn.contains(3L), "phrase-repeating doc must fail the repetition gate")
    assert(keptOn.contains(1L), "prose survives both gates")
  }

  test("gopherRules battery gates a bullet-spam doc the scalar gates miss") {
    // Both docs pass quality/language; the bullet doc fails ONLY the
    // Gopher bullet-line rule (>90% of lines bulleted).
    val longGood = (goodText + " ") * 2 + "and that should be plenty of words"
    val bullets = (1 to 60).map(_ => "- the item and that thing is here now ok").mkString("\n")
    val docs = Seq(
      (1L, "web", longGood),
      (2L, "web", bullets)
    ).toDF("doc_id", "source", "text")

    val off = s"target/tmp/corpus_gopherb_off_${System.nanoTime()}"
    RunCorpusPipeline.run(spark, docs, CorpusConfig(root = off, window = 8, stride = 6))
    assert(spark.read.parquet(s"$off/silver").select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L), "battery off: both docs survive the scalar gates")

    val on = s"target/tmp/corpus_gopherb_on_${System.nanoTime()}"
    RunCorpusPipeline.run(spark, docs,
      CorpusConfig(root = on, window = 8, stride = 6, gopherRules = true))
    assert(spark.read.parquet(s"$on/silver").select("doc_id").as[Long].collect().toSet ==
      Set(1L), "battery on: only the prose doc survives")
  }

  test("stripLines removes a shared footer line before chunking") {
    val footer = "subscribe to the newsletter for more of that content"
    val docs = Seq(
      (1L, "web", goodText + "\n" + footer),
      (2L, "web", goodText.replace("fox", "wolf") + "\n" + footer))
      .toDF("doc_id", "source", "text")
    val root = s"target/tmp/corpus_lines_${System.nanoTime()}"
    RunCorpusPipeline.run(spark, docs,
      CorpusConfig(root = root, window = 8, stride = 6, stripLines = true))
    val silver = spark.read.parquet(s"$root/silver")
    val cleans = silver.select("clean_text").as[String].collect()
    assert(cleans.length == 2)
    assert(!cleans.exists(_.contains("subscribe")),
      s"footer must be stripped: ${cleans.mkString("|")}")
    assert(cleans.exists(_.contains("fox")) && cleans.exists(_.contains("wolf")),
      "distinct body lines survive")

    // off by default: footer stays
    val off = s"target/tmp/corpus_lines_off_${System.nanoTime()}"
    RunCorpusPipeline.run(spark, docs, CorpusConfig(root = off, window = 8, stride = 6))
    assert(spark.read.parquet(s"$off/silver").select("clean_text").as[String]
      .collect().forall(_.contains("subscribe")))
  }

  test("nearDedup switch drops near-copies that exact dedup keeps") {
    val docs = Seq(
      (1L, "web", goodText),
      // one word changed: distinct fingerprint, high 3-gram jaccard
      (2L, "web", goodText.replace("dog", "cat")),
      (3L, "web", "completely different content that stands firmly on its own " +
        "with the a of and to in words enough to pass the quality gate"))
      .toDF("doc_id", "source", "text")
    val off = s"target/tmp/corpus_near_off_${System.nanoTime()}"
    RunCorpusPipeline.run(spark, docs, CorpusConfig(root = off, window = 8, stride = 6))
    assert(spark.read.parquet(s"$off/silver").select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    val on = s"target/tmp/corpus_near_on_${System.nanoTime()}"
    RunCorpusPipeline.run(spark, docs,
      CorpusConfig(root = on, window = 8, stride = 6, nearDedup = true))
    assert(spark.read.parquet(s"$on/silver").select("doc_id").as[Long].collect().toSet ==
      Set(1L, 3L))
  }

  test("near dedup reads the landed exact-dedup pool; silver_exact lands only for near dedup") {
    val docs = Seq(
      (1L, "web", goodText),
      (2L, "web", goodText.replace("dog", "cat")),
      (3L, "web", goodText), // byte-identical copy of doc 1
      (4L, "web", "completely different content that stands firmly on its own " +
        "with the a of and to in words enough to pass the quality gate"),
      // doc 1 with only its whitespace changed: same fp, different bytes
      (5L, "web", "  " + goodText.replace(" ", " \t ") + "\n"))
      .toDF("doc_id", "source", "text")
    def run(tag: String, cfg: String => CorpusConfig): String = {
      val root = s"target/tmp/corpus_land_${tag}_${System.nanoTime()}"
      RunCorpusPipeline.run(spark, docs, cfg(root))
      root
    }
    def landed(root: String): Boolean = new java.io.File(s"$root/silver_exact").exists()
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
      df.select(df.columns.sorted.map(col): _*).orderBy("doc_id").collect().toSeq

    // Without near dedup, silver is the exact-dedup frame and nothing else lands.
    val off = run("off", r => CorpusConfig(root = r, window = 8, stride = 6))
    assert(!landed(off))
    val exactRows = spark.read.parquet(s"$off/silver").collect()
    val schema = spark.read.parquet(s"$off/silver").schema
    val inMemory = spark.createDataFrame(
      spark.sparkContext.parallelize(exactRows.toSeq, 2), schema)
    assert(exactRows.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 4L))
    // Doc 5 passes the gates, so exact dedup by fp is what drops it.
    val ann = spark.read.parquet(s"$off/annotated").filter(col("doc_id").isin(1L, 5L))
    assert(ann.filter(col("quality") >= 0.5 && col("lang_pred") === "en").count() == 2)
    assert(ann.select("fp").distinct().count() == 1)

    val cfgOn = (r: String) => CorpusConfig(root = r, window = 8, stride = 6, nearDedup = true)
    val on = run("near", cfgOn)
    assert(landed(on))
    assert(sorted(spark.read.parquet(s"$on/silver_exact")) == sorted(inMemory))
    // Exact dedup by fp leaves no repeated text, the precondition for
    // running near dedup through the distinct-text MinHash core.
    val texts = spark.read.parquet(s"$on/silver_exact").select("text").as[String].collect()
    assert(texts.distinct.length == texts.length)
    val expected = graft.operators.Components.dropNearDuplicates(
      inMemory, "doc_id", "text", minJaccard = cfgOn(on).nearDedupJaccard)
    assert(sorted(spark.read.parquet(s"$on/silver")) == sorted(expected))
    assert(spark.read.parquet(s"$on/silver").select("doc_id").as[Long].collect().toSet ==
      Set(1L, 4L))
  }

  test("stripSpans removes planted boilerplate; surprisal band gates the degenerate doc") {
    // boilerplate (>= minLen) planted in two otherwise-distinct docs;
    // doc 4 is stopword soup: lowest surprisal by construction (every
    // token is a corpus-frequent word), still classified "en".
    val boiler = "THIS LICENSE HEADER IS REPEATED VERBATIM IN EVERY SINGLE FILE OK"
    val soup = Seq.fill(8)("the and of to in a is it was for").mkString(" ")
    val docs = Seq(
      (1L, "web", s"$goodText $boiler and then something original one"),
      (2L, "web", s"a different beginning here $boiler with another original ending two"),
      (3L, "web", goodText + " completely boilerplate free and happy about it"),
      (4L, "web", soup)
    ).toDF("doc_id", "source", "text")

    // pick the band threshold from the measured split: doc 4 must sit
    // strictly below every real doc, and the gate cut lands between.
    val s = graft.operators.CorpusStats.surprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val others = (1L to 3L).map(s).min
    assert(s(4L) < others, s"soup must be lowest: $s")
    val thr = (s(4L) + others) / 2

    // run A — no band: the soup doc survives to silver (quality gate off)
    val rootA = s"target/tmp/corpus_strip_a_${System.nanoTime()}"
    RunCorpusPipeline.run(spark, docs, CorpusConfig(
      root = rootA, window = 8, stride = 6, minQuality = 0.0,
      stripSpans = true, stripSpanMinLen = 40))
    val keptA = spark.read.parquet(s"$rootA/silver")
      .select("doc_id").as[Long].collect().toSet
    assert(keptA.contains(4L), s"without the band the soup doc stays: $keptA")

    // run B — band on: ONLY the soup doc drops, boilerplate is stripped
    val rootB = s"target/tmp/corpus_strip_b_${System.nanoTime()}"
    RunCorpusPipeline.run(spark, docs, CorpusConfig(
      root = rootB, window = 8, stride = 6, minQuality = 0.0,
      stripSpans = true, stripSpanMinLen = 40, minSurprisal = thr))
    val silver = spark.read.parquet(s"$rootB/silver")
    assert(silver.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    val cleaned = silver.select("clean_text").as[String].collect()
    assert(!cleaned.exists(_.contains("LICENSE HEADER")), cleaned.mkString("|"))
    // original, non-duplicated content survives the strip
    assert(cleaned.exists(_.contains("original one")))
    assert(cleaned.exists(_.contains("original ending two")))
    val shardTexts = spark.read.parquet(s"$rootB/shards/data")
      .select("chunk_text").as[String].collect()
    assert(!shardTexts.exists(_.contains("LICENSE")))
  }

  test("streaming arm: frozen-census surprisal band gates chunks per micro-batch") {
    import graft.operators.{CensusStore, CorpusStats}
    val root = s"target/tmp/corpus_stream_band_${System.nanoTime()}"
    // frozen LM: the clean-text reference corpus
    val ref = Seq((100L, goodText), (101L, goodText + " with more words like these"))
      .toDF("doc_id", "text")
    CensusStore.appendDelta(CorpusStats.tokenCensus(ref, "text"), s"$root/census", 0L)
    val census = CensusStore.read(spark, s"$root/census", "tok")

    // stream input: an in-distribution doc and a stopword-glued OOV doc
    // (stopword glue keeps languageId = en; minQuality 0 disables the
    // quality gate, so only the band can separate them)
    val oov = "the qqqq of wwww and eeee but rrrr with tttt for yyyy " +
      "the uuuu of iiii and oooo but pppp with ssss for dddd"
    val docs = Seq((1L, "web", goodText), (2L, "web", oov))
      .toDF("doc_id", "source", "text")
    val scored = CorpusStats.surprisalAgainstCensus(docs, "doc_id", "text", Seq(census))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored(2L) > scored(1L), s"OOV doc must score higher: $scored")
    val thr = (scored(1L) + scored(2L)) / 2

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))
    docs.coalesce(1).write.mode("overwrite").parquet(s"$root/stage")
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/stage"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.move(f, java.nio.file.Paths.get(s"$root/in/b0.parquet"))

    val q = RunCorpusPipeline.runStreaming(
      spark, s"$root/in",
      CorpusConfig(root = root, window = 8, stride = 6,
        minQuality = 0.0, maxSurprisal = thr),
      surprisalCensusPath = Some(s"$root/census"))
    try q.processAllAvailable() finally q.stop()

    val chunks = spark.read.parquet(s"$root/chunks")
    val byDoc = chunks.select("doc_id").as[Long].collect().toSet
    assert(byDoc == Set(1L), s"only the in-distribution doc's chunks land: $byDoc")
    assert(chunks.count() > 0)
  }

  test("DSIR selection stage: exactly-k pulls the target dialect; pool lands first") {
    import graft.operators.Dsir
    val root = s"target/tmp/corpus_dsir_${System.nanoTime()}"
    // Standing censuses: raw = both dialects, target = the goodText one.
    val refT = Seq((100L, goodText), (101L, goodText + " and the fox sleeps"))
      .toDF("doc_id", "text")
    val refO = Seq(
      (200L, "the mountain of copper and zinc but granite with marble for quartz " +
        "the valley of slate and basalt but gravel with sand for clay"))
      .toDF("doc_id", "text")
    Dsir.appendFeatureCensusDelta(refT, "text", 256, s"$root/census/target", 0L)
    Dsir.appendFeatureCensusDelta(refT.unionByName(refO), "text", 256, s"$root/census/raw", 0L)

    val offText = "the mountain of copper and zinc but granite with marble for " +
      "quartz the valley of slate and basalt but gravel with sand for clay"
    val docs = Seq(
      (1L, "web", goodText + " one"), (2L, "web", goodText + " two"),
      (3L, "web", goodText + " three"),
      (4L, "web", offText + " alpha"), (5L, "web", offText + " beta"),
      (6L, "web", offText + " gamma")
    ).toDF("doc_id", "source", "text")

    RunCorpusPipeline.run(spark, docs,
      CorpusConfig(root = root, window = 8, stride = 6, minQuality = 0.0,
        dsirCensusRoot = Some(s"$root/census"), dsirSampleK = 3L,
        dsirBuckets = 256))

    // The unselected pool is durable and complete.
    assert(spark.read.parquet(s"$root/silver_pre_dsir").count() == 6L)
    val silver = spark.read.parquet(s"$root/silver")
    val kept = silver.select("doc_id").as[Long].collect().toSet
    assert(kept.size == 3, s"exactly k: $kept")
    // Importance gaps of ~tens of nats make the race all-target.
    assert(kept == Set(1L, 2L, 3L), s"target dialect must win the race: $kept")
    assert(silver.columns.contains("log_weight"), "weight rides as an annotation")
    // Downstream chunking consumed the selection.
    val shardDocs = spark.read.parquet(s"$root/shards/data")
      .select("doc_id").as[Long].collect().toSet
    assert(shardDocs == kept)
  }

  test("DSIR floor (no k): batch drops sub-floor docs; fail-fast without a census root") {
    import graft.operators.Dsir
    val root = s"target/tmp/corpus_dsir_floor_${System.nanoTime()}"
    val refT = Seq((100L, goodText)).toDF("doc_id", "text")
    val offText = "the mountain of copper and zinc but granite with marble for " +
      "quartz the valley of slate and basalt but gravel with sand for clay"
    val refO = Seq((200L, offText)).toDF("doc_id", "text")
    Dsir.appendFeatureCensusDelta(refT, "text", 256, s"$root/census/target", 0L)
    Dsir.appendFeatureCensusDelta(refT.unionByName(refO), "text", 256, s"$root/census/raw", 0L)
    val docs = Seq(
      (1L, "web", goodText + " one"), (4L, "web", offText + " alpha")
    ).toDF("doc_id", "source", "text")
    RunCorpusPipeline.run(spark, docs,
      CorpusConfig(root = root, window = 8, stride = 6, minQuality = 0.0,
        dsirCensusRoot = Some(s"$root/census"), dsirMinLogWeight = 0.0,
        dsirBuckets = 256))
    assert(spark.read.parquet(s"$root/silver")
      .select("doc_id").as[Long].collect().toSet == Set(1L))

    val err = intercept[IllegalArgumentException] {
      RunCorpusPipeline.run(spark, docs,
        CorpusConfig(root = root, dsirSampleK = 1L))
    }
    assert(err.getMessage.contains("dsirCensusRoot"))
  }

  test("streaming arm: DSIR frozen-ratio floor gates chunks; exactly-k refused") {
    import graft.operators.Dsir
    val root = s"target/tmp/corpus_stream_dsir_${System.nanoTime()}"
    val refT = Seq((100L, goodText)).toDF("doc_id", "text")
    val offText = "the mountain of copper and zinc but granite with marble for " +
      "quartz the valley of slate and basalt but gravel with sand for clay"
    val refO = Seq((200L, offText)).toDF("doc_id", "text")
    Dsir.appendFeatureCensusDelta(refT, "text", 256, s"$root/census/target", 0L)
    Dsir.appendFeatureCensusDelta(refT.unionByName(refO), "text", 256, s"$root/census/raw", 0L)

    val docs = Seq((1L, "web", goodText), (2L, "web", offText))
      .toDF("doc_id", "source", "text")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))
    docs.coalesce(1).write.mode("overwrite").parquet(s"$root/stage")
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/stage"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.move(f, java.nio.file.Paths.get(s"$root/in/b0.parquet"))

    val cfg = CorpusConfig(root = root, window = 8, stride = 6,
      minQuality = 0.0, dsirCensusRoot = Some(s"$root/census"),
      dsirMinLogWeight = 0.0, dsirBuckets = 256)
    val q = RunCorpusPipeline.runStreaming(spark, s"$root/in", cfg,
      surprisalCensusPath = None)
    try q.processAllAvailable() finally q.stop()
    val byDoc = spark.read.parquet(s"$root/chunks")
      .select("doc_id").as[Long].collect().toSet
    assert(byDoc == Set(1L), s"only target-dialect chunks land: $byDoc")

    val err = intercept[IllegalArgumentException] {
      RunCorpusPipeline.runStreaming(spark, s"$root/in",
        cfg.copy(dsirSampleK = 5L), surprisalCensusPath = None)
    }
    assert(err.getMessage.contains("batch-only"))
  }

  test("chunk_uid pack guard: a doc chunking past 1000 fails loudly, not silently") {
    // ~12800 tokens -> >2000 chunks at window 8 / stride 6: the packed
    // uid would collide with doc_id+1's range — must raise, not corrupt
    val monster = (goodText + " ") * 400
    val docs = Seq((1L, "web", monster), (2L, "web", goodText + " neighbor doc"))
      .toDF("doc_id", "source", "text")
    val root = s"target/tmp/corpus_uid_guard_${System.nanoTime()}"
    val e = intercept[Exception] {
      RunCorpusPipeline.run(spark, docs,
        CorpusConfig(root = root, window = 8, stride = 6))
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("chunk_uid pack out of range")),
      s"expected the pack guard, got: ${messages(e).mkString(" | ")}")
  }

  test("streaming arm fails fast when a surprisal band is set without a census") {
    val root = s"target/tmp/corpus_stream_noband_${System.nanoTime()}"
    Seq((1L, "web", goodText)).toDF("doc_id", "source", "text")
      .write.parquet(s"$root/in")
    val e = intercept[IllegalArgumentException] {
      RunCorpusPipeline.runStreaming(
        spark, s"$root/in",
        CorpusConfig(root = root, window = 8, stride = 6, maxSurprisal = 5.0))
    }
    assert(e.getMessage.contains("surprisalCensusPath"))
    // with the band cleared the same call starts (and is stopped) cleanly
    val q = RunCorpusPipeline.runStreaming(
      spark, s"$root/in", CorpusConfig(root = root, window = 8, stride = 6))
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(s"$root/chunks").count() > 0)
  }

  test("decontamination gate drops overlapping documents when eval set given") {
    val docs = Seq(
      (1L, "web", goodText),
      (2L, "web", "completely different words that form a wholly original " +
        "benchmark answer sheet of the eval set for sure and it is long enough " +
        "to pass the quality gate with the stopwords the a of and to in it"))
      .toDF("doc_id", "source", "text")
    val eval = Seq(
      "completely different words that form a wholly original benchmark answer " +
        "sheet of the eval set for sure").toDF("text")

    val root = "target/tmp/corpus_pipeline_decon"
    RunCorpusPipeline.run(spark, docs,
      CorpusConfig(root = root, window = 8, stride = 6, maxContamination = 0.3),
      eval = Some(eval))
    val silver = spark.read.parquet(s"$root/silver")
    assert(silver.select("doc_id").as[Long].collect().toSet == Set(1L))

    // bloom switch: same decision on the fixture, via the row-local scan
    val bloomRoot = "target/tmp/corpus_pipeline_decon_bloom"
    RunCorpusPipeline.run(spark, docs,
      CorpusConfig(root = bloomRoot, window = 8, stride = 6,
        maxContamination = 0.3, bloomDecontamination = true),
      eval = Some(eval))
    val bloomSilver = spark.read.parquet(s"$bloomRoot/silver")
    assert(bloomSilver.select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("annotate+redact+chunk run unchanged on a document stream (batch identity)") {
    // The text family is row-local (projections + one generator): no
    // state, no watermark — the SAME code runs under readStream in
    // append mode. Golden: streaming output == batch output.
    val rows = Seq(
      (1L, "web", goodText + " mail me at fox@example.com"),
      (2L, "web", goodText + " and a second one for the stream"),
      (3L, "web", "tiny doc"))
    val root = s"target/tmp/corpus_stream_${System.nanoTime()}"
    rows.toDF("doc_id", "source", "text").coalesce(1).write.parquet(s"$root/in")
    val schema = spark.read.parquet(s"$root/in").schema

    def prep(df: org.apache.spark.sql.DataFrame) =
      Chunker.chunkDocuments(
        df.filter(graft.functions.TextFunctions.qualityScore(col("text")) >= 0.5)
          .withColumn("clean_text", graft.functions.TextFunctions.redactPii(col("text"))),
        "clean_text", "doc_id", window = 8, stride = 6, carryCols = Seq("source"))

    val q = prep(spark.readStream.schema(schema).parquet(s"$root/in"))
      .writeStream.format("memory").queryName("corpus_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("corpus_stream")
        .orderBy("doc_id", "chunk_id").collect().toSeq
      val batch = prep(spark.read.parquet(s"$root/in"))
        .orderBy("doc_id", "chunk_id").collect().toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming corpus ingestion: annotate+chunk land in the compacting sink") {
    // End-to-end streaming composition: document stream -> quality gate
    // -> PII scrub -> chunk -> crash-safe compacting sink. The sink's
    // output must equal the batch pipeline over the same input.
    val rows = Seq(
      (1L, "web", goodText + " ping me at a@b.io"),
      (2L, "web", goodText + " second streaming doc"),
      (3L, "web", "too short"))
    val root = s"target/tmp/corpus_sink_${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))
    rows.toDF("doc_id", "source", "text").coalesce(1).write.parquet(s"$root/stage")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/stage"))
      .filter(_.toString.endsWith(".parquet")).forEach { f =>
        java.nio.file.Files.move(f, java.nio.file.Paths.get(s"$root/in/b0.parquet"))
      }

    def prep(df: org.apache.spark.sql.DataFrame) =
      Chunker.chunkDocuments(
        df.filter(graft.functions.TextFunctions.qualityScore(col("text")) >= 0.5 &&
            graft.functions.TextFunctions.languageId(col("text")) === "en")
          .withColumn("clean_text", graft.functions.TextFunctions.redactPii(col("text"))),
        "clean_text", "doc_id", window = 8, stride = 6, carryCols = Seq("source"))

    // Through the app seam: the streaming arm of RunCorpusPipeline.
    val q = RunCorpusPipeline.runStreaming(spark, s"$root/in",
      CorpusConfig(root = root, window = 8, stride = 6))
    try {
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$root/chunks")
        .orderBy("doc_id", "chunk_id").collect().toSeq
      val batch = prep(spark.read.parquet(s"$root/in"))
        .orderBy("doc_id", "chunk_id").collect().toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
      assert(!streamed.exists(_.getAs[String]("chunk_text").contains("@")))
    } finally q.stop()
  }

  test("kafka-shaped source seam: envelope transport == batch (broker is a config swap)") {
    // Records travel as the spark-sql-kafka envelope (key/value binary,
    // JSON values) through FileEnvelopeSource — byte-wise what the
    // connector emits — into the SAME runStreaming composition. Golden:
    // output equals the batch pipeline over the decoded records, so
    // swapping in KafkaRecordSource(bootstrap, topic, schema) changes
    // transport config only.
    import graft.streaming.{FileEnvelopeSource, KafkaEnvelope}
    val rows = Seq(
      (1L, "web", goodText + " reach me at env@example.com"),
      (2L, "web", goodText + " envelope-borne second doc"),
      (3L, "web", "too short"))
    val root = s"target/tmp/corpus_envelope_${System.nanoTime()}"
    val docs = rows.toDF("doc_id", "source", "text")
    val recordSchema = docs.schema
    KafkaEnvelope.encode(docs, "doc_id", "docs")
      .coalesce(1).write.parquet(s"$root/topic")

    // The envelope round-trips: decode(encode(docs)) == docs (batch-side
    // check of the codec itself, independent of streaming).
    val roundTrip = KafkaEnvelope.decode(spark.read.parquet(s"$root/topic"), recordSchema)
    assert(roundTrip.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)

    def prep(df: org.apache.spark.sql.DataFrame) =
      Chunker.chunkDocuments(
        df.filter(graft.functions.TextFunctions.qualityScore(col("text")) >= 0.5 &&
            graft.functions.TextFunctions.languageId(col("text")) === "en")
          .withColumn("clean_text", graft.functions.TextFunctions.redactPii(col("text"))),
        "clean_text", "doc_id", window = 8, stride = 6, carryCols = Seq("source"))

    val q = RunCorpusPipeline.runStreaming(spark,
      FileEnvelopeSource(s"$root/topic", recordSchema),
      CorpusConfig(root = root, window = 8, stride = 6), None)
    try {
      q.processAllAvailable()
      val streamed = spark.read.parquet(s"$root/chunks")
        .orderBy("doc_id", "chunk_id").collect().toSeq
      val batch = prep(docs).orderBy("doc_id", "chunk_id").collect().toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("smoke on real documents table: stages land, shards respect budget slack") {
    val docs = TableIO.table(spark, Sf0001, "documents")
    val root = "target/tmp/corpus_pipeline_sf"
    RunCorpusPipeline.run(spark, docs, CorpusConfig(root = root))
    val packed = spark.read.parquet(s"$root/shards/data")
    assert(packed.count() > 0)
    // offset packing: every shard but a group's last stays within
    // budget + one chunk (window tokens)
    val manifest = spark.read.parquet(s"$root/shards/manifest")
    val lastIdx = manifest.groupBy("source").agg(max("shard_idx").as("last"))
    val overful = manifest.join(lastIdx, "source")
      .filter(col("shard_idx") =!= col("last") && col("shard_tokens") > 1024 + 64)
    assert(overful.count() == 0)
  }
}
