package graft

import org.apache.spark.sql.functions._

import graft.operators.TrainingData

class TrainingDataSpec extends SparkSpec {
  import spark.implicits._

  test("packShards: offset packing by cumulative token budget, per group, id order") {
    // tokens: g1 -> 3, 4, 5, 2 (cum 3, 7, 12, 14); g2 -> 6 (cum 6)
    val docs = Seq(
      (1L, "g1", "one two three"),
      (2L, "g1", "a b c d"),
      (3L, "g1", "v w x y z"),
      (4L, "g1", "p q"),
      (5L, "g2", "u1 u2 u3 u4 u5 u6")
    ).toDF("doc_id", "source", "text")
    val packed = TrainingData.packShards(
        docs, "doc_id", "source",
        graft.functions.TextFunctions.tokenCount(col("text")), budgetTokens = 5L)
      .select("doc_id", "n_tokens", "shard_idx")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // start offsets: doc1 0 -> shard 0; doc2 3 -> shard 0; doc3 7 -> shard 1;
    // doc4 12 -> shard 2; g2 doc5 0 -> shard 0 (groups pack independently).
    assert(packed(1L) == (3, 0))
    assert(packed(2L) == (4, 0))
    assert(packed(3L) == (5, 1))
    assert(packed(4L) == (2, 2))
    assert(packed(5L) == (6, 0))
  }

  test("packSequences: concat-and-chunk spans, hand case") {
    // tokens: d1=3 [0,3), d2=4 [3,7), d3=5 [7,12), d4=2 [12,14); L=4.
    val docs = Seq(
      (1L, "one two three"),
      (2L, "a b c d"),
      (3L, "v w x y z"),
      (4L, "p q")
    ).toDF("doc_id", "text")
    val got = TrainingData.packSequences(
        docs, "doc_id",
        graft.functions.TextFunctions.tokenCount(col("text")), seqLen = 4L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val want = Set(
      (1L, 0L, 0L, 3L, 0L), // d1 fully in seq0 at offset 0
      (2L, 0L, 0L, 1L, 3L), // d2 first token closes seq0
      (2L, 1L, 1L, 4L, 0L), // d2 rest opens seq1
      (3L, 1L, 0L, 1L, 3L), // d3 first token closes seq1
      (3L, 2L, 1L, 5L, 0L), // d3 tokens 1..5 fill seq2
      (4L, 3L, 0L, 2L, 0L)) // d4 opens the tail seq3
    assert(got == want)
  }

  test("packSequences: partition-count independent, tiles docs, fills sequences") {
    val docs = (1L to 60L).map(i => (i, ("tk " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val tc = graft.functions.TextFunctions.tokenCount(col("text"))
    def run(parts: Int) = TrainingData.packSequences(docs, "doc_id", tc, 16L, parts)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val one = run(1)
    assert(run(5) == one, "output must not depend on range partition count")

    // Every doc's spans tile [0, n) exactly.
    val byDoc = one.groupBy(_._1)
    (1L to 60L).foreach { id =>
      val n = id % 7 + 1
      val spans = byDoc(id).toSeq.sortBy(_._2).map(s => (s._3, s._4))
      assert(spans.head._1 == 0L && spans.last._2 == n)
      spans.sliding(2).foreach {
        case Seq((_, e), (s2, _)) => assert(e == s2)
        case _ =>
      }
    }
    // Every sequence except the last carries exactly seqLen tokens.
    val bySeq = one.groupBy(_._2)
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (sq, spans) =>
      val tok = spans.toSeq.map(s => s._4 - s._3).sum
      if (sq != lastSeq) assert(tok == 16L, s"seq $sq has $tok tokens")
      // In-sequence offsets are consistent: each span starts where the
      // cumulative in-sequence fill stood.
      val offs = spans.toSeq.sortBy(_._5)
      offs.foldLeft(0L) { case (acc, s) =>
        assert(s._5 == acc); acc + (s._4 - s._3)
      }
    }
  }

  test("packSequences: zero-token docs emit no spans; empty input is empty") {
    val docs = Seq((1L, ""), (2L, "a b"), (3L, "   ")).toDF("doc_id", "text")
    val got = TrainingData.packSequences(
        docs, "doc_id",
        graft.functions.TextFunctions.tokenCount(col("text")), 8L)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L))
    val none = TrainingData.packSequences(
      docs.filter($"doc_id" < 0), "doc_id",
      graft.functions.TextFunctions.tokenCount(col("text")), 8L)
    assert(none.count() == 0)
  }

  test("shardManifest summarizes each shard; writeShards lays out one dir per shard") {
    val docs = Seq(
      (1L, "g1", "one two three"),
      (2L, "g1", "a b c d"),
      (3L, "g1", "v w x y z"),
      (4L, "g1", "p q"),
      (5L, "g2", "u1 u2 u3 u4 u5 u6")
    ).toDF("doc_id", "source", "text")
    val packed = TrainingData.packShards(
      docs, "doc_id", "source",
      graft.functions.TextFunctions.tokenCount(col("text")), budgetTokens = 5L)
    val manifest = TrainingData.shardManifest(packed, "source", "doc_id")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(manifest(("g1", 0)) == (2L, 7L, 1L, 2L))
    assert(manifest(("g1", 1)) == (1L, 5L, 3L, 3L))
    assert(manifest(("g1", 2)) == (1L, 2L, 4L, 4L))
    assert(manifest(("g2", 0)) == (1L, 6L, 5L, 5L))

    val out = s"target/tmp/shards_${System.nanoTime()}"
    TrainingData.writeShards(packed, "source", "doc_id", out)
    // One data directory per manifest row, with matching row counts.
    manifest.foreach { case ((src, idx), (nDocs, _, _, _)) =>
      val part = spark.read.parquet(s"$out/data/source=$src/shard_idx=$idx")
      assert(part.count() == nDocs, s"shard $src/$idx row count")
    }
    val persisted = spark.read.parquet(s"$out/manifest")
    assert(persisted.count() == manifest.size)
  }

  test("writeShards writes one file per shard directory and one task per shuffle partition") {
    val docs = (1L to 60L).map(i => (i, if (i % 3 == 0) "g2" else "g1", s"w$i x y z"))
      .toDF("doc_id", "source", "text")
    val packed = TrainingData.packShards(
      docs, "doc_id", "source",
      graft.functions.TextFunctions.tokenCount(col("text")), budgetTokens = 12L)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try Seq(1, 4).foreach { parts =>
      spark.conf.set(key, parts.toString)
      val out = s"target/tmp/shard_files_${parts}_${System.nanoTime()}"
      // Result stages are the two writes (data, manifest); every other
      // stage is a shuffle map stage. AQE coalesces a bare column
      // repartition of this small input into one write task.
      val resultStages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskType == "ResultTask") resultStages.add(e.stageId)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        TrainingData.writeShards(packed, "source", "doc_id", out)
        org.apache.spark.sql.GraftMeterBridge.drainListeners(spark)
      } finally spark.sparkContext.removeSparkListener(l)
      val tasksPerStage = resultStages.toArray.groupBy(identity).values.map(_.length)
      assert(tasksPerStage.max == parts,
        s"the data write should run one task per shuffle partition: $tasksPerStage")
      val manifest = spark.read.parquet(s"$out/manifest").collect()
      assert(manifest.length > 4, s"fixture should span several shards: ${manifest.length}")
      val dirs = new java.io.File(s"$out/data").listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles().filter(_.isDirectory))
      assert(dirs.length == manifest.length, s"one directory per manifest row at $parts partitions")
      dirs.foreach { d =>
        val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        assert(files.length == 1, s"$d holds ${files.mkString(",")} at $parts partitions")
      }
      manifest.foreach { r =>
        val (src, idx, nDocs) = (r.getAs[String]("source"), r.getAs[Int]("shard_idx"),
          r.getAs[Long]("n_docs"))
        assert(spark.read.parquet(s"$out/data/source=$src/shard_idx=$idx").count() == nDocs,
          s"shard $src/$idx rows at $parts partitions")
      }
    } finally spark.conf.set(key, saved)
  }

  test("packShards rejects a non-positive budget") {
    val docs = Seq((1L, "g", "x")).toDF("doc_id", "source", "text")
    intercept[IllegalArgumentException] {
      TrainingData.packShards(docs, "doc_id", "source", lit(1), 0L)
    }
  }

  test("deterministicSplit: stable membership, roughly proportional, salt-independent resplit") {
    val ids = (0L until 500L).map(Tuple1(_)).toDF("doc_id")
    val split = TrainingData.deterministicSplit(
        ids, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val counts = split.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 350 && counts("train") < 450, s"train share off: $counts")
    assert(counts.getOrElse("val", 0) > 20 && counts.getOrElse("test", 0) > 20, s"tail splits off: $counts")

    // Membership is a pure function of the id: subset recomputation agrees.
    val subset = TrainingData.deterministicSplit(
        ids.filter($"doc_id" < 100), "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(subset.forall { case (k, v) => split(k) == v })

    // A salt derives a different (still deterministic) split.
    val salted = TrainingData.deterministicSplit(
        ids, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v2")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(salted != split)

    intercept[IllegalArgumentException] {
      TrainingData.deterministicSplit(ids, "doc_id", Seq("a" -> 0.5, "b" -> 0.2))
    }
  }

  test("packShardsWithOffsets: offsets tile each shard contiguously from zero") {
    val df = Seq(
      (1L, "g", 5), (2L, "g", 4), (3L, "g", 3), (4L, "g", 6), (5L, "g", 2))
      .toDF("id", "grp", "n")
    val got = TrainingData
      .packShardsWithOffsets(df, "id", "grp", col("n"), budgetTokens = 8L)
      .orderBy("id")
      .select("id", "shard_idx", "start_offset")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    // priors: 0,5,9,12,18 -> shards 0,0,1,1,2; offsets prior - shard*8
    assert(got == Seq((1L, 0, 0), (2L, 0, 5), (3L, 1, 1), (4L, 1, 4), (5L, 2, 2)))
    // agrees with packShards on the shard assignment
    val plain = TrainingData.packShards(df, "id", "grp", col("n"), 8L)
      .orderBy("id").select("shard_idx").collect().map(_.getInt(0)).toSeq
    assert(got.map(_._2) == plain)
  }

  test("mixtureSample: deterministic membership, monotone in fraction, pushdown-safe") {
    val df = (0L until 400L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "grp")
    def keptIds(frac: Map[String, Double], default: Double) =
      TrainingData.mixtureSample(df, "id", "grp", frac, default, salt = "s")
        .select("id").as[Long].collect().toSet
    val half = keptIds(Map("a" -> 0.5), 1.0)
    assert(half == keptIds(Map("a" -> 0.5), 1.0)) // rerun-stable
    // all of b kept, about half of a
    assert((0L until 400L).filter(_ % 2 == 1).forall(half.contains))
    val aKept = half.count(_ % 2 == 0)
    assert(aKept > 60 && aKept < 140, s"a kept $aKept of 200")
    // monotone: a lower fraction keeps a subset
    val quarter = keptIds(Map("a" -> 0.25), 1.0)
    assert(quarter.filter(_ % 2 == 0).subsetOf(half.filter(_ % 2 == 0)))
    // keep-all and keep-none edges
    assert(keptIds(Map.empty, 1.0).size == 400)
    assert(keptIds(Map("a" -> 0.0, "b" -> 0.0), 0.0).isEmpty)
    // adding rows never resamples old ones
    val more = (0L until 500L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "grp")
    val moreKept = TrainingData.mixtureSample(more, "id", "grp", Map("a" -> 0.5), 1.0, salt = "s")
      .select("id").as[Long].collect().toSet
    assert(moreKept.filter(_ < 400) == half)
  }

  test("deleteFromShards rewrites only range-affected shards; manifest stays consistent") {
    val root = s"target/tmp/shard_delete_${System.nanoTime()}"
    val docs = (0L until 40L).map(i => (i, if (i < 20) "a" else "b", "t " * 10)).toDF("id", "grp", "text")
    val packed = TrainingData.packShards(
      docs, "id", "grp", graft.functions.TextFunctions.tokenCount(col("text")), budgetTokens = 50L)
    TrainingData.writeShards(packed, "grp", "id", root)

    def fileState(): Map[String, Long] = {
      val base = new java.io.File(s"$root/data")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(base).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = fileState()

    // ids 2,3 live in grp=a shard 0 only
    val n = TrainingData.deleteFromShards(spark, root, "grp", "id", Seq(2L, 3L))
    assert(n == 1, s"expected 1 affected shard, got $n")
    val after = fileState()
    // every grp=b file and grp=a shard>0 file untouched (same path+mtime)
    val untouched = before.keys.filterNot(_.contains("grp=a/shard_idx=0"))
    untouched.foreach { p => assert(after.get(p).contains(before(p)), s"$p was rewritten") }

    val data = spark.read.parquet(s"$root/data")
    assert(data.filter(col("id").isin(2L, 3L)).count() == 0)
    assert(data.count() == 38)
    // manifest agrees with data
    val m = spark.read.parquet(s"$root/manifest")
      .select("grp", "shard_idx", "n_docs")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val d = data.groupBy("grp", "shard_idx").count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m == d)

    // deleting ids present nowhere is a no-op
    assert(TrainingData.deleteFromShards(spark, root, "grp", "id", Seq(999L)) == 0)
    // deleting every id of one shard removes its directory entirely
    val aShard0 = spark.read.parquet(s"$root/data")
      .filter(col("grp") === "a" && col("shard_idx") === 0)
      .select("id").as[Long].collect().toSeq
    TrainingData.deleteFromShards(spark, root, "grp", "id", aShard0)
    assert(!new java.io.File(s"$root/data/grp=a/shard_idx=0").exists())
    assert(spark.read.parquet(s"$root/manifest")
      .filter(col("grp") === "a" && col("shard_idx") === 0).count() == 0)
  }

  test("deleteFromShards batch form: a 10k-id batch completes without plan blowup") {
    val root = s"target/tmp/shard_delete_bulk_${System.nanoTime()}"
    val docs = (0L until 30000L).map(i => (i, s"s${i % 4}", "t " * 10)).toDF("id", "grp", "text")
    val packed = TrainingData.packShards(
      docs, "id", "grp", graft.functions.TextFunctions.tokenCount(col("text")), budgetTokens = 2000L)
    TrainingData.writeShards(packed, "grp", "id", root)

    // 10k ids arrive as a DataFrame — the GDPR-batch shape. The ids
    // participate as broadcast data, so the analyzed plan stays O(1) in
    // the batch size; the Seq form's old OR-chain would have built a
    // 10k-term boolean tree here.
    val delIds = (0L until 30000L by 3L).toDF("id")
    val n = TrainingData.deleteFromShards(spark, root, "grp", "id", delIds)
    assert(n > 0, "expected affected shards")

    val data = spark.read.parquet(s"$root/data")
    assert(data.count() == 20000)
    assert(data.filter(col("id") % 3 === 0).count() == 0)
    // manifest agrees with the data after the bulk rewrite
    val m = spark.read.parquet(s"$root/manifest")
      .select("grp", "shard_idx", "n_docs")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val d = data.groupBy("grp", "shard_idx").count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m == d)
    // idempotent: re-deleting the batch changes no rows (shards whose id
    // RANGE still spans a deleted id are re-examined — range pruning is
    // conservative — but the store converges)
    TrainingData.deleteFromShards(spark, root, "grp", "id", delIds)
    assert(spark.read.parquet(s"$root/data").count() == 20000)
  }

  test("deleteFromShards removes emptied dirs for group values Spark escapes") {
    val root = s"target/tmp/shard_delete_esc_${System.nanoTime()}"
    // ':' and '/' are both percent-encoded in partition directory names —
    // a URL-ish source group is exactly the value the naive path join missed.
    val docs = (0L until 10L).map(i => (i, "s3://bkt", "t " * 10)).toDF("id", "grp", "text")
    val packed = TrainingData.packShards(
      docs, "id", "grp", graft.functions.TextFunctions.tokenCount(col("text")), budgetTokens = 50L)
    TrainingData.writeShards(packed, "grp", "id", root)
    val shard0 = spark.read.parquet(s"$root/data")
      .filter(col("shard_idx") === 0).select("id").as[Long].collect().toSeq
    assert(shard0.nonEmpty)
    assert(TrainingData.deleteFromShards(spark, root, "grp", "id", shard0) == 1)
    // the escaped shard-0 directory is physically gone, shard 1 survives
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName("s3://bkt")
    assert(!new java.io.File(s"$root/data/grp=$esc/shard_idx=0").exists())
    assert(new java.io.File(s"$root/data/grp=$esc/shard_idx=1").exists())
    val left = spark.read.parquet(s"$root/data")
    assert(left.filter(col("shard_idx") === 0).count() == 0)
    assert(left.count() == 10 - shard0.size)
    assert(left.select("grp").distinct().as[String].collect().toSeq == Seq("s3://bkt"))
  }

  test("weightedSample: boundary weights, monotone membership, stability") {
    val df = (0L until 300L).map(i => (i, i.toDouble / 300.0)).toDF("id", "w")
    def kept(weight: org.apache.spark.sql.Column) =
      TrainingData.weightedSample(df, "id", weight, salt = "s")
        .select("id").as[Long].collect().toSet
    assert(kept(lit(1.0)).size == 300) // weight 1 keeps everything
    assert(kept(lit(0.0)).isEmpty)     // weight 0 keeps nothing
    assert(kept(lit(2.0)).size == 300) // clamped
    // per-row weights: same id kept under w implies kept under w' >= w
    val half = kept(col("w") * 0.5)
    val full = kept(col("w"))
    assert(half.subsetOf(full))
    // deterministic
    assert(full == kept(col("w")))
    // roughly matches the expected keep mass (sum of weights = 149.5)
    assert(full.size > 100 && full.size < 200, s"kept ${full.size}")
  }

  test("bloom decontamination equals exact on the fixture and is corpus-side shuffle-free") {
    val eval = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c d e"),
      (2L, "z a b c q"),
      (3L, "x y z w v"),
      (4L, "a b")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(4))).toSeq
    val exact = rows(TrainingData.benchmarkContamination(
      corpus, "doc_id", "text", eval, "text", n = 3, flagThreshold = 0.5))
    val bloom = TrainingData.benchmarkContaminationBloom(
      corpus, "doc_id", "text", eval, "text", n = 3, flagThreshold = 0.5,
      expectedGrams = 100L, fpp = 0.001)
    assert(rows(bloom) == exact)
    // bloom false positives only overcount: flags are a superset of exact
    val bloomCoarse = TrainingData.benchmarkContaminationBloom(
      corpus, "doc_id", "text", eval, "text", n = 3, flagThreshold = 0.5,
      expectedGrams = 5L, fpp = 0.5)
    val exactFlagged = exact.filter(_._4).map(_._1).toSet
    val coarseFlagged = bloomCoarse.filter(col("is_contaminated"))
      .select("doc_id").as[Long].collect().toSet
    assert(exactFlagged.subsetOf(coarseFlagged),
      s"bloom lost exact flags: $exactFlagged vs $coarseFlagged")
    // corpus side is one row-local projection: NO shuffle in the plan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = bloom.queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"bloom variant should be shuffle-free:\n$plan")
  }

  test("benchmarkContamination counts shared distinct grams against the eval set") {
    val eval = Seq((100L, "a b c d e")).toDF("doc_id", "text") // grams: abc, bcd, cde
    val corpus = Seq(
      (1L, "a b c d e"),        // identical: 3/3 shared
      (2L, "z a b c q"),        // grams: zab, abc, bcq -> 1/3 shared
      (3L, "x y z w v"),        // disjoint: 0/3
      (4L, "a b")               // < n tokens: no grams
    ).toDF("doc_id", "text")
    val got = TrainingData.benchmarkContamination(
        corpus, "doc_id", "text", eval, "text", n = 3, flagThreshold = 0.5)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(got(1L) == (3, 3L, 1.0, true))
    assert(got(2L)._1 == 3 && got(2L)._2 == 1L && !got(2L)._4)
    assert(math.abs(got(2L)._3 - 1.0 / 3.0) < 1e-9)
    assert(got(3L) == (3, 0L, 0.0, false))
    assert(got(4L) == (0, 0L, 0.0, false))
  }

  private def budgetFixture = {
    import spark.implicits._
    val rows = (1L to 400L).map { i =>
      val g = if (i % 4 == 0) "web" else if (i % 4 == 1) "code" else "other"
      (i, g, 10L + (i % 37))
    }
    rows.toDF("id", "grp", "toks")
  }

  /** Naive single-window reference of the budgetSample keep rule. */
  private def naiveBudget(
      df: org.apache.spark.sql.DataFrame, budgets: Map[String, Long]): Set[Long] = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val w = Window.partitionBy(col("grp")).orderBy(
      md5(concat(col("id").cast("string"))), col("id"))
    df.filter(col("grp").isin(budgets.keys.toSeq: _*))
      .withColumn("__excl", sum(col("toks")).over(w) - col("toks"))
      .filter(col("__excl") < coalesce(
        element_at(typedLit(budgets), col("grp")), lit(0L)))
      .select("id").as[Long].collect().toSet
  }

  test("budgetSample: hybrid bucket plan is bit-identical to the naive window") {
    val budgets = Map("web" -> 700L, "code" -> 1L, "other" -> 1000000L)
    val got = TrainingData.budgetSample(budgetFixture, "id", "grp", "toks", budgets)
      .select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(got == naiveBudget(budgetFixture, budgets))
  }

  test("budgetSample: budget semantics — crossing doc kept, zero budget empty, groups dropped") {
    import spark.implicits._
    val budgets = Map("web" -> 700L, "code" -> 1L, "zero" -> 0L)
    val out = TrainingData.budgetSample(budgetFixture, "id", "grp", "toks", budgets)
    val byGrp = out.groupBy("grp").agg(sum("toks").as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 'other' had no budget: dropped entirely
    assert(!byGrp.contains("other") && !byGrp.contains("zero"))
    // web: exclusive-< rule means total is >= budget (crossing doc kept)
    // but under budget + one max doc
    assert(byGrp("web")._1 >= 700L && byGrp("web")._1 < 700L + 47L)
    // code: budget 1 keeps exactly the first doc in md5 order
    assert(byGrp("code")._2 == 1L)
    // membership is append-stable for prefix rows: doubling the corpus
    // with HIGHER-md5-later ids can only shift the boundary, never
    // reorder kept prefixes — spot-check determinism across reruns
    val again = TrainingData.budgetSample(budgetFixture, "id", "grp", "toks", budgets)
      .select("id").as[Long].collect().toSet
    val first = out.select("id").as[Long].collect().toSet
    assert(again == first)
  }

  test("budgetSample: salt derives an independent deterministic sample") {
    import spark.implicits._
    val budgets = Map("web" -> 500L)
    val a = TrainingData.budgetSample(budgetFixture, "id", "grp", "toks", budgets)
      .select("id").as[Long].collect().toSet
    val b = TrainingData.budgetSample(budgetFixture, "id", "grp", "toks", budgets, salt = "s1")
      .select("id").as[Long].collect().toSet
    assert(a != b, "salted sample should differ")
    assert(naiveBudget(budgetFixture, budgets) == a)
  }

  test("exactSample: exactly k, membership == naive key order, salt-independent resample") {
    val docs = spark.range(1, 5001).toDF("id").withColumn("payload", col("id") * 7)
    // Naive contract: k smallest (md5-prefix key, id) pairs.
    def naive(salt: String, k: Int): Set[Long] = docs
      .withColumn("__k", conv(
        substring(md5(concat(col("id").cast("string"), lit(salt))), 1, 13), 16, 10)
        .cast("long"))
      .orderBy("__k", "id").limit(k)
      .select("id").as[Long].collect().toSet
    val k = 1234
    // Forced-descent path (tailThreshold < n) and the straight-tail
    // path must agree with each other and with the naive order.
    val descent = TrainingData.exactSample(docs, "id", k, salt = "s", tailThreshold = 64)
      .select("id").as[Long].collect()
    val tail = TrainingData.exactSample(docs, "id", k, salt = "s")
      .select("id").as[Long].collect()
    assert(descent.length == k)
    assert(descent.toSet == tail.toSet)
    assert(descent.toSet == naive("s", k))
    // Schema passes through; salt derives an independent sample; edges.
    assert(TrainingData.exactSample(docs, "id", k).columns.toSeq == Seq("id", "payload"))
    assert(TrainingData.exactSample(docs, "id", k, salt = "t", tailThreshold = 64)
      .count() == k)
    assert(naive("s", k) != naive("t", k))
    assert(TrainingData.exactSample(docs, "id", 0).count() == 0)
    assert(TrainingData.exactSample(docs, "id", 5000).count() == 5000)
    assert(TrainingData.exactSample(docs, "id", 99999).count() == 5000)
  }

  test("exactSamplePerGroup: min(k, |group|) per group, membership == window replay") {
    // Groups of size 300 / 300 / 5 — one group smaller than k.
    val docs = spark.range(1, 606).toDF("id")
      .withColumn("grp", when(col("id") <= 300, "a")
        .when(col("id") <= 600, "b").otherwise("c"))
    val k = 40
    val got = TrainingData.exactSamplePerGroup(docs, "id", "grp", k, salt = "s")
      .select("id", "grp").as[(Long, String)].collect().toSet
    val sizes = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes == Map("a" -> 40, "b" -> 40, "c" -> 5))
    // Naive replay: row_number over (group, sample key, id).
    import org.apache.spark.sql.expressions.Window
    val keyed = docs.withColumn("__k", conv(
      substring(md5(concat(col("id").cast("string"), lit("s"))), 1, 13), 16, 10)
      .cast("long"))
    val naive = keyed
      .withColumn("rn", row_number().over(
        Window.partitionBy("grp").orderBy(col("__k"), col("id"))))
      .filter(col("rn") <= k)
      .select("id", "grp").as[(Long, String)].collect().toSet
    assert(got == naive)
    // Salt derives an independent per-group sample.
    val salted = TrainingData.exactSamplePerGroup(docs, "id", "grp", k, salt = "t")
      .select("id", "grp").as[(Long, String)].collect().toSet
    assert(salted != got)
  }

  test("exactSampleQuotas: per-group quota table; absent groups dropped; == window replay") {
    val docs = spark.range(1, 606).toDF("id")
      .withColumn("grp", when(col("id") <= 300, "a")
        .when(col("id") <= 600, "b").otherwise("c"))
    // a: quota below size; b: absent (dropped); c: quota above size (5 rows).
    val quotas = Seq(("a", 25), ("c", 99)).toDF("g", "q")
    val got = TrainingData.exactSampleQuotas(docs, "id", "grp", quotas, salt = "s")
      .select("id", "grp").as[(Long, String)].collect().toSet
    val sizes = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes == Map("a" -> 25, "c" -> 5))
    // Fixed-k form at each group's quota must agree on that group.
    val fixed25 = TrainingData.exactSamplePerGroup(docs, "id", "grp", 25, salt = "s")
      .select("id", "grp").as[(Long, String)].collect().toSet
    assert(got.filter(_._2 == "a") == fixed25.filter(_._2 == "a"))
    assert(got.filter(_._2 == "c") == docs.filter(col("grp") === "c")
      .select("id", "grp").as[(Long, String)].collect().toSet)
  }

  test("exactSampleQuotas: skewed quotas keep per-group heaps, match window replay") {
    // One group quota 100000 (bigger than the whole table), one quota 2:
    // the var-k aggregate sizes each group's heap at ITS quota, so the
    // small group never pays for the big one's — and the output is still
    // exactly the window replay.
    val docs = spark.range(1, 2001).toDF("id")
      .withColumn("grp", when(col("id") % 4 === 0, "big").otherwise("small"))
    val quotas = Seq(("big", 100000), ("small", 2)).toDF("g", "q")
    val got = TrainingData.exactSampleQuotas(docs, "id", "grp", quotas, salt = "s")
      .select("id", "grp").as[(Long, String)].collect().toSet
    val sizes = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes == Map("big" -> 500, "small" -> 2))
    import org.apache.spark.sql.expressions.Window
    val naive = docs.withColumn("__k", conv(
        substring(md5(concat(col("id").cast("string"), lit("s"))), 1, 13), 16, 10)
        .cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("grp").orderBy(col("__k"), col("id"))))
      .filter((col("grp") === "big" && col("rn") <= 100000) ||
        (col("grp") === "small" && col("rn") <= 2))
      .select("id", "grp").as[(Long, String)].collect().toSet
    assert(got == naive)
  }

  test("exactSampleQuotas: empty/zero quota tables sample nothing, no crash") {
    val docs = spark.range(1, 50).toDF("id").withColumn("grp", lit("a"))
    val empty = Seq.empty[(String, Int)].toDF("g", "q")
    assert(TrainingData.exactSampleQuotas(docs, "id", "grp", empty).count() == 0)
    // Quota <= 0 means "contribute nothing", same as an absent group.
    val zeros = Seq(("a", 0)).toDF("g", "q")
    assert(TrainingData.exactSampleQuotas(docs, "id", "grp", zeros).count() == 0)
  }

  test("epochMixSample: whole + fractional epochs, cap, exact md5 membership") {
    val docs = spark.range(1, 101).toDF("id")
      .withColumn("src", when(col("id") <= 50, "a").otherwise("b"))
      .withColumn("w", lit(10L))
    // a: t = 500, budget 1250 -> f = 2.5 (threshold exactly 80000000);
    // b: budget far over cap -> exactly maxEpochs = 3 copies per doc.
    val out = TrainingData.epochMixSample(docs, "id", "src", "w",
      targets = Map("a" -> 1250L, "b" -> 100000L), maxEpochs = 3.0, salt = "s")
    val rows = out.select("id", "src", "epoch").as[(Long, String, Int)].collect()
    val byId = rows.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    (51L to 100L).foreach(i => assert(byId(i) == Seq(0, 1, 2), s"capped doc $i"))
    // Fractional source: 2 or 3 copies, epochs contiguous from 0, and the
    // extra-copy membership is EXACTLY the md5-prefix rule.
    (1L to 50L).foreach { i =>
      assert(byId(i) == Seq(0, 1) || byId(i) == Seq(0, 1, 2), s"doc $i: ${byId(i)}")
    }
    val extras = docs.filter(col("src") === "a")
      .withColumn("b", substring(md5(concat(col("id").cast("string"), lit("s"))), 1, 8))
      .filter(col("b") < "80000000").select("id").as[Long].collect().toSet
    (1L to 50L).foreach { i =>
      assert(byId(i).size == (if (extras(i)) 3 else 2), s"doc $i membership") }
    // Deterministic on rerun.
    val again = TrainingData.epochMixSample(docs, "id", "src", "w",
      targets = Map("a" -> 1250L, "b" -> 100000L), maxEpochs = 3.0, salt = "s")
      .select("id", "src", "epoch").as[(Long, String, Int)].collect()
    assert(rows.sorted.toSeq == again.sorted.toSeq)
    // Zero budget and absent sources contribute nothing.
    val none = TrainingData.epochMixSample(docs, "id", "src", "w",
      targets = Map("a" -> 0L), maxEpochs = 3.0)
    assert(none.count() == 0)
    // A pre-existing epoch column is an error, not a silent overwrite.
    val clash = docs.withColumn("epoch", lit(9))
    val e = intercept[IllegalArgumentException] {
      TrainingData.epochMixSample(clash, "id", "src", "w", targets = Map("a" -> 100L))
    }
    assert(e.getMessage.contains("epoch"))
  }

  test("exactSampleWeighted: exactly k, matches the ES-key order replay, weight-biased") {
    val docs = graft.sources.TableIO.table(spark, Sf0001, "documents")
    val k = 20L
    val got = TrainingData.exactSampleWeighted(
        docs, "doc_id", col("n_chars"), k, salt = "w1", tailThreshold = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(got.size == k)
    // naive replay: order by the same ES key, id; take k
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"), lit("w1"))), 1, 13),
        16, 10).cast("long") + 1).cast("double") / 4503599627370496.0
    val naive = docs.filter(col("n_chars") > 0)
      .withColumn("__k", -log(u) / col("n_chars").cast("double"))
      .orderBy(col("__k"), col("doc_id")).limit(k.toInt)
      .select("doc_id").as[Long].collect().toSet
    assert(got == naive)
    // determinism + salt independence
    val again = TrainingData.exactSampleWeighted(
        docs, "doc_id", col("n_chars"), k, salt = "w1", tailThreshold = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(again == got)
    assert(TrainingData.exactSampleWeighted(
        docs, "doc_id", col("n_chars"), k, salt = "w2")
      .select("doc_id").as[Long].collect().toSet != got)
    // proportional-to-weight: heavy rows (w=50) dominate light (w=1)
    val skewed = spark.range(0, 200).toDF("doc_id")
      .withColumn("w", when(col("doc_id") < 100, 50.0).otherwise(1.0))
    for (salt <- Seq("a", "b", "c")) {
      val picked = TrainingData.exactSampleWeighted(skewed, "doc_id", col("w"), 50L, salt)
        .select("doc_id").as[Long].collect()
      val heavy = picked.count(_ < 100)
      assert(heavy > 35, s"salt $salt: heavy=$heavy of 50")
    }
    // null / non-positive weights never sample; k >= n returns all eligible
    val mixed = Seq((1L, Some(2.0)), (2L, None), (3L, Some(0.0)), (4L, Some(-1.0)),
      (5L, Some(1.0))).toDF("doc_id", "w")
    val all = TrainingData.exactSampleWeighted(mixed, "doc_id", col("w"), 10L)
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(1L, 5L))
  }

  test("exactSamplePerGroupWeighted: per-group ES membership == window replay, bias holds") {
    val docs = graft.sources.TableIO.table(spark, Sf0001, "documents")
    val got = TrainingData.exactSamplePerGroupWeighted(
        docs, "doc_id", "source", col("n_chars"), k = 5, salt = "gw")
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    // window replay with the same ES key
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"), lit("gw"))), 1, 13),
        16, 10).cast("long") + 1).cast("double") / 4503599627370496.0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy((-log(u) / col("n_chars").cast("double")).asc, col("doc_id").asc)
    val naive = docs.filter(col("n_chars") > 0)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 5)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    assert(got == naive)
    // every group contributes min(k, |group|)
    val sizes = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.values.forall(_ <= 5) && sizes.values.exists(_ == 5))
    // weight bias within one group: heavy ids dominate
    val skewed = spark.range(0, 200).toDF("doc_id")
      .withColumn("g", lit("x"))
      .withColumn("w", when(col("doc_id") < 100, 50.0).otherwise(1.0))
    val picked = TrainingData.exactSamplePerGroupWeighted(
        skewed, "doc_id", "g", col("w"), k = 50, salt = "b")
      .select("doc_id").as[Long].collect()
    assert(picked.length == 50 && picked.count(_ < 100) > 35)
  }

  test("temperatureMixBudgets: alpha=1 proportional, alpha<1 flattens the head") {
    val docs = Seq(
      (1L, "a", 100L), (2L, "a", 300L), (3L, "b", 100L)
    ).toDF("doc_id", "src", "w") // totals: a=400, b=100
    def budgets(alpha: Double) =
      TrainingData.temperatureMixBudgets(docs, "src", col("w"), alpha, 1000L)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b1 = budgets(1.0)
    assert(b1("a") == ((400L, 800L)) && b1("b") == ((100L, 200L)))
    val b05 = budgets(0.5) // sqrt shares 20:10 -> 2/3 : 1/3
    assert(b05("a")._2 == 666L && b05("b")._2 == 333L)
    // flattening is monotone: the small source's share strictly grows
    assert(b05("b")._2 > b1("b")._2 && b05("a")._2 < b1("a")._2)
    // floor conservation: within nSources of the requested total
    for (b <- Seq(b1, b05)) {
      val s = b.values.map(_._2).sum
      assert(s <= 1000L && s >= 1000L - b.size)
    }
    // alpha bounds enforced
    intercept[IllegalArgumentException] {
      TrainingData.temperatureMixBudgets(docs, "src", col("w"), 0.0, 1000L)
    }
    // composition: the budgets table feeds epochMixSample directly
    val targets = b05.map { case (s, (_, bt)) => s -> bt }
    val mixed = TrainingData.epochMixSample(
      docs, "doc_id", "src", "w", targets, maxEpochs = 4.0)
    assert(mixed.count() > 0)
  }

  test("leakageSafeSplit: no duplicate pair straddles splits; singletons keep own draw") {
    val docs = graft.sources.TableIO.table(spark, Sf0001, "documents")
    val pairs = graft.operators.Dedup.jaccardPairs(
      docs, "doc_id", "text", n = 3, minJaccard = 0.2)
    val split = TrainingData.leakageSafeSplit(
        docs, "doc_id", pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "cluster_id", "split")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // every near-dup pair lands in ONE split (the whole point)
    val pr = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pr.nonEmpty, "fixture should contain near-dup pairs")
    for ((a, b) <- pr) {
      assert(split(a)._1 == split(b)._1, s"pair ($a,$b) in different clusters")
      assert(split(a)._2 == split(b)._2, s"pair ($a,$b) straddles splits")
    }
    // clustered docs share their CLUSTER's md5 draw, not their own:
    // every member matches deterministicSplit applied to cluster_id
    val expected = TrainingData.deterministicSplit(
        split.values.map(_._1).toSeq.distinct.toDF("cluster_id"),
        "cluster_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((_, (cid, s)) <- split) assert(s == expected(cid))
    // a singleton doc's cluster id is its own id
    val paired = pr.flatMap(p => Seq(p._1, p._2)).toSet
    val singletons = split.keySet -- paired
    assert(singletons.nonEmpty)
    for (id <- singletons) assert(split(id)._1 == id, s"singleton $id cluster")
  }

  test("per-group samplers fail fast on non-integral id columns") {
    // A string id would cast to null, be skipped by the heap, and the
    // semi-join would silently return an empty sample — must throw at
    // plan time instead.
    val docs = spark.range(1, 50).toDF("n")
      .select(concat(lit("doc_"), col("n")).as("id"), lit("a").as("grp"))
    val e1 = intercept[IllegalArgumentException] {
      TrainingData.exactSamplePerGroup(docs, "id", "grp", 5)
    }
    assert(e1.getMessage.contains("integral"))
    val quotas = Seq(("a", 5)).toDF("g", "q")
    val e2 = intercept[IllegalArgumentException] {
      TrainingData.exactSampleQuotas(docs, "id", "grp", quotas)
    }
    assert(e2.getMessage.contains("integral"))
    // Integral-but-not-long ids (int) are fine — widened, not rejected.
    val intIds = spark.range(1, 50).toDF("n")
      .select(col("n").cast("int").as("id"), lit("a").as("grp"))
    assert(TrainingData.exactSamplePerGroup(intIds, "id", "grp", 5).count() == 5)
  }

  test("lengthBuckets: exact power-of-two boundaries, caps, and pad accounting") {
    import org.apache.spark.sql.functions.{col, lit}
    val rows = Seq(
      ("a", 1L), ("a", 16L),   // both land in the 16 bucket (floor)
      ("a", 17L),              // first past the boundary -> 32
      ("b", 8192L),            // exactly the top bucket
      ("b", 9000L)             // past the cap -> clamped to 8192
    ).toDF("src", "len")
    val got = TrainingData.lengthBuckets(rows, "src", col("len"))
      .orderBy("group", "bucket_len")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("a", 16L, 2L, 17L, 15L),   // pad = 16*2 - 17
      ("a", 32L, 1L, 17L, 15L),
      ("b", 8192L, 2L, 17192L, -808L))) // clamp: waste can go negative past the cap
    // bad bucket configs are rejected
    intercept[IllegalArgumentException] {
      TrainingData.lengthBuckets(rows, "src", col("len"), minBucket = 17)
    }
    intercept[IllegalArgumentException] {
      TrainingData.lengthBuckets(rows, "src", col("len"), minBucket = 32, maxBucket = 16)
    }
  }

  // --- semanticContamination ---------------------------------------------

  test("semanticContamination: copies and near-copies flag, orthogonal does not; " +
    "nearest tie resolves to lowest eval id; eval side broadcasts") {
    val eval = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      // id 12 duplicates id 10's direction: a corpus copy of that
      // direction ties at cos 1.0 between eval 10 and 12.
      (12L, Array(2.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(3.0f, 0.0f, 0.0f, 0.0f)), // exact direction copy -> cos 1.0
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)), // near-copy of eval 10
      (3L, Array(0.0f, 0.0f, 0.0f, 1.0f)), // orthogonal to every eval
      (4L, Array(0.0f, -1.0f, 0.0f, 0.0f))) // anti-parallel: cos -1 vs 11
      .toDF("vec_id", "embedding")
    val plan = TrainingData.semanticContamination(
      corpus, "vec_id", "embedding", eval, "vec_id", "embedding", minCosine = 0.95)
    val got = plan.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(got(1L) == ((10L, 1.0, true)), s"got ${got(1L)}") // tie -> lowest eval id
    assert(got(2L)._1 == 10L && got(2L)._3 == true && got(2L)._2 > 0.99)
    assert(got(3L)._3 == false && got(3L)._2 == 0.0)
    assert(got(4L)._3 == false && got(4L)._2 <= 0.0)
    val physical = plan.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastExchange"),
      s"eval side must broadcast:\n$physical")
  }

  test("semanticContaminationIvf: nprobe=nlist equals brute; partial probe keeps " +
    "precision 1 and catches planted copies") {
    // Four well-separated directions; corpus rows cluster around them.
    val dirs = Seq(
      Array(1.0f, 0.0f, 0.0f, 0.0f),
      Array(0.0f, 1.0f, 0.0f, 0.0f),
      Array(0.0f, 0.0f, 1.0f, 0.0f),
      Array(0.0f, 0.0f, 0.0f, 1.0f))
    val corpus = (0L until 80L).map { i =>
      val d = dirs((i % 4).toInt)
      val eps = 0.01f * (i % 7)
      (i, Array(d(0) + eps, d(1) + eps, d(2), d(3)))
    }.toDF("vec_id", "embedding")
    // Eval suite: two of the four directions — planted contamination
    // for half the corpus.
    val eval = Seq((100L, dirs(0)), (101L, dirs(1))).toDF("vec_id", "embedding")
    val brute = TrainingData.semanticContamination(
        corpus, "vec_id", "embedding", eval, "vec_id", "embedding", minCosine = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // Full probe == brute on every column (the nprobe=nlist identity).
    val full = TrainingData.semanticContaminationIvf(
        corpus, "vec_id", "embedding", eval, "vec_id", "embedding",
        minCosine = 0.95, nlist = 4, nprobe = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(full == brute, "nprobe = nlist must reproduce the brute verdicts")
    // Partial probe: every raised flag is a brute flag (precision 1),
    // and the planted same-direction copies are all caught (the
    // nearest cell of a near-copy IS its direction's cell).
    val part = TrainingData.semanticContaminationIvf(
        corpus, "vec_id", "embedding", eval, "vec_id", "embedding",
        minCosine = 0.95, nlist = 4, nprobe = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    part.foreach { case (id, f) =>
      if (f) assert(brute(id), s"IVF flagged $id that brute did not") }
    val planted = brute.filter(_._2).keySet
    val caught = part.filter(_._2).keySet
    assert(caught.size >= (planted.size * 9) / 10,
      s"planted recall too low: ${caught.size}/${planted.size}")
    intercept[IllegalArgumentException] {
      TrainingData.semanticContaminationIvf(
        corpus, "vec_id", "embedding", eval, "vec_id", "embedding",
        nlist = 4, nprobe = 5)
    }
  }

  test("epochShuffle: deterministic, epoch-distinct permutations, balanced shards") {
    val ids = (0L until 500L).map(Tuple1(_)).toDF("doc_id")
    def plan(epoch: Int) = TrainingData
      .epochShuffle(ids, "doc_id", epoch, numShards = 8, salt = "s")
      .select("doc_id", "sort_key", "shard")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val e0 = plan(0)
    assert(e0 == plan(0), "same epoch must replay the identical plan")
    val e1 = plan(1)
    assert(e0 != e1, "different epochs must permute differently")
    // orders differ, not just keys: rank by sort_key in each epoch
    def order(m: Map[Long, (Long, Long)]) =
      m.toSeq.sortBy(_._2._1).map(_._1)
    assert(order(e0) != order(e1))
    e0.foreach { case (_, (k, s)) =>
      assert(k >= 0L && k < (1L << 52), s"52-bit key out of range: $k")
      assert(s == k % 8, "shard must derive from the sort key")
    }
    val byShard = e0.values.groupBy(_._2).view.mapValues(_.size)
    assert(byShard.size == 8, s"all shards populated: ${byShard.toMap}")
    assert(byShard.values.max <= 3 * byShard.values.min,
      s"shards badly skewed: ${byShard.toMap}")
    intercept[IllegalArgumentException] {
      TrainingData.epochShuffle(ids, "doc_id", -1, 8)
    }
    intercept[IllegalArgumentException] {
      TrainingData.epochShuffle(ids, "doc_id", 0, 0)
    }
  }

  test("curriculumPlan: hand phases, epoch-stable phases, epoch-varying order, sketch path") {
    val docs = (1 to 10).map(i => (i.toLong, ("w " * i).trim)).toDF("doc_id", "text")
    val score = graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
    def plan(epoch: Int, exact: Boolean = true) = TrainingData
      .curriculumPlan(docs, "doc_id", score, phases = 3, epoch = epoch, exact = exact)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("phase"), r.getAs[Long]("sort_key")))).toMap
    val e0 = plan(0)
    // scores 1..10 ascending with doc id -> phases 4/3/3 by ceil(k*10/3)
    assert((1 to 4).forall(i => e0(i.toLong)._1 == 1L))
    assert((5 to 7).forall(i => e0(i.toLong)._1 == 2L))
    assert((8 to 10).forall(i => e0(i.toLong)._1 == 3L))
    val e1 = plan(1)
    assert(e0.forall { case (k, (p, _)) => e1(k)._1 == p },
      "phase must not depend on epoch")
    assert(e0.exists { case (k, (_, sk)) => e1(k)._2 != sk },
      "sort keys must change across epochs")
    // sketch path: same phases on well-separated scores
    val approx = plan(0, exact = false)
    val agree = e0.keys.count(k => e0(k)._1 == approx(k)._1)
    assert(agree >= 9 && e0.keys.forall(k => math.abs(e0(k)._1 - approx(k)._1) <= 1))
    intercept[IllegalArgumentException] {
      TrainingData.curriculumPlan(docs, "doc_id", score, phases = 1)
    }
  }

  test("writeEpochShards: per-shard files sorted by sort_key, epoch rerun idempotent") {
    val root = s"target/tmp/epoch_shards_${System.nanoTime()}"
    val ids = (0L until 200L).map(Tuple1(_)).toDF("doc_id")
    val e0 = TrainingData.epochShuffle(ids, "doc_id", epoch = 0, numShards = 4, salt = "w")
    TrainingData.writeEpochShards(e0, root)
    TrainingData.writeEpochShards(
      TrainingData.epochShuffle(ids, "doc_id", epoch = 1, numShards = 4, salt = "w"), root)
    // rerun epoch 0 — dynamic overwrite, no duplication
    TrainingData.writeEpochShards(e0, root)

    val all = spark.read.parquet(root)
    assert(all.count() == 400L, "two epochs, no duplicated rows")
    for (sh <- 0 until 4) {
      val rows = spark.read.parquet(s"$root/epoch=0/shard=$sh")
        .select("sort_key").as[Long].collect().toSeq
      assert(rows.nonEmpty && rows == rows.sorted,
        s"shard $sh must be internally sorted")
    }
    assert(spark.read.parquet(s"$root/epoch=0").select("doc_id").as[Long]
      .collect().toSet == (0L until 200L).toSet)
    intercept[IllegalArgumentException] {
      TrainingData.writeEpochShards(ids, root)
    }
  }

  test("packBinsBfd: capacity respected, every doc placed, offsets tile each bin") {
    val docs = (1L to 200L).map(i => (i, 1 + (i * 37) % 600)).toDF("doc_id", "n")
    val packed = TrainingData.packBinsBfd(docs, "doc_id", col("n"),
      capacity = 1024L, numPartitions = 4).cache()
    // Every positive-length doc is assigned exactly once.
    assert(packed.count() == 200)
    assert(packed.select("id").distinct().count() == 200)
    // No non-overflow bin exceeds capacity; offsets + lengths tile the
    // bin contiguously from 0 (sorted spans abut exactly).
    val byBin = packed.filter(!col("is_overflow"))
      .select("bin_id", "bin_off", "n_tokens")
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    byBin.foreach { case (bin, rows) =>
      val spans = rows.map(r => (r._2, r._3)).sortBy(_._1)
      assert(spans.head._1 == 0L, s"bin $bin must start at 0")
      spans.sliding(2).foreach {
        case Array((o1, n1), (o2, _)) => assert(o1 + n1 == o2, s"gap in bin $bin")
        case _ =>
      }
      assert(spans.map(_._2).sum <= 1024L, s"bin $bin over capacity")
    }
    packed.unpersist()
  }

  test("packBinsBfd: oversize docs get flagged overflow bins, never dropped") {
    val docs = Seq((1L, 5000L), (2L, 100L), (3L, 7000L)).toDF("doc_id", "n")
    val packed = TrainingData.packBinsBfd(docs, "doc_id", col("n"),
      capacity = 1024L, numPartitions = 2)
      .select("id", "is_overflow").as[(Long, Boolean)].collect().toMap
    assert(packed == Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("packBinsBfd: deterministic for a fixed partition count, and beats naive padding") {
    val docs = (1L to 300L).map(i => (i, 1 + (i * 73) % 900)).toDF("doc_id", "n")
    def run() = TrainingData.packBinsBfd(docs, "doc_id", col("n"),
      capacity = 1024L, numPartitions = 4)
      .select("id", "bin_id", "bin_off").as[(Long, Long, Long)].collect().toSet
    assert(run() == run(), "same input + partition count must repack identically")
    // BFD padding vs the naive sequential close-on-overflow pack of the
    // same id-ordered stream (single bin stream, capacity 1024).
    val lens = (1L to 300L).map(i => 1 + (i * 73) % 900)
    var naiveBins = 0; var fill = 0L
    lens.foreach { n =>
      if (fill + n > 1024L) { naiveBins += 1; fill = n } else fill += n
    }
    naiveBins += 1
    val bfdBins = TrainingData.packBinsBfd(docs, "doc_id", col("n"),
      capacity = 1024L, numPartitions = 4)
      .select("bin_id").distinct().count()
    assert(bfdBins <= naiveBins,
      s"BFD ($bfdBins bins) must not lose to naive sequential ($naiveBins)")
    // Every token is packed once, and no regular bin overflows capacity.
    val bins = TrainingData.packBinsBfd(docs, "doc_id", col("n"), 1024L, 4)
      .groupBy("bin_id")
      .agg(sum(col("n_tokens")).as("used"), max(col("is_overflow")).as("over"))
    assert(bins.agg(sum(col("used"))).as[Long].collect().head == lens.sum)
    assert(bins.filter(!col("over") && col("used") > 1024L).count() == 0)
  }

  test("packBinsBfdByKey: same fold as hash grain, partitioning-invariant, key grain replayable") {
    val docs = (1L to 300L).map(i => (i, 1 + (i * 73) % 900)).toDF("doc_id", "n")
    def run(d: org.apache.spark.sql.DataFrame) =
      TrainingData.packBinsBfdByKey(d, "doc_id", col("n"), 1024L, parts = 4)
        .select("id", "n_tokens", "bin_id", "bin_off", "is_overflow")
        .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    val base = run(docs)
    // Engine-portable grain: the assignment must not depend on how the
    // INPUT happens to be partitioned (the hash-grain form only pins
    // determinism for a fixed numPartitions; this one is absolute).
    assert(base == run(docs.repartition(13)), "input partitioning leaked into packing")
    assert(base == run(docs.repartition(1)), "input partitioning leaked into packing")
    // Per-key replay: a single-threaded reference BFD over each key's
    // (-n, id)-sorted docs must reproduce bin ids and offsets exactly.
    val byKey = (1L to 300L).map(i => (i, 1 + (i * 73) % 900)).groupBy(_._1 % 4)
    val expected = byKey.flatMap { case (k, rows) =>
      val sorted = rows.sortBy { case (id, n) => (-n, id) }
      val rem = scala.collection.mutable.ArrayBuffer.empty[Long] // remaining per bin
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int] // last-touch step
      sorted.zipWithIndex.map { case ((id, n), step) =>
        val cands = rem.indices.filter(b => rem(b) >= n)
        val bin = if (cands.isEmpty) { rem += 1024L; touched += 0; rem.length - 1 }
        else cands.minBy(b => (rem(b), -touched(b)))
        val off = 1024L - rem(bin)
        rem(bin) -= n; touched(bin) = step + 1
        (id, n, k << 32 | bin.toLong, off, false)
      }
    }.toSet
    assert(base == expected, "engine fold diverged from the reference BFD replay")
    // Capacity still respected at the key grain.
    val byBin = base.groupBy(_._3)
    byBin.values.foreach(rows => assert(rows.map(_._2).sum <= 1024L))
  }

  test("packBinsBfdByKey: overflow + null id guard") {
    val docs = Seq((1L, 5000L), (2L, 100L)).toDF("doc_id", "n")
    val packed = TrainingData.packBinsBfdByKey(docs, "doc_id", col("n"), 1024L, 2)
      .select("id", "is_overflow").as[(Long, Boolean)].collect().toMap
    assert(packed == Map(1L -> true, 2L -> false))
    val bad = Seq(("x", 10L), ("7", 20L)).toDF("doc_id", "n")
    val e = intercept[Exception] {
      TrainingData.packBinsBfdByKey(bad, "doc_id", col("n"), 1024L, 2).collect()
    }
    assert(e.getMessage != null)
  }

  test("packBinsBfd: null/non-numeric ids fail loudly instead of collapsing onto null") {
    val bad = Seq(("abc", 10L), ("5", 20L)).toDF("doc_id", "n")
    val e = intercept[Exception] {
      TrainingData.packBinsBfd(bad, "doc_id", col("n"), 64L, 2).collect()
    }
    assert(e.getMessage != null)
    val withNull = Seq((Option(1L), 10L), (Option.empty[Long], 20L))
      .toDF("doc_id", "n")
    intercept[Exception] {
      TrainingData.packBinsBfd(withNull, "doc_id", col("n"), 64L, 2).collect()
    }
  }

  test("packBinsBfd: zero/negative token docs are excluded, empty input is empty") {
    val docs = Seq((1L, 0L), (2L, -5L), (3L, 10L)).toDF("doc_id", "n")
    val packed = TrainingData.packBinsBfd(docs, "doc_id", col("n"),
      capacity = 64L, numPartitions = 2)
    assert(packed.select("id").as[Long].collect().toSeq == Seq(3L))
    val empty = TrainingData.packBinsBfd(
      Seq.empty[(Long, Long)].toDF("doc_id", "n"), "doc_id", col("n"),
      capacity = 64L, numPartitions = 2)
    assert(empty.count() == 0)
    intercept[IllegalArgumentException] {
      TrainingData.packBinsBfd(docs, "doc_id", col("n"), capacity = 0L)
    }
  }
}
