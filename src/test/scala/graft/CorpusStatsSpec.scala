package graft

import org.apache.spark.sql.functions.col

import graft.operators.CorpusStats

class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  test("gramDocFrequency counts distinct-gram document frequency exactly") {
    val docs = Seq(
      (1L, "a b c d"),        // grams: "a b c", "b c d"
      (2L, "a b c x"),        // grams: "a b c", "b c x"
      (3L, "a b c d"),        // same as doc 1
      (4L, "z z z z z"),      // grams: "z z z" (x3 -> 1 distinct)
      (5L, "q r")             // < 3 tokens: no grams
    ).toDF("doc_id", "text")
    val got = CorpusStats.gramDocFrequency(docs, "doc_id", "text", n = 3, minDf = 2)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // "a b c" df=3, "b c d" df=2, "b c x" df=1, "z z z" df=1
    assert(got == Seq(
      (1L, 2L, 2L, 1.0),
      (2L, 2L, 1L, 0.5),
      (3L, 2L, 2L, 1.0),
      (4L, 1L, 0L, 0.0),
      (5L, 0L, 0L, 0.0)))
  }

  test("unigramSurprisal: hand-computed tiny corpus; rare tokens score higher") {
    // corpus: 8 tokens total — "a" x4, "b" x2, "c" x1, "zzz" x1
    val docs = Seq(
      (1L, "a a a a"),   // all common: surprisal = -log2(4/8) = 1.0
      (2L, "b b"),       // -log2(2/8) = 2.0
      (3L, "c zzz"),     // avg of -log2(1/8) twice = 3.0
      (4L, "")           // no tokens
    ).toDF("doc_id", "text")
    val got = CorpusStats.surprisal(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 4L, 1.0), (2L, 2L, 2.0), (3L, 2L, 3.0), (4L, 0L, 0.0)))
  }

  test("unigramSurprisal: all-blank corpus yields zero scores, not a null-sum NPE") {
    val docs = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val got = CorpusStats.surprisal(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 0L, 0.0), (2L, 0L, 0.0)))
  }

  test("unigramSurprisal: broadcast and shuffle-join paths agree; vocab side is broadcast") {
    val docs = graft.sources.TableIO.table(spark, Sf0001, "documents")
    def rows(bound: Long) =
      CorpusStats.surprisal(docs, "doc_id", "text", 1, 0.4, bound)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(CorpusStats.BroadcastVocabRows) == rows(0L))
    val plan = CorpusStats.surprisal(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"vocab census should broadcast:\n$plan")
  }

  test("broadcast auto-guard: oversized vocab falls back to shuffle join, same scores") {
    // isolate the explicit-hint check from AQE's own runtime broadcasts
    val docs = graft.sources.TableIO.table(spark, Sf0001, "documents")
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // a bound of 0 is below any non-empty vocabulary: the guard must
      // drop the broadcast hint entirely, at every order and in both
      // entries; under the default bound the unigram census broadcasts
      def broadcasts(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.executedPlan.toString.contains("Broadcast")
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
      val censuses = Seq(CorpusStats.tokenCensus(docs, "text"),
        CorpusStats.gramCensus(docs, "text", 2), CorpusStats.gramCensus(docs, "text", 3))
      for (order <- 1 to 3) {
        val guarded = CorpusStats.surprisal(docs, "doc_id", "text", order, 0.4, 0L)
        val auto = CorpusStats.surprisal(docs, "doc_id", "text", order, 0.4,
          CorpusStats.BroadcastVocabRows)
        assert(!broadcasts(guarded), s"guarded plan must not broadcast (order $order)")
        assert(broadcasts(auto), s"default bound must broadcast (order $order)")
        assert(scores(guarded) == scores(auto))
        val g = CorpusStats.surprisalAgainstCensus(
          docs, "doc_id", "text", censuses.take(order), 0.4, 0L)
        val a = CorpusStats.surprisalAgainstCensus(
          docs, "doc_id", "text", censuses.take(order))
        assert(!broadcasts(g), s"guarded frozen plan must not broadcast (order $order)")
        assert(broadcasts(a), s"default bound must broadcast the frozen census (order $order)")
        assert(scores(g) == scores(a))
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("bigramSurprisal: hand-computed; word salad scores high where unigram is blind") {
    def lg2(x: Double) = math.log(x) / math.log(2)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // corpus: T=7; cu a=3 b=3 x=1; bigrams: (a b)=3, (b a)=1, (b x)=1
    val docs = Seq((1L, "a b a b"), (2L, "a b x")).toDF("doc_id", "text")
    val got = CorpusStats.surprisal(docs, "doc_id", "text", order = 2)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val d1 = (-lg2(3.0 / 7) + 0.0 + lg2(3.0) + 0.0) / 4
    val d2 = (-lg2(3.0 / 7) + 0.0 + lg2(3.0)) / 3
    assert(got(1L) == ((4L, r6(d1))), s"got $got")
    assert(got(2L) == ((3L, r6(d2))))
    // salad property: same token multiset, natural order repeated in the
    // corpus -> natural doc scores LOW, shuffled doc scores HIGH, while
    // unigram surprisal cannot tell them apart
    val nat = "one two three four five six seven eight nine ten"
    val salad = "seven two ten four one nine three eight five six"
    val corpus = ((1L to 6L).map(i => (i, nat)) :+ (7L, salad))
      .toDF("doc_id", "text")
    val bi = CorpusStats.surprisal(corpus, "doc_id", "text", order = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val uniS = CorpusStats.surprisal(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uniS(1L) == uniS(7L), "unigram is blind to order")
    assert(bi(7L) > bi(1L) + 2.0, s"salad must score much higher: $bi")
    // empty corpus: zero rows, zero scores
    val empty = Seq((1L, ""), (2L, "  ")).toDF("doc_id", "text")
    assert(CorpusStats.surprisal(empty, "doc_id", "text", order = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet == Set((0L, 0.0)))
  }

  test("trigramSurprisal: hand-computed backoff chain at every history depth") {
    def lg2(x: Double) = math.log(x) / math.log(2)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // T=9; cu a3 b3 c2 d1; cb ab3 bc2 ca1 bd1; ct abc2 bca1 cab1 abd1
    val docs = Seq((1L, "a b c a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val got = CorpusStats.surprisal(docs, "doc_id", "text", order = 3)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val d1 = (lg2(3) + 0.0 + -lg2(2.0 / 3) + 1.0 + 0.0 + -lg2(2.0 / 3)) / 6
    val d2 = (lg2(3) + 0.0 + -lg2(1.0 / 3)) / 3
    assert(got(1L) == ((6L, r6(d1))), s"got $got")
    assert(got(2L) == ((3L, r6(d2))))
    // the BIGRAM-backoff branch: "x b z" — (x,b) bigram unseen, so token
    // 'b' after 'x' backs off to alpha*unigram; 'z'(OOV in trigram+bigram
    // after unseen context) -> alpha^2*unigram... construct precisely:
    val mix = Seq(
      (1L, "a b c a b c"), (2L, "a b d"),
      (3L, "c b c b c b")) // makes (c,b) and (b,c) both seen, (c,b,c) seen
      .toDF("doc_id", "text")
    val m = CorpusStats.surprisal(mix, "doc_id", "text", order = 3)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m.keySet == Set(1L, 2L, 3L) && m.values.forall(_ >= 0.0))
    // templated phrasing scores LOWER under trigram than word salad of
    // the same tokens (order sensitivity at depth 2)
    val nat = "one two three four five one two three four five"
    val salad = "three five one four two five three one two four"
    val corpus = ((1L to 5L).map(i => (i, nat)) :+ (6L, salad)).toDF("doc_id", "text")
    val tri = CorpusStats.surprisal(corpus, "doc_id", "text", order = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(tri(6L) > tri(1L) + 0.5, s"salad must score clearly higher: $tri")
    // empty corpus yields zeros
    assert(CorpusStats.surprisal(
        Seq((1L, "")).toDF("doc_id", "text"), "doc_id", "text", order = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet == Set((0L, 0.0)))
  }

  test("bigramSurprisalAgainstCensus: frozen backoff LM, OOV + unseen-context cases") {
    def lg2(x: Double) = math.log(x) / math.log(2)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val ref = Seq((10L, "a b a b"), (11L, "a b x")).toDF("doc_id", "text")
    val uniC = CorpusStats.tokenCensus(ref, "text")       // a3 b3 x1; T=7 V=3
    val biC = CorpusStats.gramCensus(ref, "text", 2)
    assert(biC.as[(String, Long)].collect().toMap ==
      Map("a b" -> 3L, "b a" -> 1L, "b x" -> 1L))
    // bigram census is a monoid through CensusStore.merge
    val m = graft.operators.CensusStore.merge(
      CorpusStats.gramCensus(ref.filter(col("doc_id") === 10), "text", 2),
      CorpusStats.gramCensus(ref.filter(col("doc_id") === 11), "text", 2),
      "g").as[(String, Long)].collect().toMap
    assert(m == biC.as[(String, Long)].collect().toMap)
    val batch = Seq(
      (1L, "a b"),   // seen bigram: p = 3/3
      (2L, "z a"),   // OOV first token; unseen context -> unigram both
      (3L, "x a")    // seen context, unseen bigram -> alpha backoff
    ).toDF("doc_id", "text")
    val got = CorpusStats.surprisalAgainstCensus(
        batch, "doc_id", "text", Seq(uniC, biC))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val denom = 11.0 // T + V + 1
    assert(got(1L) == r6((-lg2(4 / denom) + 0.0) / 2))
    assert(got(2L) == r6((-lg2(1 / denom) + -lg2(4 / denom)) / 2))
    assert(got(3L) == r6((-lg2(2 / denom) + -lg2(0.4 * 4 / denom)) / 2))
    // broadcast guard parity on the frozen form
    val g = CorpusStats.surprisalAgainstCensus(
        batch, "doc_id", "text", Seq(uniC, biC), 0.4, 0L)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(g == got)
  }

  test("trigramSurprisalAgainstCensus: frozen chain at every depth, OOV + unseen context") {
    def lg2(x: Double) = math.log(x) / math.log(2)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val ref = Seq((10L, "a b a b"), (11L, "a b x")).toDF("doc_id", "text")
    val uniC = CorpusStats.tokenCensus(ref, "text")          // a3 b3 x1; denom 11
    val biC = CorpusStats.gramCensus(ref, "text", 2) // ab3 ba1 bx1
    val triC = CorpusStats.gramCensus(ref, "text", 3)
    assert(triC.as[(String, Long)].collect().toMap ==
      Map("a b a" -> 1L, "b a b" -> 1L, "a b x" -> 1L))
    val batch = Seq(
      (1L, "a b a"),  // trigram branch
      (2L, "a b q"),  // double fallthrough: alpha^2 * pUni(OOV)
      (3L, "z a b")   // unseen context then bigram branch
    ).toDF("doc_id", "text")
    val got = CorpusStats.surprisalAgainstCensus(
        batch, "doc_id", "text", Seq(uniC, biC, triC))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val d = 11.0
    assert(got(1L) == r6((-lg2(4 / d) + 0.0 + lg2(3)) / 3))
    assert(got(2L) == r6((-lg2(4 / d) + 0.0 + -lg2(0.16 * 1 / d)) / 3))
    assert(got(3L) == r6((-lg2(1 / d) + -lg2(4 / d) + -lg2(0.4)) / 3))
    // trigram census is a monoid through CensusStore.merge
    val m = graft.operators.CensusStore.merge(
      CorpusStats.gramCensus(ref.filter(col("doc_id") === 10), "text", 3),
      CorpusStats.gramCensus(ref.filter(col("doc_id") === 11), "text", 3),
      "g").as[(String, Long)].collect().toMap
    assert(m == triC.as[(String, Long)].collect().toMap)
  }

  test("surprisalAgainstCensus: frozen-LM scores, add-one OOV, census round-trip") {
    // census: "a" x4, "b" x2 -> T=6, V=2, denom = 9
    val ref = Seq((10L, "a a a a"), (11L, "b b")).toDF("doc_id", "text")
    val census = CorpusStats.tokenCensus(ref, "text")
    val batch = Seq(
      (1L, "a a"),     // -log2(5/9)
      (2L, "zzz"),     // OOV: -log2(1/9)
      (3L, "a zzz")    // mean of the two
    ).toDF("doc_id", "text")
    val got = CorpusStats.surprisalAgainstCensus(batch, "doc_id", "text", Seq(census))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def s(p: Double) = -math.log(p) / math.log(2)
    assert(got(1L)._2 == math.rint(s(5.0 / 9) * 1e6) / 1e6)
    assert(got(2L)._2 == math.rint(s(1.0 / 9) * 1e6) / 1e6)
    // frozen property: the same doc scores identically in any batch
    val solo = CorpusStats.surprisalAgainstCensus(
        batch.filter(col("doc_id") === 1), "doc_id", "text", Seq(census))
      .collect().head.getDouble(2)
    assert(solo == got(1L)._2)
    // the census persists through CensusStore and scores identically
    val root = s"target/tmp/tok_census_${System.nanoTime()}"
    graft.operators.CensusStore.appendDelta(
      CorpusStats.tokenCensus(ref.filter(col("doc_id") === 10), "text"), root, 0L)
    graft.operators.CensusStore.appendDelta(
      CorpusStats.tokenCensus(ref.filter(col("doc_id") === 11), "text"), root, 1L)
    val loaded = graft.operators.CensusStore.read(spark, root, "tok")
    val viaStore = CorpusStats.surprisalAgainstCensus(batch, "doc_id", "text", Seq(loaded))
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(viaStore == got.map { case (k, v) => k -> v._2 })
    // empty census fails fast with a clear message
    val e = intercept[IllegalArgumentException] {
      CorpusStats.surprisalAgainstCensus(
        batch, "doc_id", "text", Seq(CorpusStats.tokenCensus(ref.limit(0), "text")))
    }
    assert(e.getMessage.contains("non-empty census"))
  }

  test("minDf = 1 marks every gram common; empty corpus-side parity holds") {
    val docs = Seq((1L, "a b c"), (2L, "")).toDF("doc_id", "text")
    val got = CorpusStats.gramDocFrequency(docs, "doc_id", "text", n = 3, minDf = 1)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .toSeq
    assert(got == Seq((1L, 1L, 1.0), (2L, 0L, 0.0)))
  }

  test("pruneCensus: identity at 1, pruned n-grams score through the backoff branch") {
    val census = Seq(("a b", 3L), ("c d", 1L)).toDF("g", "n")
    assert(CorpusStats.pruneCensus(census, 1L).as[(String, Long)].collect().toSet ==
      Set(("a b", 3L), ("c d", 1L)))
    assert(CorpusStats.pruneCensus(census, 2L).as[(String, Long)].collect().toSet ==
      Set(("a b", 3L)))
    intercept[IllegalArgumentException] { CorpusStats.pruneCensus(census, 0L) }

    // End-to-end: "c d" seen once in the census corpus. Unpruned, doc
    // "c d" scores the bigram ratio branch; pruned at 2 it must take
    // the backoff branch — exactly what scoring against a census that
    // never contained the row would produce.
    val censusDocs = Seq(
      (1L, "a b a b a b"), (2L, "c d")).toDF("doc_id", "text")
    val uni = CorpusStats.tokenCensus(censusDocs, "text")
    val bi = CorpusStats.gramCensus(censusDocs, "text", 2)
    val batch = Seq((10L, "c d")).toDF("doc_id", "text")
    def score(b: org.apache.spark.sql.DataFrame): Double =
      CorpusStats.surprisalAgainstCensus(batch, "doc_id", "text", Seq(uni, b))
        .select("avg_surprisal").as[Double].head()
    val unpruned = score(bi)
    val pruned = score(CorpusStats.pruneCensus(bi, 2L))
    val absent = score(bi.filter(col("g") =!= "c d"))
    assert(pruned == absent, "pruned row must behave exactly as never-seen")
    assert(pruned > unpruned, "backoff must score the rare bigram higher")
  }

  test("surprisal, surprisalAgainstCensus and gramCensus plans hold no Window node") {
    // Token histories are cut from each row's own token array, so no
    // scorer order and no census build exchanges tokens by doc id.
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def windows(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      Plans.collect(df.queryExecution.executedPlan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.size
    }
    val docs = Seq((1L, "a b a b c"), (2L, "a b x"), (3L, "")).toDF("doc_id", "text")
    val censuses = CorpusStats.tokenCensus(docs, "text") +:
      (2 to 3).map(CorpusStats.gramCensus(docs, "text", _))
    for (order <- 1 to 3) {
      assert(windows(CorpusStats.surprisal(docs, "doc_id", "text", order)) == 0,
        s"self scorer, order $order")
      assert(windows(CorpusStats.surprisalAgainstCensus(
        docs, "doc_id", "text", censuses.take(order))) == 0, s"frozen scorer, order $order")
    }
    for (n <- 2 to 3)
      assert(windows(CorpusStats.gramCensus(docs, "text", n)) == 0, s"gramCensus n=$n")
  }

  test("gramCensus counts the wordNGrams keys and never pairs tokens across rows " +
      "that share a doc id") {
    // Two rows of doc 1: a census windowed by doc id interleaves both
    // rows' tokens by position and pairs tokens across the rows.
    val docs = Seq((1L, "a b"), (1L, "c d"), (2L, "a b")).toDF("doc_id", "text")
    assert(CorpusStats.gramCensus(docs, "text", 2).as[(String, Long)].collect().toMap ==
      Map("a b" -> 2L, "c d" -> 1L))
    assert(CorpusStats.gramCensus(docs, "text", 3).collect().isEmpty)
    intercept[IllegalArgumentException] { CorpusStats.gramCensus(docs, "text", 1) }
    val fixture = graft.sources.TableIO.table(spark, Sf0001, "documents")
    for (n <- 2 to 4) {
      val viaNGrams = fixture
        .select(org.apache.spark.sql.functions.explode(
          graft.functions.TextFunctions.wordNGrams(col("text"), n)).as("g"))
        .groupBy("g").count().as[(String, Long)].collect().toMap
      assert(CorpusStats.gramCensus(fixture, "text", n).as[(String, Long)].collect().toMap ==
        viaNGrams, s"n=$n")
    }
  }

  // --- perplexityBuckets -------------------------------------------------

  /** Controlled surprisal ladder: doc i repeats word w_i, and w_i's
    * corpus frequency DECREASES with i, so avg surprisal strictly
    * increases with doc id — bucket assignment is then fully derivable
    * by hand. Two sources interleave to prove per-source independence.
    */
  private def ladder(n: Int, source: String, base: Long): Seq[(Long, String, String)] =
    (1 to n).map { i =>
      // w_i appears (n - i + 1) times corpus-wide: doc i holds one copy,
      // plus filler docs are unnecessary — frequency falls out of doc
      // LENGTH: doc i = word repeated (n - i + 1) times.
      (base + i, (s"w$source$i " * (n - i + 1)).trim, source)
    }

  test("perplexityBuckets exact: ceil boundaries, per-source ranking, labels") {
    // Source a: 10 docs -> buckets of 4/3/3 (ceil(10/3)=4, ceil(20/3)=7).
    // Source b: 5 docs -> 2/2/1.
    val docs = (ladder(10, "a", 100L) ++ ladder(5, "b", 200L))
      .toDF("doc_id", "text", "source")
    val got = CorpusStats
      .perplexityBuckets(docs, "doc_id", "text", "source")
      .orderBy("doc_id")
      .select("doc_id", "bucket", "bucket_label")
      .as[(Long, Long, String)].collect().toSeq
    // Doc i of the ladder has the i-th LOWEST surprisal in its source
    // (more repeats = higher corpus frequency = lower surprisal).
    val a = got.filter(_._1 < 200)
    assert(a.map(_._2) == Seq(1L, 1L, 1L, 1L, 2L, 2L, 2L, 3L, 3L, 3L))
    val b = got.filter(_._1 >= 200)
    assert(b.map(_._2) == Seq(1L, 1L, 2L, 2L, 3L))
    assert(got.forall { case (_, bk, lbl) =>
      lbl == Map(1L -> "head", 2L -> "middle", 3L -> "tail")(bk) })
  }

  test("perplexityBuckets: sketch path agrees with exact on a separated fixture") {
    val docs = (ladder(60, "a", 100L) ++ ladder(40, "b", 1000L))
      .toDF("doc_id", "text", "source")
    val exact = CorpusStats
      .perplexityBuckets(docs, "doc_id", "text", "source", exact = true)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    val approx = CorpusStats
      .perplexityBuckets(docs, "doc_id", "text", "source", exact = false)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    // Boundary docs sharing a cutoff rank can land one bucket apart
    // (order-statistic vs sketch-quantile convention); everything else
    // must agree, and no doc may move MORE than one bucket.
    val agree = exact.keys.count(k => exact(k) == approx(k))
    assert(agree >= (exact.size * 0.9).toInt,
      s"only $agree/${exact.size} agree")
    assert(exact.keys.forall(k => math.abs(exact(k) - approx(k)) <= 1))
    // Monotone within source regardless of path: no tail doc may score
    // below any head doc.
    val scored = CorpusStats
      .perplexityBuckets(docs, "doc_id", "text", "source", exact = false)
      .select("source", "bucket", "avg_surprisal")
      .as[(String, Long, Double)].collect().toSeq
    for (src <- Seq("a", "b")) {
      val bySrc = scored.filter(_._1 == src)
      for (k <- 1L to 2L) {
        val hi = bySrc.filter(_._2 == k).map(_._3).max
        val lo = bySrc.filter(_._2 == k + 1).map(_._3).min
        assert(hi <= lo, s"source $src bucket $k max $hi > bucket ${k + 1} min $lo")
      }
    }
  }

  test("perplexityBuckets: frozen census keeps a doc's bucket stable as peers change") {
    val censusDocs = ladder(10, "a", 100L).toDF("doc_id", "text", "source")
    val census = CorpusStats.tokenCensus(censusDocs, "text")
    // Batch 1: three docs. Batch 2: same three + seven new ones. Under a
    // frozen census each doc's SCORE is fixed; under self-scoring it
    // would drift with the batch.
    val b1 = ladder(10, "a", 100L).take(3).toDF("doc_id", "text", "source")
    val b2 = ladder(10, "a", 100L).toDF("doc_id", "text", "source")
    def scores(df: org.apache.spark.sql.DataFrame) = CorpusStats
      .perplexityBuckets(df, "doc_id", "text", "source", census = Some(census))
      .select("doc_id", "avg_surprisal").as[(Long, Double)].collect().toMap
    val s1 = scores(b1)
    val s2 = scores(b2)
    assert(s1.keys.forall(k => s1(k) == s2(k)),
      "frozen-census scores must not drift with batch composition")
  }

  test("sourceDivergence: corpus-typical source ~0, skewed source > 0, hand value") {
    // corpus: a = "x y" repeated (matches corpus mix), b = all "x".
    // corpus dist: x 3/4, y 1/4.
    // KL(a): p(x)=p(y)=1/2 -> .5*log2(.5/.75) + .5*log2(.5/.25) = 0.207518...
    // KL(b): p(x)=1 -> log2(1/.75) = 0.415037...
    val docs = Seq(
      (1L, "a", "x y"),
      (2L, "b", "x x")).toDF("doc_id", "source", "text")
    val got = CorpusStats.sourceDivergence(docs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("a") == ((2L, 2L, 0.207519)))
    assert(got("b") == ((2L, 1L, 0.415037)))

    // a source drawn from the corpus distribution scores near zero
    val big = ((1 to 50).map(i => (i.toLong, "c", "u v w")) ++
      (51 to 100).map(i => (i.toLong, "d", "u v w")))
      .toDF("doc_id", "source", "text")
    CorpusStats.sourceDivergence(big, "doc_id", "text", "source")
      .collect().foreach(r => assert(math.abs(r.getDouble(3)) < 1e-9, r.toString))
  }

  test("sourceJsDivergence: zero for the lone source, hand value for disjoint halves, " +
    "bounded in [0,1]") {
    // Single source: p == q tokenwise -> every term 0 and qmass 1 -> js 0.
    val lone = Seq((1L, "a", "x y x")).toDF("doc_id", "source", "text")
    val z = CorpusStats.sourceJsDivergence(lone, "text", "source").collect().head
    assert(z.getDouble(3) == 0.0, s"lone source must be 0, got $z")

    // Two disjoint equal-mass sources: for every token of source s,
    // p = 2q and m = 0.75p, qmass = 1/2 ->
    // js = .5*log2(4/3) + .5*(.5*log2(2/3) + .5) = 0.311278...
    val disjoint = Seq(
      (1L, "a", "x y"),
      (2L, "b", "u v")).toDF("doc_id", "source", "text")
    val got = CorpusStats.sourceJsDivergence(disjoint, "text", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val want = BigDecimal(
      0.5 * (math.log(4.0 / 3.0) / math.log(2.0))
        + 0.5 * (0.5 * (math.log(2.0 / 3.0) / math.log(2.0)) + 0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("a") == want && got("b") == want, s"got $got want $want")
    assert(got.values.forall(v => v >= 0.0 && v <= 1.0), "JSD is in [0,1] bits")
  }

  test("sourceOverlap: mirror pair saturates containment, disjoint pair absent, " +
    "asymmetry by size") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ") // 18 grams
    val docs = Seq(
      (1L, "big", base + " extra tokens here"),  // superset-ish of small
      (2L, "small", base),                        // contained in big
      (3L, "other", (100 to 110).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val got = CorpusStats.sourceOverlap(docs, "text", "source", n = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    // small's grams are ALL in big -> containment(small in big) = 1.0
    val s2b = got(("small", "big"))
    assert(s2b._4 == 1.0, s"small-in-big containment: $s2b")
    // big has more grams -> containment(big in small) < 1, same jaccard
    val b2s = got(("big", "small"))
    assert(b2s._4 < 1.0 && b2s._5 == s2b._5, s"asymmetry/symmetric j: $b2s vs $s2b")
    // n_common == |small| exactly
    assert(s2b._3 == s2b._1, s"n_common must equal the contained side: $s2b")
    // disjoint source never pairs
    assert(!got.keySet.exists(k => k._1 == "other" || k._2 == "other"),
      s"disjoint source must not appear: ${got.keySet}")
  }

  test("zipfFit: negative slope with high r2 on a Zipf corpus; uniform corpus " +
    "degenerates to slope 0 with null r2") {
    // freq(w_r) proportional to 1/r over 10 tokens -> ln-ln is exactly
    // linear with slope -1 up to integer rounding of the counts.
    val zipf = (1 to 10).flatMap { r =>
      Seq.fill(120 / r)(s"w$r")
    }.mkString(" ")
    val z = CorpusStats.zipfFit(Seq((1L, zipf)).toDF("doc_id", "text"),
      "text", topN = 10).collect().head
    assert(z.getLong(0) == 10L)
    val slope = z.getDouble(1)
    assert(slope < -0.9 && slope > -1.1, s"Zipf slope should be ~-1, got $slope")
    assert(z.getDouble(3) > 0.99, s"ln-ln fit should be tight, got ${z.getDouble(3)}")
    // Uniform frequencies: y constant -> slope exactly 0, r2 undefined.
    val flat = (1 to 10).flatMap(r => Seq.fill(7)(s"u$r")).mkString(" ")
    val f = CorpusStats.zipfFit(Seq((1L, flat)).toDF("doc_id", "text"),
      "text", topN = 10).collect().head
    // deny carries a 12dp rounding residue, so r2 is either null (den
    // exactly 0) or rounds to 0.0 — both engines replay the same path.
    assert(f.getDouble(1) == 0.0 && (f.isNullAt(3) || f.getDouble(3) == 0.0),
      s"uniform corpus: $f")
    intercept[IllegalArgumentException] {
      CorpusStats.zipfFit(Seq((1L, flat)).toDF("doc_id", "text"), "text", topN = 2)
    }
  }

  test("markedTokens: symmetric markedness, hand value, deterministic top-k") {
    // Two mirrored sources over a 2-token vocabulary: x marks a exactly
    // as y marks b, so the top-1 z values must be EQUAL across sources.
    val docs = Seq(
      (1L, "a", "x x x y"),
      (2L, "b", "y y y x")).toDF("doc_id", "source", "text")
    val got = CorpusStats.markedTokens(docs, "text", "source",
      topK = 10, alpha0 = 100.0)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    val byKey = got.map(r => (r._1, r._2) -> r).toMap
    // corpus: x 4, y 4, total 8; aw = 100*4/8 = 50 for both tokens.
    // For (a, x): y_s=3, n_s=4, yr=1, nr=4 ->
    // delta = ln(53/51) - ln(51/53) = 2 ln(53/51); z = delta/sqrt(1/53+1/51)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val delta = 2.0 * math.log(53.0 / 51.0)
    val wantZ = r6(delta / math.sqrt(1.0 / 53.0 + 1.0 / 51.0))
    val ax = byKey(("a", 1))
    assert(ax._3 == "x" && ax._4 == 3L && ax._5 == 1L, s"top-a $ax")
    assert(ax._6 == r6(delta) && ax._7 == wantZ, s"hand z: $ax vs $wantZ")
    val by = byKey(("b", 1))
    assert(by._3 == "y" && by._7 == wantZ, "mirrored source must score equally")
    // each source emits its full 2-token vocab (topK 10 > vocab), the
    // under-represented token carrying the negative twin z
    assert(got.count(_._1 == "a") == 2 && byKey(("a", 2))._7 == -wantZ)
    intercept[IllegalArgumentException] {
      CorpusStats.markedTokens(docs, "text", "source", topK = 0)
    }
  }

  test("gramNovelty: hand fractions, gramless zero, broadcast==shuffle paths") {
    import graft.operators.CorpusStats
    val standing = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val census = CorpusStats.gramCensus(standing, "text", 3)
    val batch = Seq(
      (1L, "a b c d e"),     // all 3 trigrams seen -> 0
      (2L, "x y z w"),       // both unseen -> 1
      (3L, "a b c q r"),     // 1 of 3 seen -> 2/3
      (4L, "hi")             // gramless -> 0 grams, novelty 0
    ).toDF("doc_id", "text")
    def run(bound: Long) =
      CorpusStats.gramNovelty(batch, "doc_id", "text", census, 3, bound)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val got = run(CorpusStats.BroadcastVocabRows)
    assert(got(1L) == ((3L, 0.0)))
    assert(got(2L) == ((2L, 1.0)))
    assert(got(3L)._1 == 3L)
    assert(math.abs(got(3L)._2 - 2.0 / 3) < 1e-6)
    assert(got(4L) == ((0L, 0.0)))
    assert(run(0L) == got, "shuffle-join path must agree")
  }

  test("pmiCollocations: a glued pair beats an independent one; floor applies") {
    // "san" and "francisco" ONLY ever appear together; "the" and "cat"
    // co-occur sometimes but each also roams free — PMI must rank the
    // glued pair far above the incidental one.
    val docs = Seq(
      (1L, "san francisco is by the bay the cat sat"),
      (2L, "san francisco fog the cat ran the dog ran"),
      (3L, "san francisco hills the end the cat"),
      (4L, "the road the cat walked the town san francisco")
    ).toDF("doc_id", "text")
    val got = CorpusStats.pmiCollocations(docs, "text", minCount = 3L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(5))).toMap
    assert(got.contains(("san", "francisco")))
    assert(got.contains(("the", "cat")))
    assert(got(("san", "francisco"))._2 > got(("the", "cat"))._2 + 1.0,
      s"glued pair must dominate: $got")
    // Hand value: c(san)=4, c(francisco)=4, c(san francisco)=4,
    // N_tok=34, N_bi=30 -> pmi = log2((4/30) / ((4/34)*(4/34))).
    val expected = math.log((4.0 / 30) / ((4.0 / 34) * (4.0 / 34))) / math.log(2)
    assert(math.abs(got(("san", "francisco"))._2 - expected) < 1e-5,
      s"${got(("san", "francisco"))._2} vs $expected")
    // Pairs under the floor are absent (e.g. "dog ran" occurs once).
    assert(!got.contains(("dog", "ran")))
  }

  test("heapsFit: all-new vocabulary fits beta ~ 1; closed vocabulary goes flat") {
    // Every doc introduces 5 brand-new tokens: V = T exactly, so the
    // log-log fit is the identity line (beta 1, r2 1) at any bucketing.
    val open = (1L to 100L).map(i =>
      (i, (1 to 5).map(j => s"tok_${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val o = graft.operators.CorpusStats.heapsFit(open, "doc_id", "text", buckets = 10)
      .collect().head
    assert(o.getLong(0) == 10L, s"all 10 buckets populated: $o")
    assert(math.abs(o.getDouble(1) - 1.0) < 1e-6, s"beta must be 1: $o")
    assert(math.abs(o.getDouble(3) - 1.0) < 1e-6, s"r2 must be 1: $o")
    // Closed vocabulary: every doc repeats the same 3 tokens — V is
    // constant after the first prefix, so beta collapses toward 0.
    val closed = (1L to 100L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val c = graft.operators.CorpusStats.heapsFit(closed, "doc_id", "text", buckets = 10)
      .collect().head
    assert(c.getDouble(1) >= 0.0 && c.getDouble(1) < 0.05,
      s"closed vocab must fit near-flat: $c")
  }

  test("hapaxStats: hand census values per source") {
    val df = Seq(
      (1L, "A", "a a b"),        // census a:2 b:1 -> N=3 V=2 hapax=1
      (2L, "B", "x y z"),        // all singletons -> unseen_mass 1.0
      (3L, "B", "x y z"))        // ...doubled: zero hapax
      .toDF("doc_id", "source", "text")
    val got = graft.operators.CorpusStats.hapaxStats(df, "source", "text")
      .orderBy("source").collect()
    val a = got(0)
    assert(a.getString(0) == "A" && a.getLong(1) == 3L && a.getLong(2) == 2L
      && a.getLong(3) == 1L)
    assert(a.getDouble(4) == 0.333333 && a.getDouble(5) == 0.5)
    val b = got(1)
    assert(b.getString(0) == "B" && b.getLong(1) == 6L && b.getLong(2) == 3L
      && b.getLong(3) == 0L)
    assert(b.getDouble(4) == 0.0 && b.getDouble(5) == 0.0)
  }

  test("EmbeddingStats.dispersion: collapsed group 0, spread group by hand") {
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(1.0f, 0.0f)),            // collapsed: dispersion 0
      (3L, 1, Array(2.0f, 0.0f)),
      (4L, 1, Array(0.0f, 2.0f)))            // mu=(1,1), E||x||^2=4, ||mu||^2=2
      .toDF("vec_id", "label", "embedding")
    val got = graft.operators.EmbeddingStats.dispersion(vecs, "embedding", "label")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(0) == ((2L, 1.0, 0.0)))
    assert(got(1)._1 == 2L)
    assert(math.abs(got(1)._2 - math.sqrt(2.0)) < 1e-6)
    assert(got(1)._3 == 2.0)
  }
}
