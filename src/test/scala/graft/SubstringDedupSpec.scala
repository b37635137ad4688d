package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SubstringDedup
import graft.sources.TableIO

/** Span-level exact-substring dedup: spans/stats/strip against a
  * brute-force in-memory reference, hash-keyed == exact-keyed modes,
  * and the fully-duplicated-document edge (strips to empty).
  */
class SubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------- reference

  /** Brute-force spans: global substring census, per-doc 1-based site
    * list, merge while the gap between site starts is <= L.
    */
  private def bruteSpans(
      docs: Seq[(Long, String)], L: Int): Set[(Long, Long, Long)] = {
    val counts = scala.collection.mutable.Map.empty[String, Int]
    for ((_, t) <- docs if t.length >= L; i <- 0 to t.length - L) {
      val g = t.substring(i, i + L)
      counts(g) = counts.getOrElse(g, 0) + 1
    }
    docs.flatMap { case (id, t) =>
      val sites =
        if (t.length < L) Seq.empty[Int]
        else (1 to t.length - L + 1).filter(p => counts(t.substring(p - 1, p - 1 + L)) > 1)
      val spans = scala.collection.mutable.ListBuffer.empty[(Int, Int)] // (start, lastSite)
      for (p <- sites) {
        if (spans.nonEmpty && p - spans.last._2 <= L)
          spans(spans.length - 1) = (spans.last._1, p)
        else spans += ((p, p))
      }
      spans.map { case (s, last) => (id, s.toLong, (last + L - 1).toLong) }
    }.toSet
  }

  private def bruteStrip(docs: Seq[(Long, String)], L: Int): Map[Long, String] = {
    val spansByDoc = bruteSpans(docs, L).groupBy(_._1)
      .map { case (id, ss) => id -> ss.toSeq.map(s => (s._2.toInt, s._3.toInt)).sorted }
    docs.map { case (id, t) =>
      val kept = new StringBuilder
      var cur = 1
      for ((s, e) <- spansByDoc.getOrElse(id, Seq.empty)) {
        kept ++= t.substring(cur - 1, s - 1)
        cur = e + 1
      }
      kept ++= t.substring(cur - 1)
      id -> kept.toString
    }.toMap
  }

  private def spansOf(df: DataFrame, L: Int, hashGrams: Boolean): Set[(Long, Long, Long)] =
    SubstringDedup.duplicatedSpans(df, "doc_id", "text", L, hashGrams)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet

  // ------------------------------------------------------------ fixtures

  // B = a 40-char boilerplate sentence planted across docs 1/2/4 and
  // twice within doc 5; doc 3 is clean; doc 6 is shorter than L; doc 7
  // is doc 1 verbatim (fully duplicated).
  private val B = "SHARED BOILERPLATE SENTENCE ABCDEFGHIJKL" // 40 chars
  private lazy val planted = Seq(
    (1L, s"unique head one ${B} unique tail one zzzz"),
    (2L, s"different lead-in text ${B} other close"),
    (3L, "totally clean document with no repeated windows at all here"),
    (4L, s"${B} starts this one"),
    (5L, s"${B} and between ${B}"),
    (6L, "tiny doc"),
    (7L, s"unique head one ${B} unique tail one zzzz")
  ).toDF("doc_id", "text")

  private val L = 30

  // --------------------------------------------------------------- tests

  test("planted fixture: spans match the brute-force reference") {
    val docs = planted.as[(Long, String)].collect().toSeq
    val expected = bruteSpans(docs, L)
    assert(spansOf(planted, L, hashGrams = false) == expected)
    // every planted boilerplate site is covered by some span
    val byDoc = expected.groupBy(_._1)
    for (id <- Seq(1L, 2L, 4L, 5L, 7L)) assert(byDoc.contains(id), s"doc $id")
    assert(!byDoc.contains(3L) && !byDoc.contains(6L))
    // docs 1 and 7 are verbatim copies: identical (full-doc) spans
    assert(byDoc(1L).map(s => (s._2, s._3)) == byDoc(7L).map(s => (s._2, s._3)))
  }

  test("hash-keyed mode produces the identical span set (fixture + sf0.001)") {
    assert(spansOf(planted, L, hashGrams = true) ==
      spansOf(planted, L, hashGrams = false))
    val corpus = TableIO.table(spark, Sf0001, "documents")
    assert(spansOf(corpus, L, hashGrams = true) ==
      spansOf(corpus, L, hashGrams = false))
  }

  test("skew-safe census+join formulation returns the identical span set") {
    val corpus = TableIO.table(spark, Sf0001, "documents")
    def spans(skewSafe: Option[Boolean]) = SubstringDedup
      .duplicatedSpans(corpus, "doc_id", "text", L, hashGrams = false, skewSafe = skewSafe)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(spans(Some(true)) == spans(Some(false)))
    // the AUTO default (sampled probe) picks one of the two and matches
    assert(spans(None) == spans(Some(false)))
    // on the unskewed corpus the probe picks the single-exchange window shape
    val plan = SubstringDedup
      .duplicatedGramSites(corpus, "doc_id", "text", L, hashGrams = false)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"default should use the window count:\n$plan")
    assert(!plan.contains("Join"), s"default should not join:\n$plan")
  }

  test("skew autopilot: probe routes a hot-gram corpus to census+join, clean corpus to window") {
    val corpus = TableIO.table(spark, Sf0001, "documents")
    // probeFrac=1.0 samples every doc: the decision is exact, not sampled
    assert(!SubstringDedup.probePicksCensusJoin(
      corpus, "doc_id", "text", L, probeFrac = 1.0, hotGramSites = 1000L))
    // planted Zipf head: 200 docs of 'a'*130 — every 30-window is the
    // SAME gram, 101 sites/doc = 20,200 sites of one gram
    val hot = spark.range(200).select(
      (col("id") + 5000000L).as("doc_id"),
      concat(lit("a" * 130), lit(" tail "), col("id").cast("string")).as("text"))
    val skewed = corpus.select("doc_id", "text").unionByName(hot)
    assert(SubstringDedup.probePicksCensusJoin(
      skewed, "doc_id", "text", L, probeFrac = 1.0, hotGramSites = 1000L))
    // under the DEFAULT API (skewSafe = None) the executed plan on the
    // skewed corpus is the census+join shape, not the per-gram window
    val plan = SubstringDedup
      .duplicatedGramSites(skewed, "doc_id", "text", L,
        probeFrac = 1.0, hotGramSites = 1000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Join"), s"hot corpus should route to census+join:\n$plan")
    // and the auto output equals both forced formulations
    def spansOfMode(skewSafe: Option[Boolean]) = SubstringDedup
      .duplicatedSpans(skewed, "doc_id", "text", L, hashGrams = false,
        skewSafe = skewSafe, probeFrac = 1.0, hotGramSites = 1000L)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    val auto = spansOfMode(None)
    assert(auto == spansOfMode(Some(false)) && auto == spansOfMode(Some(true)))
    // every hot doc's full 'a'-run is one span covering offsets 1..130
    val hotSpans = auto.filter(_._1 >= 5000000L)
    assert(hotSpans.size == 200 && hotSpans.forall(s => s._2 == 1L && s._3 >= 130L))
  }

  test("sf0.001 corpus spans match the brute-force reference") {
    val corpus = TableIO.table(spark, Sf0001, "documents")
    val docs = corpus.select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(spansOf(corpus, L, hashGrams = false) == bruteSpans(docs, L))
  }

  test("strip: rebuilt text matches the reference; clean docs unchanged; full dups empty") {
    val docs = planted.as[(Long, String)].collect().toSeq
    val expected = bruteStrip(docs, L)
    val got = SubstringDedup
      .stripDuplicatedSpans(planted, "doc_id", "text", L, hashGrams = false)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got == expected)
    assert(got(3L) == docs.find(_._1 == 3L).get._2) // untouched
    assert(got(6L) == "tiny doc")                   // shorter than L
    assert(got(1L) == "" && got(7L) == "")          // verbatim pair: all stripped
    // no kept character sits inside any span, and order is preserved:
    // stripping twice is a fixed point only for spans no longer duplicated,
    // so assert the cheaper invariant — each stripped doc is a subsequence
    // of its original.
    def isSubseq(a: String, b: String): Boolean = {
      var i = 0
      for (c <- b if i < a.length) if (a(i) == c) i += 1
      i == a.length
    }
    for ((id, t) <- docs) assert(isSubseq(got(id), t), s"doc $id")
  }

  test("stats: per-source rollup is consistent with the span set") {
    val corpus = TableIO.table(spark, Sf0001, "documents")
    val stats = SubstringDedup
      .duplicationStats(corpus, "doc_id", "text", "source", L, hashGrams = false)
    val rows = stats.collect()
    val spans = spansOf(corpus, L, hashGrams = false)
    val srcOf = corpus.select("doc_id", "source").as[(Long, String)].collect().toMap
    val dupCharsBySrc = spans.toSeq
      .groupBy(s => srcOf(s._1))
      .map { case (src, ss) => src -> ss.map(s => s._3 - s._2 + 1).sum }
    for (r <- rows) {
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("dup_chars") == dupCharsBySrc.getOrElse(src, 0L), src)
      val frac = r.getAs[Double]("dup_frac")
      assert(frac >= 0.0 && frac <= 1.0)
      assert(r.getAs[Long]("docs_with_dups") <= r.getAs[Long]("n_docs"))
    }
    // totals: every source of the corpus appears exactly once
    assert(rows.map(_.getAs[String]("source")).toSet ==
      corpus.select("source").distinct().as[String].collect().toSet)
  }

  test("census is a monoid: census(a union b) == mergeCensus(census(a), census(b))") {
    val corpus = TableIO.table(spark, Sf0001, "documents")
    val a = corpus.filter(col("doc_id") % 3 === 0)
    val b = corpus.filter(col("doc_id") % 3 =!= 0)
    val whole = SubstringDedup.gramCensus(corpus, "doc_id", "text", L, hashGrams = true)
      .as[(Long, Long)].collect().toMap
    val merged = SubstringDedup.mergeCensus(
        SubstringDedup.gramCensus(a, "doc_id", "text", L, hashGrams = true),
        SubstringDedup.gramCensus(b, "doc_id", "text", L, hashGrams = true))
      .as[(Long, Long)].collect().toMap
    assert(merged == whole)
  }

  test("capCensus: detection identity at cap=2, capped merge is a homomorphism") {
    val corpus = TableIO.table(spark, Sf0001, "documents")
    val standing = corpus.filter(col("doc_id") % 2 === 0)
    val batch = corpus.filter(col("doc_id") % 2 === 1)
    val census = SubstringDedup.gramCensus(standing, "doc_id", "text", L, hashGrams = true)
    // Counts above the cap must exist or the test proves nothing.
    assert(census.filter(col("n") > 2).count() > 0,
      "fixture must contain grams with census count > cap")
    def spans(c: DataFrame) = SubstringDedup
      .duplicatedSpansAgainstCensus(batch, "doc_id", "text", c, L, hashGrams = true)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(spans(SubstringDedup.capCensus(census)) == spans(census),
      "cap >= 2 must preserve every detection decision")
    // Homomorphism: capping after merging raw censuses == merging
    // already-capped censuses and capping the sums.
    val a = SubstringDedup.gramCensus(
      corpus.filter(col("doc_id") % 3 === 0), "doc_id", "text", L, hashGrams = true)
    val b = SubstringDedup.gramCensus(
      corpus.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", L, hashGrams = true)
    val rawThenCap = SubstringDedup.capCensus(SubstringDedup.mergeCensus(a, b))
      .as[(Long, Long)].collect().toMap
    val cappedFold = SubstringDedup.capCensus(SubstringDedup.mergeCensus(
        SubstringDedup.capCensus(a), SubstringDedup.capCensus(b)))
      .as[(Long, Long)].collect().toMap
    assert(rawThenCap == cappedFold)
    intercept[IllegalArgumentException] { SubstringDedup.capCensus(census, cap = 1L) }
  }

  test("restriction law: against-census spans == full-rebuild spans on batch docs") {
    val corpus = TableIO.table(spark, Sf0001, "documents")
    val standing = corpus.filter(col("doc_id") % 2 === 0)
    val batch = corpus.filter(col("doc_id") % 2 === 1)
    val census = SubstringDedup.gramCensus(standing, "doc_id", "text", L, hashGrams = true)
    val incr = SubstringDedup
      .duplicatedSpansAgainstCensus(batch, "doc_id", "text", census, L, hashGrams = true)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    val full = spansOf(corpus, L, hashGrams = true).filter(_._1 % 2 == 1)
    assert(incr == full)
    // the skew-safe census-aggregate formulation is output-identical
    val incrSafe = SubstringDedup
      .duplicatedSpansAgainstCensus(batch, "doc_id", "text", census, L,
        hashGrams = true, skewSafe = Some(true))
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(incrSafe == full)
    // a batch-internal duplicate with no census support is still caught
    val dupBatch = Seq(
      (101L, s"first copy here ${B} trailing bits"),
      (103L, s"second copy xx ${B} other ending")).toDF("doc_id", "text")
    val alone = SubstringDedup.duplicatedSpansAgainstCensus(
        dupBatch, "doc_id", "text",
        SubstringDedup.gramCensus(dupBatch.limit(0), "doc_id", "text", L),
        L)
      .select("doc_id").as[Long].collect().toSet
    assert(alone == Set(101L, 103L))
  }

  test("token spans: brute reference, hashed==exact, islands merge in token space") {
    def bruteTokenSpans(docs: Seq[(Long, String)], k: Int): Set[(Long, Long, Long)] = {
      val toks = docs.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty).toSeq }
      val counts = scala.collection.mutable.Map.empty[String, Int]
      for ((_, ts) <- toks if ts.length >= k; i <- 0 to ts.length - k) {
        val g = ts.slice(i, i + k).mkString(" ")
        counts(g) = counts.getOrElse(g, 0) + 1
      }
      toks.flatMap { case (id, ts) =>
        val sites =
          if (ts.length < k) Seq.empty[Int]
          else (1 to ts.length - k + 1)
            .filter(p => counts(ts.slice(p - 1, p - 1 + k).mkString(" ")) > 1)
        val spans = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
        for (p <- sites) {
          if (spans.nonEmpty && p - spans.last._2 <= k)
            spans(spans.length - 1) = (spans.last._1, p)
          else spans += ((p, p))
        }
        spans.map { case (s, last) => (id, s.toLong, (last + k - 1).toLong) }
      }.toSet
    }
    def spans(df: org.apache.spark.sql.DataFrame, hash: Boolean) =
      SubstringDedup.duplicatedTokenSpans(df, "doc_id", "text", 6, hashGrams = hash)
        .select("doc_id", "span_start", "span_end")
        .as[(Long, Long, Long)].collect().toSet
    // planted: a 7-token phrase shared across docs 1/2, doc 3 clean
    val phrase = "alpha beta gamma delta epsilon zeta eta"
    val df = Seq(
      (1L, s"one two $phrase tail words here"),
      (2L, s"prefix bits go $phrase other close words"),
      (3L, "totally clean words with no repeats at all in this one")
    ).toDF("doc_id", "text")
    val docsSeq = df.as[(Long, String)].collect().toSeq
    assert(spans(df, hash = false) == bruteTokenSpans(docsSeq, 6))
    assert(spans(df, hash = false).map(_._1) == Set(1L, 2L))
    // corpus: brute reference + mode identity + skewSafe identity
    val corpus = TableIO.table(spark, Sf0001, "documents")
    val corpusDocs = corpus.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val exact = spans(corpus, hash = false)
    assert(exact == bruteTokenSpans(corpusDocs, 6))
    assert(spans(corpus, hash = true) == exact)
    assert(SubstringDedup
      .duplicatedTokenSpans(corpus, "doc_id", "text", 6, hashGrams = false, skewSafe = Some(true))
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet == exact)
  }

  test("token census: monoid + restriction law (against-census == full on batch docs)") {
    val corpus = TableIO.table(spark, Sf0001, "documents")
    val K = 6
    // monoid: census(a union b) == merge(census(a), census(b))
    val a = corpus.filter(col("doc_id") % 3 === 0)
    val b = corpus.filter(col("doc_id") % 3 =!= 0)
    val whole = SubstringDedup.tokenGramCensus(corpus, "doc_id", "text", K)
      .as[(Long, Long)].collect().toMap
    assert(SubstringDedup.mergeCensus(
        SubstringDedup.tokenGramCensus(a, "doc_id", "text", K),
        SubstringDedup.tokenGramCensus(b, "doc_id", "text", K))
      .as[(Long, Long)].collect().toMap == whole)
    // restriction law, both formulations
    val standing = corpus.filter(col("doc_id") % 2 === 0)
    val batch = corpus.filter(col("doc_id") % 2 === 1)
    val census = SubstringDedup.tokenGramCensus(standing, "doc_id", "text", K)
    val full = SubstringDedup
      .duplicatedTokenSpans(corpus, "doc_id", "text", K)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet.filter(_._1 % 2 == 1)
    for (mode <- Seq(None, Some(true), Some(false))) {
      val incr = SubstringDedup
        .duplicatedTokenSpansAgainstCensus(
          batch, "doc_id", "text", census, K, skewSafe = mode)
        .select("doc_id", "span_start", "span_end")
        .as[(Long, Long, Long)].collect().toSet
      assert(incr == full, s"mode $mode")
    }
  }

  test("token strip: space-joined kept tokens; clean docs byte-identical; edge spans") {
    val K = 6
    def bruteTokenStrip(docs: Seq[(Long, String)]): Map[Long, String] = {
      val toks = docs.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty).toSeq }
      val counts = scala.collection.mutable.Map.empty[String, Int]
      for ((_, ts) <- toks if ts.length >= K; i <- 0 to ts.length - K) {
        val g = ts.slice(i, i + K).mkString(" ")
        counts(g) = counts.getOrElse(g, 0) + 1
      }
      toks.map { case (id, ts) =>
        val dupTok = Array.fill(ts.length)(false)
        if (ts.length >= K)
          for (i <- 0 to ts.length - K
               if counts(ts.slice(i, i + K).mkString(" ")) > 1;
               j <- i until i + K) dupTok(j) = true
        // islands merge sites with gap <= K, so the kept set is exactly
        // the tokens outside every (merged) span = outside every dup window
        id -> (if (dupTok.exists(identity))
          ts.indices.filterNot(dupTok).map(ts).mkString(" ")
        else docs.find(_._1 == id).get._2)
      }.toMap
    }
    val phrase = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      // span at the very START of the doc (cursor-at-1 edge)
      (1L, s"$phrase then unique trailing words go here now"),
      // span at the very END (final-slice-length-0 edge)
      (2L, s"some unique leading words first $phrase"),
      // fully duplicated doc: strips to the empty string
      (3L, phrase),
      (4L, phrase),
      // clean doc with DOUBLE  spaces: must stay byte-identical
      (5L, "totally  clean doc with  irregular   whitespace kept intact"),
      (6L, "short doc")
    )
    val got = SubstringDedup
      .stripDuplicatedTokenSpans(docs.toDF("doc_id", "text"), "doc_id", "text", K,
        hashGrams = false)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got == bruteTokenStrip(docs))
    assert(got(3L) == "" && got(4L) == "")
    assert(got(5L) == docs.find(_._1 == 5L).get._2) // whitespace untouched
    // wait: doc 1's phrase is shared with docs 2/3/4 -> stripped
    assert(!got(1L).contains("alpha") && got(1L).startsWith("then unique"))
    assert(got(2L) == "some unique leading words first")
    // sf0.001: strip output tokens == tokens outside the span set
    val corpus = TableIO.table(spark, Sf0001, "documents")
    val stripped = SubstringDedup
      .stripDuplicatedTokenSpans(corpus, "doc_id", "text", K, hashGrams = false)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val corpusDocs = corpus.select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(stripped == bruteTokenStrip(corpusDocs))
  }

  test("span decontamination: leaked eval passages strip surgically, clean text survives") {
    // eval: two benchmark "questions"; corpus doc 1 embeds one verbatim,
    // doc 2 embeds a 29-char fragment (below minLen -> untouched), doc 3
    // is clean, doc 4 is an eval doc copied wholesale (strips to empty)
    val q1 = "WHAT IS THE CAPITAL OF FRANCE ANSWER PARIS OK" // 45 chars
    val q2 = "NAME THE LARGEST PLANET ANSWER JUPITER YES SIR"
    val eval = Seq(q1, q2).toDF("text")
    val corpus = Seq(
      (1L, s"some original prose here $q1 and more original prose"),
      (2L, s"fragment only: ${q1.take(29)}Xthen diverges completely"),
      (3L, "entirely clean document with nothing from any benchmark"),
      (4L, q2)
    ).toDF("doc_id", "text")
    val spans = SubstringDedup.contaminatedSpans(
        corpus, "doc_id", "text", eval, "text", minLen = 30, hashGrams = false)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    // doc 1: exactly the q1 passage (chars 26..70); docs 2,3 clean; doc 4 whole
    assert(spans == Set((1L, 26L, 70L), (4L, 1L, q2.length.toLong)), s"got $spans")
    val stripped = SubstringDedup.stripContaminatedSpans(
        corpus, "doc_id", "text", eval, "text", minLen = 30, hashGrams = false)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(stripped(1L) == "some original prose here  and more original prose")
    assert(stripped(2L) == s"fragment only: ${q1.take(29)}Xthen diverges completely")
    assert(stripped(3L) == "entirely clean document with nothing from any benchmark")
    assert(stripped(4L) == "")
    // hashed mode finds the identical spans (the 100 TB default keys)
    assert(SubstringDedup.contaminatedSpans(
        corpus, "doc_id", "text", eval, "text", minLen = 30)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet == spans)
    // corpus-internal duplicates alone are NOT contamination
    val dupOnly = Seq(
      (10L, s"left pad number one ${B} right pad one"),
      (11L, s"other left padding ${B} other right pad")).toDF("doc_id", "text")
    assert(SubstringDedup.contaminatedSpans(
        dupOnly, "doc_id", "text", eval, "text", minLen = 30, hashGrams = false)
      .count() == 0L)
    // persisted eval store == direct eval frame
    val store = s"target/tmp/decon_store_${System.nanoTime()}"
    val evalIds = eval.withColumn("__eid", monotonically_increasing_id())
    graft.operators.CensusStore.appendDelta(
      SubstringDedup.gramCensus(evalIds.limit(1), "__eid", "text", 30, hashGrams = false),
      store, 0L)
    graft.operators.CensusStore.appendDelta(
      SubstringDedup.gramCensus(
        evalIds.except(evalIds.limit(1)), "__eid", "text", 30, hashGrams = false),
      store, 1L)
    val census = graft.operators.CensusStore.read(spark, store, "g")
    assert(SubstringDedup.contaminatedSpansAgainstCensus(
        corpus, "doc_id", "text", census, minLen = 30, hashGrams = false)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet == spans)
  }

  test("no duplicated window shorter than minLen is reported (threshold honored)") {
    // two docs sharing only a 29-char window must produce no span at L=30
    // (boundary chars X/Y vs A/B differ so the shared run is EXACTLY 29)
    val shared29 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ123" // 29 chars
    val df = Seq(
      (1L, s"left pad number oneX${shared29}Yright pad 11111"),
      (2L, s"other padding textA${shared29}Bdifferent end2")
    ).toDF("doc_id", "text")
    assert(spansOf(df, L, hashGrams = false).isEmpty)
    // at L=29 the shared window is found in both docs
    val at29 = spansOf(df, 29, hashGrams = false)
    assert(at29.map(_._1) == Set(1L, 2L))
  }
}
