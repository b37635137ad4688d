package graft

import org.apache.spark.sql.functions.col

import graft.operators.Dedup
import graft.sources.TableIO

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixture = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),    // near dup of 1
    (4L, "completely different words appear in this sentence here now")
  ).toDF("doc_id", "text")

  test("exact dedup: deterministic min-id keeper, correct group counts") {
    val groups = Dedup.exactDuplicateGroups(fixture, "doc_id", "text").collect()
    assert(groups.length == 3)
    val dupGroup = groups.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) == 1L) // keeper is min id
    val kept = Dedup.dropExactDuplicates(fixture, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("typed Aggregator digest matches the untyped exact-dedup groups") {
    val docs = TableIO.table(spark, Sf0001, "documents")
    val untyped = Dedup.exactDuplicateGroups(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect().toSet
    val typed = graft.operators.TypedDedup.exactDuplicateGroups[(Long, String)](
        docs.select("doc_id", "text").as[(Long, String)],
        r => graft.operators.TypedDedup.md5Hex(r._2), _._1)
      .as[(String, Long, Long)].collect().toSet
    assert(typed == untyped)
    // the Aggregator must run as a partial aggregation (map-side combine),
    // not a full-group materialization
    val plan = graft.operators.TypedDedup.exactDuplicateGroups[(Long, String)](
        docs.select("doc_id", "text").as[(Long, String)],
        r => graft.operators.TypedDedup.md5Hex(r._2), _._1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial"), s"expected partial aggregation in:\n$plan")
    assert(!plan.contains("MapGroups"), "digest must not materialize whole groups")
  }

  test("jaccard pairs: identical docs = 1.0, near dups high, disjoint absent") {
    val pairs = Dedup.jaccardPairs(fixture, "doc_id", "text", n = 3, minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.4 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("prefix-filtered jaccard is output-identical to the naive join") {
    val docs = TableIO.table(spark, Sf0001, "documents")
    val naive = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.2)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.jaccardPairsPrefixFiltered(docs, "doc_id", "text", n = 3, minJaccard = 0.2)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(naive == prefix)
    assert(naive.nonEmpty)
  }

  test("minhash LSH matches exhaustive jaccard on the testdata corpus") {
    val docs = TableIO.table(spark, Sf0001, "documents")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, minJaccard = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "verify step must kill false positives")
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9 (found ${lsh.size}/${exact.size})")
  }

  test("minhash band self-join executes with a ReusedExchange (signatures computed once)") {
    // The operator removed its persist() barriers on the grounds that both
    // sides of the band self-join alias ONE plan, so Catalyst canonicalizes
    // them identically and exchange reuse materializes the banding subtree
    // once. Pin that: if reuse ever stops firing (optimizer change, AQE
    // edge case), the MinHash/shingle subtrees silently recompute per use.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def countReused(p: SparkPlan): Int = {
      val self = p match { case _: ReusedExchangeExec => 1; case _ => 0 }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self + kids.map(countReused).sum
    }
    // At sf0.001 the self-join broadcasts (no exchange at all — signatures
    // are recomputed on the stream side, which is the right trade at that
    // size). Reuse is the claim for the SHUFFLE-scale shape, so force it.
    val docs = TableIO.table(spark, Sf0001, "documents")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cand = Dedup.minHashCandidates(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16)
      cand.collect() // finalize the adaptive plan
      assert(countReused(cand.queryExecution.executedPlan) >= 1,
        s"expected a ReusedExchange in minHashCandidates:\n${cand.queryExecution.executedPlan}")
      val near = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, minJaccard = 0.2)
      near.collect()
      assert(countReused(near.queryExecution.executedPlan) >= 1,
        s"expected a ReusedExchange in minHashNearDuplicates:\n${near.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("simhash: whitespace-invariant, near-dups closer than unrelated docs") {
    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    val nearDup = base.replace("token7", "changed")
    val unrelated = (1 to 30).map(i => s"other$i").mkString(" ")
    val sigs = Seq((1L, base), (2L, base.replace(" ", "   ")), (3L, nearDup), (4L, unrelated))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.simHash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sigs(1L) == sigs(2L), "whitespace-invariant")
    assert(hamming(sigs(1L), sigs(3L)) < hamming(sigs(1L), sigs(4L)),
      "one-token edit must land closer than a disjoint doc")
  }

  test("winnowing: near-copies share fingerprints, disjoint docs share none") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, s"intro words here $shared trailing bits"),
      (2L, s"other prefix text $shared different suffix"),
      (3L, "completely unrelated vocabulary nothing matches at all here today now ok")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowCandidatePairs(docs, "doc_id", "text", n = 3, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "12-token shared run must produce a shared fingerprint (guarantee t=w+n-1=6)")
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("LSH embedding near-dup: exact precision, finds planted dup, guaranteed within hamming bound") {
    val emb = (1 to 40).map(i =>
      (i.toLong, Seq.tabulate(16)(j => math.sin(i * 17 + j * 3).toFloat))) ++ Seq(
      (100L, Seq.fill(16)(0.5f)),
      (101L, Seq.tabulate(16)(j => if (j == 0) 0.52f else 0.5f)))
    val df = emb.toDF("vec_id", "embedding")
    val brute = Dedup.embeddingNearDuplicates(df, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDuplicatesLSH(df, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute), "verify step makes precision exact")
    assert(lsh.contains((100L, 101L)), "near-identical vectors share every hyperplane side")
  }

  test("embeddingNearDuplicatesLSH rejects the degenerate numPlanes < maxHamming + 1 config") {
    val emb = TableIO.table(spark, Sf0001, "embeddings").limit(10)
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDuplicatesLSH(emb, "vec_id", "embedding", 0.5,
        numPlanes = 2, maxHamming = 2)
    }
  }

  test("embedding near-dup finds planted duplicate") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.01f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("group signature equals elementwise min of member signatures (union identity)") {
    val docs = Seq(
      (1L, "src_a", "alpha beta gamma delta epsilon zeta"),
      (2L, "src_a", "eta theta iota kappa lambda mu"),
      (3L, "src_b", "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "source", "text")
    val perDoc = docs.select(
      col("source"),
      Dedup.minHashSignature(col("text"), 3, 32, 42L).as("sig"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1)))
    val expected = perDoc.groupBy(_._1).map { case (src, sigs) =>
      src -> sigs.map(_._2).reduce((a, b) => a.zip(b).map(t => math.min(t._1, t._2)))
    }
    val got = Dedup.groupSignatures(docs, "source", "text", 3, 32, 42L)
      .collect().map(r => (r.getString(0), r.getSeq[Long](1))).toMap
    assert(expected.forall { case (src, sig) => got(src) == sig })
  }

  test("groupOverlap estimates high jaccard for overlapping sources") {
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, "src_a", shared),
      (2L, "src_a", "unique content for source a only here"),
      (3L, "src_b", shared),
      (4L, "src_b", "unique content for source b only here"),
      (5L, "src_c", "completely unrelated text about something else entirely")).toDF("doc_id", "source", "text")
    val overlaps = Dedup.groupOverlap(docs, "source", "text", n = 3, numHashes = 64)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(overlaps(("src_a", "src_b")) > overlaps(("src_a", "src_c")))
    assert(overlaps(("src_a", "src_b")) > 0.3)
  }

  test("incremental dedup drops exact and near copies of the indexed corpus only") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running far"),
      (2L, "completely different words appear in this sentence here now indeed")
    ).toDF("doc_id", "text")
    val index = Dedup.fingerprintIndex(corpus, "doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and keeps running far"), // exact copy of 1
      (101L, "the quick brown fox jumps over the sleepy dog and keeps running far"), // near copy of 1
      (102L, "fresh content with no overlap whatsoever to anything stored before")  // novel
    ).toDF("doc_id", "text")
    val kept = Dedup.dropAgainstIndex(batch, "doc_id", "text", index,
        numHashes = 64, bands = 16, minAgreement = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(102L), s"expected only the novel doc, kept $kept")
    // Output keeps the batch schema, fingerprints dropped.
    assert(Dedup.dropAgainstIndex(batch, "doc_id", "text", index).columns.toSeq
      == Seq("doc_id", "text"))
  }

  test("incremental dedup: tiny docs only dedup byte-exact, never via signatures") {
    // Sub-n-token docs share the identity signature; the near path must
    // exclude them or every tiny doc would drop every other.
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val index = Dedup.fingerprintIndex(corpus, "doc_id", "text")
    val batch = Seq(
      (100L, "alpha beta"),   // byte-exact tiny copy -> dropped via md5
      (101L, "gamma delta")   // distinct tiny doc -> must survive
    ).toDF("doc_id", "text")
    val kept = Dedup.dropAgainstIndex(batch, "doc_id", "text", index)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(101L))
  }

  test("presketched forms are output-identical to the sketch-from-text forms") {
    // Copy-dense + near-dup + tiny-doc corpus: exercises exact (md5)
    // and near (band + agreement) index pairs, the identity-signature
    // exclusion, and the drop policy built on the pair probe.
    val t1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val t2 = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val t3 = "completely unrelated content about astronomy telescopes and distant galaxies"
    val docs = Seq(
      (1L, t1), (2L, t1), (3L, t2), (4L, t3), (5L, "tiny doc"), (6L, "tiny doc")
    ).toDF("doc_id", "text")
    def pins(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    // index probes: evens indexed, odds the batch
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val index = Dedup.fingerprintIndex(corpus, "doc_id", "text")
    val fpB = Dedup.fingerprintIndex(batch, "doc_id", "text")
    assert(
      pins(Dedup.pairsAgainstIndexPresketched(fpB, index, minAgreement = 0.4)) ==
      pins(Dedup.pairsAgainstIndex(batch, "doc_id", "text", index,
        minAgreement = 0.4)))
    val dupIds = Dedup.pairsAgainstIndexPresketched(fpB, index, minAgreement = 0.4)
      .select("id_a").as[Long].collect().toSet
    assert(dupIds == Set(1L, 3L, 5L)) // exact copy of 2, near copy of 2, exact tiny copy of 6
    val kept = Dedup.dropAgainstIndex(batch, "doc_id", "text", index,
      minAgreement = 0.4).select("doc_id").as[Long].collect().toSet
    assert(batch.select("doc_id").as[Long].collect().toSet -- dupIds == kept)
  }

  test("webDedup: tracking-param variants collapse; near-dups drop within domain only") {
    val art = "the quick brown fox jumps over the lazy dog near the river bank today"
    val artRev = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val other = "completely unrelated content about astronomy telescopes and distant galaxies"
    val docs = Seq(
      // 1 & 2: same fetch target once canonicalized (tracking params,
      // case, default port, fragment) -> URL collapse keeps id 1.
      (1L, "https://News.Example.com:443/a?utm_source=f&id=7#x", art),
      (2L, "https://news.example.com/a?id=7&fbclid=z", art),
      // 3: different URL, same domain, near-dup text -> dropped by LSH.
      (3L, "https://news.example.com/b", artRev),
      // 4: near-dup text but DIFFERENT registered domain -> survives
      // (domain-scoped banding never compares it).
      (4L, "https://blog.another.org/c", artRev),
      // 5: same domain, unrelated text -> survives.
      (5L, "https://news.example.com/d", other)
    ).toDF("doc_id", "url", "text")
    val got = graft.operators.Dedup.webDedup(docs, "doc_id", "url", "text",
      n = 3, perms = 16, bands = 4, minEstJaccard = 0.4)
    val rows = got.collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap
    assert(rows.keySet == Set(1L, 4L, 5L), s"survivors wrong: ${rows.keySet}")
    assert(rows(1L)._1 == "https://news.example.com/a?id=7")
    assert(rows(1L)._2 == "example.com")
    assert(rows(1L)._3 == 2L, "both captures counted in the collapsed group")
    assert(rows(4L)._2 == "another.org")
  }

  test("minhash collapse/expand emits exactly the raw pair set on a copy-dense corpus") {
    // 3 distinct texts: t1 ~ t2 near-dups, t3 unrelated; copies of each.
    val t1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val t2 = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val t3 = "completely different content about database engines and query plans"
    val docs = Seq(
      (1L, t1), (2L, t1), (3L, t1),      // group A: 3 copies
      (10L, t2), (11L, t2),              // group B: 2 copies
      (20L, t3),                         // singleton
      (30L, "ab"), (31L, "ab"))          // < n tokens: must NOT pair
      .toDF("doc_id", "text")
    val got = Dedup.minHashNearDuplicates(docs, "doc_id", "text", n = 3,
      numHashes = 64, bands = 32, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    val pairs = got.map(p => (p._1, p._2)).toSet
    // within-group: A choose 2 = 3 pairs at 1.0, B choose 2 = 1 pair at 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(pairs.contains((10L, 11L)))
    assert(got.filter(p => Set((1L,2L),(1L,3L),(2L,3L),(10L,11L))(p._1 -> p._2))
      .forall(_._3 == 1.0))
    // cross-group: 3 x 2 = 6 pairs, all with the same keeper jaccard
    val crossPairs = Set((1L,10L),(1L,11L),(2L,10L),(2L,11L),(3L,10L),(3L,11L))
    assert(crossPairs.subsetOf(pairs))
    val crossJ = got.filter(p => crossPairs(p._1 -> p._2)).map(_._3).distinct
    assert(crossJ.length == 1 && crossJ.head >= 0.5 && crossJ.head < 1.0)
    // tiny docs and the singleton never pair
    assert(!pairs.exists(p => Set(20L, 30L, 31L)(p._1) || Set(20L, 30L, 31L)(p._2)))
    assert(got.length == 10)
  }

  test("dropDuplicatesKeepBest: highest score wins, ties fall to min id, singletons stay") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "hello world"),        // fp group A, len 11
      (2L, "HELLO   WORLD  "),    // fp group A, len 15 -> keeper
      (3L, "hello world"),        // fp group A, len 11 (tie with 1, loses to 2)
      (10L, "tie text"), (11L, "tie text"), // group B: equal scores -> min id 10
      (20L, "unique doc"))        // singleton
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup.dropDuplicatesKeepBest(
        docs, "doc_id",
        graft.functions.TextFunctions.fingerprint(col("text")), length(col("text")))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 10L, 20L))
  }

  test("containmentPairs: asymmetric — the quoted snippet scores high, the page low") {
    import org.apache.spark.sql.functions._
    val snippet = "alpha beta gamma delta epsilon zeta"
    val page = "intro words here " + snippet + " and a very long tail of other tokens " +
      "one two three four five six seven eight nine ten"
    val docs = Seq((1L, snippet), (2L, page), (3L, "totally unrelated text about ships"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, minContainment = 0.0)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    // Every snippet trigram appears in the page -> containment(1 in 2) = 1.
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-9)
    // The page has many grams the snippet lacks -> the reverse is small.
    assert(pairs((2L, 1L)) < 0.35, s"reverse containment: ${pairs((2L, 1L))}")
    // No pair with the unrelated doc.
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // Containment >= jaccard for every surviving pair (the measure's
    // defining inequality: same intersection, |A| <= |A u B|).
    val jac = graft.operators.Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.0)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    jac.foreach { case (k, j) => assert(pairs(k) >= j - 1e-9, s"$k: ${pairs(k)} < $j") }
    // The threshold filters directionally: at 0.9 only snippet-in-page.
    val strict = graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, minContainment = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(strict == Set((1L, 2L)))
  }

  test("keepBestPerCluster: longest member of a transitive chain survives") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "short a"), (2L, "the much longer member b"), (3L, "mid len c"),
      (9L, "lonely"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = graft.operators.Components.keepBestPerCluster(
        docs, "doc_id", pairs, length(col("text")))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 9L))
    // keep-min would have crowned doc 1 — the short variant
    val keptMin = graft.operators.Components.keepClusterRepresentatives(
        docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(keptMin == Set(1L, 9L))
  }

  test("portable minhash: signatures match the JVM md5+affine reference; short docs emit none") {
    def h52(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 13), 16)
    }
    // The r15 one-md5-per-gram family: base point x = h52(gram), perm i
    // applies (A_i·x + B_i) mod 2^52 via 26-bit limbs (the overflow-free
    // form both engines replay — see minHashSignaturesPortable).
    def mix(h0: Long, p: Int): Long = {
      val mask52 = 4503599627370495L
      val mask26 = 67108863L
      val a = ((2L * p + 1L) * 25214903917L) & 137438953471L
      val lo = h0 & mask26
      val hi = h0 >>> 26
      (((lo * a) & mask52) + ((hi * a) & mask26) * 67108864L
        + p.toLong * 2654435769L) & mask52
    }
    val text = "a b c d"
    val grams = Seq("a b c", "b c d")
    val df = Seq((1L, text), (2L, "too short")).toDF("doc_id", "text")
    val got = Dedup.minHashSignaturesPortable(df, "doc_id", "text", n = 3, perms = 4)
      .orderBy("id", "perm").as[(Long, Int, Long)].collect()
    assert(got.forall(_._1 == 1L), "2-token doc has no 3-grams -> no rows")
    val want = (0 until 4).map(p => grams.map(g => mix(h52(g), p)).min)
    assert(got.map(_._3).toSeq == want)
    got.foreach { case (_, _, sig) =>
      assert(sig >= 0L && sig < (1L << 52), s"52-bit sig out of range: $sig") }
  }

  test("portable minhash: fused kernel matches the r15a column-pipeline reference") {
    // The pre-kernel formulation (distinct grams -> one md5 -> 16x perm
    // explode -> (id, perm) min aggregate), kept here as the executable
    // reference the fused byte-pass kernel must reproduce exactly —
    // including whitespace-variant grams (array_join uses ONE space
    // regardless of source spacing) and duplicate-gram idempotence.
    import org.apache.spark.sql.functions._
    val perms = 16
    val df = Seq(
      (1L, "a b c d e f g"),
      (2L, "a  b\tc   d"), // multi-space + tab: gram strings re-join with ' '
      (3L, "x y x y x y x y"), // duplicate grams
      (4L, "one two"), // < n tokens -> no rows
      (5L, "é café naïve 中文 tokens")) // non-ASCII bytes
      .toDF("doc_id", "text")
    val mask52 = lit(4503599627370495L)
    val mask26 = lit(67108863L)
    val lo = col("h0").bitwiseAND(mask26)
    val hi = shiftright(col("h0"), 26)
    val a = ((col("perm").cast("long") * lit(2L) + lit(1L)) * lit(25214903917L))
      .bitwiseAND(lit(137438953471L))
    val mixed = ((lo * a).bitwiseAND(mask52)
      + (hi * a).bitwiseAND(mask26) * lit(67108864L)
      + col("perm").cast("long") * lit(2654435769L))
      .bitwiseAND(mask52)
    val ref = df.select(col("doc_id").as("id"),
        explode(array_distinct(graft.functions.TextFunctions.wordNGrams(col("text"), 3))).as("g"))
      .select(col("id"),
        conv(substring(md5(col("g")), 1, 13), 16, 10).cast("long").as("h0"))
      .select(col("id"), col("h0"),
        explode(sequence(lit(0), lit(perms - 1))).as("perm"))
      .select(col("id"), col("perm"), mixed.as("h"))
      .groupBy(col("id"), col("perm"))
      .agg(min(col("h")).as("sig"))
      .orderBy("id", "perm").as[(Long, Int, Long)].collect().toSeq
    val got = Dedup.minHashSignaturesPortable(df, "doc_id", "text", n = 3, perms = perms)
      .orderBy("id", "perm").as[(Long, Int, Long)].collect().toSeq
    assert(got == ref)
    assert(!got.exists(_._1 == 4L), "short doc emits no signature rows")
  }

  test("portable minhash pairs: exact dups always pair at est 1.0; disjoint never candidates") {
    val got = Dedup.minHashPairsPortable(fixture, "doc_id", "text",
        n = 3, perms = 16, bands = 4, minEstJaccard = 0.5)
      .orderBy("id_a", "id_b").collect()
    val dup = got.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(dup.isDefined, "exact duplicates share every band")
    assert(dup.get.getDouble(3) == 1.0 && dup.get.getLong(2) == 16L)
    assert(!got.exists(r => r.getLong(1) == 4L || r.getLong(0) == 4L),
      "the disjoint doc must never surface as a pair")
    // The near-dup (1,3): the changed 8th word kills 2 of 7 grams;
    // exact j = 5/9 ~ 0.56. Whether 16-perm banding surfaces it is the
    // s-curve's coin — assert consistency, not presence: any emitted
    // pair has est >= 0.5 by contract.
    assert(got.forall(_.getDouble(3) >= 0.5))
  }

  test("portable group signatures: union-min identity; identical doc sets give est 1.0") {
    val docs = Seq(
      (1L, "A", "a b c d e f"),
      (2L, "A", "g h i j k l"),
      (3L, "B", "a b c d e f"), // B = copy of A's first doc
      (4L, "B", "g h i j k l"), // ... and second: B's gram set == A's
      (5L, "C", "z1 z2 z3 z4 z5")) // disjoint vocabulary
      .toDF("doc_id", "grp", "text")
    // Identity: the aggregated group signature equals the element-wise
    // min of the per-doc portable signatures.
    val perDoc = Dedup.minHashSignaturesPortable(docs.filter(col("grp") === "A"),
        "doc_id", "text", n = 3, perms = 16)
      .groupBy("perm").agg(org.apache.spark.sql.functions.min(col("sig")).as("want"))
      .orderBy("perm").as[(Int, Long)].collect().map(_._2).toSeq
    val gotSig = Dedup.groupSignaturesPortable(docs, "grp", "text", n = 3, perms = 16)
      .filter(col("group") === "A")
      .select(col("group_sig")).as[Seq[Long]].collect().head
    assert(gotSig == perDoc, "group sig must equal element-wise min of doc sigs")
    val overlap = Dedup.groupOverlapPortable(docs, "grp", "text", n = 3, perms = 16)
      .orderBy("group_a", "group_b").collect()
    val ab = overlap.find(r => r.getString(0) == "A" && r.getString(1) == "B").get
    assert(ab.getLong(2) == 16L && ab.getDouble(3) == 1.0,
      s"identical gram sets must match on every perm: $ab")
    val ac = overlap.find(r => r.getString(0) == "A" && r.getString(1) == "C").get
    assert(ac.getDouble(3) < 0.5, s"disjoint vocab should not look like overlap: $ac")
  }

  test("minHashContainment: quote-inside-document skews the two sides apart") {
    // B is A minus its last word: 27 of A's 28 grams -> exact j ~ 0.964,
    // so banding always surfaces the pair; est intersection ~ |B|, so
    // containment_b ~ 1 while containment_a stays below it.
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val b = (1 to 29).map(i => s"w$i").mkString(" ")
    val got = Dedup.minHashContainment(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"),
      "doc_id", "text", n = 3, perms = 16, bands = 4, minEstJaccard = 0.2)
      .collect()
    assert(got.length == 1, s"expected the (1,2) pair, got ${got.length}")
    val r = got.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 28L && r.getLong(3) == 27L) // exact gram counts
    val (estJ, ca, cb) = (r.getDouble(5), r.getDouble(6), r.getDouble(7))
    assert(estJ >= 0.5, s"high-overlap est_jaccard too low: $estJ")
    assert(cb >= ca, "the contained side must score at least the container")
    assert(cb >= 0.85 && cb <= 1.1, s"containment_b should be ~1, got $cb")
    // identity check: both sides derive from the same est intersection
    val estInt = estJ * (28 + 27) / (1.0 + estJ)
    assert(math.abs(ca - estInt / 28) < 1e-6 && math.abs(cb - estInt / 27) < 1e-6)
  }

  test("portable minhash: estimate tracks exact jaccard on a high-overlap pair") {
    // 20 shared tokens + 1 differing suffix token -> 19 grams each,
    // only the last gram differs: exact jaccard = 18/20 = 0.9.
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base + " endA"), (2L, base + " endB")).toDF("doc_id", "text")
    val pairs = Dedup.minHashPairsPortable(df, "doc_id", "text",
      n = 3, perms = 16, bands = 4, minEstJaccard = 0.5).collect()
    assert(pairs.length == 1, "high-overlap pair must be caught by banding")
    val est = pairs.head.getDouble(3)
    val exact = 18.0 / 20.0
    assert(math.abs(est - exact) < 0.25, s"est $est vs exact $exact")
  }
}
