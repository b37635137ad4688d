package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Components, Dedup}
import graft.sources.TableIO

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("two components, duplicate and self edges, min-id labels") {
    val edges = Seq(
      (5L, 3L), (3L, 5L),  // duplicate both ways
      (3L, 9L),            // chain: {3, 5, 9}
      (7L, 7L),            // self loop: singleton with an edge
      (20L, 11L)           // {11, 20}
    ).toDF("id_a", "id_b")
    val got = Components.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 7L -> 7L, 11L -> 11L, 20L -> 11L))
  }

  test("pointer jumping converges on a path graph in O(log n) rounds") {
    // A 300-vertex path needs ~300 rounds under plain min-propagation;
    // with label-chain halving, ceil(log2) + slack. maxIter=12 only
    // passes if the jump is doing its job. Ids descend so labels must
    // travel the full chain length.
    val n = 300
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    // driverEdgeLimit = 0 forces the distributed fixpoint (the path under
    // test); the driver union-find would otherwise absorb this graph.
    val got = Components.connectedComponents(edges, "id_a", "id_b", maxIter = 12,
        driverEdgeLimit = 0L)
      .as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), s"unconverged labels: ${got.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("driver union-find and distributed fixpoint are output-identical") {
    // Deterministic pseudo-random graph: multiple components, chains,
    // merges, duplicate edges.
    val rnd = new scala.util.Random(42)
    val edges = (1 to 400).map { _ =>
      val a = rnd.nextInt(150).toLong
      (a, a + 1 + rnd.nextInt(30).toLong)
    }.toDF("id_a", "id_b")
    val small = Components.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val dist = Components.connectedComponents(edges, "id_a", "id_b", 30, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(small == dist)
    assert(small.nonEmpty)
  }

  test("cluster membership labels singletons with themselves") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Components.clusterMembership(docs, "doc_id", pairs)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("keepClusterRepresentatives is transitive-closure-correct on chains") {
    // a~b and b~c but never a~c: pairwise "drop the b of each pair"
    // could keep {a, c} (overlapping near-dups) — clustering must keep
    // exactly the min of {a, b, c}.
    val docs = Seq(
      (10L, "aaaa bbbb cccc dddd"),
      (11L, "aaaa bbbb ccccddd e"),
      (12L, "aaaa bbbbcccc ddd e"),
      (40L, "unrelated text entirely")
    ).toDF("doc_id", "text")
    val pairs = Seq((10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val kept = Components.keepClusterRepresentatives(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 40L))
  }

  test("dropNearDuplicates keeps exactly the min-id per LSH cluster on the corpus") {
    val docs = TableIO.table(spark, Sf0001, "documents")
    val kept = Components.dropNearDuplicates(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, minJaccard = 0.2)
      .select("doc_id").as[Long].collect().toSet
    // Equivalent composition by hand.
    val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, minJaccard = 0.2)
    val expected = Components.keepClusterRepresentatives(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expected)
    assert(kept.size < docs.count(), "the corpus contains planted near-dups")
    // No two kept docs remain near-duplicates of each other.
    val keptDocs = docs.filter(col("doc_id").isin(kept.toSeq: _*))
    assert(Dedup.minHashNearDuplicates(keptDocs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, minJaccard = 0.2).count() == 0)
  }

  test("dropNearDuplicates vs the exact-pair keeper: subset law + identity at full recall") {
    // Verified LSH pairs are a SUBSET of the exact-jaccard pairs (the
    // verify step kills false positives), so LSH clusters refine exact
    // clusters — and each exact cluster's min-id is still the min of its
    // LSH subcluster. Hence kept_exact ⊆ kept_lsh unconditionally, and
    // the two are EQUAL exactly when banding missed no pair. Pins the
    // q_dedup_drop_near contract query's params (32 hashes, 16 bands).
    val docs = TableIO.table(spark, Sf0001, "documents")
    val keptLsh = Components.dropNearDuplicates(docs, "doc_id", "text",
        n = 3, numHashes = 32, bands = 16, minJaccard = 0.2)
      .select("doc_id").as[Long].collect().toSet
    val exactPairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.2)
    val keptExact = Components.keepClusterRepresentatives(docs, "doc_id", exactPairs)
      .select("doc_id").as[Long].collect().toSet
    assert(keptExact.subsetOf(keptLsh),
      s"exact-cluster keepers missing from LSH keep: ${(keptExact -- keptLsh).take(5)}")
    val lshPairCount = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
      n = 3, numHashes = 32, bands = 16, minJaccard = 0.2).count()
    if (lshPairCount == exactPairs.count()) assert(keptLsh == keptExact)
    // Missed pairs can only SPLIT clusters: bounded extra keepers.
    assert(keptLsh.size - keptExact.size <= (exactPairs.count() - lshPairCount))
  }

  test("clusters over exact jaccard pairs on the testdata corpus") {
    val docs = TableIO.table(spark, Sf0001, "documents")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.2)
    val clusters = Components.clusterMembership(docs, "doc_id", pairs)
    // Every cluster id is a member of its own cluster, and every paired
    // doc shares its cluster with its pair partner.
    val m = clusters.select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(m.values.toSet.subsetOf(m.keySet))
    pairs.select("id_a", "id_b").as[(Long, Long)].collect().foreach { case (a, b) =>
      assert(m(a) == m(b), s"pair ($a,$b) split across clusters")
    }
    // Keeping representatives drops exactly (members - clusters) rows.
    val kept = Components.keepClusterRepresentatives(docs, "doc_id", pairs).count()
    assert(kept == docs.count() - (m.size - m.values.toSet.size))
  }
}
