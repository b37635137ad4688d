package graft

import graft.tools.Meter

/** Every declared query must run on sf0.001 — catches runtime regressions
  * in any operator before the driver's sf0.01 gate does. Each query is
  * consumed through a `noop` write, so no projection or join is pruned,
  * and must leave nothing in the cache manager.
  */
class EntrySmokeSpec extends SparkSpec {

  /** Queries that still leave a plan cached. Each one leaked when the
    * check was added, and the set may only shrink: a query that stops
    * leaking fails until it is dropped from here.
    */
  private val KnownLeaks = Set(
    // CHANGES.md FOUND: eleven IVF contract queries leave an index cache
    // behind (`SimilaritySearch.buildIvfIndex` persists `assigned`)
    "q_sim_ivf", "q_sim_ivf_batch", "q_sim_ivf_filtered", "q_sim_ivf_pq",
    "q_sim_ivf_rebalanced", "q_sim_ivf_sq8", "q_sim_ivf_widen", "q_sim_ivf_widen_batch",
    "q_sim_pca_ivf", "q_hard_negatives_ivf", "q_contamination_semantic_ivf",
    // CHANGES.md FOUND: fifteen more queries leave a plan cached once
    // they are consumed in full on sf0.001
    "q_ab_bootstrap", "q_ab_cuped", "q_ab_fdr", "q_basket_capped", "q_basket_pairs",
    "q_basket_recs", "q_corpus_divergence", "q_corpus_js", "q_funnel_latency",
    "q_hazard", "q_heaps_fit", "q_marked_tokens", "q_pack_sequences",
    "q_source_overlap", "q_survival")

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every known leak names a query") {
    assert(KnownLeaks.subsetOf(SparkEntry.queries.keySet))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      var columns = Array.empty[String]
      // the cache is cleared after every query, so one query's leak
      // cannot hide an identical plan a later query leaks
      val r =
        try Meter.measure(spark) {
          val df = fn(spark, Sf0001)
          columns = df.columns
          Meter.consume(df)
        } finally spark.catalog.clearCache()
      assert(columns.nonEmpty)
      if (KnownLeaks(name))
        assert(r.cachedPlans > 0, s"$name no longer leaks: drop it from KnownLeaks")
      else assert(r.cachedPlans == 0, s"$name left ${r.cachedPlans} plan(s) cached")
    }
  }
}
