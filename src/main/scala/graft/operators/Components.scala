package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an undirected edge list — the
  * clustering step a dedup pipeline needs between PAIRS and POLICY:
  * near-duplicate pairs (jaccard / MinHash / SimHash) form duplicate
  * GROUPS only after transitive closure (A~B, B~C puts A and C in one
  * group even when they never paired directly), and keep-one-per-group
  * requires the group id.
  *
  * Algorithm: min-label propagation with POINTER JUMPING. Each vertex
  * holds a label (initially min(self, neighbors)); every round it takes
  * the min of (its label, its neighbors' labels, its label's label).
  * The third term is the jump — label chains halve every round, so
  * convergence is O(log diameter) rounds, not O(diameter): a 300-vertex
  * path converges in ~8 rounds where plain propagation needs 300. Labels
  * only decrease and always name a vertex of the same component, so the
  * fixpoint labels every vertex with its component's min id (cf. the
  * alternating star-contraction MapReduce formulation, Kiveris et al.,
  * "Connected Components in MapReduce and Beyond" — same label-halving
  * idea, DataFrame-native here).
  *
  * Scale shape: per round, one equi-join edges->labels + one labels
  * self-join + one min-aggregation — all hash-partitioned on vertex id,
  * no driver-side graph state. The driver holds only the loop counter
  * and the one-row convergence count per round (an inherent cost of any
  * fixpoint algorithm; rounds are logarithmic). Each round's labels are
  * persisted and the previous round's unpersisted, so lineage depth per
  * round is constant.
  *
  * Reference scope note: the reference pipeline (q138ben/
  * pyspark-anomaly-detection) stops at row-level dedup; this is part of
  * the training-data extension surface (SURVEY §2 addenda).
  */
object Components {

  /** Component membership for every vertex that appears in `edges`:
    * (id, component) where component = min vertex id reachable. Isolated
    * vertices never reach the edge list — join the result back to the
    * entity table (see [[clusterMembership]]) to label them with
    * themselves.
    *
    * Two regimes behind one API:
    *   - edge lists up to [[DriverEdgeLimit]] collect to a driver-side
    *     union-find (path-halving): one materialization of the (already
    *     filtered, tiny) pair list instead of ~log(d) full fixpoint
    *     rounds — duplicate-pair graphs are sparse by nature, so this is
    *     the expected path even on huge corpora ONCE pairs are thinned
    *     by a similarity threshold;
    *   - anything larger runs the distributed fixpoint below, which
    *     never moves the graph to the driver.
    * The two paths are output-identical (ComponentsSpec pins it).
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 30): DataFrame =
    connectedComponents(edges, srcCol, dstCol, maxIter, DriverEdgeLimit)

  /** Edge rows up to which [[connectedComponents]] runs the driver
    * union-find: 4M (src, dst) longs are ~64 MB of collected rows.
    */
  private[graft] val DriverEdgeLimit: Long = 4000000L

  /** [[connectedComponents]] with its own driver bound; 0 forces the
    * distributed fixpoint (specs, ScaleStress).
    */
  private[graft] def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int,
      driverEdgeLimit: Long): DataFrame = {
    require(maxIter >= 1, s"maxIter must be positive, got $maxIter")
    val spark = edges.sparkSession
    val pairList = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (pairList.count() <= driverEdgeLimit) {
      try {
        // LongMap: specialized, no boxing — on 2M collected edges the
        // boxed Map spent more time in hashing than the cluster did.
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) {
            val p = parent.getOrElse(r, r)
            parent(r) = parent.getOrElse(p, p) // path halving
            r = parent(r)
          }
          r
        }
        pairList.collect().foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // union by min id, so roots ARE component labels
            val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
            parent(hi) = lo
            parent.getOrElseUpdate(lo, lo)
          } else parent.getOrElseUpdate(ra, ra)
        }
        import spark.implicits._
        val rows = parent.keys.toSeq.map(v => (v, find(v)))
        rows.toDF("id", "component")
      } finally pairList.unpersist()
    } else {
      // The distributed path materializes its own symmetrized copy on
      // its first eager checkpoint, then this cache is dropped.
      try distributedComponents(pairList, maxIter)
      finally pairList.unpersist()
    }
  }

  private def distributedComponents(pairList: DataFrame, maxIter: Int): DataFrame = {
    val spark = pairList.sparkSession
    // Symmetrize once; duplicate/self edges are harmless under min-agg.
    val sym = pairList
      .union(pairList.select(col("dst").as("src"), col("src").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Each round is materialized at the RDD level (persist + count) and
    // the next round's frame rebuilt from that RDD leaf. Two distinct
    // driver blowups force this exact shape:
    //   - `labels` feeds `next` FOUR ways (direct, edge join, both jump
    //     sides), so an untruncated logical plan grows 4^round — round
    //     12 OOMs the driver just STRINGIFYING the tree;
    //   - Dataset.localCheckpoint (the previous truncation) copies the
    //     checkpointed plan's ESTIMATED sizeInBytes onto the new
    //     LogicalRDD leaf, and the pointer-jump SELF-join then SQUARES
    //     that estimate every round: by round ~15 the stats BigInt has
    //     millions of digits and the driver burns minutes per round in
    //     BigInteger.multiply inside SizeInBytesOnlyStatsPlanVisitor
    //     (observed as a silent "hang" on a 5M-edge stress graph — 100%
    //     driver CPU, zero cluster work). Rebuilding from the raw RDD
    //     resets the leaf to defaultSizeInBytes, so per-round stats stay
    //     bounded no matter how many rounds run.
    // Cost: one internal<->external row conversion over the |V|-row
    // label table per round — narrow, dwarfed by the edge join. Blocks
    // are unpersisted explicitly one round behind; recompute on block
    // loss walks back only to the previous persisted round (swap the
    // persist for reliable checkpoint() on a lossy cluster). The FINAL
    // round's blocks ride out with the returned frame and are released
    // by the ContextCleaner once callers drop it — the same lifetime
    // localCheckpoint blocks had.
    def materialize(df: DataFrame)
        : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      (spark.createDataFrame(rdd, df.schema), rdd)
    }
    var (labels, labelsRdd) = materialize(
      sym.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("_mn"))
        .select(col("id"), least(col("id"), col("_mn")).as("label")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaEdges = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("label"))
      val jumpTargets = labels.select(col("id").as("_jid"), col("label").as("_jlabel"))
      val viaJump = labels.join(jumpTargets, col("label") === col("_jid"))
        .select(col("id"), col("_jlabel").as("label"))
      val (next, nextRdd) = materialize(
        labels.unionByName(viaEdges).unionByName(viaJump)
          .groupBy("id").agg(min("label").as("label")))
      val changed = next.join(labels.withColumnRenamed("label", "_old"), "id")
        .filter(col("label") =!= col("_old"))
        .limit(1).count()
      labelsRdd.unpersist(blocking = false)
      labels = next
      labelsRdd = nextRdd
      converged = changed == 0
      iter += 1
    }
    sym.unpersist()
    labels.withColumnRenamed("label", "component")
  }

  /** Cluster id for EVERY row of `df`: the component min-id for rows in
    * any near-duplicate pair, the row's own id otherwise. Output:
    * df.columns + `cluster_id`.
    */
  def clusterMembership(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIter: Int = 30): DataFrame = {
    val comps = connectedComponents(pairs, idACol, idBCol, maxIter)
      .withColumnRenamed("id", "_cc_id")
    df.join(comps, df(idCol) === col("_cc_id"), "left")
      .withColumn("cluster_id", coalesce(col("component"), df(idCol).cast("long")))
      .drop("_cc_id", "component")
  }

  /** The full LSH near-dedup pipeline at scale, fused: MinHash banding →
    * jaccard-verified pairs → transitive clusters → keep the min-id
    * member per cluster. This is what "dedup the corpus" means
    * end-to-end — [[Dedup.minHashNearDuplicates]] alone emits PAIRS,
    * and pairwise dropping is order-dependent on chains (see
    * [[keepClusterRepresentatives]]).
    */
  def dropNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      seed: Long = 42L): DataFrame =
    keepClusterRepresentatives(docs, idCol,
      Dedup.minHashNearDuplicates(docs, idCol, textCol, n, numHashes, bands, minJaccard, seed))

  /** Keep exactly one row per duplicate cluster — the min-id member —
    * given a near-duplicate pair list. The transitive-closure-correct
    * form of "drop near duplicates": pairwise dropping (keep a, drop b
    * per pair) can drop BOTH b and c of a chain a~b, b~c while keeping
    * only a, or keep overlapping representatives, depending on pair
    * order; cluster-then-keep is order-free and deterministic.
    */
  def keepClusterRepresentatives(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIter: Int = 30): DataFrame =
    clusterMembership(df, idCol, pairs, idACol, idBCol, maxIter)
      .filter(col(idCol).cast("long") === col("cluster_id"))
      .drop("cluster_id")

  /** [[keepClusterRepresentatives]] with a QUALITY-AWARE keeper: the
    * cluster member with the highest `score` survives (ties fall back
    * to min id). Near-duplicate cluster members genuinely differ —
    * keep-min can crown a truncated or boilerplate-padded variant over
    * the clean full copy; scoring by length, quality or recency picks
    * the copy a training set actually wants. Same no-window shape as
    * [[graft.operators.Dedup.dropDuplicatesKeepBest]]: one
    * max-struct aggregate per cluster + a semi filter, so a giant
    * cluster is a combiner tree, not a single reducer.
    */
  def keepBestPerCluster(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      score: org.apache.spark.sql.Column,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIter: Int = 30): DataFrame = {
    val withC = clusterMembership(df, idCol, pairs, idACol, idBCol, maxIter)
      .withColumn("__s", score)
    val keepers = withC
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("__s").as("s"),
        (-col(idCol).cast("long")).as("nid"))).as("__b"))
      .select(col("cluster_id"), (-col("__b.nid")).as("__keep"))
    withC.join(keepers, Seq("cluster_id"))
      .filter(col(idCol).cast("long") === col("__keep"))
      .drop("cluster_id", "__s", "__keep")
  }
}
