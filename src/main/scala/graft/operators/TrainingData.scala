package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Corpus-preparation operators a training-data pipeline runs after
  * dedup/quality filtering: token-budget shard packing and benchmark
  * decontamination. Both are pure DataFrame compositions — window cumsum
  * and broadcast gram joins — so they inherit Catalyst planning and AQE
  * at any scale.
  */
object TrainingData {

  /** Token-budget shard packing: assign each document to a training
    * shard so shards hold `budgetTokens` tokens of contiguous documents
    * (concat-and-chunk semantics: a document belongs to the shard its
    * FIRST token lands in, shard boundaries fall mid-document rather
    * than re-ordering documents).
    *
    * Packing is per `groupCol` (source, domain, date bucket): that is
    * both the semantic contract (shards never mix domains) and the scale
    * contract — the window cumsum partitions by group, so no global
    * single-partition sort exists anywhere in the plan. Deterministic:
    * documents pack in `idCol` order.
    *
    * Window-expressible by design — the greedy "close the shard when the
    * next doc would overflow" variant is a sequential recurrence that
    * cannot parallelize; offset packing gives the same shard sizes to
    * within one document and an identical plain-SQL oracle.
    */
  def packShards(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      tokenCount: Column,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"shard budget must be positive, got $budgetTokens")
    val w = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", tokenCount)
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .withColumn("shard_idx",
        floor((col("_cum") - col("n_tokens")) / lit(budgetTokens.toDouble)).cast("int"))
      .drop("_cum")
  }

  /** GPT-style CONCAT-AND-CHUNK sequence packing: conceptually join
    * every document's token stream in `idCol` order into one corpus
    * stream and cut it into fixed `seqLen` training windows. Emits one
    * row per (document × training sequence it overlaps): `seq_idx`, the
    * in-document token range `[start_tok, end_tok)` that lands in the
    * sequence, and `seq_off`, where it starts inside the sequence — the
    * loader-facing complement to [[packShards]] (which keeps documents
    * whole): here documents CROSS sequence boundaries, every sequence
    * except the tail is exactly full, and no padding exists.
    *
    * The global ordered cumsum is the scale hazard (a naive
    * `Window.orderBy(id)` with no partition key is ONE task over the
    * corpus), so it runs two-phase: `repartitionByRange(id)` →
    * per-partition totals (`numRanges` counters to the driver, not
    * rows) → exclusive prefix per partition broadcast back → the
    * per-partition window cumsum runs in parallel with its base added.
    * Range boundaries are sampled and may move between runs, but every
    * row's global prefix is boundary-invariant (ranges are contiguous
    * in id), so the output is deterministic and partition-count
    * independent (spec-pinned 1 == 5). Zero-token documents emit no
    * spans.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokenCount: Column,
      seqLen: Long,
      numRanges: Int = 0): DataFrame = {
    require(seqLen > 0, s"sequence length must be positive, got $seqLen")
    val spark = df.sparkSession
    import spark.implicits._
    val parts =
      if (numRanges > 0) numRanges
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val base = df.select(col(idCol), tokenCount.cast("long").as("__n"))
      .filter(col("__n") > 0)
    val ranged = base.repartitionByRange(parts, col(idCol))
      .withColumn("__pid", spark_partition_id())
      .persist()
    val totals = ranged.groupBy("__pid").agg(sum("__n").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val prefix = totals.scanLeft(0L)(_ + _._2).init
    val prefDf = broadcast(
      totals.map(_._1).zip(prefix).toSeq.toDF("__pid", "__base"))
    val w = Window.partitionBy("__pid").orderBy(idCol)
    ranged.join(prefDf, Seq("__pid"))
      .withColumn("__cend", sum(col("__n")).over(w) + col("__base"))
      .withColumn("__cstart", col("__cend") - col("__n"))
      .withColumn("seq_idx",
        explode(sequence(
          expr(s"__cstart div $seqLen"), expr(s"(__cend - 1) div $seqLen"))))
      .select(
        col(idCol),
        col("seq_idx"),
        greatest(lit(0L), col("seq_idx") * seqLen - col("__cstart")).as("start_tok"),
        least(col("__n"), (col("seq_idx") + lit(1L)) * seqLen - col("__cstart")).as("end_tok"),
        greatest(lit(0L), col("__cstart") - col("seq_idx") * seqLen).as("seq_off"))
  }

  /** PADDING-MINIMIZING bin packing: documents stay whole, every bin is
    * a fixed `capacity` tokens, and best-fit-decreasing chooses each
    * document's bin — the third packing discipline next to
    * [[packShards]] (contiguous, budget overflow allowed) and
    * [[packSequences]] (documents split at boundaries, zero padding).
    * This is the "no cross-doc attention, no doc splitting" regime
    * (examples-stay-whole finetuning batches), where the objective is
    * fewest pad tokens; BFD guarantees <= 11/9·OPT + 4 bins (Johnson
    * 1973) vs the ~2x of naive sequential close-on-overflow.
    *
    * Scale shape: hash-repartition by id, then pack WITHIN each
    * partition — bins never span partitions, so the algorithm is
    * embarrassingly parallel and deterministic for a fixed partition
    * count (spec-pinned), at the cost of at most one underfull bin per
    * partition vs a global pack. Per partition it is the classic
    * O(n log n) TreeMap best-fit over the length-descending order; the
    * partition's rows are buffered once (size the partition count so a
    * partition fits — same contract as any sort). Documents LONGER than
    * the capacity get a dedicated overflow bin each (`is_overflow`) —
    * never silently dropped or truncated; chunk first ([[Chunker]]) if
    * splitting is acceptable.
    *
    * Output: (id, n_tokens, bin_id, bin_off, is_overflow) where
    * bin_id = partition << 32 | local index and bin_off is the token
    * offset inside the bin.
    */
  def packBinsBfd(
      df: DataFrame,
      idCol: String,
      tokenCount: Column,
      capacity: Long,
      numPartitions: Int = 0): DataFrame = {
    require(capacity > 0, s"bin capacity must be positive, got $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Fail loudly on a null or non-numeric id: a silent cast-to-null
    // would collapse every such document onto id=null — one hash
    // partition, one indistinguishable "document" in the output — with
    // no error. raise_error inside the projection keeps the check
    // row-local (no extra scan, no collect).
    df.select(col(idCol).cast("long").as("__id"),
        tokenCount.cast("long").as("n"))
      .select(
        when(col("__id").isNull,
          raise_error(lit(s"packBinsBfd: id column '$idCol' is null or " +
            "not castable to long")).cast("long"))
          .otherwise(col("__id")).as("id"),
        col("n"))
      .filter(col("n") > 0)
      .repartition(parts, col("id"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        bfdPack(it.toArray, capacity, pid << 32)
      }
      .toDF("id", "n_tokens", "bin_id", "bin_off", "is_overflow")
  }

  /** The sequential best-fit-decreasing core shared by [[packBinsBfd]]
    * (hash-partition grain) and [[packBinsBfdByKey]] (deterministic-key
    * grain): sort length-descending / id-ascending, then TreeMap
    * best-fit with LIFO tie-break among bins at equal remaining — the
    * determinism anchor (ties always break the same way).
    */
  private def bfdPack(
      rows: Array[(Long, Long)],
      capacity: Long,
      binBase: Long): Iterator[(Long, Long, Long, Long, Boolean)] = {
    val sorted = rows.sortBy { case (id, n) => (-n, id) }
    // remaining-capacity -> bin ids at that remaining (LIFO so the
    // choice among equals is deterministic).
    val byRemaining = new java.util.TreeMap[Long, List[Int]]()
    val fill = scala.collection.mutable.ArrayBuffer.empty[Long]
    def open(): Int = { fill += 0L; fill.length - 1 }
    sorted.iterator.map { case (id, n) =>
      if (n > capacity) {
        val b = open(); fill(b) = n
        (id, n, binBase | b.toLong, 0L, true)
      } else {
        val e = byRemaining.ceilingEntry(n)
        val bin = if (e == null) {
          val b = open()
          if (capacity > n) // only re-index bins that can still take docs
            byRemaining.merge(capacity - n, List(b), (a, x) => x ::: a)
          b
        } else {
          val b :: rest = e.getValue
          if (rest.isEmpty) byRemaining.remove(e.getKey)
          else byRemaining.put(e.getKey, rest)
          val rem = e.getKey - n
          if (rem > 0) byRemaining.merge(rem, List(b), (a, x) => x ::: a)
          b
        }
        val off = fill(bin)
        fill(bin) = off + n
        (id, n, binBase | bin.toLong, off, false)
      }
    }
  }

  /** [[packBinsBfd]] with an ENGINE-PORTABLE partition grain: documents
    * group by `floorMod(id, parts)` — plain integer arithmetic any
    * engine reproduces — instead of Spark's internal hash partitioner,
    * so the complete BFD assignment (bin ids, offsets) is externally
    * replayable step for step. The hash form stays the scale default
    * (its grain follows the shuffle layout with no extra keyed
    * aggregation); this form is the auditable twin: same fold, same
    * tie-breaks, bin_id = key << 32 | local index. The replay contract:
    * docs sorted (-n, id) per key; each step picks the bin with the
    * SMALLEST remaining >= n, ties to the bin most recently
    * created-or-updated (the TreeMap LIFO order == max last-touch step);
    * oversize docs take dedicated overflow bins.
    *
    * Scale shape: one groupByKey shuffle on the key (parts groups —
    * size `parts` to the cluster), each group packed independently;
    * identical parallelism story to the hash form at equal `parts`.
    */
  def packBinsBfdByKey(
      df: DataFrame,
      idCol: String,
      tokenCount: Column,
      capacity: Long,
      parts: Int): DataFrame = {
    require(capacity > 0, s"bin capacity must be positive, got $capacity")
    require(parts > 0, s"part count must be positive, got $parts")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("__id"),
        tokenCount.cast("long").as("n"))
      .select(
        when(col("__id").isNull,
          raise_error(lit(s"packBinsBfdByKey: id column '$idCol' is null " +
            "or not castable to long")).cast("long"))
          .otherwise(col("__id")).as("id"),
        col("n"))
      .filter(col("n") > 0)
      .as[(Long, Long)]
      .groupByKey { case (id, _) => java.lang.Math.floorMod(id, parts.toLong) }
      .flatMapGroups { (key, it) =>
        bfdPack(it.toArray, capacity, key << 32)
      }
      .toDF("id", "n_tokens", "bin_id", "bin_off", "is_overflow")
  }

  /** Per-shard manifest over a [[packShards]] result: one row per
    * (group, shard) with document count, token sum, and the id range —
    * what a training loader consumes to map shards to file paths and
    * validate budgets without scanning the shard data. Pure aggregation
    * on the packing keys: one shuffle, map-side combined.
    */
  def shardManifest(packed: DataFrame, groupCol: String, idCol: String): DataFrame =
    packed.groupBy(col(groupCol), col("shard_idx"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min(col(idCol)).as("first_id"),
        max(col(idCol)).as("last_id"))

  /** Sink for packed shards: data partitioned by (group, shard_idx) —
    * one directory per shard, the layout a sequential shard reader
    * expects — plus the [[shardManifest]] under `manifest`. The
    * partition-aligned repartition before the write keeps it to one file
    * per shard instead of one file per (task x shard). Its explicit
    * count (the session's shuffle partitions) stops AQE from coalescing
    * the exchange into one task that writes every shard serially.
    *
    * The manifest aggregates the landed shard data, so `packed` is
    * computed once. It is read back with `packed`'s schema: partition
    * inference would otherwise retype `shard_idx` or a numeric-looking
    * group value.
    */
  def writeShards(
      packed: DataFrame,
      groupCol: String,
      idCol: String,
      outDir: String): Unit = {
    packed
      .repartition(packed.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col(groupCol), col("shard_idx"))
      .sortWithinPartitions(col(groupCol), col("shard_idx"), col(idCol))
      .write.mode("overwrite")
      .partitionBy(groupCol, "shard_idx")
      .parquet(s"$outDir/data")
    val landed = packed.sparkSession.read.schema(packed.schema).parquet(s"$outDir/data")
    shardManifest(landed, groupCol, idCol)
      .repartition(1)
      .write.mode("overwrite")
      .parquet(s"$outDir/manifest")
  }

  /** [[packShards]] plus the in-shard token offset a training loader
    * needs: `start_offset` = tokens preceding this document
    * inside its shard. Same single window pass — prior = cumsum − own,
    * shard = ⌊prior/budget⌋, offset = prior − shard·budget — so the
    * loader-facing layout (shard, offset, length) is closed-form and
    * engine-replayable, no second scan.
    */
  def packShardsWithOffsets(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      tokenCount: Column,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"shard budget must be positive, got $budgetTokens")
    val w = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", tokenCount)
      .withColumn("_prior", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("shard_idx",
        floor(col("_prior") / lit(budgetTokens.toDouble)).cast("int"))
      .withColumn("start_offset",
        (col("_prior") - col("shard_idx").cast("long") * budgetTokens).cast("int"))
      .drop("_prior")
  }

  /** Deterministic corpus mixture sampling: keep each row of group g
    * with probability keepFrac(g), but decided by the md5-prefix of
    * (id, salt) rather than an RNG — the same primitive as
    * [[deterministicSplit]]. Properties a 100 TB mixture pass needs
    * and `df.sample`/`sampleBy` cannot give: the kept set is identical
    * across runs, machines, and engines (plain-SQL replayable);
    * appending new rows never resamples old ones; and the filter is
    * row-local — it pushes below every downstream shuffle, so
    * downweighted sources never cross the wire. `salt` derives a fresh
    * independent sample.
    *
    * Threshold encoding: an 8-hex-digit md5 prefix compared against
    * f·2³² as fixed-width hex; fractions ≥ 1 encode as "g", which is
    * lexicographically above every hex string, i.e. keep-all.
    */
  def mixtureSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      keepFrac: Map[String, Double],
      defaultFrac: Double = 1.0,
      salt: String = ""): DataFrame = {
    require((keepFrac.values ++ Seq(defaultFrac)).forall(f => f >= 0 && f <= 1),
      s"fractions must be in [0,1]: $keepFrac default=$defaultFrac")
    def th(f: Double): String =
      if (f >= 1.0) "g" else f"${(f * 4294967296.0).toLong}%08x"
    val bucket = substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 8)
    val threshold = coalesce(
      element_at(typedLit(keepFrac.map { case (k, f) => k -> th(f) }), col(groupCol)),
      lit(th(defaultFrac)))
    df.filter(bucket < threshold)
  }

  /** Deterministic EPOCH-MIX upsampling — the standard LLM data-mixture
    * recipe ("give source s a budget of B_s tokens, repeating its docs
    * up to `maxEpochs` times"): per source, the epoch factor
    * f_s = min(maxEpochs, B_s / tokens_s) expands every doc to
    * floor(f_s) whole copies plus one extra copy for a deterministic
    * md5(id, salt)-selected f_s-fractional share of docs — so each
    * source lands within one doc of its budget in expectation, identical
    * on every engine and append-stable (adding docs never flips an
    * existing doc's copy count for a fixed f_s). Output = input columns
    * plus `epoch` (0-based copy index, the column shard packing
    * disambiguates copies by).
    *
    * Scale shape: ONE metadata-sized aggregate (per-source totals →
    * driver-free broadcast join), then a row-local `explode(sequence)`
    * — no shuffle of the corpus at all; sources absent from `targets`
    * (or with zero weight) are dropped by the inner broadcast join
    * before expansion.
    */
  /** Temperature-scaled source budgets — the alpha-sampling rule
    * multilingual/multi-domain mixtures use (share_s proportional to
    * n_s^alpha; alpha in (0,1] flattens the head so low-resource
    * sources are not drowned; alpha = 1 is proportional sampling).
    * Output (source, n_tokens, budget_tokens = floor(totalBudget *
    * share)) — the `targets` input [[epochMixSample]] expects, derived
    * from the corpus itself instead of hand-tuned. One metadata-sized
    * aggregate (per-source totals) + a whole-frame window over that
    * tiny frame for the normalizer: the corpus is scanned once and
    * never shuffled.
    */
  def temperatureMixBudgets(
      df: DataFrame,
      groupCol: String,
      weightCol: Column,
      alpha: Double,
      totalBudget: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(totalBudget >= 0, s"totalBudget must be >= 0, got $totalBudget")
    val perSource = df.groupBy(col(groupCol).as("source"))
      .agg(sum(weightCol).cast("long").as("n_tokens"))
    val all = Window.partitionBy(lit(1))
    perSource.withColumn("budget_tokens",
      floor(lit(totalBudget.toDouble) *
        pow(col("n_tokens").cast("double"), alpha) /
        sum(pow(col("n_tokens").cast("double"), alpha)).over(all)).cast("long"))
  }

  def epochMixSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      weightCol: String,
      targets: Map[String, Long],
      maxEpochs: Double = 4.0,
      salt: String = "",
      epochCol: String = "epoch"): DataFrame = {
    require(maxEpochs >= 1.0, s"maxEpochs must be >= 1, got $maxEpochs")
    require(targets.nonEmpty, "need at least one source target")
    require(targets.values.forall(_ >= 0), s"budgets must be >= 0: $targets")
    require(!df.columns.contains(epochCol),
      s"input already has a '$epochCol' column - pass a different epochCol " +
        "instead of silently overwriting it")
    val factors = df.groupBy(col(groupCol)).agg(sum(col(weightCol)).as("__t"))
      .withColumn("__tgt",
        element_at(typedLit(targets), col(groupCol)).cast("double"))
      .filter(col("__tgt").isNotNull && col("__t") > 0)
      .withColumn("__f", least(lit(maxEpochs), col("__tgt") / col("__t")))
      // Fractional-share threshold as fixed-width hex, the mixtureSample
      // convention: doubles -> floor -> long -> %08x is bit-identical
      // across engines, so the oracle replays membership exactly.
      .withColumn("__whole", floor(col("__f")).cast("int"))
      .withColumn("__thresh", format_string("%08x",
        floor((col("__f") - floor(col("__f"))) * 4294967296.0).cast("long")))
      .select(col(groupCol), col("__whole"), col("__thresh"))
    val bucket = substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 8)
    df.join(broadcast(factors), Seq(groupCol))
      .withColumn("__n",
        col("__whole") + when(bucket < col("__thresh"), 1).otherwise(0))
      .filter(col("__n") >= 1)
      .withColumn(epochCol, explode(sequence(lit(0), col("__n") - 1)))
      .drop("__whole", "__thresh", "__n")
  }

  /** Targeted delete from a [[writeShards]] store — the training-data
    * "right to be forgotten" pass. The manifest's per-shard id ranges
    * prune the rewrite set BEFORE any data file is opened: only shards
    * whose [first_id, last_id] interval contains a deleted id are read,
    * anti-joined, and rewritten (dynamic partition overwrite replaces
    * exactly those (group, shard) directories); every other shard file
    * is untouched. Cost scales with affected shards, not corpus size —
    * at 100 TB a handful of deletions rewrites a handful of shard
    * files. The manifest is rewritten to match (it is tiny by
    * construction). Returns the number of shards rewritten.
    */
  def deleteFromShards(
      spark: org.apache.spark.sql.SparkSession,
      outDir: String,
      groupCol: String,
      idCol: String,
      deleteIds: Seq[Long]): Int = {
    if (deleteIds.isEmpty) return 0
    import spark.implicits._
    deleteFromShards(spark, outDir, groupCol, idCol, deleteIds.toDF("__del_id"))
  }

  /** Batch form: `deleteIds` is a one-column DataFrame (any name, cast
    * to the id type) — the shape a 10k-id GDPR batch or an upstream
    * tombstone table arrives in. The id set participates as DATA
    * (broadcast range-join against the manifest, broadcast anti-join
    * against the affected rows), never as plan text: a Seq-driven
    * OR-chain/isin would grow the analyzed plan linearly with the batch
    * and blow analysis time long before the executors saw a row. Plan
    * size here is O(1) in |deleteIds|.
    */
  def deleteFromShards(
      spark: org.apache.spark.sql.SparkSession,
      outDir: String,
      groupCol: String,
      idCol: String,
      deleteIds: DataFrame): Int = {
    val ids = broadcast(
      deleteIds.select(col(deleteIds.columns.head).as("__del_id")).distinct())
    val manifest = spark.read.parquet(s"$outDir/manifest")
    // Manifest range-join: broadcast-nested-loop over (tiny manifest) x
    // (broadcast ids) — both sides are metadata-sized by construction.
    val affected = manifest
      .join(ids, col("__del_id").between(col("first_id"), col("last_id")), "left_semi")
      .select(col(groupCol), col("shard_idx"))
      .collect()
      .map(r => (r.get(0), r.getInt(1)))
    if (affected.isEmpty) return 0

    // Scan predicate grouped per group value: one flat isin (In/InSet)
    // over that group's affected shard indexes — bounded by the shard
    // count, never by |deleteIds| — so static partition pruning still
    // opens only affected (group, shard) directories.
    val affectedPred = affected.groupBy(_._1).map { case (g, pairs) =>
      col(groupCol) === g && col("shard_idx").isin(pairs.map(p => Integer.valueOf(p._2)): _*)
    }.reduce(_ || _)
    // localCheckpoint (not persist): the kept rows must survive the
    // overwrite/delete of their OWN source files — a cache miss would
    // re-read deleted paths, a checkpoint cuts the lineage. The
    // checkpointed set is affected-shards-sized, not corpus-sized.
    val data = spark.read.parquet(s"$outDir/data")
    val keep = data
      .filter(affectedPred)
      .join(ids, data(idCol) === ids("__del_id"), "left_anti")
      .localCheckpoint(true)
    // Shards emptied entirely get no directory from dynamic overwrite —
    // their stale dirs are removed explicitly below.
    val surviving = keep.select(col(groupCol), col("shard_idx"))
      .distinct().collect().map(r => (r.get(0), r.getInt(1))).toSet
    keep
      .withColumn("__g", col(groupCol)).withColumn("__s", col("shard_idx"))
      .repartition(col("__g"), col("__s"))
      .sortWithinPartitions(col("__g"), col("__s"), col(idCol))
      .drop("__g", "__s")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(groupCol, "shard_idx")
      .parquet(s"$outDir/data")
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Build the stale-dir path with the SAME escaping Spark's writer
    // uses for partition directory names (space, '/', ':' etc. are
    // percent-encoded) — naive interpolation would miss the directory
    // for any group value containing a character Spark escapes.
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    (affected.toSet -- surviving).foreach { case (g, s) =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$outDir/data/${esc(groupCol)}=${esc(String.valueOf(g))}/shard_idx=$s"), true)
    }

    // Incremental manifest: untouched rows pass through via the
    // complement of the SAME range-join that selected `affected`,
    // affected shards recompute from the kept rows. No full-store scan,
    // no per-shard plan text. The tmp write below executes while
    // manifest still exists; only then does the swap rename it.
    val recomputed = shardManifest(keep, groupCol, idCol)
    val untouchedDf = manifest
      .join(ids, col("__del_id").between(col("first_id"), col("last_id")), "left_anti")
    untouchedDf.unionByName(recomputed)
      .repartition(1)
      .write.mode("overwrite")
      .parquet(s"$outDir/manifest.tmp")
    // Aside-rename swap (same discipline as the compacting sink): at no
    // point is the only copy of the manifest inside a directory that a
    // later pass deletes unconditionally.
    val mPath = new org.apache.hadoop.fs.Path(s"$outDir/manifest")
    val mTmp = new org.apache.hadoop.fs.Path(s"$outDir/manifest.tmp")
    val mOld = new org.apache.hadoop.fs.Path(s"$outDir/manifest.old")
    fs.delete(mOld, true)
    fs.rename(mPath, mOld)
    require(fs.rename(mTmp, mPath), s"manifest swap failed; previous manifest at $mOld")
    fs.delete(mOld, true)
    affected.length
  }

  /** Per-row deterministic Bernoulli keep with probability `weight`
    * (clamped to [0,1]) — [[mixtureSample]] generalized from per-group
    * constants to data-dependent weights, e.g. quality-weighted corpus
    * sampling where keep probability IS the quality score. The draw is
    * the first 8 md5 hex digits of (id, salt) compared as an integer
    * against floor(weight·2³²), so membership is engine-replayable,
    * rerun-stable, and append-stable, and the filter stays row-local.
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weight: Column,
      salt: String = ""): DataFrame = {
    val draw = conv(
      substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long")
    val threshold = floor(
      least(lit(1.0), greatest(lit(0.0), weight)) * lit(4294967296.0)).cast("long")
    df.filter(draw < threshold)
  }

  /** Token-budget quota sampling: per group, keep documents in a
    * deterministic md5 order until the group's budget of `tokenCol`
    * units is reached — the "give me 1B tokens of code and 500M of
    * web" mixture op that fraction-based [[mixtureSample]] cannot
    * express (a fraction needs the corpus size; a budget is absolute).
    * Keep rule: a row survives iff the EXCLUSIVE running total of
    * tokens before it (in md5-of-id order, id as tiebreak) is under
    * budget — so the row crossing the budget is included and a
    * non-empty group with a positive budget always contributes at
    * least one document. Groups absent from `budgets` are dropped.
    * Membership is a pure function of (id, salt, group token multiset)
    * — append-stable in the same sense as [[deterministicSplit]]* and
    * engine-replayable (the oracle is a plain SQL window).
    * (*appends that land inside the kept prefix shift the boundary
    * row, as ANY exact-budget rule must.)
    *
    * Scale shape: the naive form is one running-sum window per group
    * — a single task sorting an entire group, dead at 100 TB. This
    * runs two phases instead: (1) one aggregation to per-(group,
    * md5-prefix-bucket) token totals (≤256·|groups| rows, collected),
    * whose driver-side prefix sum finds each group's BOUNDARY bucket;
    * (2) rows in buckets before the boundary are kept by a row-local
    * filter (no shuffle at all), and the exact window runs only over
    * each group's single boundary bucket — 1/256th of the group.
    * Bucket = first hex byte of the same md5 key that orders rows, so
    * (bucket, key) order IS key order and the hybrid is bit-identical
    * to the naive window.
    */
  def budgetSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      tokenCol: String,
      budgets: Map[String, Long],
      salt: String = ""): DataFrame = {
    require(budgets.nonEmpty, "need at least one group budget")
    require(budgets.values.forall(_ >= 0), s"budgets must be >= 0: $budgets")
    val keyC = md5(concat(col(idCol).cast("string"), lit(salt)))
    val scoped = df
      .filter(col(groupCol).isin(budgets.keys.toSeq: _*))
      .withColumn("__key", keyC)
      .withColumn("__bk", substring(col("__key"), 1, 2))
    val totals = scoped.groupBy(col(groupCol), col("__bk"))
      .agg(sum(col(tokenCol).cast("long")).as("__t"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    // Driver prefix sum per group: boundary bucket + budget remaining
    // on entry. Sentinel "zz" sorts after every hex bucket: the whole
    // group fits, no boundary window needed.
    val boundary = budgets.map { case (g, budget) =>
      var acc = 0L
      var bb = "zz"
      var rem = 0L
      for ((_, bk, t) <- totals.getOrElse(g, Array.empty).sortBy(_._2) if bb == "zz") {
        if (acc + t < budget) acc += t
        else { bb = bk; rem = budget - acc }
      }
      g -> (bb, rem)
    }
    val bMap = typedLit(boundary.map { case (g, (bb, _)) => g -> bb })
    val rMap = typedLit(boundary.map { case (g, (_, rem)) => g -> rem })
    val marked = scoped
      .withColumn("__bb", element_at(bMap, col(groupCol)))
      .withColumn("__rem", element_at(rMap, col(groupCol)))
    val fullRows = marked.filter(col("__bk") < col("__bb"))
    // The window partitions are (group, boundary bucket) — each holds
    // ~1/256th of its group by construction.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__key"), col(idCol))
    val boundaryRows = marked.filter(col("__bk") === col("__bb"))
      .withColumn("__excl",
        sum(col(tokenCol).cast("long")).over(w) - col(tokenCol).cast("long"))
      .filter(col("__excl") < col("__rem"))
      .drop("__excl")
    fullRows.unionByName(boundaryRows)
      .drop("__key", "__bk", "__bb", "__rem")
  }

  /** EXACTLY-k deterministic sample, distributed, without a global
    * sort. "Take exactly 10M random docs" cannot be answered by
    * Bernoulli sampling ([[mixtureSample]] — size is binomial) and a
    * global `orderBy(hash).limit(k)` is a full-data TakeOrdered whose
    * driver merge holds k rows — both wrong at 100 TB for large k.
    *
    * The sample key is the first 13 hex chars (52 bits — exact in
    * double space, which [[Selection]] requires) of md5(id ++ salt)
    * (same key orientation as [[mixtureSample]]/[[deterministicSplit]]):
    * engine-portable, so the membership contract is plain SQL
    * (`ORDER BY substr(md5(id || salt), 1, 13), id LIMIT k` — the
    * DuckDB oracle of `q_exact_sample`). The k-th smallest key is
    * found by the iterative-histogram descent
    * ([[Selection.kthSmallest]] — counters cross the wire, not rows);
    * rows strictly below the cutoff are kept by a row-local filter,
    * and the handful of rows AT the cutoff (md5-prefix collisions:
    * expected ~n²/2⁵²) are resolved by id order. Every pass is a scan
    * or a filter; nothing materializes k rows in one place. `salt`
    * derives a fresh independent sample; membership is stable across
    * runs, machines, and engines. Requires a unique `idCol` (duplicate
    * ids share a key, making the boundary tie-break ambiguous).
    */
  /** The engine-portable sample key: first 13 hex chars (52 bits —
    * exact in double space) of md5(id ++ salt), as a long.
    */
  private def sampleKey(idCol: String, salt: String): Column =
    conv(
      substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 13),
      16, 10).cast("long")

  def exactSample(
      df: DataFrame,
      idCol: String,
      k: Long,
      salt: String = "",
      tailThreshold: Long = 65536): DataFrame = {
    require(k >= 0, s"sample size must be >= 0, got $k")
    if (k == 0) return df.limit(0)
    // Same narrow-cache race shape as [[exactSampleWeighted]] (r13):
    // the count + descent + boundary passes read a persisted
    // two-column projection instead of re-scanning the input lineage
    // once each; one broadcast semi-join recovers the winners.
    val keyed = df
      .select(col(idCol).as("__rs_id"), sampleKey(idCol, salt).as("__skey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = keyed.count()
      if (k >= n) return df
      val cutoff = Selection
        .kthSmallest(keyed, "__skey", k, tailThreshold = tailThreshold)
        .toLong
      val below = keyed.filter(col("__skey") < cutoff)
      val b = below.count()
      require(k - b <= Int.MaxValue, s"boundary take ${k - b} exceeds Int range")
      val boundary = keyed.filter(col("__skey") === cutoff)
        .orderBy(col("__rs_id")).limit((k - b).toInt)
      val winners = below.select("__rs_id").unionByName(boundary.select("__rs_id"))
        .localCheckpoint(true)
      df.join(broadcast(winners), col(idCol) === col("__rs_id"), "left_semi")
    } finally keyed.unpersist(blocking = false)
  }

  /** EXACTLY-k WEIGHTED sample without replacement — the
    * Efraimidis–Spirakis exponential race on the engine-portable md5
    * uniform: key_i = -ln(u_i)/w_i with u_i = (md5_52(id,salt)+1)/2^52,
    * and the k SMALLEST keys win, which gives
    * probability-proportional-to-weight without replacement while
    * staying a pure deterministic function of (id, salt) like every
    * sampler here (append-stable, engine-replayable — the oracle
    * recomputes the same keys in SQL). Same 100 TB shape as
    * [[exactSample]]: the cutoff key comes from the Selection descent
    * (counters cross the wire, not rows), strict-below rows are kept
    * row-locally, and the boundary resolves by id. Rows with null or
    * non-positive weight have no defined race time and never sample
    * (they key to null, which the descent and cutoff comparisons
    * exclude). Requires `idCol` unique (winner recovery is
    * id-addressed).
    *
    * Pass shape (the r13 Dsir.resampleTopK discipline applied to the
    * house sampler): the race runs on a PERSISTED two-column
    * (id, key) projection — the count + descent + boundary passes read
    * the cache instead of re-scanning the input lineage once each —
    * and ONE broadcast semi-join recovers the winners' full rows. The
    * input scans exactly twice however expensive its lineage or
    * weight expression is.
    */
  def exactSampleWeighted(
      df: DataFrame,
      idCol: String,
      weightCol: Column,
      k: Long,
      salt: String = "",
      tailThreshold: Long = 65536): DataFrame = {
    require(k >= 0, s"sample size must be >= 0, got $k")
    if (k == 0) return df.limit(0)
    val u = (sampleKey(idCol, salt) + 1).cast("double") / 4503599627370496.0
    val w = weightCol.cast("double")
    val keyed = df
      .select(col(idCol).as("__rsw_id"),
        when(weightCol.isNotNull && weightCol > 0, -log(u) / w).as("__wkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = keyed.filter(col("__wkey").isNotNull).count()
      if (k >= n) return df.filter(weightCol.isNotNull && weightCol > 0)
      val cutoff = Selection.kthSmallest(keyed, "__wkey", k, tailThreshold = tailThreshold)
      val below = keyed.filter(col("__wkey") < cutoff)
      val b = below.count()
      require(k - b <= Int.MaxValue, s"boundary take ${k - b} exceeds Int range")
      val boundary = keyed.filter(col("__wkey") === cutoff)
        .orderBy(col("__rsw_id")).limit((k - b).toInt)
      val winners = below.select("__rsw_id").unionByName(boundary.select("__rsw_id"))
        .localCheckpoint(true)
      df.join(broadcast(winners), col(idCol) === col("__rsw_id"), "left_semi")
    } finally keyed.unpersist(blocking = false)
  }

  /** STRATIFIED exactly-k: min(k, |group|) deterministic rows per
    * group — per-source quotas ("40 eval docs from every source")
    * where [[exactSample]] is corpus-global. NOT a row_number window
    * (that is a full sort-shuffle of every row): the per-group k
    * smallest sample keys are collected by the bounded-heap
    * [[graft.plans.TopKAgg]] — map-side partial heaps merge, so only
    * groups x k (id, key) pairs cross the wire — and winners semi-join
    * back for the full rows. Same md5-prefix key and tie rule
    * (key ASC, id ASC) as [[exactSample]]; the SQL oracle replays it
    * as a row_number window at test scale. Requires a long-typed
    * globally-unique `idCol` (TopKAgg's id slot).
    */
  /** The per-group samplers route ids through [[graft.plans.TopKAgg]]'s
    * long id slot via `cast("long")`. On a non-integral id column that
    * cast yields null for every non-numeric value, null ids are skipped
    * by the aggregate, and the closing semi-join then matches nothing —
    * a SILENTLY empty/partial sample (observed with string ids like
    * "doc_42"). Fail fast at plan time instead.
    */
  private def requireIntegralIds(df: DataFrame, idCol: String, op: String): Unit = {
    val dt = df.schema(idCol).dataType
    val ok = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok,
      s"$op requires an integral (byte/short/int/long) id column; " +
        s"'$idCol' is ${dt.simpleString}. Casting non-numeric ids to long " +
        "yields nulls and a silently empty sample - map ids to a long " +
        "surrogate (e.g. monotonically_increasing_id or xxhash64) first.")
  }

  def exactSamplePerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      k: Int,
      salt: String = ""): DataFrame = {
    require(k >= 1, s"per-group sample size must be >= 1, got $k")
    requireIntegralIds(df, idCol, "exactSamplePerGroup")
    // TopKAgg keeps the LARGEST by (value DESC, id ASC); negating the
    // 52-bit key (exact in double) turns that into smallest-key-first
    // with id-ascending tie-breaks — the oracle's ORDER BY key, id.
    val picks = df
      .select(col(groupCol).as("__g"), col(idCol).cast("long").as("__id"))
      .withColumn("__negkey", -sampleKey("__id", salt).cast("double"))
      .groupBy(col("__g"))
      .agg(graft.plans.TopKAgg.topKByValue(col("__negkey"), col("__id"), k).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.id").as("__pick_id"))
    df.join(picks, df(idCol).cast("long") === col("__pick_id"), "left_semi")
  }

  /** [[exactSamplePerGroup]] with Efraimidis–Spirakis WEIGHTS: min(k,
    * |eligible group|) rows per group, each group's draw
    * probability-proportional-to-weight without replacement — the
    * per-source counterpart of [[exactSampleWeighted]], through the
    * same bounded-heap TopKAgg shuffle shape (groups x k pairs cross
    * the wire, not rows). Negating the ES key turns the heap's
    * largest-first order into smallest-key-first with id-ascending
    * ties, matching the window-replay oracle. Null/non-positive
    * weights never sample.
    */
  def exactSamplePerGroupWeighted(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      weightCol: Column,
      k: Int,
      salt: String = ""): DataFrame = {
    require(k >= 1, s"per-group sample size must be >= 1, got $k")
    requireIntegralIds(df, idCol, "exactSamplePerGroupWeighted")
    val picks = df
      .filter(weightCol.isNotNull && weightCol > 0)
      .select(col(groupCol).as("__g"), col(idCol).cast("long").as("__id"),
        weightCol.cast("double").as("__w"))
      .withColumn("__u",
        (sampleKey("__id", salt) + 1).cast("double") / 4503599627370496.0)
      .withColumn("__negkey", log(col("__u")) / col("__w"))
      .groupBy(col("__g"))
      .agg(graft.plans.TopKAgg.topKByValue(col("__negkey"), col("__id"), k).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.id").as("__pick_id"))
    df.join(picks, df(idCol).cast("long") === col("__pick_id"), "left_semi")
  }

  /** [[exactSamplePerGroup]] with DATA-DRIVEN quotas: `quotas` is a
    * (group, quota) DataFrame — "40 eval docs from en, 400 from zh" —
    * rather than one constant k. The quota table is metadata-sized, so
    * it is BROADCAST onto the rows before the aggregate, and the
    * bounded heap ([[graft.plans.TopKVarAgg]]) is sized at each
    * group's OWN quota — a skewed quota table (one group wanting 1M,
    * the rest 10) no longer forces a max(quota)-entry heap into every
    * group's partial aggregate, and rows of groups absent from
    * `quotas` are dropped by the broadcast join before they reach the
    * shuffle at all. Groups absent from `quotas` (or with quota <= 0,
    * or an EMPTY quota table) contribute nothing; quotas larger than
    * the group keep the whole group. Same key, tie rule, and oracle
    * shape (row_number window with a per-group limit) as the fixed-k
    * form.
    */
  def exactSampleQuotas(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      quotas: DataFrame,
      salt: String = ""): DataFrame = {
    requireIntegralIds(df, idCol, "exactSampleQuotas")
    val q = quotas.select(
      col(quotas.columns(0)).as("__qg"),
      col(quotas.columns(1)).cast("int").as("__quota"))
      .filter(col("__quota") >= 1)
    val picks = df
      .select(col(groupCol).as("__g"), col(idCol).cast("long").as("__id"))
      .join(broadcast(q), col("__g") === col("__qg"), "inner")
      .withColumn("__negkey", -sampleKey("__id", salt).cast("double"))
      .groupBy(col("__g"))
      .agg(graft.plans.TopKAgg
        .topKByValueVarK(col("__negkey"), col("__id"), col("__quota")).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.id").as("__pick_id"))
    df.join(picks, df(idCol).cast("long") === col("__pick_id"), "left_semi")
  }

  /** SEQUENCE-LENGTH BUCKETING for batch shaping: assign each row to
    * the power-of-two bucket covering its token count (bucket_len =
    * smallest 2^k >= len, floored at `minBucket`) and roll up per
    * (group, bucket): row count, token sum, and the PADDING WASTE a
    * fixed-length batcher at that bucket size would pay
    * (bucket_len * n - tokens, and as a fraction). Length-bucketed
    * batching is how training loaders keep padding waste low without
    * breaking fixed-shape kernels; this is the planning table that
    * decides the bucket boundaries. Row-local bucket math + one
    * map-side-combined aggregation — no shuffle wider than the rollup.
    */
  def lengthBuckets(
      df: DataFrame,
      groupCol: String,
      tokenCount: Column,
      minBucket: Int = 16,
      maxBucket: Int = 8192): DataFrame = {
    require(minBucket >= 1 && Integer.bitCount(minBucket) == 1,
      s"minBucket must be a positive power of two, got $minBucket")
    require(maxBucket >= minBucket && Integer.bitCount(maxBucket) == 1,
      s"maxBucket must be a power of two >= minBucket, got $maxBucket")
    // smallest listed power of two >= len, as an exact INTEGER case
    // chain over the static bucket list — deliberately not
    // 2^ceil(log2(len)): log2 is log(x)/log(e)-derived in some engines
    // and not exact at the power-of-two boundaries, which would flip
    // bucket membership between Spark and the oracle.
    val len = tokenCount.cast("long")
    val bounds = Iterator.iterate(minBucket.toLong)(_ * 2)
      .takeWhile(_ <= maxBucket.toLong).toSeq
    val bucket = bounds.foldRight(lit(maxBucket.toLong): Column) {
      (b, rest) => when(len <= b, lit(b)).otherwise(rest)
    }
    df.select(col(groupCol).as("group"), len.as("__len"), bucket.as("bucket_len"))
      .groupBy(col("group"), col("bucket_len"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("__len")).as("n_tokens"),
        (col("bucket_len") * count(lit(1)) - sum(col("__len"))).as("pad_tokens"))
      .withColumn("pad_frac",
        round(col("pad_tokens").cast("double")
          / (col("bucket_len") * col("n_rows")).cast("double"), 6))
  }

  /** Deterministic train/val/test split: membership is a pure function
    * of the id — the first 8 hex chars of md5(id [+ salt]) compared
    * against cumulative-weight thresholds. Fixed-width lowercase hex
    * orders lexicographically exactly like the 32-bit number it encodes,
    * so ANY engine recomputes the identical split (the oracle is plain
    * SQL string comparison): reproducible across runs, machines and
    * engines, no stored split table, no sampling state, and adding rows
    * never reassigns existing ones — the properties `randomSplit` cannot
    * give at 100 TB. `salt` derives a fresh independent split without
    * touching the data.
    */
  def deterministicSplit(
      df: DataFrame,
      idCol: String,
      weights: Seq[(String, Double)],
      salt: String = "",
      outCol: String = "split"): DataFrame = {
    require(weights.size >= 2, "need at least two splits")
    require(weights.forall(_._2 > 0), s"weights must be positive: $weights")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"weights must sum to 1, got ${weights.map(_._2).sum}")
    val cum = weights.map(_._2).scanLeft(0.0)(_ + _).tail
    // Upper bound of each split but the last, as fixed-width hex.
    val thresholds = cum.init.map(f => f"${(f * 4294967296.0).toLong}%08x")
    val bucket = substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 8)
    val splitCol = thresholds.zip(weights.map(_._1)).foldRight(lit(weights.last._1): Column) {
      case ((th, name), rest) => when(bucket < lit(th), lit(name)).otherwise(rest)
    }
    df.withColumn(outCol, splitCol)
  }

  /** LEAKAGE-SAFE deterministic split: membership is decided per
    * duplicate CLUSTER (connected component of `pairs`), not per
    * document — a near-duplicate of a test document can then never
    * land in train, the eval-contamination hole a per-document split
    * leaves open no matter how good the hash. Pure composition:
    * cluster ids from [[Components.clusterMembership]] (singleton docs
    * keep their own id), then [[deterministicSplit]]'s md5-threshold
    * rule applied to the CLUSTER id, so every member of a cluster
    * shares one bucket draw. Inherits both parents' scale shapes —
    * pointer-jumping CC with the bounded driver union-find fast path,
    * and the row-local stateless hash split. Append-stability holds
    * per cluster: new documents reassign an existing one only by
    * LINKING its cluster to another, which is exactly when
    * reassignment is semantically required.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      weights: Seq[(String, Double)],
      salt: String = "",
      outCol: String = "split"): DataFrame =
    deterministicSplit(
      Components.clusterMembership(df, idCol, pairs),
      "cluster_id", weights, salt, outCol)

  /** [[leakageSafeSplit]] against a PERSISTED [[ClusterStore]]: cluster
    * membership folds forward batch by batch ([[ClusterStore.applyEdges]]
    * with each ingested batch's pair delta) instead of recomputing
    * connected components over the full pair history per call — the
    * per-batch cost a 100 TB ingestion actually pays. Equals
    * [[leakageSafeSplit]] over the union of all applied pair batches
    * (ClusterStoreSpec restriction law; q_split_leakage_incr replays it
    * as a full oracle).
    */
  def leakageSafeSplitIncremental(
      df: DataFrame,
      idCol: String,
      storePath: String,
      weights: Seq[(String, Double)],
      salt: String = "",
      outCol: String = "split"): DataFrame =
    deterministicSplit(
      ClusterStore.membershipFor(df.sparkSession, storePath, df, idCol),
      "cluster_id", weights, salt, outCol)

  /** Benchmark decontamination: per corpus document, how many of its
    * distinct word n-grams appear anywhere in an evaluation set, plus
    * the contaminated fraction and a threshold flag. The standard
    * train/test-leakage gate run before training (n-gram overlap form).
    *
    * Scale shape — the asymmetry is the whole design: the EVAL side is
    * small by contract (benchmarks), the corpus is not.
    *   - eval grams are deduped and BROADCAST: the corpus-side gram
    *     explode streams through a broadcast left-semi join with no
    *     corpus shuffle;
    *   - only HIT rows (grams of contaminated docs — rare) reach the
    *     per-doc count shuffle;
    *   - per-doc totals are computed row-local (`array_distinct` size),
    *     and the hit counts broadcast-join back onto them.
    * A clean 100 TB corpus therefore shuffles almost nothing.
    *
    * Gram identity is the same hashed-shingle primitive as the dedup
    * family ([[graft.plans.HashExpressions.wordNGramHashes]]); docs with
    * fewer than `n` tokens have no grams and report 0 contamination.
    */
  def benchmarkContamination(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      n: Int = 3,
      flagThreshold: Double = 0.5): DataFrame = {
    val evalGrams = eval.select(
        explode(array_distinct(
          graft.plans.HashExpressions.wordNGramHashes(col(evalTextCol), n))).as("gram"))
      .distinct()

    val sized = corpus.select(
      col(idCol),
      array_distinct(graft.plans.HashExpressions.wordNGramHashes(col(textCol), n)).as("_gs"))
    val hits = sized
      .select(col(idCol), explode(col("_gs")).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .groupBy(idCol)
      .agg(count(lit(1)).as("_shared"))

    // No broadcast hint on the hit counts: usually tiny (AQE broadcasts
    // at runtime), but a fully-contaminated corpus would make a forced
    // broadcast the failure mode.
    sized.select(col(idCol), size(col("_gs")).as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_shared", coalesce(col("_shared"), lit(0L)))
      .withColumn("contamination",
        when(col("n_grams") > 0, col("n_shared").cast("double") / col("n_grams"))
          .otherwise(0.0))
      .withColumn("is_contaminated", col("contamination") >= flagThreshold)
      .select(idCol, "n_grams", "n_shared", "contamination", "is_contaminated")
  }

  /** [[benchmarkContamination]] at beyond-broadcast eval scale: the eval
    * set's distinct gram hashes fold into a BLOOM FILTER (~1.2 MB per
    * million grams at 1% fpp — broadcastable when the exact gram table
    * is tens of GB), and the corpus side becomes a PURE ROW-LOCAL
    * projection: one codegen'd pass counting bloom hits per document.
    * No explode, no join, no groupBy — zero corpus-side shuffles
    * (asserted at plan level in TrainingDataSpec). This is the standard
    * production decontamination shape for large benchmark suites.
    *
    * Bloom false positives can only OVERCOUNT shared grams, so
    * `is_contaminated` is a superset of the exact operator's flags —
    * conservative in the safe direction for decontamination (spec-pinned
    * alongside fixture equality at tiny fpp).
    */
  def benchmarkContaminationBloom(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      n: Int = 3,
      flagThreshold: Double = 0.5,
      expectedGrams: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val evalGrams = eval.select(
        explode(array_distinct(
          graft.plans.HashExpressions.wordNGramHashes(col(evalTextCol), n))).as("gram"))
      .distinct()
    val bf = evalGrams.stat.bloomFilter("gram", expectedGrams, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray.toSeq
    }
    corpus
      .select(
        col(idCol),
        array_distinct(
          graft.plans.HashExpressions.wordNGramHashes(col(textCol), n)).as("_gs"))
      .select(
        col(idCol),
        size(col("_gs")).as("n_grams"),
        graft.plans.HashExpressions.bloomCount(col("_gs"), bytes).cast("long").as("n_shared"))
      .withColumn("contamination",
        when(col("n_grams") > 0, col("n_shared").cast("double") / col("n_grams"))
          .otherwise(0.0))
      .withColumn("is_contaminated", col("contamination") >= flagThreshold)
      .select(idCol, "n_grams", "n_shared", "contamination", "is_contaminated")
  }

  /** Deterministic PER-EPOCH shuffle plan: every row gets a 52-bit
    * md5-derived `sort_key` and a balanced `shard` assignment, both
    * pure functions of (id, epoch, salt) — a different global
    * permutation each epoch with ZERO state and zero data movement in
    * THIS operator (the loader/writer realizes it with
    * `repartition($"shard").sortWithinPartitions($"sort_key")`, the
    * one unavoidable exchange; re-deriving an epoch's plan later costs
    * a row-local projection, not a saved permutation table). This is
    * how a 100 TB corpus trains multiple epochs without either reusing
    * one order (adjacent-batch correlation) or materializing N
    * shuffled copies.
    *
    * Engine-portable randomness: the house 52-bit md5 uniform, so the
    * full plan carries a value oracle and any loader in any language
    * can recompute its own epoch order from (id, epoch, salt).
    */
  def epochShuffle(
      df: DataFrame,
      idCol: String,
      epoch: Int,
      numShards: Int,
      salt: String = ""): DataFrame = {
    require(numShards > 0, s"numShards must be > 0, got $numShards")
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    val key = conv(substring(
      md5(concat_ws("#", col(idCol).cast("string"), lit(epoch.toString), lit(salt))),
      1, 13), 16, 10).cast("long")
    df.withColumn("epoch", lit(epoch.toLong))
      .withColumn("sort_key", key)
      .withColumn("shard", pmod(col("sort_key"), lit(numShards.toLong)))
  }

  /** Realize an [[epochShuffle]] plan on disk: one directory per
    * (epoch, shard), rows inside each file ordered by `sort_key` — the
    * exactly-one-exchange materialization (`repartition(shard)` +
    * sort-within-partitions; the write adds no further movement). A
    * loader streams shard dirs in any order and reads each pre-shuffled
    * sequentially; re-deriving the same epoch later reproduces
    * identical files.
    */
  def writeEpochShards(plan: DataFrame, path: String): Unit = {
    require(Seq("epoch", "shard", "sort_key").forall(plan.columns.contains),
      "expected an epochShuffle plan frame (epoch, shard, sort_key)")
    plan
      .repartition(col("shard"))
      // (epoch, shard) prefix satisfies the dynamic-partition writer's
      // required ordering — sorting by sort_key alone would make the
      // writer re-sort by partition columns (unstably) and scramble it
      .sortWithinPartitions(col("epoch"), col("shard"), col("sort_key"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      // dynamic: re-running an epoch rewrites exactly that epoch's
      // dirs (replay-idempotent) and leaves other epochs untouched
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch", "shard")
      .parquet(path)
  }

  /** CURRICULUM plan (Bengio et al. 2009 shape): cut the corpus into
    * `phases` difficulty tranches by a caller-chosen score (token count
    * for the classic short-to-long curriculum, LM surprisal for
    * easy-to-perplexing, a learned judge score...) and give every row a
    * deterministic per-epoch shuffle key WITHIN its phase — the loader
    * consumes phases in order, shuffled inside each, and can re-derive
    * any epoch's order from (id, epoch, salt) alone ([[epochShuffle]]'s
    * portable 52-bit md5 uniform).
    *
    * Phase boundaries are k-th order statistics over the GLOBAL score
    * ranking (rank <= ceil(k·n/phases), ties broken by id) — exact mode
    * sorts doc-summary rows globally, which is the oracle contract and
    * fine into the billions; for corpora beyond that, `exact = false`
    * replaces the sort with global percentile_approx cutoffs (one
    * map-combined sketch aggregate, no sort at all), with the usual
    * boundary-tie caveat spec-pinned.
    */
  def curriculumPlan(
      df: DataFrame,
      idCol: String,
      score: Column,
      phases: Int = 3,
      epoch: Int = 0,
      salt: String = "",
      exact: Boolean = true): DataFrame = {
    require(phases >= 2, s"need >= 2 phases, got $phases")
    val key = conv(substring(
      md5(concat_ws("#", col(idCol).cast("string"), lit(epoch.toString), lit(salt))),
      1, 13), 16, 10).cast("long")
    val scored = df.select(col(idCol), score.as("__sc"))
    val phased =
      if (exact) {
        // Intentional single-partition window: exact global ranking is
        // the contract; the non-foldable constant key states the intent
        // (and survives Spark 4's EliminateWindowPartitions).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(lit(0L), lit(1L)))
        val ranked = scored
          .withColumn("__rn", row_number().over(w.orderBy(col("__sc"), col(idCol))))
          .withColumn("__n", count(lit(1)).over(w))
        val phase = (1 until phases).foldRight(lit(phases.toLong): Column) {
          case (k, rest) =>
            when(col("__rn") <=
              ceil(col("__n") * k / lit(phases.toDouble)), k.toLong)
              .otherwise(rest)
        }
        ranked.withColumn("phase", phase).drop("__rn", "__n")
      } else {
        val qs = (1 until phases).map(_ / phases.toDouble)
        val cuts = scored.agg(percentile_approx(
          col("__sc"), array(qs.map(lit): _*), lit(100000)).as("__cuts"))
        scored.crossJoin(broadcast(cuts))
          .withColumn("phase", lit(1L) + aggregate(
            col("__cuts"), lit(0L),
            (acc, cut) => acc + when(col("__sc") > cut, 1L).otherwise(0L)))
          .drop("__cuts")
      }
    phased
      .withColumn("epoch", lit(epoch.toLong))
      .withColumn("sort_key", key)
      .select(col(idCol), col("__sc").as("score"), col("phase"),
        col("epoch"), col("sort_key"))
  }

  /** SEMANTIC decontamination: flag corpus items whose EMBEDDING sits
    * within `minCosine` of any eval-set embedding — the paraphrase
    * complement to the verbatim n-gram gates ([[benchmarkContamination]]
    * catches copied text; a reworded test question sails through it but
    * not past its own embedding). Emits each item's nearest eval
    * neighbor and the cosine, so the flag threshold can be re-tuned
    * from the landed table.
    *
    * Scale shape — and why brute force IS the scale path here, where
    * corpus self-dedup ([[graft.operators.SemanticDedup]]) must bucket:
    * the eval side is a BENCHMARK SUITE (thousands to low millions of
    * rows, MBs of vectors), so it broadcasts whole and the corpus
    * streams through one row-local scoring pass — no corpus shuffle of
    * vector data at all. The only exchange is the per-item max
    * aggregate, and that moves (id, best) PAIRS, not embeddings;
    * map-side partial max means each partition sends one row per
    * distinct id it holds. Self-dedup has no small side to broadcast —
    * that is the structural difference.
    *
    * Nearest-tie determinism: the max is over (cos_sim, -eval_id)
    * structs with cosine pre-rounded to 6dp, so equal-scoring
    * neighbors resolve to the LOWEST eval id in any engine — the
    * contract query replays the same pick as a rank window in SQL.
    */
  def semanticContamination(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      eval: DataFrame,
      evalIdCol: String,
      evalVecCol: String,
      minCosine: Double = 0.95): DataFrame = {
    val ev = eval.select(
      col(evalIdCol).as("__eid"),
      graft.functions.VectorOps.asDouble(col(evalVecCol)).as("__ev"))
    val scored = corpus
      .select(col(idCol), graft.functions.VectorOps.asDouble(col(vecCol)).as("__v"))
      .crossJoin(broadcast(ev))
      .select(
        col(idCol),
        col("__eid"),
        SimilaritySearch.cosineScore(col("__v"), col("__ev")).as("__cos"))
    val best = scored
      .groupBy(idCol)
      .agg(max(struct(col("__cos"), (-col("__eid")).as("__neg"))).as("__b"))
      .select(
        col(idCol),
        (-col("__b.__neg")).as("nearest_eval_id"),
        col("__b.__cos").as("cos_sim"))
    best.withColumn("is_contaminated", coalesce(col("cos_sim") >= minCosine, lit(false)))
  }

  /** IVF-bucketed semantic decontamination — the 100 TB arm of
    * [[semanticContamination]]: the corpus is cell-assigned ONCE
    * (SimilaritySearch.buildIvfIndex's KMeans routing), each eval
    * vector probes only its `nprobe` nearest cells, and the cosine
    * pass runs on the (cell-matched corpus × eval) join instead of the
    * full corpus × eval cross. The brute twin scans every corpus row
    * against every eval row — fine while the eval suite broadcasts,
    * but the per-row cost is |eval| cosines; here it is
    * |eval|·nprobe/nlist on average, and a corpus row in a cell no
    * eval vector probes is never scored at all.
    *
    * Same output contract as the brute twin (nearest probed eval id,
    * 6dp cosine, flag), with unprobed/unmatched corpus docs emitted as
    * (null, null, false) — the "definitely not near any eval doc"
    * verdict. Recall < 1 by construction (a contaminated doc whose
    * cell no eval vector probes is missed); the spec pins
    * precision == 1 vs the brute twin (every flag it raises is real —
    * the scored subset uses identical arithmetic) and recall at the
    * planted-duplicate level. Rows-only contract query (KMeans cell
    * state is engine-internal, SURVEY §8 — the q_sim_ivf rationale).
    */
  def semanticContaminationIvf(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      eval: DataFrame,
      evalIdCol: String,
      evalVecCol: String,
      minCosine: Double = 0.95,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe in [1,$nlist], got $nprobe")
    val index = SimilaritySearch.buildIvfIndex(corpus, idCol, vecCol,
      nlist = nlist, seed = seed)
    // Route each eval vector to its nprobe nearest centroids in the
    // plan — the router the batch IVF probes use, row-local (the
    // centroid table is a literal column), so no exchange.
    val routed = eval.select(
        col(evalIdCol).as("__eid"),
        graft.functions.VectorOps.asDouble(col(evalVecCol)).as("__ev"))
      .withColumn("cell", explode(
        SimilaritySearch.nearestCellsInPlan(col("__ev"), index.centroids, nprobe)))
    // Candidate scoring: corpus rows meet ONLY the eval vectors that
    // probed their cell; the eval side is tiny — broadcast the routed
    // fan-out so the big assigned table never shuffles.
    val scored = index.assigned
      .join(broadcast(routed), Seq("cell"))
      .select(col(idCol), col("__eid"),
        SimilaritySearch.cosineScore(col("v"), col("__ev")).as("__cos"))
    val best = scored
      .groupBy(idCol)
      .agg(max(struct(col("__cos"), (-col("__eid")).as("__neg"))).as("__b"))
      .select(col(idCol),
        (-col("__b.__neg")).as("nearest_eval_id"),
        col("__b.__cos").as("cos_sim"))
    corpus.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .withColumn("is_contaminated",
        coalesce(col("cos_sim") >= minCosine, lit(false)))
  }
}
