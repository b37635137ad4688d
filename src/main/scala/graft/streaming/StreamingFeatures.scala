package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators.
  *
  * The reference is batch-only (SURVEY §2.10) — these are the streaming
  * analogues of its behavioral features, included because a 100 TB
  * training-data pipeline ingests continuously: the same windowed
  * aggregations run incrementally with watermarked state instead of a
  * full re-scan per day.
  *
  * Design: event-time everywhere (never processing time), explicit
  * watermarks bound state, and custom per-key state goes through
  * `flatMapGroupsWithState` with event-time timeouts so sessions close
  * deterministically from data, not wall clocks.
  */
object StreamingFeatures {

  final case class StreamEvent(user_id: Long, ts: Timestamp, event_type: String, value: Double)

  final case class SessionState(
      startMs: Long, lastMs: Long, nEvents: Int, totalValue: Double)

  final case class UserSession(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Int,
      total_value: Double)

  /** Sliding-window per-type activity counts — the streaming analogue of
    * the gold hourly aggregation (reference: gold.py:45-52). State is
    * bounded by the watermark: windows older than maxDelay are finalized
    * and dropped.
    */
  def windowedActivity(
      events: DataFrame,
      tsCol: String = "ts",
      windowDuration: String = "1 hour",
      slideDuration: String = "15 minutes",
      maxDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, maxDelay)
      .groupBy(window(col(tsCol), windowDuration, slideDuration), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))

  /** Gap-based sessionization with custom state: a session closes when
    * `gapSeconds` pass (in event time) with no activity from that user.
    * Emits one row per closed session; open sessions are held in the
    * state store and closed by event-time timeout as the watermark
    * advances — no unbounded state.
    */
  def sessionize(
      events: Dataset[StreamEvent],
      gapSeconds: Long,
      maxDelay: String = "10 minutes"): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSeconds * 1000L

    def close(user: Long, s: SessionState): UserSession =
      UserSession(user, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.nEvents, s.totalValue)

    def update(
        user: Long,
        batch: Iterator[StreamEvent],
        state: GroupState[SessionState]): Iterator[UserSession] = {
      if (state.hasTimedOut) {
        val closed = state.getOption.map(close(user, _))
        state.remove()
        return closed.iterator
      }
      val sorted = batch.toSeq.sortBy(_.ts.getTime)
      var current = state.getOption
      val out = Seq.newBuilder[UserSession]
      sorted.foreach { e =>
        val t = e.ts.getTime
        current match {
          case Some(s) if t - s.lastMs > gapMs =>
            out += close(user, s)
            current = Some(SessionState(t, t, 1, e.value))
          case Some(s) =>
            current = Some(SessionState(s.startMs, math.max(s.lastMs, t), s.nEvents + 1, s.totalValue + e.value))
          case None =>
            current = Some(SessionState(t, t, 1, e.value))
        }
      }
      current match {
        case Some(s) =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastMs + gapMs)
        case None => ()
      }
      out.result().iterator
    }

    events
      .withWatermark("ts", maxDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming per-user velocity: events per user per sliding window —
    * the incremental form of the batch `velocity_1h` feature
    * (reference: build_features.py:35). Built-in windowed count; no
    * custom state needed.
    */
  def streamingVelocity(
      events: DataFrame,
      tsCol: String = "ts",
      windowDuration: String = "1 hour",
      slideDuration: String = "5 minutes",
      maxDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, maxDelay)
      .groupBy(col("user_id"), window(col(tsCol), windowDuration, slideDuration))
      .agg(count(lit(1)).as("velocity"))

  /** Streaming exact dedup on a content key with bounded state:
    * `dropDuplicatesWithinWatermark` keeps each key only until the
    * watermark passes it, so state does not grow with the corpus — the
    * streaming half of the batch exact-dedup operator (Dedup
    * .exactDuplicateGroups). Duplicates arriving inside the watermark
    * horizon are dropped; later ones are the documented trade-off.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      maxDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, maxDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming near-exact document dedup: keys on the case/whitespace-
    * normalized content fingerprint instead of raw bytes, so trivially
    * reformatted copies dedup too. Same bounded-state contract as
    * [[dedupWithinWatermark]]. The streaming half of the batch
    * `q_text_fingerprint` / exact-dedup operators.
    */
  def dedupByFingerprint(
      docs: DataFrame,
      textCol: String,
      tsCol: String = "ts",
      maxDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("_fp", graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, maxDelay)
      .dropDuplicatesWithinWatermark(Seq("_fp"))
      .drop("_fp")

  /** Stream-static enrichment join: each micro-batch joins against a
    * batch dimension table (broadcast when small). No state, no
    * watermark requirement — the standard shape for decorating an event
    * stream with slowly-changing reference data at any scale.
    */
  def enrichWithStatic(
      events: DataFrame,
      dim: DataFrame,
      eventKey: String,
      dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  /** Streaming robust z-score: score each event against a PRECOMPUTED
    * per-group median/MAD baseline (from the batch
    * `Anomaly.robustZScore` aggregation over history) — the standard
    * production split for distribution-based anomaly detection: the
    * baseline changes slowly and is rebuilt in batch; the stream is
    * scored row-local via a broadcast stream-static join, so the
    * detector adds NO streaming state at all. Groups unseen in the
    * baseline produce null scores (flagged nothing) rather than
    * inventing a distribution.
    */
  def robustZAgainstBaseline(
      events: DataFrame,
      baseline: DataFrame, /* groupCol, med, mad */
      groupCol: String,
      valueCol: String,
      threshold: Double = 3.5): DataFrame = {
    val dim = baseline.select(
      col(groupCol).as("_g"), col("med"), col("mad"))
    events.join(broadcast(dim), col(groupCol) === col("_g"), "left")
      .drop("_g")
      .withColumn("robust_z",
        when(col("mad") > 0,
          round((col(valueCol) - col("med")) / (lit(1.4826) * col("mad")), 6)))
      .withColumn("is_outlier", coalesce(abs(col("robust_z")) > threshold, lit(false)))
  }

  /** Stream-stream interval join: left events match right events with
    * the same key whose event time falls within [left.ts, left.ts +
    * within]. Both sides are watermarked so the join state is bounded —
    * right rows are held only until the left watermark passes their
    * match window (Spark derives the state retention from the interval
    * condition plus the watermarks).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      within: String,
      maxDelay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, maxDelay)
    val r = right.withWatermark(rightTs, maxDelay)
    // Columns resolved against each side explicitly: event streams
    // routinely share key/ts column names, and unqualified col(...) would
    // be ambiguous then.
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within"))
  }

  /** Partitioned-parquet streaming sink via foreachBatch: each
    * micro-batch lands as date-partitioned files with a partition-
    * aligned repartition (one writer per date instead of every task
    * writing every partition — the small-files discipline of the batch
    * sink, kept under streaming). foreachBatch because the built-in file
    * sink cannot repartition per batch.
    */
  def writePartitionedParquet(
      stream: DataFrame,
      path: String,
      tsCol: String = "ts",
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream
      .withColumn("event_date", to_date(col(tsCol)))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch
          .repartition(col("event_date"))
          .write.mode("append").partitionBy("event_date").parquet(path)
      }
      .start()

  /** Compact a streaming sink directory when it has accreted too many
    * small files — the trigger half of [[graft.operators.Layout.compact]].
    *
    * Heuristic: count parquet files under half of `targetFileBytes`
    * ("small"); past `maxSmallFiles` of them, rewrite the whole dir into
    * ~target-sized files. Half, not target, so the compactor's own
    * output (avg >= target/2 by the ceil sizing) never re-triggers on
    * the next batch — without that dampening a slow stream would
    * re-compact the same bytes every interval. Listing is driver-side
    * but file-count-bounded, the same budget the compactor itself pays.
    *
    * The rewrite lands in a sibling temp dir, then swaps in via
    * [[swapIn]] — rename the live dir aside, rename the temp in, drop
    * the aside — so at every instant at least one COMPLETE copy of the
    * data exists under a name [[recoverSwap]] knows how to reinstate: a
    * crash at any point between (or during) the renames is durably
    * recoverable, never data loss. Single-writer only (call it from the
    * sink's OWN foreachBatch, as [[writeCompactingSink]] does, never
    * concurrently with another writer), and the swap is not atomic for
    * outside readers: a scan racing the renames can fail and retry.
    * Transactional visibility needs a table format with a commit log
    * (Delta — the documented seam, SURVEY §1.4).
    */
  def compactIfNeeded(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxSmallFiles: Int = 16,
      sortCols: Seq[String] = Nil,
      stampBatchId: Option[Long] = None): Option[graft.operators.Layout.CompactionStats] = {
    require(maxSmallFiles >= 1, s"maxSmallFiles must be positive, got $maxSmallFiles")
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    recoverSwap(fs, path)
    if (!fs.exists(path)) return None
    var small = 0
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet") && f.getLen < targetFileBytes / 2) small += 1
    }
    if (small <= maxSmallFiles) None
    else {
      val tmp = tmpPath(path)
      val stats = graft.operators.Layout.compact(
        spark, dir, tmp.toString, targetFileBytes, sortCols)
      // The watermark rides INSIDE the compacted dir, so it becomes
      // visible atomically with the swap: post-swap readers of the
      // marker see exactly the batches the compacted files contain.
      stampBatchId.foreach(writeBatchMarker(fs, tmp, _))
      swapIn(fs, path, tmp)
      Some(stats)
    }
  }

  private def tmpPath(path: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(path.getParent, s".${path.getName}__compacting")
  private def asidePath(path: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(path.getParent, s".${path.getName}__old")

  /** Swap half of the compaction: `tmp` (a complete compacted copy)
    * replaces `path`. Rename aside, never delete-then-rename — a crash
    * between a delete and a rename would leave the only copy under a
    * hidden name that a naive retry then destroys. Both renames are
    * checked: a failed rename throws with the dir in a
    * [[recoverSwap]]-able state rather than silently dropping data.
    */
  private[graft] def swapIn(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path): Unit = {
    val aside = asidePath(path)
    require(fs.rename(path, aside), s"compaction swap: rename $path -> $aside failed")
    require(fs.rename(tmp, path), s"compaction swap: rename $tmp -> $path failed")
    fs.delete(aside, true)
    ()
  }

  /** Crash recovery for [[swapIn]] — run before touching `path`. Every
    * reachable crash state resolves to zero data loss:
    *  - `path` missing, tmp present: crash between the renames; tmp is
    *    the complete compacted copy (compaction finishes before the
    *    first rename) — reinstate it, drop the redundant aside.
    *  - `path` missing, only aside: crash mid-first-rename; the aside
    *    is the original dir — put it back.
    *  - `path` present AND both tmp+aside present: crash between the
    *    renames and a non-recovering writer already recreated `path`
    *    with post-crash batches; `path` holds ONLY new data, tmp holds
    *    ALL pre-crash data — merge tmp's files into `path` (part-file
    *    names are UUID-suffixed, no collisions), carrying tmp's batch
    *    marker along if `path` has none.
    *  - `path` present, tmp or aside alone: a redundant copy (crash
    *    before the first rename or after the second) — drop it.
    */
  private[graft] def recoverSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Unit = {
    val tmp = tmpPath(path)
    val aside = asidePath(path)
    val haveTmp = fs.exists(tmp)
    val haveAside = fs.exists(aside)
    if (!haveTmp && !haveAside) return
    if (!fs.exists(path)) {
      if (haveTmp) {
        require(fs.rename(tmp, path), s"compaction recovery: rename $tmp -> $path failed")
        fs.delete(aside, true)
      } else {
        require(fs.rename(aside, path), s"compaction recovery: rename $aside -> $path failed")
      }
    } else if (haveTmp && haveAside) {
      val pathHasMarker = fs.exists(new org.apache.hadoop.fs.Path(path, BatchMarker))
      fs.listStatus(tmp).foreach { st =>
        val name = st.getPath.getName
        val keepMarker = name == BatchMarker && !pathHasMarker
        if (!name.startsWith("_") || keepMarker) {
          require(fs.rename(st.getPath, new org.apache.hadoop.fs.Path(path, name)),
            s"compaction recovery: merge of ${st.getPath} into $path failed")
        }
      }
      fs.delete(tmp, true)
      fs.delete(aside, true)
    } else {
      fs.delete(tmp, true)
      fs.delete(aside, true)
    }
    ()
  }

  /** Sidecar marker naming the highest micro-batch id whose rows are in
    * the compacted files. Underscore-prefixed, so parquet readers and
    * [[graft.operators.Layout.compact]]'s listing both ignore it.
    */
  private[graft] val BatchMarker = "_graft_last_batch"

  private[graft] def writeBatchMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      batchId: Long): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, BatchMarker), true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readBatchMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir, BatchMarker)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](32)
        val n = in.read(bytes)
        Some(new String(bytes, 0, math.max(n, 0), "UTF-8").trim.toLong)
      } finally in.close()
    }
  }

  /** Parquet streaming sink with self-compaction: each micro-batch
    * appends (sorted on `sortCols` when given, so even pre-compaction
    * files carry narrow min/max stats), then [[compactIfNeeded]] checks
    * the accretion heuristic and rewrites the dir when it trips. With
    * `sortCols` the compactor range-partitions + sorts, so a clustered
    * layout (time, Z, Hilbert key) KEEPS its file-pruning property
    * through every compaction cycle instead of degrading as the stream
    * runs — the unbounded-small-files failure mode of plain file sinks.
    *
    * Effectively-once under foreachBatch's at-least-once replay: a
    * batch's files land under deterministic names (`batch-<id>-<i>`),
    * so a replayed append first deletes its own leftovers and cannot
    * double-write; once a compaction folds batches into anonymous
    * part files, the [[BatchMarker]] it carried in with the swap
    * records the highest folded batch id, and replays at or below it
    * skip the append entirely — the rows are already in the compacted
    * files. Crash recovery for the swap itself runs at the top of
    * every batch ([[recoverSwap]]).
    */
  /** @param batchTransform applied to each micro-batch AS A BATCH
    *        DataFrame before landing — the hook for stages that are
    *        legal on a batch but not on an unbounded stream (per-doc
    *        aggregation against a frozen census, batch-API composition).
    *        Identity by default.
    */
  def writeCompactingSink(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      sortCols: Seq[String] = Nil,
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxSmallFiles: Int = 16,
      batchTransform: DataFrame => DataFrame = identity): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        appendBatchIdempotent(batchTransform(batch.toDF()), path, batchId, sortCols)
        compactIfNeeded(batch.sparkSession, path, targetFileBytes, maxSmallFiles, sortCols,
          stampBatchId = Some(batchId))
        ()
      }
      .start()

  /** Land one micro-batch under `path` as `batch-<id>-<i>.parquet`,
    * idempotently: recover any half-finished compaction swap first,
    * skip if a compaction marker proves the batch is already folded
    * into compacted files, and delete this batch's own leftover files
    * before re-writing so a replay overwrites instead of duplicating.
    */
  private[graft] def appendBatchIdempotent(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      path: String,
      batchId: Long,
      sortCols: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
    recoverSwap(fs, p)
    if (readBatchMarker(fs, p).exists(batchId <= _)) return
    if (fs.exists(p)) {
      fs.listStatus(p).foreach { st =>
        if (st.getPath.getName.startsWith(s"batch-$batchId-")) fs.delete(st.getPath, false)
      }
    }
    val staging = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__batch")
    fs.delete(staging, true)
    val sorted = if (sortCols.nonEmpty) batch.sort(sortCols.map(col): _*) else batch
    sorted.write.mode("overwrite").parquet(staging.toString)
    fs.mkdirs(p)
    var i = 0
    fs.listStatus(staging).foreach { st =>
      if (st.getPath.getName.endsWith(".parquet")) {
        val dest = new org.apache.hadoop.fs.Path(p, s"batch-$batchId-$i.parquet")
        require(fs.rename(st.getPath, dest), s"append: rename ${st.getPath} -> $dest failed")
        i += 1
      }
    }
    fs.delete(staging, true)
    ()
  }
}
