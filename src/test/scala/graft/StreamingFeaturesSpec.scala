package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.streaming.StreamingFeatures
import graft.streaming.StreamingFeatures.StreamEvent

class StreamingFeaturesSpec extends SparkSpec {
  import spark.implicits._

  private val root = s"target/tmp/streaming_${System.nanoTime()}"
  private val schema: StructType = implicitly[org.apache.spark.sql.Encoder[StreamEvent]].schema

  private def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

  private def writeBatch(name: String, rows: Seq[StreamEvent]): Unit = {
    Files.createDirectories(Paths.get(s"$root/in"))
    // Stage OUTSIDE the watched dir, then move the part file in: a
    // transient write directory under in/ races a running stream's
    // file listing (observed as FileNotFound on the deleted dir).
    rows.toDF().coalesce(1).write.parquet(s"$root/stage/$name")
    val dir = Paths.get(s"$root/stage/$name")
    Files.list(dir).filter(_.toString.endsWith(".parquet")).forEach { f =>
      Files.move(f, Paths.get(s"$root/in/$name.parquet"))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("windowed activity finalizes counts over a bounded file stream") {
    writeBatch("b0", Seq(
      StreamEvent(1, ts(0), "click", 1.0),
      StreamEvent(2, ts(10), "click", 2.0),
      StreamEvent(1, ts(70), "view", 3.0)))
    val stream = spark.readStream.schema(schema).parquet(s"$root/in")
    val q = StreamingFeatures.windowedActivity(stream, windowDuration = "1 hour", slideDuration = "1 hour")
      .writeStream.format("memory").queryName("activity").outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("activity")
        .selectExpr("event_type", "n_events", "total_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("sessionization closes sessions by event-time gap and watermark timeout") {
    val dir = s"$root/sess"
    Files.createDirectories(Paths.get(s"$dir/in"))
    def write(name: String, rows: Seq[StreamEvent]): Unit = {
      rows.toDF().coalesce(1).write.parquet(s"$dir/tmp_$name")
      val src = Files.list(Paths.get(s"$dir/tmp_$name"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(src, Paths.get(s"$dir/in/$name.parquet"))
    }
    // user 1: two bursts 90min apart (gap 30min) -> first burst is one session
    write("b0", Seq(
      StreamEvent(1, ts(0), "click", 1.0),
      StreamEvent(1, ts(5), "click", 2.0),
      StreamEvent(1, ts(90), "view", 4.0)))
    // much later batch advances the watermark far past everything above
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val sessions = StreamingFeatures.sessionize(stream.as[StreamEvent], gapSeconds = 1800)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      write("b1", Seq(StreamEvent(2, ts(10000), "click", 0.0)))
      q.processAllAvailable()
      write("b2", Seq(StreamEvent(2, ts(20000), "click", 0.0)))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .selectExpr("user_id", "n_events", "total_value").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      // user 1: session(2 events, 3.0) closed by gap; session(1 event, 4.0)
      // closed by watermark timeout once b1 advanced event time.
      assert(got.contains((1L, 2, 3.0)))
      assert(got.contains((1L, 1, 4.0)))
    } finally q.stop()
  }

  test("streamed sessions == batch sessionStats on the same events") {
    val dir = s"$root/sess_golden"
    Files.createDirectories(Paths.get(s"$dir/in"))
    def write(name: String, rows: Seq[StreamEvent]): Unit = {
      rows.toDF().coalesce(1).write.parquet(s"$dir/tmp_$name")
      val src = Files.list(Paths.get(s"$dir/tmp_$name"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(src, Paths.get(s"$dir/in/$name.parquet"))
    }
    // Two users, several gap-separated bursts each (whole-second
    // timestamps, so the streaming ms-gap and the batch second-
    // truncated gap agree exactly).
    val fixture = Seq(
      StreamEvent(1, ts(0), "view", 1.0), StreamEvent(1, ts(10), "click", 1.0),
      StreamEvent(1, ts(100), "view", 1.0), // > 30 min later: new session
      StreamEvent(1, ts(101), "buy", 1.0),
      StreamEvent(2, ts(5), "view", 1.0),
      StreamEvent(2, ts(200), "view", 1.0), StreamEvent(2, ts(203), "view", 1.0))
    write("g0", fixture)
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingFeatures.sessionize(stream.as[StreamEvent], gapSeconds = 1800)
      .writeStream.format("memory").queryName("sess_golden")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      // A far-future sentinel advances the watermark so every fixture
      // session closes by timeout.
      write("g1", Seq(StreamEvent(99, ts(100000), "view", 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("sess_golden")
        .filter(col("user_id") =!= 99L)
        .selectExpr("user_id", "session_start", "session_end", "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getInt(3).toLong))
        .toSet
      val batch = graft.operators.EventAnalytics.sessionStats(
          fixture.toDF(), "user_id", "ts", 1800L, col("value"))
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .toSet
      assert(streamed == batch,
        s"streamed $streamed\nbatch    $batch")
    } finally q.stop()
  }

  test("streamed daily census -> rolling correlation == batch (mergeable counts)") {
    val dir = s"$root/corr_stream"
    Files.createDirectories(Paths.get(s"$dir/in"))
    // 10 days, counts rising; events split across THREE micro-batches
    // that cut across days, so per-batch partial states genuinely
    // merge (not just append).
    def day(i: Int) = new Timestamp(1700000000000L + i * 86400000L)
    val all = (1 to 10).flatMap(i =>
      Seq.fill(i)(("purchase", day(i))) ++ Seq.fill(2 * i + 1)(("view", day(i))))
    val batches = all.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    val schema2 = new StructType()
      .add("event_type", "string").add("ts", "timestamp")
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("event_type", "ts").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/tmp$i")
      val src = Files.list(Paths.get(s"$dir/tmp$i"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(src, Paths.get(s"$dir/in/b$i.parquet"))
    }
    val statePath = s"$dir/state"
    val stream = spark.readStream.schema(schema2)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = graft.operators.IncrementalAgg.partialState(
          batch.withColumn("day", org.apache.spark.sql.functions.to_date(col("ts"))),
          keys = Seq("day"),
          sums = Seq(
            "x" -> org.apache.spark.sql.functions
              .when(col("event_type") === "purchase", 1L).otherwise(0L),
            "y" -> org.apache.spark.sql.functions
              .when(col("event_type") === "view", 1L).otherwise(0L)))
        val merged =
          if (Files.exists(Paths.get(statePath)))
            graft.operators.IncrementalAgg.merge(
              spark.read.parquet(statePath), delta,
              keys = Seq("day"), sumCols = Seq("x", "y"))
          else delta
        val staged = s"$statePath.next"
        merged.write.mode("overwrite").parquet(staged)
        spark.read.parquet(staged).write.mode("overwrite").parquet(statePath)
    }.start()
    try q.processAllAvailable() finally q.stop()
    // The corr series recomputes from the BOUNDED standing census —
    // never rescanning events — and must equal the batch operator on
    // the raw stream.
    val streamed = graft.operators.Anomaly.rollingCorrelationFromDaily(
        spark.read.parquet(statePath).select("day", "x", "y"), windowDays = 3)
      .orderBy("day").collect().toSeq
    val batchSide = graft.operators.Anomaly.rollingCorrelation(
        all.toDF("event_type", "ts"), "ts", "event_type",
        "purchase", "view", windowDays = 3)
      .orderBy("day").collect().toSeq
    assert(streamed == batchSide, "census-fed corr must equal batch corr")
    assert(streamed.count(r => !r.isNullAt(3)) >= 8, "full windows exist")
  }

  test("streamed user-day store -> mSPRT monitor == batch sequentialTest") {
    val dir = s"$root/seq_stream"
    Files.createDirectories(Paths.get(s"$dir/in"))
    // 6 days x 40 users; micro-batches cut across BOTH users and days,
    // so per-(user, day) partial value sums genuinely merge.
    def ts(day: Int, h: Int) =
      new Timestamp(1700000000000L + day * 86400000L + h * 3600000L)
    val all = (1 to 40).flatMap { u =>
      (1 to 6).flatMap { d =>
        Seq((u.toLong, ts(d, 1), (u % 7) + d * 0.5),
          (u.toLong, ts(d, 9), (u % 3) * 1.25))
      }
    }
    val batches = all.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    val schema3 = new StructType()
      .add("user_id", "long").add("ts", "timestamp").add("value", "double")
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "ts", "value").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/tmp$i")
      val src = Files.list(Paths.get(s"$dir/tmp$i"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(src, Paths.get(s"$dir/in/b$i.parquet"))
    }
    val statePath = s"$dir/state"
    val stream = spark.readStream.schema(schema3)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = graft.operators.IncrementalAgg.partialState(
          batch.withColumn("day", org.apache.spark.sql.functions.to_date(col("ts"))),
          keys = Seq("user_id", "day"),
          sums = Seq("msum" -> org.apache.spark.sql.functions
            .round(col("value"), 6).cast("decimal(18,6)")))
        val merged =
          if (Files.exists(Paths.get(statePath)))
            graft.operators.IncrementalAgg.merge(
              spark.read.parquet(statePath), delta,
              keys = Seq("user_id", "day"), sumCols = Seq("msum"))
          else delta
        val staged = s"$statePath.next"
        merged.write.mode("overwrite").parquet(staged)
        spark.read.parquet(staged).write.mode("overwrite").parquet(statePath)
    }.start()
    try q.processAllAvailable() finally q.stop()
    // Readout from the BOUNDED store: 6dp-regrid the merged decimal
    // sums (exactly the batch operator's fold), then the mSPRT chain.
    val storeUd = spark.read.parquet(statePath)
      .select(col("user_id"), col("day"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.coalesce(
            col("msum").cast("double"),
            org.apache.spark.sql.functions.lit(0.0)), 6).as("m"))
    val streamed = graft.operators.EventAnalytics
      .sequentialFromUserDays(storeUd, "user_id")
      .orderBy("day").collect().toSeq
    val batchSide = graft.operators.EventAnalytics
      .sequentialTest(all.toDF("user_id", "ts", "value"), "user_id", "ts", "value")
      .orderBy("day").collect().toSeq
    assert(streamed == batchSide, "store-fed mSPRT must equal batch")
    // 6 synthetic days straddle a UTC midnight -> 7 calendar dates
    assert(streamed.size >= 6, s"expected a full day series, got ${streamed.size}")
  }

  test("streamed first-seen store -> daily SRM == batch srmDaily (live guardrail)") {
    val dir = s"$root/srm_stream"
    Files.createDirectories(Paths.get(s"$dir/in"))
    // 60 users over 5 days; users RETURN on later days (and micro-
    // batches arrive out of day order), so the min fold genuinely
    // decides first exposure — cumulative counting would double-count.
    def ts(day: Int, h: Int) =
      new Timestamp(1700000000000L + day * 86400000L + h * 3600000L)
    val all = (1 to 60).flatMap { u =>
      val entry = u % 5 + 1
      (entry to 5).map(d => (u.toLong, ts(d, u % 12), 1.0))
    }
    // deliberately shuffle days across batches
    val batches = all.zipWithIndex.groupBy(t => (t._1._1 + t._2) % 3).toSeq
      .sortBy(_._1).map(_._2.map(_._1))
    val schema3 = new StructType()
      .add("user_id", "long").add("ts", "timestamp").add("value", "double")
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "ts", "value").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/tmp$i")
      val src = Files.list(Paths.get(s"$dir/tmp$i"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(src, Paths.get(s"$dir/in/b$i.parquet"))
    }
    val statePath = s"$dir/state"
    val stream = spark.readStream.schema(schema3)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = graft.operators.IncrementalAgg.partialState(
          batch, keys = Seq("user_id"), sums = Nil,
          mins = Seq("day" -> org.apache.spark.sql.functions.to_date(col("ts"))))
        val merged =
          if (Files.exists(Paths.get(statePath)))
            graft.operators.IncrementalAgg.merge(
              spark.read.parquet(statePath), delta,
              keys = Seq("user_id"), sumCols = Nil, minCols = Seq("day"))
          else delta
        val staged = s"$statePath.next"
        merged.write.mode("overwrite").parquet(staged)
        spark.read.parquet(staged).write.mode("overwrite").parquet(statePath)
    }.start()
    try q.processAllAvailable() finally q.stop()
    val streamed = graft.operators.EventAnalytics
      .srmDailyFromFirstSeen(
        spark.read.parquet(statePath).select("user_id", "day"), "user_id")
      .orderBy("day").collect().toSeq
    val batchSide = graft.operators.EventAnalytics
      .srmDaily(all.toDF("user_id", "ts", "value"), "user_id", "ts")
      .orderBy("day").collect().toSeq
    assert(streamed == batchSide, "store-fed daily SRM must equal batch")
    // 5 entry days; per-user hours can straddle a UTC midnight -> up to 6 dates
    assert(streamed.size >= 5, s"expected a full entry-day series, got ${streamed.size}")
  }

  test("streamed portable-HLL register store == one-shot sketch (max-merge fold)") {
    val dir = s"$root/hll_stream"
    Files.createDirectories(Paths.get(s"$dir/in"))
    // 900 (type, user) events over 3 micro-batches with heavy overlap
    // across batches, so the per-register max genuinely merges.
    val all = (1 to 900).map(i => (s"t${i % 3}", (i % 400).toLong))
    val batches = all.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("event_type", "user_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/tmp$i")
      val src = Files.list(Paths.get(s"$dir/tmp$i"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(src, Paths.get(s"$dir/in/b$i.parquet"))
    }
    val statePath = s"$dir/state"
    val schema = new StructType()
      .add("event_type", "string").add("user_id", "long")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = graft.operators.PortableHll.registers(
          batch, "event_type", col("user_id"))
        val merged =
          if (Files.exists(Paths.get(statePath)))
            graft.operators.PortableHll.merge(
              spark.read.parquet(statePath), delta)
          else delta
        val staged = s"$statePath.next"
        merged.write.mode("overwrite").parquet(staged)
        spark.read.parquet(staged).write.mode("overwrite").parquet(statePath)
    }.start()
    try q.processAllAvailable() finally q.stop()
    // Estimates off the standing store must equal the one-shot batch
    // sketch BIT FOR BIT — max-merge is exact, not approximate.
    val streamed = graft.operators.PortableHll.estimate(
        spark.read.parquet(statePath), "event_type")
      .orderBy("event_type").collect().toSeq
    val oneShot = graft.operators.PortableHll.distinctApprox(
        all.toDF("event_type", "user_id"), "event_type", col("user_id"))
      .orderBy("event_type").collect().toSeq
    assert(streamed == oneShot, "streamed register fold must equal one-shot")
    // And the standing store stays counter-sized: <= 256 rows per group.
    val stateRows = spark.read.parquet(statePath)
      .groupBy("event_type").count().collect()
    assert(stateRows.forall(_.getLong(1) <= 256L))
  }

  test("streamed activity store -> activeUsers == batch (keyed-distinct fold)") {
    val dir = s"$root/au_stream"
    Files.createDirectories(Paths.get(s"$dir/in"))
    // 600 events over 3 micro-batches with users re-appearing across
    // batches and days, so the distinct fold genuinely dedups.
    def day(i: Int) = new Timestamp(1700000000000L + i * 86400000L)
    val all = (1 to 600).map(i => ((i % 40).toLong, day(i % 45)))
    val batches = all.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/tmp$i")
      val src = Files.list(Paths.get(s"$dir/tmp$i"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(src, Paths.get(s"$dir/in/b$i.parquet"))
    }
    val statePath = s"$dir/state"
    val schema = new StructType()
      .add("user_id", "long").add("ts", "timestamp")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = batch
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id").as("u"),
            org.apache.spark.sql.functions.to_date(col("ts")).as("day"))
          .distinct()
        val merged =
          if (Files.exists(Paths.get(statePath)))
            spark.read.parquet(statePath).unionByName(delta).distinct()
          else delta
        val staged = s"$statePath.next"
        merged.write.mode("overwrite").parquet(staged)
        spark.read.parquet(staged).write.mode("overwrite").parquet(statePath)
    }.start()
    try q.processAllAvailable() finally q.stop()
    val streamed = graft.operators.EventAnalytics.activeUsersFromActivity(
        spark.read.parquet(statePath), wauDays = 7, mauDays = 28)
      .orderBy("day").collect().toSeq
    val batchSide = graft.operators.EventAnalytics.activeUsers(
        all.toDF("user_id", "ts"), "user_id", "ts", wauDays = 7, mauDays = 28)
      .orderBy("day").collect().toSeq
    assert(streamed == batchSide, "store-fed activeUsers must equal batch")
    // The store is bounded by users x days, not events.
    assert(spark.read.parquet(statePath).count() <= 40L * 45L)
  }

  test("streamed PSI against a frozen baseline == batch scoring (stream-static)") {
    val dir = s"$root/psi_stream"
    Files.createDirectories(Paths.get(s"$dir/in"))
    // Frozen baseline fitted BATCH-side (the train/serve split): the
    // streaming side only ever scores against it.
    val base = (1 to 200).map(i => ("pay", (i % 20 + 1).toDouble))
      .toDF("event_type", "value")
    val frozen = graft.operators.Anomaly.psiBaseline(base, "event_type", "value")
      .cache()
    // Current slice arrives as a stream (one batch = the whole slice,
    // so the per-batch score equals the batch-side score on the same
    // rows — scoring is stateless given the frozen table).
    val cur = (1 to 200).map(i => ("pay", (i % 20 + 6).toDouble))
    cur.toDF("event_type", "value").coalesce(1).write.parquet(s"$dir/tmp")
    val src = Files.list(Paths.get(s"$dir/tmp"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.move(src, Paths.get(s"$dir/in/b0.parquet"))
    val schema2 = new StructType().add("event_type", "string").add("value", "double")
    val stream = spark.readStream.schema(schema2).parquet(s"$dir/in")
    val q = stream.writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
      graft.operators.Anomaly.psiAgainstBaseline(batch, "event_type", "value", frozen)
        .write.mode("overwrite").parquet(s"$dir/out/delta=$id")
    }.start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$dir/out/delta=0")
      .orderBy("event_type", "bucket").collect().toSeq
    val batchSide = graft.operators.Anomaly.psiAgainstBaseline(
        cur.toDF("event_type", "value"), "event_type", "value", frozen)
      .orderBy("event_type", "bucket").collect().toSeq
    assert(streamed == batchSide)
    // And the drift is visible: the +5 shift clears the 0.25 action gate.
    assert(batchSide.head.getDouble(batchSide.head.fieldIndex("psi")) > 0.25)
    frozen.unpersist()
  }

  test("streamingVelocity counts per-user windowed activity incrementally") {
    writeBatch("vel0", Seq(
      StreamEvent(1, ts(0), "click", 1.0),
      StreamEvent(1, ts(10), "click", 1.0),
      StreamEvent(2, ts(20), "view", 1.0)))
    val stream = spark.readStream.schema(schema).parquet(s"$root/in")
    val q = StreamingFeatures.streamingVelocity(
        stream, windowDuration = "1 hour", slideDuration = "1 hour")
      .writeStream.format("memory").queryName("velocity")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      // The shared $root/in dir also holds earlier tests' batches and a
      // user spans several windows: assert on each user's busiest window.
      val rows = spark.table("velocity")
        .selectExpr("user_id", "velocity").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).max).toMap
      assert(rows(1L) >= 2 && rows(2L) >= 1)
    } finally q.stop()
  }

  test("dedupWithinWatermark drops duplicate keys inside the horizon") {
    val dir = s"$root/dedup"
    Files.createDirectories(Paths.get(s"$dir/in"))
    Seq(
      StreamEvent(1, ts(0), "click", 1.0),
      StreamEvent(1, ts(1), "click", 1.0), // dup key (user_id, event_type)
      StreamEvent(2, ts(2), "view", 2.0),
      StreamEvent(1, ts(3), "view", 3.0))
      .toDF().coalesce(1).write.parquet(s"$dir/in/b0")
    Files.list(Paths.get(s"$dir/in/b0")).filter(_.toString.endsWith(".parquet")).forEach { f =>
      Files.move(f, Paths.get(s"$dir/in/b0.parquet"))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(s"$dir/in/b0").toFile)
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingFeatures.dedupWithinWatermark(stream, Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_stream").outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("dedup_stream")
        .selectExpr("user_id", "event_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((1L, "click"), (2L, "view"), (1L, "view")))
      assert(spark.table("dedup_stream").count() == 3)
    } finally q.stop()
  }

  test("enrichWithStatic joins each micro-batch against a broadcast dimension") {
    val dir = s"$root/enrich"
    Files.createDirectories(Paths.get(s"$dir/in"))
    Seq(StreamEvent(1, ts(0), "click", 1.0), StreamEvent(9, ts(1), "view", 2.0))
      .toDF().coalesce(1).write.parquet(s"$dir/in/b0")
    Files.list(Paths.get(s"$dir/in/b0")).filter(_.toString.endsWith(".parquet")).forEach { f =>
      Files.move(f, Paths.get(s"$dir/in/b0.parquet"))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(s"$dir/in/b0").toFile)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingFeatures.enrichWithStatic(stream, dim, "user_id", "uid")
      .writeStream.format("memory").queryName("enriched").outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .selectExpr("user_id", "tier").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(rows == Set((1L, Some("gold")), (9L, None)))
    } finally q.stop()
  }

  test("robustZAgainstBaseline scores a stream against batch median/MAD stats") {
    // Batch history: 21 well-behaved clicks around 10 — the baseline.
    val history = ((1 to 20).map(i => (i.toLong, "click", 10.0 + (i % 5) * 0.1))
      :+ ((99L, "click", 10.2))).toDF("id", "event_type", "value")
    val baseline = graft.operators.Anomaly.robustZScore(history, "event_type", "value")
      .select("event_type", "med", "mad").distinct()

    val dir = s"$root/rz"
    Files.createDirectories(Paths.get(s"$dir/in"))
    Seq(
      StreamEvent(1, ts(0), "click", 10.3),   // in-distribution
      StreamEvent(2, ts(1), "click", 500.0),  // gross outlier
      StreamEvent(3, ts(2), "view", 1.0))     // no baseline -> never flagged
      .toDF().coalesce(1).write.parquet(s"$dir/in/b0")
    Files.list(Paths.get(s"$dir/in/b0")).filter(_.toString.endsWith(".parquet")).forEach { f =>
      Files.move(f, Paths.get(s"$dir/in/b0.parquet"))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(s"$dir/in/b0").toFile)
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingFeatures.robustZAgainstBaseline(stream, baseline, "event_type", "value")
      .select("user_id", "robust_z", "is_outlier")
      .writeStream.format("memory").queryName("rz").outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("rz").collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)), r.getBoolean(2))).toMap
      assert(rows.size == 3)
      assert(rows(1L)._2 == false)
      assert(rows(2L)._2 == true)
      assert(rows(3L) == (None, false), "unseen group must score null, flag nothing")
    } finally q.stop()
  }

  test("dedupByFingerprint drops case/whitespace-variant copies in-stream") {
    import org.apache.spark.sql.functions._
    val dir = s"$root/fpdedup"
    Files.createDirectories(Paths.get(s"$dir/in"))
    Seq(
      (1L, ts(0), "The Quick Brown Fox"),
      (2L, ts(1), "the  quick   brown fox"),  // normalizes to the same fp
      (3L, ts(2), "a different document"))
      .toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$dir/in/b0")
    Files.list(Paths.get(s"$dir/in/b0")).filter(_.toString.endsWith(".parquet")).forEach { f =>
      Files.move(f, Paths.get(s"$dir/in/b0.parquet"))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(s"$dir/in/b0").toFile)
    val schema = spark.read.parquet(s"$dir/in/b0.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingFeatures.dedupByFingerprint(stream, "text")
      .writeStream.format("memory").queryName("fp_dedup").outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val kept = spark.table("fp_dedup").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept.size == 2 && kept.contains(3L))
      assert(kept.intersect(Set(1L, 2L)).size == 1)
    } finally q.stop()
  }

  test("intervalJoin matches right events inside the per-key time window") {
    import org.apache.spark.sql.functions._
    val dir = s"$root/ivj"
    Files.createDirectories(Paths.get(s"$dir/l"))
    Files.createDirectories(Paths.get(s"$dir/r"))
    def drop(sub: String, rows: Seq[StreamEvent]): Unit = {
      rows.toDF().coalesce(1).write.parquet(s"$dir/$sub/b0")
      Files.list(Paths.get(s"$dir/$sub/b0")).filter(_.toString.endsWith(".parquet")).forEach { f =>
        Files.move(f, Paths.get(s"$dir/$sub/b0.parquet"))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(s"$dir/$sub/b0").toFile)
    }
    drop("l", Seq(StreamEvent(1, ts(0), "click", 1.0), StreamEvent(2, ts(0), "click", 1.0)))
    drop("r", Seq(
      StreamEvent(1, ts(2), "purchase", 9.0),   // within 5 min of user 1's click
      StreamEvent(1, ts(30), "purchase", 9.0),  // too late
      StreamEvent(3, ts(1), "purchase", 9.0)))  // wrong key
    val l = spark.readStream.schema(schema).parquet(s"$dir/l")
      .select(col("user_id"), col("ts").as("l_ts"), col("event_type").as("l_type"))
    val r = spark.readStream.schema(schema).parquet(s"$dir/r")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"), col("event_type").as("r_type"))
    val q = StreamingFeatures.intervalJoin(
      l, r, "user_id", "r_user", "l_ts", "r_ts", within = "5 minutes")
      .writeStream.format("memory").queryName("ivj").outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("ivj").select("user_id", "r_type").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSeq == Seq((1L, "purchase")))
    } finally q.stop()
  }

  test("intervalJoin resolves shared column names (both streams keep user_id/ts)") {
    import org.apache.spark.sql.functions._
    val dir = s"$root/ivj2"
    Files.createDirectories(Paths.get(s"$dir/l"))
    Files.createDirectories(Paths.get(s"$dir/r"))
    def drop(sub: String, rows: Seq[StreamEvent]): Unit = {
      rows.toDF().coalesce(1).write.parquet(s"$dir/$sub/b0")
      Files.list(Paths.get(s"$dir/$sub/b0")).filter(_.toString.endsWith(".parquet")).forEach { f =>
        Files.move(f, Paths.get(s"$dir/$sub/b0.parquet"))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(s"$dir/$sub/b0").toFile)
    }
    drop("l", Seq(StreamEvent(1, ts(0), "click", 1.0)))
    drop("r", Seq(
      StreamEvent(1, ts(2), "purchase", 9.0),
      StreamEvent(1, ts(30), "purchase", 9.0)))
    // No renames: both sides share user_id/ts/event_type/value column names.
    val l = spark.readStream.schema(schema).parquet(s"$dir/l")
    val r = spark.readStream.schema(schema).parquet(s"$dir/r")
    val q = StreamingFeatures.intervalJoin(
      l, r, "user_id", "user_id", "ts", "ts", within = "5 minutes")
      .writeStream.format("memory").queryName("ivj2").outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("ivj2").count() == 1)
    } finally q.stop()
  }

  test("writePartitionedParquet lands date-partitioned files via foreachBatch") {
    val dir = s"$root/psink"
    Files.createDirectories(Paths.get(s"$dir/in"))
    Seq(
      StreamEvent(1, ts(0), "click", 1.0),
      StreamEvent(2, ts(60 * 24), "view", 2.0)) // next day
      .toDF().coalesce(1).write.parquet(s"$dir/in/b0")
    Files.list(Paths.get(s"$dir/in/b0")).filter(_.toString.endsWith(".parquet")).forEach { f =>
      Files.move(f, Paths.get(s"$dir/in/b0.parquet"))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(s"$dir/in/b0").toFile)
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingFeatures.writePartitionedParquet(
      stream, s"$dir/out", "ts", s"$dir/ckpt")
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 2)
    assert(out.select("event_date").distinct().count() == 2)
    val dates = Files.list(Paths.get(s"$dir/out")).toArray.map(_.toString)
      .filter(_.contains("event_date="))
    assert(dates.length == 2, s"expected 2 date partition dirs, got ${dates.toSeq}")
  }

  test("writeCompactingSink: files accrete, trigger fires, sorted layout survives") {
    val dir = s"$root/csink"
    Files.createDirectories(Paths.get(s"$dir/in"))
    // ~30 KB per batch: 30 rows x 1 KB of incompressible payload in
    // event_type, so parquet can't shrink files below the small-file
    // threshold and the byte math is predictable.
    val rng = new scala.util.Random(13)
    val chars = "abcdefghijklmnopqrstuvwxyz0123456789"
    def batchRows(b: Int): Seq[StreamEvent] = (0 until 30).map { j =>
      StreamEvent(b * 100L + j, ts(b * 10L + j),
        Seq.fill(1024)(chars(rng.nextInt(36))).mkString, rng.nextDouble() * 1000.0)
    }
    def landBatch(b: Int): Unit = {
      // Stage OUTSIDE the watched dir, then move in: a transient write
      // directory under in/ races the running stream's file listing
      // (it can list the dir entry, then fail the read after the
      // cleanup below deletes it).
      batchRows(b).toDF().coalesce(1).write.parquet(s"$dir/stage/b$b")
      Files.list(Paths.get(s"$dir/stage/b$b")).filter(_.toString.endsWith(".parquet")).forEach { f =>
        Files.move(f, Paths.get(s"$dir/in/b$b.parquet"))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(s"$dir/stage/b$b").toFile)
    }
    def sinkFiles(): Seq[java.nio.file.Path] = {
      val p = Paths.get(s"$dir/out")
      if (!Files.exists(p)) Nil
      else Files.walk(p).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet")).toSeq
    }

    landBatch(0)
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    // target 128 KB, small = < 64 KB, trigger past 4 small files: five
    // ~30 KB batches (~150 KB) compact into ceil(150/128) = 2 files of
    // ~75 KB — each above the small threshold, so the compactor's own
    // output does not re-trigger on the next batch.
    val q = StreamingFeatures.writeCompactingSink(
      stream, s"$dir/out", s"$dir/ckpt",
      sortCols = Seq("value"), targetFileBytes = 128L * 1024, maxSmallFiles = 4)
    try {
      q.processAllAvailable()
      val n0 = sinkFiles().size
      assert(n0 >= 1)
      (1 to 3).foreach { b => landBatch(b); q.processAllAvailable() }
      val accreted = sinkFiles().size
      assert(accreted > n0, "small files must accrete before the trigger")
      assert(accreted <= 4, s"trigger must not fire below the threshold (got $accreted files)")
      landBatch(4); q.processAllAvailable() // 5th small file -> compaction
      val afterCompact = sinkFiles()
      assert(afterCompact.size < accreted,
        s"compaction must shrink the file count (got ${afterCompact.size} after $accreted)")
      landBatch(5); q.processAllAvailable() // a fresh batch appends, no re-compaction
      val end = sinkFiles()
      assert(end.size == afterCompact.size + 1,
        "compacted output must not re-trigger; the new batch adds exactly its own file")

      // No rows lost or duplicated through append + rewrite + append.
      val out = spark.read.parquet(s"$dir/out")
      assert(out.count() == 180)
      assert(out.select("user_id").distinct().count() == 180)

      // Layout preserved: the compacted files (all above the small
      // threshold) hold disjoint value ranges — range partition + sort,
      // i.e. a reader still prunes on value through the rewrite.
      val big = end.filter(f => Files.size(f) >= 64L * 1024)
      assert(big.size >= 2, "sizing math should have produced 2 compacted files")
      val ranges = big.map { f =>
        val r = spark.read.parquet(f.toString)
          .agg(org.apache.spark.sql.functions.min("value"),
            org.apache.spark.sql.functions.max("value")).head()
        (r.getDouble(0), r.getDouble(1))
      }.sortBy(_._1)
      ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"compacted files overlap on the sort key: $ranges")
      }
    } finally q.stop()
  }

  // --- compaction swap crash recovery -------------------------------
  // Each test crafts the exact on-disk state a crash at one point of
  // the swap leaves behind (by running the swap's halves by hand), then
  // lets the recovery path run and asserts zero row loss.

  private def hPath(s: String) = new org.apache.hadoop.fs.Path(s)
  private def hFs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def crashFixture(dir: String, n: Int): Unit = {
    (0 until n).map(i => StreamEvent(i.toLong, ts(i.toLong), s"e$i", i.toDouble))
      .toDF().repartition(4).write.parquet(dir)
  }

  test("recoverSwap: crash between the two renames loses no rows") {
    val dir = s"$root/crash_mid/out"
    crashFixture(dir, 40)
    val p = hPath(dir); val fs = hFs(p)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__compacting")
    val aside = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__old")
    // First half: compact into tmp, rename the live dir aside... then "crash".
    graft.operators.Layout.compact(spark, dir, tmp.toString, 1L << 20)
    assert(fs.rename(p, aside))
    assert(!fs.exists(p), "crash state: live dir is gone, only hidden copies remain")
    // The old delete-then-rename code would now destroy tmp on the next
    // trigger. The recovery arm must reinstate it instead.
    val stats = StreamingFeatures.compactIfNeeded(spark, dir, targetFileBytes = 1L << 20)
    assert(stats.isEmpty, "recovered dir is already compacted; no new compaction")
    assert(spark.read.parquet(dir).count() == 40)
    assert(!fs.exists(tmp) && !fs.exists(aside), "hidden copies cleaned up")
  }

  test("recoverSwap: crash before the first rename keeps the live dir authoritative") {
    val dir = s"$root/crash_pre/out"
    crashFixture(dir, 30)
    val p = hPath(dir); val fs = hFs(p)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__compacting")
    graft.operators.Layout.compact(spark, dir, tmp.toString, 1L << 20)
    // "crash" before rename(path, aside): path intact, tmp redundant.
    StreamingFeatures.recoverSwap(fs, p)
    assert(spark.read.parquet(dir).count() == 30)
    assert(!fs.exists(tmp))
  }

  test("recoverSwap: crash after the swap only drops the redundant aside") {
    val dir = s"$root/crash_post/out"
    crashFixture(dir, 30)
    val p = hPath(dir); val fs = hFs(p)
    val aside = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__old")
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__compacting")
    graft.operators.Layout.compact(spark, dir, tmp.toString, 1L << 20)
    assert(fs.rename(p, aside))
    assert(fs.rename(tmp, p))
    // "crash" before delete(aside).
    StreamingFeatures.recoverSwap(fs, p)
    assert(spark.read.parquet(dir).count() == 30)
    assert(!fs.exists(aside))
  }

  test("recoverSwap: merges pre-crash data when a writer recreated the dir") {
    val dir = s"$root/crash_merge/out"
    crashFixture(dir, 40)
    val p = hPath(dir); val fs = hFs(p)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__compacting")
    val aside = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__old")
    graft.operators.Layout.compact(spark, dir, tmp.toString, 1L << 20)
    assert(fs.rename(p, aside))
    // A non-recovering writer (e.g. a plain append sink) lands new rows
    // into a recreated live dir before recovery runs.
    Seq(StreamEvent(1000L, ts(1000), "new", 1.0), StreamEvent(1001L, ts(1001), "new", 2.0))
      .toDF().write.mode("append").parquet(dir)
    StreamingFeatures.recoverSwap(fs, p)
    val out = spark.read.parquet(dir)
    assert(out.count() == 42, "pre-crash 40 rows merged with the 2 post-crash rows")
    assert(out.select("user_id").distinct().count() == 42)
    assert(!fs.exists(tmp) && !fs.exists(aside))
  }

  test("compacting sink survives a mid-swap crash across a real restart with zero loss") {
    val dir = s"$root/crash_e2e"
    Files.createDirectories(Paths.get(s"$dir/in"))
    def land(b: Int): Unit = {
      ((b * 10) until (b * 10 + 10)).map(i => StreamEvent(i.toLong, ts(i.toLong), s"e$i", i.toDouble))
        .toDF().coalesce(1).write.parquet(s"$dir/tmp_b$b")
      val src = Files.list(Paths.get(s"$dir/tmp_b$b"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(src, Paths.get(s"$dir/in/b$b.parquet"))
    }
    land(0); land(1)
    val stream1 = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q1 = StreamingFeatures.writeCompactingSink(
      stream1, s"$dir/out", s"$dir/ckpt", targetFileBytes = 1L << 20, maxSmallFiles = 100)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(s"$dir/out").count() == 20)
    // Crash mid-swap: compact to tmp, rename the live dir aside, die.
    val p = hPath(s"$dir/out"); val fs = hFs(p)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__compacting")
    graft.operators.Layout.compact(spark, s"$dir/out", tmp.toString, 1L << 20)
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__old")))
    // Restart the sink on the same checkpoint and feed one more batch.
    land(2)
    val stream2 = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q2 = StreamingFeatures.writeCompactingSink(
      stream2, s"$dir/out", s"$dir/ckpt", targetFileBytes = 1L << 20, maxSmallFiles = 100)
    try { q2.processAllAvailable() } finally q2.stop()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 30, "no rows lost across the crash + restart")
    assert(out.select("user_id").distinct().count() == 30, "and none duplicated")
  }

  test("appendBatchIdempotent: replaying a batch neither loses nor duplicates rows") {
    val dir = s"$root/replay/out"
    val b0 = (0 until 25).map(i => StreamEvent(i.toLong, ts(i.toLong), s"e$i", i.toDouble)).toDF()
    val b1 = (100 until 110).map(i => StreamEvent(i.toLong, ts(i.toLong), s"e$i", i.toDouble)).toDF()
    StreamingFeatures.appendBatchIdempotent(b0, dir, batchId = 0L, sortCols = Seq("value"))
    StreamingFeatures.appendBatchIdempotent(b1, dir, batchId = 1L, sortCols = Seq("value"))
    StreamingFeatures.appendBatchIdempotent(b0, dir, batchId = 0L, sortCols = Seq("value"))
    assert(spark.read.parquet(dir).count() == 35, "replayed append must overwrite, not duplicate")
    // Once a compaction marker covers a batch, its replay is a no-op
    // even though the deterministically-named files are gone — simulate
    // the post-compaction state: marker at 1, batch-0 files folded away.
    val p = hPath(dir); val fs = hFs(p)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, StreamingFeatures.BatchMarker), true)
    out.write("1".getBytes("UTF-8")); out.close()
    fs.listStatus(p).foreach { st =>
      if (st.getPath.getName.startsWith("batch-0-")) fs.delete(st.getPath, false)
    }
    StreamingFeatures.appendBatchIdempotent(b0, dir, batchId = 0L, sortCols = Nil)
    assert(spark.read.parquet(dir).count() == 10,
      "a batch at or below the compaction watermark must not re-append")
  }
}
