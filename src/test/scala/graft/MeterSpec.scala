package graft

import org.apache.spark.storage.StorageLevel

import graft.tools.Meter

class MeterSpec extends SparkSpec {
  private def run(name: String): Meter.Reading = {
    val r = Meter.measure(spark)(Meter.consume(SparkEntry.queries(name)(spark, Sf0001)))
    spark.catalog.clearCache()
    r
  }

  /** Listeners on the shared context. The bus accessor is Spark-private,
    * so it is read reflectively.
    */
  private def listenerCount(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]].size
  }

  test("metering one query twice gives identical job, stage, task and input-record counts") {
    val first = run("q_dedup_minhash")
    val second = run("q_dedup_minhash")
    assert(first.jobs > 0 && first.tasks > 0 && first.inputRecords > 0)
    assert((first.jobs, first.stages, first.tasks, first.inputRecords) ==
      (second.jobs, second.stages, second.tasks, second.inputRecords))
    assert(first.stageCosts.map(_.tasks).sum == first.tasks)
  }

  test("a persist without unpersist is reported as exactly one leaked plan") {
    val leaked = spark.range(1000).selectExpr("id % 7 AS k")
    try {
      val r = Meter.measure(spark)(leaked.persist(StorageLevel.MEMORY_ONLY).count())
      assert(r.cachedPlans == 1)
      assert(r.jobs >= 1)
    } finally leaked.unpersist(blocking = true)
    assert(Meter.measure(spark)(spark.range(10).count()).cachedPlans == 0)
  }

  test("consume computes every projected column of every row; count() does not") {
    import org.apache.spark.sql.functions.{col, udf}
    val seen = spark.sparkContext.longAccumulator("meter_consume_rows")
    val bump = udf { (x: Long) => seen.add(1L); x }
    val df = spark.range(0, 500, 1, 4).select(bump(col("id")).as("x"))
    df.count()
    assert(seen.value == 0L, "count() pruned the projection")
    Meter.consume(df)
    assert(seen.value == 500L)
  }

  test("q_label_alpha_interval leaves no plan cached") {
    assert(run("q_label_alpha_interval").cachedPlans == 0)
  }

  test("the meter's listener is removed when measure returns, also on failure") {
    val before = listenerCount()
    Meter.measure(spark)(spark.range(100).count())
    assert(listenerCount() == before)
    intercept[IllegalStateException](Meter.measure(spark)(throw new IllegalStateException("boom")))
    assert(listenerCount() == before)
  }
}
