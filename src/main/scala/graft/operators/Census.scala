package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** How much of a census a fit may collect to the driver: a row count
  * and an estimated on-heap size (keys are strings, so rows alone do
  * not bound the bytes).
  */
private[graft] final case class CollectBound(rows: Long, bytes: Long) {
  def admits(nRows: Long, nBytes: Long): Boolean = nRows <= rows && nBytes <= bytes
}

private[graft] object CollectBound {
  /** 10k census rows / 128 MB. The row bound is where the two ways
    * cross: ScaleStress `crossover` (BT and RC, 10 sweeps, complete
    * tournaments of 190 to 499.5k pairs, 4-core VM, medians of 9) has
    * in place overtake the collected fold at 5–10k rows for RC and at
    * 25–50k for BT, with the summed BT + RC time even at 10k (1.45 vs
    * 1.44 s). Below it the collected fold also runs fewer jobs. The
    * byte bound guards the driver heap against long keys; 128 MB is
    * an assumed budget, not a measured one.
    */
  val Default: CollectBound = CollectBound(10000L, 128L << 20)
  /** Admits no non-empty census: every sweep runs in place. */
  val InPlace: CollectBound = CollectBound(0L, 0L)
}

/** The census a fixed-count fit sweeps. Each sweep applies one term
  * function to every census row and returns exact per-key decimal
  * sums; the fit's item-grain update then runs on the driver.
  *
  * Two ways to run the same terms:
  *   - collected: a census under [[CollectBound]] is collected once and
  *     every sweep folds the driver-side rows;
  *   - in place: a larger census stays cached where it is, and each
  *     sweep is one Spark job applying the term function in every
  *     partition, with the partial sums merged on the driver.
  * The terms are scale-6 decimals and the sums are exact, so the merge
  * order cannot change a bit: both ways, and every partitioning, give
  * the same result.
  */
private[graft] final class Census private (rows: Either[Array[Row], DataFrame]) {
  def sweep(term: (Row, Census.Sums) => Unit): Census.Sums = rows match {
    case Left(collected) =>
      val s = new Census.Sums
      collected.foreach(term(_, s))
      s
    case Right(cached) =>
      cached.rdd.aggregate(new Census.Sums)((s, r) => { term(r, s); s }, _ merge _)
  }

  /** The output a fit builds once after its last sweep: `f` maps each
    * census row to output rows. Collected, it is a local relation; in
    * place, the mapped census is checkpointed eagerly. Either way it
    * outlives the census cache.
    */
  def emit(spark: SparkSession, schema: StructType)(f: Row => Iterator[Row]): DataFrame =
    rows match {
      case Left(collected) =>
        spark.createDataFrame(collected.iterator.flatMap(f).toSeq.asJava, schema)
      case Right(cached) =>
        spark.createDataFrame(cached.rdd.flatMap(f), schema).localCheckpoint(true)
    }
}

private[graft] object Census {

  /** `census` must stay cached until the last sweep (the caller owns
    * the persist). One stats job sizes it by `rowBytes`, the estimated
    * driver bytes per row; within `bound` it is collected once.
    */
  def apply(census: DataFrame, rowBytes: Column, bound: CollectBound): Census = {
    val st = census.agg(count(lit(1)), coalesce(sum(rowBytes), lit(0L))).head()
    if (bound.admits(st.getLong(0), st.getLong(1))) collected(census.collect())
    else inPlace(census)
  }

  def collected(rows: Array[Row]): Census = new Census(Left(rows))

  /** `cached` must stay cached until the last sweep. */
  def inPlace(cached: DataFrame): Census = new Census(Right(cached))

  /** Collect at most `bound` rows of `df`, failing loudly past it. The
    * bound rides the collect job itself: `limit(bound + 1)` caps what
    * can reach the driver, and row bound+1 proves the overflow. Under
    * the bound the rows are those of a plain collect.
    */
  def collectBounded(df: DataFrame, bound: Int, what: String, hint: String): Array[Row] = {
    val rows = df.limit(bound + 1).collect()
    require(rows.length <= bound, s"$what exceeds $bound rows — $hint")
    rows
  }

  /** House 6dp round — bit-equal to Spark's `round(col, 6)` on double
    * (both go through BigDecimal.valueOf semantics + HALF_UP).
    */
  def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A 6dp-rounded term as the exact scale-6 decimal a sweep sums. */
  def d6(x: Double): BigDecimal = BigDecimal(r6(x)).setScale(6)

  val Zero6: BigDecimal = BigDecimal(0).setScale(6)

  /** Exact per-key sums of scale-6 decimals: a sweep's result, and in
    * place, each partition's partial. Keys are any values with
    * structural equality (strings, tuples, case classes).
    */
  final class Sums extends Serializable {
    private val m = mutable.HashMap.empty[Any, BigDecimal]
    def add(k: Any, v: BigDecimal): Unit = m.update(k, apply(k) + v)
    def apply(k: Any): BigDecimal = m.getOrElse(k, Zero6)
    def iterator: Iterator[(Any, BigDecimal)] = m.iterator
    def merge(o: Sums): Sums = { o.m.foreach { case (k, v) => add(k, v) }; this }
  }
}
