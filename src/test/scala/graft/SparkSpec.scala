package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared local session for all suites (getOrCreate dedups across suites
  * in one JVM — sbt forks a single test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
  val Sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with every shuffle output — so every census a fit
    * builds — cut into exactly `n` partitions.
    */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set(keys(0), n.toLong)
    spark.conf.set(keys(1), false)
    try body
    finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
