package graft.tools

import graft.SparkEntry
import graft.core.GraftSession

/** Dev tool: print the formatted physical plan of named contract
  * queries — the plan-audit loop ("is the filter pushed, is the small
  * side broadcast, is the top-k a TakeOrderedAndProject") without
  * writing a throwaway main each time.
  *
  * Usage: runMain graft.tools.ExplainQuery <sfDir> <q1,q2,...>
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.lift(1).map(_.split(',').toSeq)
      .getOrElse(Seq("q_scan_filter_project"))
    val bad = names.filterNot(SparkEntry.queries.contains)
    require(bad.isEmpty, s"unknown queries: ${bad.mkString(",")}")
    val spark = GraftSession.local(GraftSession.cores())
    names.foreach { n =>
      println(s"=== $n ===")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
