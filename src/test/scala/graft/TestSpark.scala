package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. local[8]: the heavy
  * scale guards (17 M-vector semdedup boundary crossing, sf10 funnel) are
  * compute-bound, and 8 threads halve their wall clock against local[4].
  * No test asserts a partition count, and every query is
  * partitioning-independent (the same suite is oracle-matched at
  * local[4] and benched at local[32]).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(8)
}
