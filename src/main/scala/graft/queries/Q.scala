package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a named DataFrame program plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  *
  * Determinism contract (SURVEY.md §5.2): every query ORDER-BYs a unique
  * key set, and every float aggregate is computed through exact DECIMAL
  * arithmetic then cast to DOUBLE, so Spark and DuckDB produce
  * bit-identical values regardless of partial-aggregation order.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule {
  def defs: Seq[QueryDef]
}

/** Shared on-disk scratch for queries that persist artifacts (indexes,
  * sink round-trips, maintenance tables): ONE temp root per JVM, removed
  * by a shutdown hook, with invocation-unique subdirs (two builds of the
  * same query must not share a directory — an overwrite would delete
  * files a still-unexecuted first plan has already listed). The r13
  * advisory: `maintenance_vacuum_orphans` wrote a full events-table copy
  * to a bare `Files.createTempDirectory` with no cleanup, so every
  * bench/verify round leaked the table copy to /tmp; routing every
  * persisted-artifact query through this root bounds disk usage to one
  * JVM lifetime.
  */
object QueryScratch {
  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p
  }
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fresh directory `<root>/<tag>_<n>`, created eagerly. */
  def dir(tag: String): java.nio.file.Path =
    java.nio.file.Files.createDirectories(
      root.resolve(tag + "_" + seq.incrementAndGet()))
}

/** Release of the checkpoints a query builder pins. */
object Checkpoints {

  /** Unpersist, blocking, exactly the RDD that `df.localCheckpoint()`
    * pinned: the RDD behind `df`'s own `LogicalRDD`. Nothing else is
    * touched, so builders running concurrently on one SparkContext keep
    * their checkpoints. Releasing whatever entered the context-wide
    * persistent-RDD registry since some earlier point instead would also
    * release every other query's checkpoints made in between.
    */
  def unpin(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD =>
      r.rdd.unpersist(blocking = true)
    case p => throw new IllegalArgumentException(
      s"unpin needs a checkpointed DataFrame, got ${p.nodeName}")
  }
}
