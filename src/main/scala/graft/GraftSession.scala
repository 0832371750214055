package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session builder. Bench, Verify, EngineCli, DsirBench
  * and the test suite each pass only their core count; every other
  * setting is the same for all of them.
  */
object GraftSession {

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 reads only
      // as a long under this flag (Tables.load converts it)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Shuffle files, unlike RDD blocks, are deleted only once
      // ContextCleaner sees their dependency garbage-collected. Over a
      // long multi-query run they pile up until the disk fills (an sf10
      // k-truss run died with ~70 GB of dead shuffle files from earlier
      // queries). A periodic driver GC bounds that; at sf0.1 suite pace
      // it fires about 4 times, ~1 s in all.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
