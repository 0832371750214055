package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All registered query modules (one per SURVEY.md §2 capability area). */
  def modules: Seq[QueryModule] = Seq(
    RelationalQueries,
    GraphQueries,
    ModelQueries,
    DqQueries,
    ProfileQueries,
    PipelineQueries,
    SourceSinkQueries,
    StreamingQueries)

  private lazy val allDefs: Seq[QueryDef] = {
    val ds = modules.flatMap(_.defs)
    val dupes = ds.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupes.isEmpty, s"duplicate query names: ${dupes.mkString(",")}")
    ds
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allDefs.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
