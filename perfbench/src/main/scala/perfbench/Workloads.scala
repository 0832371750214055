package perfbench

import org.apache.spark.sql.functions._

import graft.dq._
import graft.models.{Materialization, Model, ModelDag, SchemaTests}
import graft.profiling.Profiler
import graft.sources.Sinks

/** A named list of units run in one pass. `run` does a unit's timed work
  * and returns the output check, which the runner calls untimed with the
  * unit's span and which yields the unit's output digest. */
trait Workload {
  def dataDir: String
  def units: Seq[String]
  def begin(r: Runner): Unit = ()
  def run(r: Runner, unit: String, traced: Boolean): Span => String
}

object Workloads {
  /** Units of a pass of `catalog`: the first query, in name order, of
    * every family (the name up to its first `_`; `q1_`…`q22_` are one
    * family) that has at least `CatalogMinFamily` queries. */
  val CatalogMinFamily = 18

  /** `dbt_incremental`: months per pass, and the first month a seed may
    * start from (seed mod `StartChoices` months later). */
  val DbtMonths = 2
  val DbtFirstStart = (1996, 1)
  val StartChoices = 6

  def family(name: String): String =
    if (name.matches("q\\d+_.*")) "q" else name.takeWhile(_ != '_')

  def catalogSample(names: Seq[String]): Seq[String] =
    names.groupBy(family).values.filter(_.size >= CatalogMinFamily).map(_.min).toSeq.sorted

  def apply(name: String, root: String, seed: Long): Workload = {
    val rnd = new scala.util.Random(seed)
    name match {
      case "catalog" =>
        new QueryWorkload(s"$root/data/sf0.01",
          rnd.shuffle(catalogSample(graft.SparkEntry.queries.keys.toSeq.sorted)))
      case "dbt_incremental" =>
        val k = java.lang.Math.floorMod(seed, StartChoices.toLong).toInt
        new DbtWorkload(s"$root/data/sf0.25", s"$root/work/warehouse",
          (0 until DbtMonths).map(i => Month.plus(DbtFirstStart, k + i)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

object Month {
  def plus(ym: (Int, Int), n: Int): (Int, Int) = {
    val z = ym._1 * 12 + (ym._2 - 1) + n
    (z / 12, z % 12 + 1)
  }
  def show(ym: (Int, Int)): String = f"${ym._1}%04d-${ym._2}%02d"
}

/** Registry queries: build (the query builder), plan (physical planning),
  * execute (the final plan's stages, folded into the output digest). */
final class QueryWorkload(val dataDir: String, val units: Seq[String]) extends Workload {
  private val registry = graft.SparkEntry.queries

  def run(r: Runner, unit: String, traced: Boolean): Span => String = {
    val fn = registry(unit)
    val df = r.phase("build") { fn(r.spark, dataDir) }
    r.phase("plan") { df.queryExecution.executedPlan }
    val digest = r.phase("execute") { Digests.ofFrame(df) }
    span => {
      if (traced)
        PlanShape.of(df.queryExecution.executedPlan).foreach { case (k, v) => span.add(s"plan_$k", v) }
      digest
    }
  }
}

/** The reference's scheduled loop, one unit per monthly increment of
  * lineitem: ModelDag.run (two staging views, two incremental merges, one
  * mart table), SchemaTests.runAll, DqEngine.run on the increment, and
  * Profiler.profileTables → Sinks.appendParquet. Each pass starts from an
  * empty warehouse, so its first month creates the incremental tables and
  * later months merge into them. */
final class DbtWorkload(val dataDir: String, whRoot: String, months: Seq[(Int, Int)])
    extends Workload {
  private val start = Month.show(months.head)
  val units: Seq[String] = months.map(m => s"inc_${Month.show(m)}_from_$start")
  private var wh = ""
  private var passNo = 0

  override def begin(r: Runner): Unit = {
    passNo += 1
    deleteTree(new java.io.File(whRoot))
    wh = s"$whRoot/pass$passNo"
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def exactMoney(c: String) = col(c).cast("decimal(18,2)")

  def models(month: String): Seq[Model] = {
    val (y, m) = (month.take(4).toInt, month.drop(5).toInt)
    val (y2, m2) = Month.plus((y, m), 1)
    val (lo, hi) = (f"$y%04d-$m%02d-01 00:00:00", f"$y2%04d-$m2%02d-01 00:00:00")
    Seq(
      Model("stg_lineitem", Nil, Materialization.View, { s =>
        val li = s.table("lineitem")
        val t = li.schema("l_shipdate").dataType
        li.filter(col("l_shipdate") >= lit(lo).cast(t) && col("l_shipdate") < lit(hi).cast(t))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"),
            col("l_returnflag"), col("l_linestatus"), col("l_shipdate"),
            lit(month).as("month"))
      }),
      Model("stg_orders", Nil, Materialization.View, s =>
        s.table("orders").select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
      Model("fct_lineitem", Seq("stg_lineitem"),
        Materialization.Incremental(Seq("l_orderkey", "l_linenumber")), s =>
          s.table("stg_lineitem").withColumn("revenue",
            exactMoney("l_extendedprice") * (lit(1) - col("l_discount").cast("decimal(4,2)")))),
      Model("fct_customer_month", Seq("stg_lineitem", "stg_orders"),
        Materialization.Incremental(Seq("o_custkey", "month")), s =>
          s.table("stg_lineitem").join(s.table("stg_orders"), col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_custkey", "month")
            .agg(count(lit(1)).as("lines"), sum(exactMoney("l_extendedprice")).as("gross"))),
      Model("mart_monthly_revenue", Seq("fct_lineitem"), Materialization.Table, s =>
        s.table("fct_lineitem").groupBy("month", "l_returnflag")
          .agg(count(lit(1)).as("lines"), sum("revenue").as("revenue"),
            sum(col("l_quantity").cast("decimal(18,2)")).as("quantity"))
          .withColumn("mart_key", concat_ws("|", col("month"), col("l_returnflag")))))
  }

  val schemaTests = Seq(
    ("fct_lineitem", "l_orderkey", "not_null"),
    ("fct_customer_month", "o_custkey", "not_null"),
    ("mart_monthly_revenue", "mart_key", "unique"),
    ("mart_monthly_revenue", "mart_key", "not_null"))

  val dqConfig = DqConfig(
    tableName = "stg_lineitem",
    tests = DqTests(
      completeness = Seq("l_orderkey", "l_shipdate", "l_returnflag"),
      uniqueness = Seq(Seq("l_orderkey", "l_linenumber")),
      format = Seq("l_returnflag" -> "not_empty", "l_quantity" -> "positive"),
      range = Seq("l_discount" -> RangeBounds(Some(0.0), Some(0.1)),
        "l_tax" -> RangeBounds(Some(0.0), Some(0.08))),
      customSql = Seq(CustomSqlTest("net_price_positive",
        "l_extendedprice * (1 - l_discount) > 0")),
      customSelect = Seq(CustomSelectTest("orphan_orderkey",
        "SELECT s.l_orderkey FROM stg_lineitem s LEFT ANTI JOIN orders o " +
          "ON s.l_orderkey = o.o_orderkey"))))
  val dqRules = 10

  def run(r: Runner, unit: String, traced: Boolean): Span => String = {
    val spark = r.spark
    val month = unit.stripPrefix("inc_").take(7)
    r.phase("models") { ModelDag.run(spark, models(month), Some(wh)) }
    val tests = r.phase("tests") { SchemaTests.runAll(spark, schemaTests) }
    val slice = spark.table("stg_lineitem")
    val dq = r.phase("dq") { DqEngine.run(spark, slice, dqConfig, month).toDF().collect().toSeq }
    r.phase("profiling") {
      Sinks.appendParquet(
        Profiler.profileTables(spark, Seq("stg_lineitem" -> slice), month, "bench",
          approxDistinct = false),
        s"$wh/profiles")
    }
    span => {
      span.add("increment_rows", slice.count().toDouble)
      span.add("dq_rules", dqRules)
      val fact = spark.read.parquet(s"$wh/fct_lineitem").count()
      val custMonth = spark.read.parquet(s"$wh/fct_customer_month").count()
      val mart = Digests.ofFrame(spark.read.parquet(s"$wh/mart_monthly_revenue"))
      val prof = Digests.ofRows(
        spark.read.parquet(s"$wh/profiles").filter(col("run_id") === month).collect().toSeq)
      val testStatus = tests.map(t => s"${t.model_name}.${t.column_name}.${t.test_name}=${t.status}")
      s"fact=$fact;cm=$custMonth;mart=$mart;tests=${testStatus.mkString(",")};" +
        s"dq=${Digests.ofRows(dq)};profile=$prof"
    }
  }
}
