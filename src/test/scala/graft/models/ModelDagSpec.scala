package graft.models

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class ModelDagSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("example models build in DAG order with exact dbt-faithful contents") {
    val out = ModelDag.run(spark, ExampleModels.all)
    val first = out("my_first_dbt_model").collect().map(r => Option(r.get(0))).toSet
    assert(first == Set(Some(1), None)) // {1, NULL} — my_first_dbt_model.sql:12-21
    val second = out("my_second_dbt_model").collect().map(_.get(0)).toSeq
    assert(second == Seq(1)) // {1} — my_second_dbt_model.sql:4-6
  }

  test("declared schema tests: 3 pass, not_null on first model FAILS by design (schema.yml)") {
    ModelDag.run(spark, ExampleModels.all)
    val results = SchemaTests.runAll(spark, ExampleModels.declaredTests)
      .map(t => (t.model_name, t.test_name) -> t.status).toMap
    assert(results(("my_first_dbt_model", "unique")) == "PASS")
    assert(results(("my_first_dbt_model", "not_null")) == "FAIL")
    assert(results(("my_second_dbt_model", "unique")) == "PASS")
    assert(results(("my_second_dbt_model", "not_null")) == "PASS")
  }

  test("toposort rejects cycles and unknown refs") {
    val a = Model("a", Seq("b"), Materialization.View, s => s.range(1).toDF())
    val b = Model("b", Seq("a"), Materialization.View, s => s.range(1).toDF())
    assertThrows[IllegalArgumentException](ModelDag.topoSort(Seq(a, b)))
    val c = Model("c", Seq("nope"), Materialization.View, s => s.range(1).toDF())
    assertThrows[IllegalArgumentException](ModelDag.topoSort(Seq(c)))
  }

  test("table materialization persists to the warehouse dir") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "wh").toString
    val out = ModelDag.run(spark, ExampleModels.all, warehouseDir = Some(dir))
    assert(new java.io.File(s"$dir/my_first_dbt_model").exists())
    assert(out("my_first_dbt_model").count() == 2)
  }

  test("catalog mode: table model becomes a catalog table, view model a CREATE OR REPLACE VIEW") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "whcat").toString
    val out = ModelDag.run(spark, ExampleModels.all,
      warehouseDir = Some(dir), catalogViews = true)
    // both are persistent catalog objects now, not session temp views
    val tbl = spark.catalog.getTable("my_first_dbt_model")
    assert(!tbl.isTemporary, "table model is still a temp view")
    val vw = spark.catalog.getTable("my_second_dbt_model")
    assert(!vw.isTemporary, "view model is still a temp view")
    assert(vw.tableType == "VIEW", vw.tableType)
    // dbt contents preserved through the catalog round-trip
    assert(out("my_second_dbt_model").collect().map(_.get(0)).toSeq == Seq(1))
    assert(spark.table("my_second_dbt_model").count() == 1)
    // cleanup so other suites' temp-view mode is unaffected
    spark.sql("DROP VIEW IF EXISTS my_second_dbt_model")
    spark.sql("DROP TABLE IF EXISTS my_first_dbt_model")
  }

  test("ephemeral models inline into downstream refs and are not addressable after the run") {
    import org.apache.spark.sql.functions._
    val base = Model("eph_base", Nil, Materialization.View,
      s => s.range(10).toDF("id"))
    val mid = Model("eph_mid", Seq("eph_base"), Materialization.Ephemeral,
      s => s.table("eph_base").withColumn("dbl", col("id") * 2))
    val top = Model("eph_top", Seq("eph_mid"), Materialization.View,
      s => s.table("eph_mid").filter(col("dbl") >= 10))
    val out = ModelDag.run(spark, Seq(base, mid, top))
    // dbt contract 1: ephemeral never appears among materializations
    assert(!out.contains("eph_mid"))
    // dbt contract 2: downstream sees the inlined rows
    assert(out("eph_top").collect().map(_.getLong(1)).sorted.toSeq ==
      Seq(10L, 12L, 14L, 16L, 18L))
    // dbt contract 3: the name is not addressable after the run
    assertThrows[Exception](spark.table("eph_mid").collect())
    // inlining is a real optimization boundary: the downstream filter
    // must be PUSHED THROUGH the ephemeral model's Project to sit
    // directly on the leaf relation — a materialization barrier (or a
    // view that blocks pushdown) would leave a Project between them
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode}
    val opt = out("eph_top").queryExecution.optimizedPlan
    val pushedToLeaf = opt.collect {
      case f: Filter if f.child.isInstanceOf[LeafNode] => f
    }
    assert(pushedToLeaf.nonEmpty,
      s"downstream filter did not reach the leaf through the ephemeral boundary:\n$opt")
    assert(pushedToLeaf.exists(_.condition.toString.contains("* 2")),
      s"pushed filter lost the substituted ephemeral expression (id * 2):\n$opt")
    spark.catalog.dropTempView("eph_base")
    spark.catalog.dropTempView("eph_top")
  }

  test("catalog mode inlines ephemeral sqlText as a CTE into downstream persistent views") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "wheph").toString
    val base = Model("eph_cat_base", Nil, Materialization.View,
      s => s.sql("SELECT id FROM range(10)"),
      sqlText = Some("SELECT id FROM range(10)"))
    val mid = Model("eph_cat_mid", Seq("eph_cat_base"), Materialization.Ephemeral,
      s => s.sql("SELECT id, id * 2 AS dbl FROM `eph_cat_base`"),
      sqlText = Some("SELECT id, id * 2 AS dbl FROM `eph_cat_base`"))
    val top = Model("eph_cat_top", Seq("eph_cat_mid"), Materialization.View,
      s => s.sql("SELECT dbl FROM `eph_cat_mid` WHERE dbl >= 10"),
      sqlText = Some("SELECT dbl FROM `eph_cat_mid` WHERE dbl >= 10"))
    ModelDag.run(spark, Seq(base, mid, top),
      warehouseDir = Some(dir), catalogViews = true)
    val vw = spark.catalog.getTable("eph_cat_top")
    assert(!vw.isTemporary && vw.tableType == "VIEW", vw.toString)
    // the persistent view works AFTER the ephemeral temp view is gone —
    // its SQL carries the inlined CTE, not a dangling temp-view ref
    assert(spark.table("eph_cat_top").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 12L, 14L, 16L, 18L))
    assertThrows[Exception](spark.table("eph_cat_mid").collect())
    spark.sql("DROP VIEW IF EXISTS eph_cat_top")
    spark.sql("DROP VIEW IF EXISTS eph_cat_base")
  }

  test("catalog mode rejects a view over an ephemeral that has no sqlText (nothing to inline)") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "whephbad").toString
    val mid = Model("eph_bad_mid", Nil, Materialization.Ephemeral,
      s => s.range(5).toDF("id")) // DataFrame-only: cannot inline into SQL
    val top = Model("eph_bad_top", Seq("eph_bad_mid"), Materialization.View,
      s => s.sql("SELECT id FROM `eph_bad_mid`"),
      sqlText = Some("SELECT id FROM `eph_bad_mid`"))
    val e = intercept[IllegalArgumentException] {
      ModelDag.run(spark, Seq(mid, top),
        warehouseDir = Some(dir), catalogViews = true)
    }
    assert(e.getMessage.contains("eph_bad_mid"), e.getMessage)
    spark.catalog.dropTempView("eph_bad_mid")
  }

  test("inlined ephemeral CTEs are prefixed so a view-local CTE of the same name can't collide") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "whephcte").toString
    val mid = Model("eph_pfx_mid", Nil, Materialization.Ephemeral,
      s => s.sql("SELECT id, id * 3 AS tri FROM range(6)"),
      sqlText = Some("SELECT id, id * 3 AS tri FROM range(6)"))
    // the view's OWN WITH clause defines a CTE named after a TRANSITIVE
    // sibling name-space ('local'), plus a leading comment before WITH —
    // both previously broke the inliner (duplicate CTE / parse error)
    val top = Model("eph_pfx_top", Seq("eph_pfx_mid"), Materialization.View,
      s => s.sql("SELECT tri FROM `eph_pfx_mid` WHERE tri > 6"),
      sqlText = Some(
        """-- leading comment before WITH
          WITH local AS (SELECT 1 AS one)
          SELECT tri FROM `eph_pfx_mid` CROSS JOIN local WHERE tri > 6"""))
    ModelDag.run(spark, Seq(mid, top), warehouseDir = Some(dir), catalogViews = true)
    assert(spark.table("eph_pfx_top").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(9L, 12L, 15L))
    // a view-local CTE named exactly like a DIRECT ephemeral dep is
    // genuinely ambiguous — rejected loudly, not silently rewritten
    val bad = Model("eph_pfx_bad", Seq("eph_pfx_mid"), Materialization.View,
      s => s.sql("SELECT 1 AS x"),
      sqlText = Some(
        "WITH eph_pfx_mid AS (SELECT 1 AS x) SELECT x FROM eph_pfx_mid"))
    val e = intercept[IllegalArgumentException] {
      ModelDag.run(spark, Seq(mid, bad), warehouseDir = Some(dir), catalogViews = true)
    }
    assert(e.getMessage.contains("eph_pfx_mid"), e.getMessage)
    spark.sql("DROP VIEW IF EXISTS eph_pfx_top")
  }

  test("rerunning a DAG with an ephemeral model is stable (re-registers, re-drops)") {
    import org.apache.spark.sql.functions._
    val base = Model("eph_base2", Nil, Materialization.View,
      s => s.range(4).toDF("id"))
    val mid = Model("eph_mid2", Seq("eph_base2"), Materialization.Ephemeral,
      s => s.table("eph_base2").withColumn("sq", col("id") * col("id")))
    val top = Model("eph_top2", Seq("eph_mid2"), Materialization.View,
      s => s.table("eph_mid2"))
    val r1 = ModelDag.run(spark, Seq(base, mid, top))("eph_top2").collect()
    val r2 = ModelDag.run(spark, Seq(base, mid, top))("eph_top2").collect()
    assert(r1.map(_.toString).sorted.toSeq == r2.map(_.toString).sorted.toSeq)
    spark.catalog.dropTempView("eph_base2")
    spark.catalog.dropTempView("eph_top2")
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, prefix).toString

  test("a view read by two models is cached; one-reader, ephemeral and catalog-mode views are not") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val shared = Model("c2_shared", Nil, Materialization.View, s => s.range(23).toDF("id"))
    val single = Model("c2_single", Nil, Materialization.View, s => s.range(11).toDF("id"))
    val eph = Model("c2_eph", Seq("c2_single"), Materialization.Ephemeral,
      s => s.table("c2_single").withColumn("sq", col("id") * col("id")))
    val a = Model("c2_a", Seq("c2_shared", "c2_eph"), Materialization.View,
      s => s.table("c2_shared").join(s.table("c2_eph"), "id"))
    val b = Model("c2_b", Seq("c2_shared", "c2_eph"), Materialization.View,
      s => s.table("c2_shared").filter(col("id") > 5).join(s.table("c2_eph"), "id"))
    val out = ModelDag.run(spark, Seq(shared, single, eph, a, b))
    assert(spark.catalog.isCached("c2_shared"))
    assert(!spark.catalog.isCached("c2_single"))
    assert(!spark.catalog.isCached("c2_a") && !spark.catalog.isCached("c2_b"))
    // the ephemeral has two readers as well but stays inlined: the only
    // cached subtree in a reader's plan is c2_shared
    val inMemory = out("c2_a").queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r
    }
    assert(inMemory.size == 1, out("c2_a").queryExecution.withCachedData)
    assert(out("c2_a").count() == 11 && out("c2_b").count() == 5)
    Seq("c2_shared", "c2_single", "c2_a", "c2_b").foreach(spark.catalog.dropTempView)

    // catalog mode: neither a persistent view nor a temp view is cached
    val dir = tempDir("whc2")
    val catBase = Model("c2_cat_base", Nil, Materialization.View,
      s => s.sql("SELECT id FROM range(13)"), sqlText = Some("SELECT id FROM range(13)"))
    val tmpBase = Model("c2_tmp_base", Nil, Materialization.View, s => s.range(17).toDF("id"))
    def reader(n: String, lo: Int) = Model(n, Seq("c2_cat_base", "c2_tmp_base"),
      Materialization.View, s => s.table("c2_cat_base").filter(col("id") > lo)
        .join(s.table("c2_tmp_base"), "id"))
    ModelDag.run(spark, Seq(catBase, tmpBase, reader("c2_cat_x", 1), reader("c2_cat_y", 2)),
      warehouseDir = Some(dir), catalogViews = true)
    assert(!spark.catalog.getTable("c2_cat_base").isTemporary)
    assert(!spark.catalog.isCached("c2_cat_base"))
    assert(spark.catalog.getTable("c2_tmp_base").isTemporary)
    assert(!spark.catalog.isCached("c2_tmp_base"))
    Seq("c2_tmp_base", "c2_cat_x", "c2_cat_y").foreach(spark.catalog.dropTempView)
    spark.sql("DROP VIEW IF EXISTS c2_cat_base")
  }

  test("rebinding a cached view to a new plan leaves one cache entry; dropTempView releases it") {
    def dag(n: Int) = Seq(
      Model("c2_slice", Nil, Materialization.View, s => s.range(n).toDF("id")),
      Model("c2_even", Seq("c2_slice"), Materialization.View,
        s => s.table("c2_slice").filter(col("id") % 2 === 0)),
      Model("c2_odd", Seq("c2_slice"), Materialization.View,
        s => s.table("c2_slice").filter(col("id") % 2 === 1)))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val first = ModelDag.run(spark, dag(31))
    assert(first("c2_even").count() == 16 && first("c2_odd").count() == 15)
    val firstSlice = spark.table("c2_slice")
    assert(firstSlice.storageLevel != StorageLevel.NONE)
    val second = ModelDag.run(spark, dag(41))
    assert(second("c2_even").count() == 21 && second("c2_odd").count() == 20)
    assert(firstSlice.storageLevel == StorageLevel.NONE, "the first binding is still cached")
    assert(spark.catalog.isCached("c2_slice"))
    assert((sc.getPersistentRDDs.keySet -- before).size <= 1)
    spark.catalog.dropTempView("c2_slice")
    assert(spark.table("c2_even").storageLevel == StorageLevel.NONE)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    Seq("c2_even", "c2_odd").foreach(spark.catalog.dropTempView)
  }

  test("a second incremental run writes the merged table once and leaves no __stage directory") {
    val dir = tempDir("whinc")
    def inc(lo: Int, hi: Int) = Model("inc_once", Nil,
      Materialization.Incremental(Seq("id")),
      s => s.range(lo, hi).toDF("id").withColumn("v", lit(hi)))
    ModelDag.run(spark, Seq(inc(0, 60)), warehouseDir = Some(dir))
    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => written.addAndGet(m.outputMetrics.recordsWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val o = ModelDag.run(spark, Seq(inc(40, 100)), warehouseDir = Some(dir))
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
      o
    } finally spark.sparkContext.removeSparkListener(listener)
    val merged = out("inc_once")
    assert(merged.count() == 100)
    assert(written.get == 100, s"merge wrote ${written.get} rows for a 100-row table")
    // new rows win on the key: ids 40-59 carry the second run's value
    assert(merged.groupBy("v").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(60 -> 40L, 100 -> 60L))
    assert(!new java.io.File(s"$dir/inc_once__stage").exists())
    spark.catalog.dropTempView("inc_once")
  }

  test("a cached view downstream of an incremental model returns the merged rows after the next run") {
    val dir = tempDir("whincv")
    def dag(lo: Int, hi: Int) = Seq(
      Model("incv_fact", Nil, Materialization.Incremental(Seq("id")),
        s => s.range(lo, hi).toDF("id")),
      Model("incv_view", Seq("incv_fact"), Materialization.View,
        s => s.table("incv_fact").filter(col("id") >= 0)),
      Model("incv_a", Seq("incv_view"), Materialization.View,
        s => s.table("incv_view").filter(col("id") % 2 === 0)),
      Model("incv_b", Seq("incv_view"), Materialization.View,
        s => s.table("incv_view").filter(col("id") % 2 === 1)))
    val first = ModelDag.run(spark, dag(0, 10), warehouseDir = Some(dir))
    assert(spark.catalog.isCached("incv_view"))
    assert(first("incv_a").count() == 5 && first("incv_b").count() == 5)
    val second = ModelDag.run(spark, dag(5, 20), warehouseDir = Some(dir))
    assert(spark.table("incv_view").count() == 20)
    assert(second("incv_a").count() == 10 && second("incv_b").count() == 10)
    Seq("incv_fact", "incv_view", "incv_a", "incv_b").foreach(spark.catalog.dropTempView)
  }

  test("merging an increment whose plan is a cached view leaves the view cached") {
    val dir = tempDir("whincc")
    def dag(n: Int) = Seq(
      Model("incc_stg", Nil, Materialization.View, s => s.range(n).toDF("id")),
      Model("incc_a", Seq("incc_stg"), Materialization.Incremental(Seq("id")),
        s => s.table("incc_stg")),
      Model("incc_b", Seq("incc_stg"), Materialization.Incremental(Seq("id")),
        s => s.table("incc_stg")))
    ModelDag.run(spark, dag(8), warehouseDir = Some(dir))
    val out = ModelDag.run(spark, dag(12), warehouseDir = Some(dir))
    assert(spark.catalog.isCached("incc_stg"))
    assert(out("incc_a").count() == 12 && out("incc_b").count() == 12)
    Seq("incc_stg", "incc_a", "incc_b").foreach(spark.catalog.dropTempView)
  }

  test("unique schema test works on a key column named count") {
    import spark.implicits._
    val df = Seq(1, 1, 2, 3, 3, 3).toDF("count")
    assert(SchemaTests.unique(df, "count").count() == 2)
    assert(SchemaTests.unique(Seq(1, 2).toDF("count"), "count").count() == 0)
  }
}
