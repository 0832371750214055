package graft.queries

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

/** Query builders that pin checkpoints must stay correct when several
  * run at once on one session, as Verify runs them: no builder may
  * release another builder's checkpoint.
  */
class CheckpointConcurrencySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val checkpointHeavy = Seq(
    "graph_ktruss_peel", "graph_ktruss_capped", "graph_ktruss_cap_sweep",
    "graph_hits_power", "graph_kcore_peel", "agg_fdr_bh",
    "agg_survey_raking", "text_bpe_train3", "dedup_ingest_loop")

  private def run(name: String): Seq[Row] =
    SparkEntry.queries(name)(spark, dir).collect().toSeq

  test("checkpoint-heavy queries built 8 at a time match a serial run, three rounds") {
    val serial = checkpointHeavy.map(n => n -> run(n)).toMap
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      for (round <- 1 to 3) {
        val results = Await.result(Future.sequence(
          checkpointHeavy.map(n => Future(n -> Try(run(n))))), 10.minutes)
        results.foreach {
          case (n, Failure(e)) => fail(s"round $round: $n threw", e)
          case (n, Success(rows)) =>
            assert(rows == serial(n), s"round $round: $n differs from the serial run")
        }
      }
    } finally pool.shutdown()
  }

  test("unpin frees the RDD its DataFrame pinned and no other") {
    def pinned(df: DataFrame): Int =
      df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    val a = spark.range(100).toDF("x").localCheckpoint()
    val b = spark.range(50).toDF("y").localCheckpoint()
    assert(spark.sparkContext.getPersistentRDDs.contains(pinned(a)))
    Checkpoints.unpin(a)
    assert(!spark.sparkContext.getPersistentRDDs.contains(pinned(a)))
    assert(spark.sparkContext.getPersistentRDDs.contains(pinned(b)))
    assert(b.count() == 50L)
    Checkpoints.unpin(b)
    assert(!spark.sparkContext.getPersistentRDDs.contains(pinned(b)))
    intercept[IllegalArgumentException](Checkpoints.unpin(spark.range(3).toDF()))
  }
}
