package graft

import org.apache.spark.sql.functions._

/** DSIR kernel-pair decade harness (r14 verdict item 8): times the
  * weights and resample pipelines END-TO-END under BOTH bigram hash
  * kernels — the oracle-replayable md5 form (the registered queries)
  * and the production Xx64 form (variadic xxhash64, no bigram string;
  * shape equivalence pinned by DsirSpec) — so SCALING.md's "the
  * production hash is ~2.4× the md5 form" claim stays AUDITED as the
  * code evolves instead of fossilizing as a one-round measurement.
  * Same session ([[GraftSession]]) and discipline as [[Bench]] (min-of-2,
  * noop sink, checkpoint release between passes); prints one JSON line.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.DsirBench"
  */
object DsirBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    import graft.operators.Dsir

    def weights(kernel: Dsir.HashKernel): Unit = {
      val docs = Tables.load(spark, sfDir, "documents")
      val feats = Dsir.hashedBigramFeatures(docs, hash = kernel)
      Dsir.docWeights(feats.filter(col("doc_id") < 200), Dsir.llrTerms(feats))
        .orderBy(col("doc_id"))
        .write.format("noop").mode("overwrite").save()
    }
    def resample(kernel: Dsir.HashKernel): Unit = {
      val docs = Tables.load(spark, sfDir, "documents")
      val feats = Dsir.hashedBigramFeatures(docs, hash = kernel).localCheckpoint()
      val scored = Dsir.docWeights(feats, Dsir.llrTerms(feats))
        .select(col("doc_id"), col("lang"), col("dsir_micro_nats"))
      Dsir.gumbelResample(scored, 200)
        .write.format("noop").mode("overwrite").save()
    }
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def time(f: () => Unit): Double = {
      val t0 = System.nanoTime()
      f()
      val dt = (System.nanoTime() - t0) / 1e9
      release()
      dt
    }
    def minOf2(f: () => Unit): Double = math.min(time(f), time(f))

    weights(Dsir.HashKernel.Md5) // discarded warmup
    release()
    val results = Seq(
      "weights_md5" -> minOf2(() => weights(Dsir.HashKernel.Md5)),
      "weights_xx64" -> minOf2(() => weights(Dsir.HashKernel.Xx64)),
      "resample_md5" -> minOf2(() => resample(Dsir.HashKernel.Md5)),
      "resample_xx64" -> minOf2(() => resample(Dsir.HashKernel.Xx64)))
    val body = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString(",")
    println(s"""{"metric":"dsir_kernels","unit":"sec",$body,"sf":"$sfDir"}""")
    spark.stop()
  }
}
