package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side: sets up a session, runs one workload for a
  * timed window and prints one JSON line with the run's figures.
  *
  * A run is: three set-ups (session + table registration; the first is
  * timed from JVM start), one discarded warm-up pass, then timed passes
  * until `--seconds` have elapsed. With `--trace 1` every second pass is
  * traced (at least untraced, traced, untraced); the untraced passes
  * around them measure the tracing overhead.
  * Every unit's output is checked against a recorded digest on every
  * pass, the warm-up included.
  *
  * Usage: Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *             --root <dir> --expected <file> [--record <file>]
  * where `<root>` holds the generated tables under `data/` and receives
  * scratch files under `work/`.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: String, expected: String, record: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("root"), m("expected"), m.get("record"))
  }

  val Cores = 4
  /** One JVM keeps getting faster pass after pass. With two discarded
    * passes instead of one, the run-to-run spread of the timed `catalog`
    * pass fell from 16-20% to 9-12% (10 seeds, 4-core VM). */
  val WarmUpPasses = 2

  def newSession(root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/work/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val clock = new StringBuilder
    def mark(what: String): Unit =
      clock ++= f" $what=${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f"
    mark("main")
    val expected = Digests.load(args.expected)
    val workload = Workloads(args.workload, args.root, args.seed)

    // ── set-up, three times; the median is setup_s ─────────────────────
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      if (spark != null) { spark.stop(); graft.Tables.invalidate() }
      val t0 = System.nanoTime()
      val lead = if (i == 0) System.currentTimeMillis() - jvmStartMs else 0L
      spark = newSession(args.root)
      val t1 = System.nanoTime()
      graft.Tables.registerAll(spark, workload.dataDir)
      val t2 = System.nanoTime()
      setups += (((t2 - t0) / 1e9 + lead / 1e3, (t1 - t0) / 1e9 + lead / 1e3, (t2 - t1) / 1e9))
    }
    mark("setup")
    clock ++= setups.map(t => f"${t._1}%.2f/${t._2}%.2f/${t._3}%.2f").mkString(" setups=", ",", "")
    val tracer = new Tracer(spark.sparkContext)
    val runner = new Runner(spark, tracer, workload, expected)
    val gcStart = Stats.gcSeconds()

    // ── warm-up: two discarded passes ──────────────────────────────────
    for (_ <- 0 until WarmUpPasses) runner.pass(workload.units, traced = false)
    mark("warmup")

    // ── timed passes ───────────────────────────────────────────────────
    val plain = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[PassResult]
    // Traced runs bracket each traced pass with untraced ones, so that the
    // warming still going on between passes cancels out of the overhead.
    val minPasses = if (args.trace) 3 else 1
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < args.seconds || i < minPasses) {
      val tr = args.trace && i % 2 == 1
      val r = runner.pass(workload.units, tr)
      (if (tr) traced else plain) += r
      i += 1
    }

    mark("timed")
    args.record.foreach(p => Digests.save(p, runner.observed))

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!args.trace) {
      metrics("wall_s") = (Stats.median(plain.map(_.wall)), "s")
      metrics("cpu_s") = (Stats.median(plain.map(_.cpu)), "s")
      metrics("ok_ratio") = (1.0 - runner.failed.toDouble / runner.attempted, "ratio")
      metrics("setup_s") = (Stats.median(setups.map(_._1).toSeq), "s")
    } else {
      Layers.metrics(traced.toSeq, plain.toSeq, tracer, Cores).foreach { case (k, v) => metrics(k) = v }
      metrics("session.start_s") = (Stats.median(setups.map(_._2).toSeq), "s")
      metrics("tables.load_s") = (Stats.median(setups.map(_._3).toSeq), "s")
      metrics("setup.cold_s") = (setups.head._1, "s")
      metrics("fail_ratio") = (runner.failed.toDouble / runner.attempted, "ratio")
      metrics("jvm.heap_peak_mb") = (Stats.heapPeakMb(), "MB")
      metrics("jvm.gc_s") = (Stats.gcSeconds() - gcStart, "s")
    }
    Layers.writeTrace(s"${args.root}/work/trace_${args.workload}.json", args.workload, tracer)

    val m = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Stats.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val failures = runner.failures.take(20).map(n => "\"" + Stats.esc(n) + "\"").mkString("[", ",", "]")
    println(s"""{"attempted":${runner.attempted},"failed":${runner.failed},""" +
      s""""passes":${plain.size + traced.size},"failures":$failures,"metrics":$m}""")
    spark.stop()
    mark("stop")
    System.err.println(s"[perfbench] JVM uptime at$clock")
  }
}

/** Figures of one pass: `wall` and `cpu` sum the units' own spans, so the
  * output checks and block releases between units are not counted. */
final case class PassResult(wall: Double, cpu: Double, p50: Double, span: Span)

/** Runs passes of a workload, checks every unit's output, and records
  * one span per pass, unit and phase. */
final class Runner(
    val spark: SparkSession, val tracer: Tracer, w: Workload,
    expected: Map[String, String]) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val observed = mutable.LinkedHashMap.empty[String, String]
  private var passNo = 0

  def phase[T](name: String)(body: => T): T = tracer.span(name, "phase")(body)._1

  def pass(units: Seq[String], traced: Boolean): PassResult = {
    passNo += 1
    if (traced) tracer.attach()
    val times = mutable.ArrayBuffer.empty[(Double, Double)]
    val (_, passSpan) = tracer.span(s"pass$passNo", if (traced) "pass_traced" else "pass") {
      w.begin(this)
      units.foreach { u =>
        val cpu0 = Stats.processCpuSeconds()
        val (checker, unitSpan) = tracer.span(u, "unit") {
          try Some(w.run(this, u, traced))
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] $u failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
          }
        }
        times += ((unitSpan.seconds, Stats.processCpuSeconds() - cpu0))
        check(u, checker.flatMap { c =>
          try Some(c(unitSpan))
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] $u check failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
          }
        })
        releaseAll()
      }
    }
    if (traced) tracer.detach()
    PassResult(times.map(_._1).sum, times.map(_._2).sum, Stats.median(times.map(_._1)), passSpan)
  }

  private def check(unit: String, digest: Option[String]): Unit = {
    attempted += 1
    val ok = digest.exists { d =>
      observed.get(unit).filter(_ != d).foreach { prev =>
        System.err.println(s"[perfbench] $unit: digest changed between passes: $prev -> $d")
      }
      observed(unit) = d
      expected.get(unit).contains(d)
    }
    if (!ok) {
      failed += 1
      if (!failures.contains(unit)) failures += unit
      if (digest.isDefined)
        System.err.println(s"[perfbench] $unit: digest ${digest.get} != expected ${expected.getOrElse(unit, "<none>")}")
    }
  }

  /** Free every persisted block so each unit starts from the same state
    * (the iterative queries checkpoint several frames each). */
  def releaseAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

object Stats {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }
}

/** Order-insensitive output digests. */
object Digests {
  import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** Execute `df`'s already-planned physical plan and fold every output
    * row into (row count, two independent 64-bit hash sums). The rows are
    * hashed in their UnsafeRow encoding, so equal values give equal
    * digests whatever the partitioning or row order. */
  def ofFrame(df: DataFrame): String = {
    val schema = df.schema
    val rdd = df.queryExecution.toRdd
    val parts = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(df.queryExecution, Some("perfbench")) {
        rdd.mapPartitions { it =>
          val proj = UnsafeProjection.create(schema)
          var n = 0L; var a = 0L; var b = 0L
          it.foreach { r =>
            val u = r match { case u: UnsafeRow => u; case o => proj(o) }
            a += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
            b += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5eedL)
            n += 1
          }
          Iterator((n, a, b))
        }.collect()
      }
    val (n, a, b) = parts.foldLeft((0L, 0L, 0L)) { case ((n0, a0, b0), (n1, a1, b1)) =>
      (n0 + n1, a0 + a1, b0 + b1) }
    f"$n:$a%016x$b%016x"
  }

  /** Digest of driver-side rows (small results). Doubles are rounded to
    * 12 significant digits, so summation order cannot change the digest. */
  def ofRows(rows: Seq[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.11e"
      case f: Float => canon(f.toDouble)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case o => o.toString
    }
    val lines = rows.map(canon).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    s"${rows.size}:" + md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Digest files are `unit<TAB>digest` lines; run.py converts them from
    * and to digests.json. */
  def load(path: String): Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap

  def save(path: String, digests: collection.Map[String, String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      digests.map { case (k, v) => s"$k\t$v\n" }.mkString)
}
