package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point:
 *
 *   Run --workload coverage|crawl_run --seed N --seconds S --trace 0|1
 *
 * One JVM runs one workload at local[nproc] as a closed loop with one client.
 * Inputs are generated once and not timed. The engine set-up the loop
 * reuses (the cover build) runs untimed while the JIT compiles it, then at
 * least [[Run.SetupReps]] times and for at least [[Run.SetupSeconds]], and
 * setup_s is the median of those timed builds. Every operation's
 * output is checked; a run with any failed or wrong operation reports no
 * time. The last stdout line is one JSON object: correct, attempted, failed
 * and the metrics — the end-to-end metrics with --trace 0, the per-layer
 * metrics with --trace 1.
 */
object Run {

  final val SetupWarmSeconds = 2.0
  final val SetupReps = 9
  final val SetupSeconds = 3.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Set("coverage", "crawl_run")(workload), s"unknown --workload '$workload'")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val dir = new File(opts.getOrElse("dir", ".bench_build/run"), s"$workload-$seed-${ProcessHandle.current.pid}")

    // engine and Spark output goes to stderr: the result is the only stdout line
    val stdout = System.out
    System.setOut(System.err)
    val ctx = new Ctx(workload, seed, seconds, trace, dir)
    val ok = Console.withOut(System.err) {
      try {
        workload match {
          case "coverage" => Coverage.run(ctx)
          case "crawl_run" => Crawl.run(ctx)
        }
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          false
      } finally {
        SparkSession.getDefaultSession.foreach(_.stop())
        ctx.writeTrace()
        deleteTree(dir)
      }
    }
    val t = ctx.tally
    val unmeasured = ctx.metrics.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }
    if (unmeasured.nonEmpty) System.err.println(s"[perfbench] not measured: ${unmeasured.mkString(", ")}")
    val correct = ok && t.failed == 0 && t.attempted > 0 && unmeasured.isEmpty
    val metrics =
      if (!correct) "{}" // a failed or wrong run never reports a time
      else ctx.metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString("{", ", ", "}")
    stdout.println(s"""{"correct": $correct, "attempted": ${t.attempted}, "failed": ${t.failed}, "metrics": $metrics}""")
    stdout.flush()
    System.exit(if (correct) 0 else 1)
  }

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as Python's statistics.quantiles with
    * method "inclusive" computes it. */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** Attempted and failed operations; every output check goes through here. */
final class Tally {
  var attempted = 0
  var failed = 0

  /** Run one operation; it fails when it throws or returns false. */
  def apply(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $what threw: $e")
        e.printStackTrace()
        false
    }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] FAILED: $what")
    }
    ok
  }
}

/** State of one benchmark run. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val dir: File) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val counters = new TaskCounters
  val tracer = new Tracer(s"$workload-$seed-${System.currentTimeMillis()}", trace, counters)
  val tally = new Tally
  /** name -> (value, unit), in print order. */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  dir.mkdirs()

  def path(name: String): String = new File(dir, name).getPath

  /** The session every workload uses: the Bench settings at local[nproc],
    * with two shuffle partitions per core (a core slowed by a neighbour on
    * the host delays a stage less) and Spark's scratch space inside the run
    * directory. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "128k")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", path("spark-local"))
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .getOrCreate()
    if (s.sparkContext ne attached) {
      s.sparkContext.setLogLevel("WARN")
      s.sparkContext.addSparkListener(counters)
      attached = s.sparkContext
    }
    s
  }

  private var attached: org.apache.spark.SparkContext = null

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Closed loop: run `step` until `seconds` have passed and at least
    * `minOps` steps ran. */
  def loop(minOps: Int)(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var k = 0
    while (k < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      step(k)
      k += 1
    }
  }

  /** Set-up, untimed for [[Run.SetupWarmSeconds]], then timed at least
    * [[Run.SetupReps]] times and for at least [[Run.SetupSeconds]]; setup_s
    * is the median of the timed ones. The first builds are cold and each
    * later one is faster until the JIT has compiled the build, so without
    * the untimed builds the median would depend on how fast that went. */
  def setup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < Run.SetupWarmSeconds) body
    val ts = ArrayBuffer.empty[Double]
    while (ts.length < Run.SetupReps || ts.sum < Run.SetupSeconds) ts += time(body)._2
    info(s"setup seconds: ${ts.mkString(", ")}")
    put("setup_s", Run.median(ts), "s")
  }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private val t0 = System.nanoTime()

  def info(line: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1f s  $line")

  /** Heap still in use after full collections: what the engine keeps
    * between operations (memos, broadcast and checkpoint blocks; local-mode
    * executors share the driver's heap). Spark's cleaner frees the blocks
    * of collected broadcasts asynchronously, so the smallest of three
    * readings is taken. */
  def retainedHeapMb: Double =
    (0 until 3).map { _ =>
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  def dirBytes(f: File): (Long, Int) =
    if (f.isFile) (f.length, 1)
    else Option(f.listFiles).map(_.toSeq).getOrElse(Nil).map(dirBytes)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  def writeTrace(): Unit = if (trace) {
    val out = new File(dir.getParentFile.getParentFile, "trace")
    out.mkdirs()
    Files.writeString(new File(out, s"${tracer.runId}.json").toPath, tracer.toJson)
    info(s"spans written to ${new File(out, s"${tracer.runId}.json")}")
  }
}
