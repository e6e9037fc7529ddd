package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark task counters of one job group (one span), or of all jobs. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    outputBytes += o.outputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }

  /** Bytes the work put on local storage: shuffle files, spills, outputs. */
  def writtenBytes: Long = shuffleWriteBytes + spillBytes + outputBytes

  def toJson: String =
    s""""jobs":$jobs,"tasks":$tasks,"executor_run_ms":$runMs,"gc_ms":$gcMs,""" +
      s""""output_bytes":$outputBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes"""
}

/** Sums task metrics per job group. Jobs are tied to the span that ran them
  * through the job group the span sets; jobs outside any span land in the
  * "" group. One instance is attached to every SparkContext the run starts
  * (the crawl workload's Main stops its context after each invocation). */
final class TaskCounters extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Counters]

  private def acc(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = acc(stageGroup.getOrElse(e.stageId, ""))
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.outputBytes += m.outputMetrics.bytesWritten
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  def group(g: String): Counters = synchronized {
    val c = new Counters
    byGroup.get(g).foreach(c += _)
    c
  }

  def total: Counters = synchronized {
    val c = new Counters
    byGroup.values.foreach(c += _)
    c
  }
}

/** A span: one call into a layer, timed from the benchmark's side. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around calls into the engine's modules. Each span sets the Spark job
 * group to "<runId>/<spanId>" while it runs, so [[TaskCounters]] attributes
 * every job to the innermost open span. Spans stay in memory and are written
 * as JSON when the run ends. A disabled tracer runs the body untouched.
 */
final class Tracer(val runId: String, val enabled: Boolean, counters: TaskCounters) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List(0)
  private var nextId = 1

  private def activeContext: Option[SparkContext] =
    SparkSession.getDefaultSession.map(_.sparkContext).filterNot(_.isStopped)

  private def setGroup(spanId: Int): Unit = activeContext.foreach { sc =>
    if (spanId == 0) sc.clearJobGroup()
    else sc.setJobGroup(s"$runId/$spanId", s"perfbench span $spanId")
  }

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.head
      open = id :: open
      setGroup(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        setGroup(open.head)
        spans += Span(id, parent, layer, name, t0, t1)
      }
    }

  /** Make every task event of finished actions visible to the counters. */
  def drain(): Unit = activeContext.foreach(ListenerBusBridge.drain)

  def of(layer: String): Seq[Span] = spans.filter(_.layer == layer).toVector

  /** Counters of a span's own jobs (not its children's). */
  def self(s: Span): Counters = counters.group(s"$runId/${s.id}")

  /** Wall time of a span minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = {
    val items = spans.map { s =>
      s"""{"run_id":"$runId","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${selfSeconds(s)},${self(s).toJson}}"""
    }
    items.mkString("[\n", ",\n", "\n]\n")
  }
}
