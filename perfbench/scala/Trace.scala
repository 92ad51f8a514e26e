package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work done by the jobs of one span. */
final class Counts {
  val jobs, stages, tasks, shuffleWriteBytes, shuffleReadBytes,
      spillBytes, busyMs, gcMs = new AtomicLong

  def add(o: Counts): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get)
    tasks.addAndGet(o.tasks.get)
    shuffleWriteBytes.addAndGet(o.shuffleWriteBytes.get)
    shuffleReadBytes.addAndGet(o.shuffleReadBytes.get)
    spillBytes.addAndGet(o.spillBytes.get)
    busyMs.addAndGet(o.busyMs.get); gcMs.addAndGet(o.gcMs.get)
  }
}

/** Attributes every job, stage and task to the span that submitted it,
  * read from the [[Tracer.SpanKey]] local property at job start.
  * Stages skipped because their shuffle output already exists never
  * complete, so they are not counted.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val counts = new ConcurrentHashMap[String, Counts]()

  def of(span: String): Counts = counts.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .getOrElse("")
    of(span).jobs.incrementAndGet()
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageSpan.getOrDefault(e.stageInfo.stageId, "")).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageId, ""))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.busyMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
    }
  }
}

/** One traced call: name, wall interval and the span that caused it
  * (`parent` -1 for a pass root). `counts` is filled after the pass,
  * summed over the span and all its descendants.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long) {
  var endNs: Long = startNs
  var failed: Boolean = false
  val counts = new Counts
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded by the benchmark around each call into a layer.
  * While [[on]] is false, `apply` only runs the body: untraced passes
  * carry no listener, no local properties and no span records.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var listener: SpanListener = null
  private var stack: List[Span] = Nil
  val spans = ArrayBuffer.empty[Span]

  def on: Boolean = listener != null

  def enable(): Unit = if (listener == null) {
    listener = new SpanListener
    sc.addSparkListener(listener)
  }

  /** Waits for the listener to see every finished job, folds the job
    * counts into the spans of the pass rooted at `root`, then detaches.
    */
  def disable(root: Span): Unit = if (listener != null) {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val pass = spans.filter(s => s.id >= root.id)
    pass.foreach(s => Option(listener.counts.get(s.id.toString)).foreach(s.counts.add))
    // children first, so every parent ends up with its subtree total
    pass.sortBy(-_.id).foreach { s =>
      pass.find(_.id == s.parent).foreach(_.counts.add(s.counts))
    }
    sc.removeSparkListener(listener)
    listener = null
  }

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** The most recent root span (one per traced pass). */
  def lastRoot: Span = spans.filter(_.parent == -1).last

  /** Spans named `name` inside traced passes. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJson: String = spans.map { s =>
    val c = s.counts
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"failed":${s.failed},""" +
      s""""jobs":${c.jobs.get},"stages":${c.stages.get},"tasks":${c.tasks.get},""" +
      s""""shuffle_write_bytes":${c.shuffleWriteBytes.get},""" +
      s""""shuffle_read_bytes":${c.shuffleReadBytes.get},""" +
      s""""spill_bytes":${c.spillBytes.get},"task_busy_ms":${c.busyMs.get},""" +
      s""""gc_ms":${c.gcMs.get}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val SpanKey = "perfbench.span"
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
