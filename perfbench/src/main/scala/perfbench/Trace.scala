package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The layers a span can be charged to: the library's modules under
  * `graft/`, named as the benchmark reports them. */
object Layers {
  val all: Seq[String] = Seq("expand", "run", "collect", "reduce", "stats",
    "store", "batch", "dedup", "functions", "similarity", "sources",
    "multimodal")
}

/** Spark task metrics summed over the jobs a span submitted. */
final class TaskCounters {
  var tasks = 0L
  var failedTasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var gcMs = 0L
  var waitMs = 0L
}

/** One call into a layer: name, interval, parent and the op it serves.
  * `threw` marks a call that ended in an exception. */
final class Span(val id: Int, val parent: Int, val op: Int,
                 val layer: String, val name: String, val startNs: Long) {
  var endNs = 0L
  var threw = false
  val counters = new TaskCounters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Attributes task metrics to spans. Jobs carry the submitting span's id
  * as a local property; stages map to the span of the job that ran them.
  * `waitMs` is each task's scheduler delay plus, once per stage, the
  * time from stage submission to its first task launch. */
final class TaskAttribution(spanOf: Int => Option[Span]) extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val submitted = mutable.Map.empty[Int, Long]
  private val launched = mutable.Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    id.flatMap(i => spanOf(i.toInt)).foreach(s => e.stageIds.foreach(stageSpan(_) = s))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    if (launched.add(e.stageId))
      for (s <- stageSpan.get(e.stageId); t0 <- submitted.get(e.stageId))
        s.counters.waitMs += math.max(0L, e.taskInfo.launchTime - t0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = s.counters
      c.tasks += 1
      if (e.reason != org.apache.spark.Success || e.taskInfo.failed || e.taskInfo.killed)
        c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
        c.gcMs += m.jvmGCTime
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        c.waitMs += math.max(0L, e.taskInfo.duration - busy - e.taskInfo.gettingResultTime)
      }
    }
  }
}

/** Records spans around the benchmark's calls into each layer. When off,
  * every wrapper is a plain call, so untraced runs keep the library's
  * fused plans. When on, `frame` materializes the DataFrame a layer
  * returns (persist + count, inside the span), so each layer's work is
  * charged to it once and downstream layers read the cached result.
  * Spans stay in memory until the run reports. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opId = -1
  private val pinned = mutable.ArrayBuffer.empty[DataFrame]
  private val listener = new TaskAttribution(i => synchronized(spans.lift(i)))
  spark.sparkContext.addSparkListener(listener)

  /** Time one op as the root span of its own id. */
  def op[T](kind: String)(body: => T): T =
    if (!on) body
    else {
      opId += 1
      try span("op", kind)(body)
      finally { pinned.foreach(_.unpersist(blocking = true)); pinned.clear() }
    }

  /** One call into `layer`; `name` is the public function called. */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!on) body else span(layer, name)(body)

  /** A call returning a lazy DataFrame: in a traced run the frame is
    * computed here, once, and later layers read it from the cache. */
  def frame(layer: String, name: String)(body: => DataFrame): DataFrame =
    if (!on) body
    else span(layer, name) {
      val df = body.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      pinned += df
      df
    }

  private def span[T](layer: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    val s = synchronized {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), opId,
        layer, name, System.nanoTime())
      spans += s
      s
    }
    stack = s :: stack
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body
    catch { case e: Throwable => s.threw = true; throw e }
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  /** Deliver all pending listener events (call outside op timing). */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Wall seconds of all traced ops. */
  def opSeconds: Double = allSpans.filter(_.layer == "op").map(_.seconds).sum

  /** Per-layer rollup: calls, self time (duration minus time covered by
    * child spans), waiting, task counts and bytes, GC and failures. */
  def layerMetrics: Seq[(String, Double, String)] = {
    val ss = allSpans
    val childSecs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    Layers.all.flatMap { layer =>
      val ls = ss.filter(_.layer == layer)
      def sum(f: TaskCounters => Long) = ls.map(s => f(s.counters)).sum.toDouble
      val self = ls.map(s => s.seconds - childSecs.getOrElse(s.id, 0.0)).sum
      Seq(
        (s"$layer.calls", ls.size.toDouble, "count"),
        (s"$layer.self_s", self, "s"),
        (s"$layer.wait_s", sum(_.waitMs) / 1e3, "s"),
        (s"$layer.tasks", sum(_.tasks), "count"),
        (s"$layer.shuffle_bytes", sum(_.shuffleBytes), "bytes"),
        (s"$layer.spill_bytes", sum(_.spillBytes), "bytes"),
        (s"$layer.out_bytes", sum(_.outBytes), "bytes"),
        (s"$layer.gc_s", sum(_.gcMs) / 1e3, "s"),
        (s"$layer.failed", sum(_.failedTasks) + ls.count(_.threw), "count"))
    }
  }

  /** Spans as JSON lines, for the trace file written at the end. */
  def spanLines: Seq[String] = allSpans.map { s =>
    val c = s.counters
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""threw":${s.threw},"tasks":${c.tasks},"shuffle_bytes":${c.shuffleBytes},""" +
      s""""spill_bytes":${c.spillBytes},"out_bytes":${c.outBytes},"gc_ms":${c.gcMs},""" +
      s""""wait_ms":${c.waitMs},"failed_tasks":${c.failedTasks}}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
