package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Runs one workload at one seed and prints its result as the last line
  * of standard output.
  *
  * Set-up (session start, input generation, one untimed warm-up op per
  * kind) is repeated [[SetupRepeats]] times and reported as the median.
  * The timed region then runs ops back to back, one client, until it has
  * lasted `--seconds` and completed a whole number of op cycles.
  * With `--trace 1` ops alternate per kind between traced and untraced,
  * and the result carries per-layer metrics instead of end-to-end ones.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workload.names.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    var spark: SparkSession = null
    var ctx: Ctx = null
    var wl: Workload = null
    val setupTimes = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      Files.wipe(new File(work, "run"))
      spark = graft.Sessions.local(cores.toString)
      ctx = Ctx(spark, seed, new File(work, "run").getPath, new Tracer(spark))
      wl = Workload(workload, ctx)
      wl.warmup()
      wl.afterOp()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[setup] $dt%.3f s")
      dt
    }

    val tr = ctx.tr
    val heap = new HeapPeak
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val session = new SessionState(spark)
    val perKind = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var items = 0L
    var busy = 0.0
    var attempted = 0
    var regionStart = System.nanoTime()
    def elapsed = (System.nanoTime() - regionStart) / 1e9
    // whole cycles only, so every op kind keeps its share; a traced run
    // covers at least two, so each kind runs both traced and untraced
    val minOps = if (traced) 2 * wl.cycle else wl.cycle
    while (elapsed < seconds || attempted < minOps || attempted % wl.cycle != 0) {
      val op = wl.op(attempted)
      val trace = traced && perKind(op.kind) % 2 == 1
      perKind(op.kind) += 1
      if (trace) session.before()
      tr.on = trace
      val t0 = System.nanoTime()
      val out = try Right(tr.op(op.kind)(op.run())) catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      tr.on = false
      attempted += 1
      val err = out.fold(e => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"),
        r => wl.verify(r))
      err.foreach(e => failures += s"op $attempted (${op.kind}): $e")
      samples += Sample(op.kind, dt, trace, err.isEmpty)
      System.err.println(f"[op] $attempted%d ${op.kind} $dt%.3f s traced=$trace")
      if (err.isEmpty) { items += op.items; busy += dt }
      val pause = System.nanoTime()
      wl.afterOp()
      if (trace) { tr.drain(); session.after(attempted) }
      if (attempted % wl.cycle == 0) heap.sample()
      regionStart += System.nanoTime() - pause // bookkeeping is not region time
    }
    val fin = wl.finalCheck()
    fin.foreach(e => failures += s"final check: $e")
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val okTimes = samples.filter(_.ok).map(_.seconds).toSeq
    // a failed whole-run check puts every op's output in doubt
    val failed = if (fin.isDefined) attempted else samples.count(!_.ok)
    val result = new StringBuilder
    val metrics = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    val notes = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    if (!traced) {
      metrics += (("setup_s", Summary.median(setupTimes), "s"))
      metrics += (("items_per_s", items / busy, "1/s"))
      metrics += (("op_p50_s", Summary.median(okTimes), "s"))
      Summary.tail(okTimes).foreach { case (p, v) =>
        metrics += (("op_tail_s", v, "s"))
        notes += "op_tail_percentile" -> p.toString
      }
      metrics += (("failed_ratio", failed.toDouble / attempted, "ratio"))
      metrics += (("peak_heap_mb", heap.peakMb, "MB"))
    } else {
      metrics ++= tr.layerMetrics
      val ratios = wl.ratios.map(r => r._1 -> r).toMap
      metrics ++= Workload.ratioNames.map { case (n, u) => ratios.getOrElse(n, (n, 0.0, u)) }
      metrics ++= session.gauges
      val ok = samples.filter(_.ok).toSeq
      metrics += (("trace.overhead_ratio", overhead(ok.filter(_.traced), ok.filterNot(_.traced)), "ratio"))
      val layerSelf = metrics.collect { case (n, v, _) if n.endsWith(".self_s") => v }.sum
      metrics += (("trace.layer_share", layerSelf / tr.opSeconds, "ratio"))
      metrics += (("trace.wall_s", tr.opSeconds, "s"))
      val pw = new PrintWriter(new File(work, s"trace_$workload.jsonl"))
      try tr.spanLines.foreach(pw.println) finally pw.close()
    }
    notes += "n_ops" -> okTimes.size.toString
    notes += "cores" -> cores.toString
    notes += "setup_runs_s" -> setupTimes.map(t => f"$t%.3f").mkString("[", ",", "]")
    spark.stop()
    result ++= s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{"""
    result ++= metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    result ++= "},\"notes\":{" + notes.map { case (k, v) => s""""$k":"$v"""" }.mkString(",") + "}}"
    println(result.toString)
    System.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  /** Tracing overhead: per kind, median traced op time over median
    * untraced op time, weighted by the untraced time of each kind. */
  def overhead(traced: Seq[Sample], untraced: Seq[Sample]): Double = {
    val kinds = traced.map(_.kind).distinct.filter(k => untraced.exists(_.kind == k))
    val pairs = kinds.map { k =>
      (Summary.median(traced.filter(_.kind == k).map(_.seconds)),
        Summary.median(untraced.filter(_.kind == k).map(_.seconds)))
    }
    val base = pairs.map(_._2).sum
    if (base <= 0) 0.0 else pairs.map { case (t, u) => t - u }.sum / base
  }
}

/** One timed op: its kind, wall seconds, whether it was traced and
  * whether it passed its check. */
final case class Sample(kind: String, seconds: Double, traced: Boolean, ok: Boolean)

/** Highest heap in use after a full collection, sampled at the end of
  * each op cycle. The second collection frees what Spark's cleaner
  * released after the first (shuffles and broadcasts of dropped plans),
  * so a sample reads the state the session keeps, not cleanup in flight. */
final class HeapPeak {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Session state measured around each traced op: persistent RDDs,
  * cached bytes, catalog tables, warehouse bytes, live threads and code
  * cache in use. An op after which any of them grew is flagged. */
final class SessionState(spark: SparkSession) {
  private var last: Map[String, Double] = Map.empty
  private var first: Map[String, Double] = Map.empty
  private val peaks = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var grewOps = 0

  def snapshot(): Map[String, Double] = {
    val sc = spark.sparkContext
    val codeCache = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum
    Map(
      "persistent_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "cached_bytes" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble,
      "catalog_tables" -> spark.catalog.listTables().count().toDouble,
      "warehouse_bytes" -> Files.bytes(new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))).toDouble,
      "live_threads" -> ManagementFactory.getThreadMXBean.getThreadCount.toDouble,
      "code_cache_mb" -> codeCache / (1024.0 * 1024.0))
  }

  private var threadsBefore: Map[String, Int] = Map.empty

  /** Live threads by name with digits dropped, to name what grew. */
  private def threadGroups(): Map[String, Int] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .groupBy(_.getName.replaceAll("[0-9]+", "N")).map { case (k, v) => k -> v.size }

  def before(): Unit = {
    last = snapshot()
    threadsBefore = threadGroups()
    if (first.isEmpty) first = last
  }

  def after(op: Int): Unit = {
    val now = snapshot()
    now.foreach { case (k, v) => peaks(k) = math.max(peaks(k), v) }
    val grew = Seq("persistent_rdds", "cached_bytes", "catalog_tables", "live_threads")
      .filter(k => now(k) > last(k))
    if (grew.nonEmpty) {
      grewOps += 1
      val threads = threadGroups().collect {
        case (k, n) if n > threadsBefore.getOrElse(k, 0) => s"$k +${n - threadsBefore.getOrElse(k, 0)}"
      }
      System.err.println(s"[perfbench] op $op grew session state: " +
        grew.map(k => s"$k ${last(k)} -> ${now(k)}").mkString(", ") +
        (if (threads.isEmpty) "" else threads.mkString(" (threads: ", ", ", ")")))
    }
    last = now
  }

  def gauges: Seq[(String, Double, String)] = Seq(
    ("session.leaked_rdds", last.getOrElse("persistent_rdds", 0.0) - first.getOrElse("persistent_rdds", 0.0), "count"),
    ("session.cached_bytes_peak", peaks("cached_bytes"), "bytes"),
    ("session.catalog_tables", last.getOrElse("catalog_tables", 0.0), "count"),
    ("session.warehouse_bytes", last.getOrElse("warehouse_bytes", 0.0), "bytes"),
    ("session.code_cache_mb", last.getOrElse("code_cache_mb", 0.0), "MB"),
    ("session.live_threads", peaks("live_threads"), "count"),
    ("session.grew_ops", grewOps.toDouble, "count"))
}

object Files {
  def wipe(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(wipe))
    f.delete()
  }

  def bytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  /** Parquet data files under `f` last modified at or after `sinceMs`. */
  def newDataFiles(f: File, sinceMs: Long): Int =
    if (!f.exists()) 0
    else if (f.isFile) { if (f.getName.endsWith(".parquet") && f.lastModified() >= sinceMs) 1 else 0 }
    else Option(f.listFiles()).map(_.map(newDataFiles(_, sinceMs)).sum).getOrElse(0)
}
