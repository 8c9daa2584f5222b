package perfbench

import graft.collect.Collect
import graft.expand.Grid
import graft.reduce.Reduce
import graft.run.{Eval, Runner}
import graft.spec.{Axis, CaseSpec, ComboSpec}
import graft.stats.WelfordAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The paper's core path: expand a seeded grid, evaluate outputs on it,
  * collect them into labelled dims and reduce to one result. No store is
  * touched. One op in four adds a black-box (closure) output. */
final class Sweep(ctx: Ctx) extends Workload(ctx) {
  import Sweep._

  override def cycle: Int = Gen.SweepCycle

  /** One smaller op of each kind (reduction), one of them black-box. */
  def warmup(): Unit = {
    val specs = (-Gen.SweepCycle until 0).map(Gen.sweepSpec(seed, _, Points / 4))
    val bb = specs.find(_.blackBox).get
    (bb +: specs.filter(s => !s.blackBox && s.reduction != bb.reduction)
      .groupBy(_.reduction).values.map(_.head).toSeq).foreach(s => mustPass(runSpec(s)))
  }

  def op(i: Int): Op = {
    val spec = Gen.sweepSpec(seed, i, Points)
    Op(spec.reduction, spec.points, () => runSpec(spec))
  }

  private def mustPass(r: (Gen.SweepSpec, Result)): Unit =
    Sweep.check(r._1, r._2).foreach(e => throw new IllegalStateException(e))

  /** One sweep: expand → evaluate → explode (→ pivot) → reduce → one row. */
  private def runSpec(spec: Gen.SweepSpec): (Gen.SweepSpec, Result) = {
    val combos = ComboSpec(spec.axes.map { case (n, v) => Axis(n, v) })
    val cases = if (spec.cases.isEmpty) None
                else Some(CaseSpec(Seq("c"), spec.cases.map(c => Seq(c))))
    val grid = tr.frame("expand", "Grid.expand")(Grid.expand(spark, combos, cases))
    val names = spec.axes.map(_._1) ++ cases.map(_ => "c")
    val runner = Runner.ofColumns(outputs(names, spec.blackBox): _*)
    val evaluated = tr.frame("run", if (spec.blackBox) "Eval.tryEval2" else "Runner.fn") {
      val out = runner.fn(grid)
      if (!spec.blackBox) out
      else Eval.tryEval2(out, "a0", "a1", "bb")(blackBox)
        .withColumn("v", coalesce(col("bb.value"), lit(-1.0)))
        .withColumn("arr", arrayOf(col("v")))
        .drop("bb")
    }
    val long = tr.frame("collect", "Collect.explodeDim")(
      Collect.explodeDim(evaluated.select((names :+ "arr").map(col): _*), "arr", "k", Seq(0, 1, 2)))
    def dense = tr.frame("collect", "Collect.dense")(
      Collect.dense(long, names, "k", "arr", Seq(0, 1, 2)).toDF(names ++ Seq("k0", "k1", "k2"): _*))
    def welford(c: String) = WelfordAgg.column(col(c).cast("double")).as("w")
    val (reduced, summary) = spec.reduction match {
      case "aggregate" =>
        (tr.frame("reduce", "Reduce.aggregate")(Reduce.aggregate(dense, Seq("a0"), "k0", spec.method)),
          Seq(welford("k0"), lit(0.0), lit(0.0), lit(null).cast("array<struct<bin:bigint,n:bigint>>")))
      case "band" =>
        (tr.frame("reduce", "Reduce.quantileBand")(Reduce.quantileBand(dense, Seq("a0"), "k1")),
          Seq(welford("k1"), sum("k1_lo"), sum("k1_hi"), lit(null).cast("array<struct<bin:bigint,n:bigint>>")))
      case "histogram" =>
        (tr.frame("reduce", "Reduce.histogram")(Reduce.histogram(long, "arr", HistBins, HistLo, HistHi)),
          Seq(welford("n"), lit(0.0), lit(0.0), sort_array(collect_list(struct(col("bin"), col("n"))))))
    }
    val row = tr.call("stats", "WelfordAgg")(reduced.agg(summary.head, summary.tail: _*).head())
    val w = row.getStruct(0)
    val h = Option(row.getSeq[org.apache.spark.sql.Row](3)).getOrElse(Nil)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (spec, Result(w.getLong(0), w.getDouble(1), w.getDouble(2), row.getDouble(1), row.getDouble(2), h))
  }

  override def verify(out: Any): Option[String] = out match {
    case (spec: Gen.SweepSpec, r: Result) => check(spec, r)
  }

}

object Sweep {
  /** Grid points per op. */
  val Points = 5000
  val HistBins = 20
  val HistLo = -10.0
  val HistHi = 60.0

  /** An op is right when its Welford summary, band sums and histogram
    * match the plain-Scala recomputation. */
  def check(spec: Gen.SweepSpec, r: Result): Option[String] = {
    val want = Sweep.reference(spec)
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    if (r.n != want.n) Some(s"welford n ${r.n} != ${want.n}")
    else if (!close(r.mean, want.mean) || !close(r.varPop, want.varPop))
      Some(s"welford (${r.mean}, ${r.varPop}) != (${want.mean}, ${want.varPop})")
    else if (!close(r.lo, want.lo) || !close(r.hi, want.hi))
      Some(s"quantile band (${r.lo}, ${r.hi}) != (${want.lo}, ${want.hi})")
    else if (r.hist != want.hist) Some(s"histogram ${r.hist} != ${want.hist}")
    else None
  }

  /** What an op returns: Welford (n, mean, population variance) over the
    * reduced values, the summed low and high band edges (band ops), and
    * histogram bin → count (histogram ops). */
  final case class Result(n: Long, mean: Double, varPop: Double, lo: Double, hi: Double,
                          hist: Map[Long, Long])

  /** The evaluated value: a closed form of the axis columns (and the case
    * column `c` when present). */
  private def value(names: Seq[String]): Column =
    names.map {
      case "a0" => col("a0") * lit(0.37) % lit(7.0)
      case "a1" => col("a1") * lit(0.11) % lit(5.0)
      case "c" => col("c") * lit(1.5)
      case n => sqrt(col(n))
    }.reduce(_ + _)

  private def valueOf(names: Seq[String], p: Seq[Any]): Double =
    names.zip(p).map {
      case ("a0", x) => x.asInstanceOf[Long] * 0.37 % 7.0
      case ("a1", x) => x.asInstanceOf[Long] * 0.11 % 5.0
      case ("c", x) => x.asInstanceOf[Long] * 1.5
      case (_, x) => math.sqrt(x.asInstanceOf[Double])
    }.reduce(_ + _)

  private def arrayOf(v: Column): Column = array(v, v * lit(0.5), v + lit(1.0))
  private def arrayOf(v: Double): Seq[Double] = Seq(v, v * 0.5, v + 1.0)

  private def outputs(names: Seq[String], blackBox: Boolean): Seq[(String, Column)] =
    if (blackBox) Seq("v0" -> value(names))
    else Seq("v" -> value(names), "arr" -> arrayOf(col("v")))

  /** The black-box output: fails on a fixed share of points, which the
    * tolerant evaluation records as errors (value −1 downstream). */
  private val blackBox: (Long, Long) => Double = (x, y) =>
    if ((x + y) % 97 == 0) throw new ArithmeticException("planted failure")
    else math.sin(x * 0.01) * (y % 13)

  private def blackBoxOf(x: Long, y: Long): Double =
    if ((x + y) % 97 == 0) -1.0 else math.sin(x * 0.01) * (y % 13)

  /** Plain-Scala recomputation of an op's result. */
  def reference(spec: Gen.SweepSpec): Result = {
    val names = spec.axes.map(_._1) ++ (if (spec.cases.nonEmpty) Seq("c") else Nil)
    val domains = spec.axes.map(_._2) ++ (if (spec.cases.nonEmpty) Seq(spec.cases) else Nil)
    val a0 = names.indexOf("a0")
    val a1 = names.indexOf("a1")
    val byA0 = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.ArrayBuffer[Double]]
    val hist = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val w = (HistHi - HistLo) / HistBins
    def walk(i: Int, p: List[Any]): Unit =
      if (i < 0) {
        val v = if (spec.blackBox) blackBoxOf(p(a0).asInstanceOf[Long], p(a1).asInstanceOf[Long])
                else valueOf(names, p)
        val arr = arrayOf(v)
        byA0.getOrElseUpdate(p(a0).asInstanceOf[Long], scala.collection.mutable.ArrayBuffer.empty) += v
        arr.foreach { x =>
          if (x >= HistLo && x <= HistHi)
            hist(math.min(math.floor((x - HistLo) / w).toLong, HistBins - 1L)) += 1
        }
      } else domains(i).foreach(x => walk(i - 1, x :: p))
    walk(domains.size - 1, Nil)
    val groups = byA0.values.map(_.toIndexedSeq.sorted).toSeq
    def welford(xs: Seq[Double]) = {
      val mean = xs.sum / xs.size
      (xs.size.toLong, mean, xs.map(a => (a - mean) * (a - mean)).sum / xs.size)
    }
    spec.reduction match {
      case "aggregate" =>
        val (n, mean, v) = welford(groups.map { xs =>
          spec.method match {
            case "mean" => xs.sum / xs.size
            case "max" => xs.last
            case "median" => interpolated(xs, 0.5)
          }
        })
        Result(n, mean, v, 0.0, 0.0, Map.empty)
      case "band" =>
        val halves = groups.map(_.map(_ * 0.5))
        val (n, mean, v) = welford(halves.map(interpolated(_, 0.5)))
        Result(n, mean, v, halves.map(interpolated(_, 0.5 - 0.68 / 2)).sum,
          halves.map(interpolated(_, 0.5 + 0.68 / 2)).sum, Map.empty)
      case "histogram" =>
        val (n, mean, v) = welford(hist.values.map(_.toDouble).toSeq)
        Result(n, mean, v, 0.0, 0.0, hist.toMap)
    }
  }

  /** Spark's exact `percentile` interpolation over sorted values. */
  private def interpolated(xs: IndexedSeq[Double], q: Double): Double = {
    val pos = (xs.size - 1).toDouble * q
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi || xs(lo) == xs(hi)) xs(lo)
    else (hi - pos) * xs(lo) + (pos - lo) * xs(hi)
  }
}
