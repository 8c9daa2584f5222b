package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload is built from: the session, the seed its inputs come
  * from, a scratch directory for its stores and the run's tracer. */
final case class Ctx(spark: SparkSession, seed: Long, dir: String, tr: Tracer)

/** One op: its kind, the items it completes, and the call that runs it
  * (timed by the loop). The call's result goes to [[Workload.verify]]. */
final case class Op(kind: String, items: Long, run: () => Any)

/** A seeded workload driven in a closed loop by one client. Constructing
  * it generates its inputs; [[warmup]] runs one untimed op per kind. */
abstract class Workload(ctx: Ctx) {
  protected val spark: SparkSession = ctx.spark
  protected val seed: Long = ctx.seed
  protected val dir: String = ctx.dir
  protected val tr: Tracer = ctx.tr

  /** Ops in one cycle of the op mix; timed regions end on a cycle. */
  def cycle: Int = 1
  def warmup(): Unit
  /** The `i`-th timed op (0-based). */
  def op(i: Int): Op
  /** Check an op's result; Some(reason) when it is wrong. */
  def verify(out: Any): Option[String]
  /** Untimed bookkeeping after each op (releasing caches). */
  def afterOp(): Unit = graft.Materialize.releaseAll()
  /** Whole-run checks after the timed region; Some(reason) when wrong. */
  def finalCheck(): Option[String] = None
  /** Named counters for the run's ratio metrics. */
  def ratios: Seq[(String, Double, String)] = Nil
}

object Workload {
  val names: Seq[String] = Seq("sweep", "harvest", "refresh", "query_mix")

  /** Ratio metrics a workload may report; 0 where it does not. */
  val ratioNames: Seq[(String, String)] = Seq(
    "store.skip_ratio" -> "ratio", "store.files_per_write" -> "count",
    "dedup.survivor_ratio" -> "ratio")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "sweep" => new Sweep(ctx)
    case "harvest" => new Harvest(ctx)
    case "refresh" => new Refresh(ctx)
    case "query_mix" => new QueryMix(ctx)
  }
}
