package perfbench

import graft.batch.Crop
import graft.expand.Grid
import graft.reduce.{MissingData, Reduce}
import graft.run.{Harvester, Runner}
import graft.spec.{Axis, ComboSpec}
import graft.store.{BucketedStore, ParquetStore}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** An incremental harvest campaign. Round `r` requests a window of `x`
  * values that overlaps what is stored by a seeded share near 50%,
  * harvests the missing points into a partitioned [[ParquetStore]],
  * grows the same points through a [[Crop]] into a [[BucketedStore]],
  * and reads both stores back. The evaluation is cheap, so store, batch
  * and the anti-join discovery dominate, and the stores grow round by
  * round. */
final class Harvest(ctx: Ctx) extends Workload(ctx) {
  import Harvest._

  private val keys = Seq("x", "y")
  private val runner = Runner.ofColumns("v" -> Harvest.value)
  private val pstore = new ParquetStore(spark, s"$dir/pstore", keys, partitionCols = Seq("x"))
  private val harvester = new Harvester(runner, pstore)
  private val bstore = new BucketedStore(spark, "pb_harvest", keys, nBuckets = 4)
  /** Stored x values are always 0 until `end`. */
  private var end = 0L
  private var requested = 0.0
  private var skipped = 0.0
  private var files = 0.0
  private var writes = 0.0
  private val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")


  def warmup(): Unit = {
    val o = op(-1)
    verify(o.run()).foreach(e => throw new IllegalStateException(e))
  }

  def op(i: Int): Op = {
    val overlap = if (end == 0) 0 else math.round(Width * (0.4 + 0.2 * Gen.rng(seed, 7, i).nextDouble())).toInt
    val from = end - overlap
    val xs: Seq[Any] = (from until from + Width).map(x => x: Any)
    val fresh = (Width - overlap).toLong * YSize
    Op("round", 2 * fresh, () => round(xs, overlap))
  }

  private def round(xs: Seq[Any], overlap: Int): Round = {
    val t0 = System.currentTimeMillis()
    val grid = tr.frame("expand", "Grid.expand")(
      Grid.expand(spark, ComboSpec(Seq(Axis("x", xs), Axis("y", ys)))))
    val miss = tr.frame("store", "BucketedStore.missing")(bstore.missing(grid))
    tr.call("run", "Harvester.harvestCombos")(
      harvester.harvestCombos(Seq("x" -> Some(xs), "y" -> Some(ys)), missingOnly = true))
    val crop = new Crop(spark, s"$dir/crop", keys)
    tr.call("batch", "Crop.sow")(crop.sow(miss, numBatches = Some(4)))
    tr.call("batch", "Crop.growMissingBulk")(crop.growMissingBulk(runner.fn))
    val reaped = tr.frame("batch", "Crop.reap")(crop.reap().select("x", "y", "v"))
    val grown = tr.call("batch", "Crop.reap")(reaped.count())
    tr.call("store", "BucketedStore.mergeIn")(bstore.mergeIn(reaped))
    tr.call("batch", "Crop.delete")(crop.delete())
    val pl = tr.frame("store", "ParquetStore.load")(pstore.load())
    val bl = tr.frame("store", "BucketedStore.load")(bstore.load())
    def means(df: DataFrame) =
      tr.call("reduce", "Reduce.aggregate")(
        Reduce.aggregate(df, Seq("y"), "v", "mean").collect()
          .map(r => r.getAs[Number](0).longValue -> r.getDouble(1)).toMap)
    val pm = means(pl)
    val bm = means(bl)
    val missing = tr.call("reduce", "MissingData.findMissingCases")(
      MissingData.findMissingCases(pl, keys, Seq("v")).collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet)
    val newEnd = xs.last.asInstanceOf[Long] + 1
    requested += xs.size * YSize
    skipped += overlap * YSize
    files += Files.newDataFiles(new java.io.File(s"$dir/pstore"), t0) +
      Files.newDataFiles(new java.io.File(warehouse, "pb_harvest"), t0)
    writes += 2
    end = newEnd
    Round(newEnd, grown, (Width - overlap).toLong * YSize, pm, bm, missing)
  }

  def verify(out: Any): Option[String] = out match {
    case r: Round => check(r)
  }

  /** Both stores must equal a one-shot evaluation of the union grid. */
  override def finalCheck(): Option[String] = {
    val xs: Seq[Any] = (0L until end).map(x => x: Any)
    val oneShot = runner.fn(Grid.expand(spark, ComboSpec(Seq(Axis("x", xs), Axis("y", ys)))))
      .select("x", "y", "v")
    def diff(df: DataFrame): Long = {
      val d = df.select("x", "y", "v")
      d.exceptAll(oneShot).count() + oneShot.exceptAll(d).count()
    }
    val (dp, db) = (diff(pstore.load()), diff(bstore.load()))
    if (dp + db == 0) None else Some(s"stores differ from a one-shot evaluation: parquet $dp, bucketed $db rows")
  }

  override def ratios: Seq[(String, Double, String)] = Seq(
    ("store.skip_ratio", if (requested > 0) skipped / requested else 0.0, "ratio"),
    ("store.files_per_write", if (writes > 0) files / writes else 0.0, "count"))
}

object Harvest {
  /** x values requested per round. */
  val Width = 4
  val YSize = 256
  val ys: Seq[Any] = Seq.tabulate(YSize)(k => (k * 3).toLong)

  /** A round is right when it grew exactly the points not yet stored,
    * both stores' per-y means match a plain-Scala evaluation of the
    * stored range, and the missing cases are exactly the null points. */
  def check(r: Round): Option[String] = {
    val want = reference(r.end)
    if (r.grown != r.fresh) Some(s"grew ${r.grown} points, ${r.fresh} were missing")
    else if (!sameMeans(r.pstoreMeans, want)) Some(s"parquet store means differ from ${want.take(3)}...")
    else if (!sameMeans(r.bstoreMeans, want)) Some(s"bucketed store means differ from ${want.take(3)}...")
    else if (r.missing != nullPoints(r.end)) Some(s"missing cases ${r.missing.size} != ${nullPoints(r.end).size}")
    else None
  }

  private def sameMeans(a: Map[Long, Double], b: Map[Long, Double]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) => math.abs(v - b(k)) <= 1e-9 * math.max(1.0, math.abs(v)) }

  /** Per-y mean of v over x in [0, end), nulls skipped. */
  def reference(end: Long): Map[Long, Double] =
    ys.map(_.asInstanceOf[Long]).map { y =>
      val vs = (0L until end).flatMap(x => valueOf(x, y))
      y -> vs.sum / vs.size
    }.toMap

  def nullPoints(end: Long): Set[(Long, Long)] =
    (for (x <- 0L until end; y <- ys.map(_.asInstanceOf[Long]) if valueOf(x, y).isEmpty) yield (x, y)).toSet

  final case class Round(end: Long, grown: Long, fresh: Long, pstoreMeans: Map[Long, Double],
                         bstoreMeans: Map[Long, Double], missing: Set[(Long, Long)])

  /** The evaluated output; null on a fixed share of points, which the
    * missing-case discovery must find. */
  val value: Column =
    when((col("x") * 31 + col("y")) % 53 === 0, lit(null).cast("double"))
      .otherwise(col("x") * lit(0.5) + col("y") * lit(0.25))

  def valueOf(x: Long, y: Long): Option[Double] =
    if ((x * 31 + y) % 53 == 0) None else Some(x * 0.5 + y * 0.25)
}
