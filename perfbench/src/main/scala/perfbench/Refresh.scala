package perfbench

import graft.dedup.{DedupSnapshot, SketchStore}
import graft.functions.{Boilerplate, QualityClassifier, TextFns}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The monthly-refresh lifecycle called through the public layer
  * functions: the first timed op builds the dedup snapshot, the sketch
  * store and the frozen quality classifier over the corpus; every later
  * op refreshes one delta (clean, classifier gate, snapshot ingest,
  * sketch ingest, takedown, release artifacts). Deltas carry a seeded
  * share of planted near-duplicates of corpus documents. */
final class Refresh(ctx: Ctx) extends Workload(ctx) {
  import Refresh._
  import spark.implicits._

  private val dupShare = 0.15 + 0.15 * Gen.rng(seed, 8).nextDouble()
  private val store = Gen.corpus(seed, CorpusSize, 0.05)
  private val storeDf = spark.createDataset(store).toDF().cache()
  private val snap = new DedupSnapshot(spark, "pb_snap", nBuckets = 4, n = 3, bands = 16, rows = 4,
    threshold = 0.8)
  private val skst = new SketchStore(spark, "pb_sk", nBuckets = 4, n = 3, k = 32, threshold = 0.8)
  private var weights: Array[Long] = _
  private var mu = 0L
  private val ingested = scala.collection.mutable.ArrayBuffer.empty[Row]
  private val tombstoned = scala.collection.mutable.Set.empty[Long]
  private val flagged = scala.collection.mutable.Set.empty[Long]
  private var deltaDocs = 0.0
  private var survivors = 0.0


  def warmup(): Unit = {
    build(storeDf.limit(WarmupCorpus))
    verify(delta(-1)).foreach(e => throw new IllegalStateException(e))
  }

  def op(i: Int): Op =
    if (i == 0) Op("build", CorpusSize, () => { reset(); build(storeDf) })
    else Op("delta", DeltaSize, () => delta(i))

  private def reset(): Unit = {
    ingested.clear(); tombstoned.clear(); flagged.clear()
    deltaDocs = 0; survivors = 0
  }

  private def build(docs: DataFrame): Unit = {
    tr.call("dedup", "DedupSnapshot.writeCorpus")(
      snap.writeCorpus(docs, "doc_id", "text", keepCols = Seq("lang", "text")))
    tr.call("dedup", "SketchStore.build")(skst.build(docs, "doc_id", "text"))
    val (w, scored) = tr.call("functions", "QualityClassifier.fitScore")(
      QualityClassifier.fitScore(docs, "doc_id", "text", labels, dim = 64, iters = 4))
    weights = w
    mu = tr.call("functions", "QualityClassifier.fitScore")(
      scored.agg(expr("sum(score_micro) div count(1)")).head.getLong(0))
  }

  private def delta(i: Int): Release = {
    val docs = Gen.delta(seed, i, FirstDeltaId + i.toLong * DeltaSize, DeltaSize, dupShare, store)
    val raw = spark.createDataset(docs).toDF()
    val cleaned = tr.frame("functions", "Boilerplate.clean")(graft.Materialize.reuse(
      raw.withColumn("text", Boilerplate.clean(col("text")).getField("clean"))
        .filter(!lower(col("text")).contains("lorem ipsum") && !col("text").contains("{"))))
    val gated = tr.frame("functions", "QualityClassifier.scoreWith")(cleaned.join(
      QualityClassifier.scoreWith(cleaned, "doc_id", "text", weights, dim = 64)
        .filter(col("score_micro") >= mu).select("doc_id"), Seq("doc_id")))
      .select("doc_id", "lang", "text")
    val (survDf, surv) = tr.call("dedup", "DedupSnapshot.ingestDelta") {
      val s = snap.ingestDelta(gated, "doc_id", "text", keepCols = Seq("lang", "text"), commit = true)
      (s, s.select("doc_id").as[Long].collect().sorted)
    }
    val contained = tr.call("dedup", "SketchStore.ingestDelta")(
      skst.ingestDelta(survDf.select("doc_id", "text"), "doc_id", "text", commit = true)
        .select("id_b").distinct().as[Long].collect())
    val r = Gen.rng(seed, 9, i)
    val down = if (surv.isEmpty) Seq.empty[Long] else Seq.fill(Takedowns)(surv(r.nextInt(surv.length))).distinct
    tr.call("dedup", "DedupSnapshot.takedown")(snap.takedown(down.toDF("doc_id"), "doc_id"))
    val bad = (flagged ++ contained).toSeq.toDF("doc_id")
    val released = tr.frame("dedup", "DedupSnapshot.liveCorpus")(
      snap.liveCorpus("doc_id").select("doc_id", "lang", "text").join(broadcast(bad), Seq("doc_id"), "left_anti"))
    val buckets = tr.call("functions", "TextFns.perplexityBuckets")(
      TextFns.perplexityBuckets(released, "doc_id", "text", "lang").select("doc_id").as[Long].collect())
    val langs = tr.call("functions", "TextFns.langId")(
      released.select(col("doc_id"), TextFns.langId(col("text")).as("lp")).select("doc_id").as[Long].collect())
    Release(i, gated, surv.toSet, contained.toSet, down.toSet, buckets.toSet, langs.toSet)
  }

  def verify(out: Any): Option[String] = out match {
    case () => None
    case r: Release =>
      ingested ++= r.gated.collect()
      tombstoned ++= r.down
      flagged ++= r.contained
      deltaDocs += DeltaSize
      survivors += r.survivors.size
      check(r, tombstoned.toSet, flagged.toSet)
  }

  /** The committed corpus must equal a from-scratch build over the
    * corpus and every gated delta (the documented snapshot contract;
    * takedowns only touch delta survivors nothing later duplicates). */
  override def finalCheck(): Option[String] = {
    val ref = new DedupSnapshot(spark, "pb_ref", nBuckets = 4, n = 3, bands = 16, rows = 4, threshold = 0.8)
    val all = storeDf.select("doc_id", "lang", "text")
      .unionByName(spark.createDataFrame(spark.sparkContext.parallelize(ingested.toSeq),
        storeDf.select("doc_id", "lang", "text").schema))
    ref.writeCorpus(all, "doc_id", "text", keepCols = Seq("lang", "text"))
    val a = snap.corpus().select("doc_id", "lang", "text")
    val b = ref.corpus().select("doc_id", "lang", "text")
    val n = a.exceptAll(b).count() + b.exceptAll(a).count()
    if (n == 0) None else Some(s"committed corpus differs from a from-scratch build by $n rows")
  }

  override def ratios: Seq[(String, Double, String)] = Seq(
    ("dedup.survivor_ratio", if (deltaDocs > 0) survivors / deltaDocs else 0.0, "ratio"))
}

object Refresh {
  val CorpusSize = 2000
  val WarmupCorpus = 300
  val DeltaSize = 100
  val Takedowns = 2
  val FirstDeltaId = 1000000L

  /** A release is right when no artifact holds a taken-down or
    * containment-flagged id and both artifacts cover the same ids. */
  def check(r: Release, tombstoned: Set[Long], flagged: Set[Long]): Option[String] = {
    val leaked = (r.buckets ++ r.langs).intersect(tombstoned ++ flagged)
    if (leaked.nonEmpty) Some(s"released artifacts hold taken-down or flagged ids ${leaked.take(5)}")
    else if (r.buckets != r.langs) Some("release artifacts disagree on the released id set")
    else if (!r.down.subsetOf(r.survivors)) Some("takedown ids are not survivors")
    else None
  }

  private val labels = col("source").isin("src0", "src1", "src2", "src3", "src4")

  final case class Release(i: Int, gated: DataFrame, survivors: Set[Long], contained: Set[Long],
                           down: Set[Long], buckets: Set[Long], langs: Set[Long])
}
