package perfbench

import java.io.{File, PrintWriter}
import org.apache.spark.sql.SaveMode

/** Registered queries of the families the sweep does not drive, run in
  * one session through the noop sink. An op is one pass over the list in
  * a seeded order (a new order each pass), so a query's cost can be
  * compared across the positions it runs at; the trace times each query.
  * The input tables are fixed; the seed sets only the orders. Each
  * query's output is written once during set-up and checked against its
  * DuckDB oracle by `run.py`. */
final class QueryMix(ctx: Ctx) extends Workload(ctx) {
  import QueryMix._

  private val data = s"$dir/data"
  private val registry = graft.SparkEntry.queries
  Tables.write(spark, data)

  /** Runs every query once, writing its output for the oracle check. */
  def warmup(): Unit = {
    val outDir = new File(dir).getParentFile
    val pw = new PrintWriter(new File(outDir, "oracle_sql.json"))
    try pw.print(Names.map { n =>
      s""""$n":"${graft.SparkEntry.oracleSql(n).replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")}""""
    }.mkString("{", ",", "}"))
    finally pw.close()
    Names.foreach { n =>
      registry(n)(spark, data).write.mode(SaveMode.Overwrite).parquet(new File(outDir, s"out/$n").getPath)
      graft.Materialize.releaseAll()
    }
  }

  def op(i: Int): Op =
    Op("pass", Names.size, () => Gen.rng(seed, 11, i).shuffle(Names).foreach { name =>
      tr.call(layerOf(name), name)(
        registry(name)(spark, data).write.format("noop").mode("overwrite").save())
      graft.Materialize.releaseAll()
    })

  def verify(out: Any): Option[String] = None
}

object QueryMix {
  /** The query list: similarity (n), multimodal (mm), sources (io, wet),
    * text (t, tc, cp) and events (ev). */
  val Names: Seq[String] = Seq(
    "n1_knn_cosine", "mm1_decode_features", "wet1_warc_records", "io2_csv_roundtrip",
    "cp1_corpus_profile", "ev1_tumbling_window", "d3_minhash_lsh", "h1_harvest_lifecycle",
    "b4_crop_roundtrip")

  /** The module each query family's code lives in. */
  def layerOf(name: String): String = name.takeWhile(_.isLetter) match {
    case "n" | "tc" => "similarity"
    case "mm" => "multimodal"
    case "io" | "wet" => "sources"
    case "ev" => "reduce"
    case "d" => "dedup"
    case "h" => "store"
    case "b" => "batch"
    case _ => "functions"
  }
}

/** The fixed input tables of the query mix, in the repository's fixture
  * schema: documents, embeddings, events, lineitem, orders. */
object Tables {
  val Seed = 42L

  def write(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import spark.implicits._
    def save(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    save(Gen.corpus(Seed, 500, 0.05).toDF()
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long")), "documents")
    save(Gen.embeddings(Seed, 500).toDF(), "embeddings")
    save(Gen.events(Seed, 2000).toDF(), "events")
    save(Gen.lineitem(Seed, 6000).toDF(), "lineitem")
    save(Gen.orders(Seed, 1500).toDF(), "orders")
  }
}
