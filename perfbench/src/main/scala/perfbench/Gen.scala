package perfbench

import java.sql.Timestamp
import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its
  * seed and arguments, so one seed always yields the same inputs. */
object Gen {

  /** A mixing of (seed, stream, index) into one RNG seed, so inputs of
    * different ops or streams never share a random sequence. */
  def rng(seed: Long, stream: Int, index: Int = 0): Random =
    new Random(seed * 1000003L + stream * 7919L + index)

  // ---- sweep ---------------------------------------------------------

  /** One sweep op: a grid of 2 to 5 axes whose sizes multiply to about
    * `points` (the first two axes hold longs, the rest doubles) and the
    * reduction that ends the op. Ops come in cycles of twelve holding every
    * (axis count, reduction) pair once, in a seeded order; in each cycle
    * one op per reduction has a black-box output and one per reduction a
    * case axis `c`, so every cycle carries the same mix. */
  final case class SweepSpec(axes: Seq[(String, Seq[Any])], cases: Seq[Long],
                             blackBox: Boolean, reduction: String, method: String) {
    def points: Long = axes.map(_._2.size.toLong).product * math.max(1, cases.size)
  }

  val Reductions: Seq[String] = Seq("aggregate", "band", "histogram")
  val SweepCycle: Int = 4 * Reductions.size

  def sweepSpec(seed: Long, op: Int, points: Int): SweepSpec = {
    val c = rng(seed, 10, Math.floorDiv(op, SweepCycle))
    val pos = Math.floorMod(op, SweepCycle)
    val pairs = c.shuffle(for (n <- 2 to 5; red <- Reductions) yield (n, red))
    val (nAxes, reduction) = pairs(pos)
    val blackBoxAxes = Reductions.map(red => red -> (2 + c.nextInt(4))).toMap
    val caseAxes = Reductions.map(red => red -> (2 + c.nextInt(4))).toMap
    val r = rng(seed, 1, op)
    val method = Seq("mean", "median", "max")(r.nextInt(3))
    val cases =
      if (caseAxes(reduction) == nAxes) Seq.tabulate(2 + r.nextInt(3))(i => (i * 3 + 1).toLong) else Nil
    val target = points.toDouble / math.max(1, cases.size)
    val base = math.pow(target, 1.0 / nAxes)
    // the last axis is the longest, so rounding its length keeps the
    // grid within a few percent of `points`
    val lens0 = Seq.fill(nAxes - 1)(math.max(2, math.round(0.7 * base * math.exp(r.nextDouble() * 0.6 - 0.3)).toInt))
    val last = math.max(2, math.round(target / lens0.map(_.toDouble).product).toInt)
    val axes = (lens0 :+ last).zipWithIndex.map { case (len, i) =>
      val off = r.nextInt(1000)
      val vals: Seq[Any] =
        if (i < 2) Seq.tabulate(len)(k => (off + k).toLong)
        else Seq.tabulate(len)(k => off * 0.01 + k * 0.25)
      (s"a$i", vals)
    }
    SweepSpec(axes, cases, blackBoxAxes(reduction) == nAxes, reduction, method)
  }

  // ---- documents -------------------------------------------------------

  val Words: Array[String] = Array("the", "a", "fast", "slow", "big", "small",
    "data", "row", "column", "table", "query", "join", "group", "sort", "merge",
    "scan", "filter", "agg", "hash", "key", "value", "line", "part", "order",
    "customer", "window", "stream", "batch", "spark", "vector")
  private val Langs = Array("en", "en", "en", "fr", "es", "zh", "de")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String)

  private def words(r: Random, n: Int): String =
    Seq.fill(n)(Words(r.nextInt(Words.length))).mkString(" ")

  private def doc(id: Long, text: String, r: Random): Doc =
    Doc(id, text, Langs(r.nextInt(Langs.length)), s"src${id % 20}")

  /** A near-duplicate of `text`: a marker word appended or the last word
    * replaced, which keeps the 3-shingle Jaccard similarity above 0.8
    * for texts of 30 words or more. */
  private def nearDup(text: String, r: Random): String =
    if (r.nextBoolean()) text + " dup"
    else text.substring(0, text.lastIndexOf(' ')) + " " + Words(r.nextInt(Words.length))

  /** A corpus of `n` documents (ids 0 until n) of 30 to 90 words; a share
    * `dupShare` are near-duplicates of earlier documents. */
  def corpus(seed: Long, n: Int, dupShare: Double): IndexedSeq[Doc] = {
    val r = rng(seed, 2)
    val out = new scala.collection.mutable.ArrayBuffer[Doc](n)
    for (id <- 0 until n) {
      val text =
        if (id > 10 && r.nextDouble() < dupShare) nearDup(out(r.nextInt(id)).text, r)
        else words(r, 30 + r.nextInt(61))
      out += doc(id, text, r)
    }
    out.toIndexedSeq
  }

  /** Delta `i` (ids `firstId` onwards): `dupShare` of it near-duplicates
    * of `store` documents, a few wrapped in script/markup boilerplate,
    * a few lorem-ipsum pages the page gate drops. No delta document is
    * near a document of another delta. */
  def delta(seed: Long, i: Int, firstId: Long, size: Int, dupShare: Double,
            store: IndexedSeq[Doc]): IndexedSeq[Doc] = {
    val r = rng(seed, 3, i)
    IndexedSeq.tabulate(size) { k =>
      val u = r.nextDouble()
      val body =
        if (u < dupShare) nearDup(store(r.nextInt(store.size)).text, r)
        else words(r, 30 + r.nextInt(61))
      val text =
        if (u > 0.97) "lorem ipsum " + body
        else if (u > 0.9) "<script>var t = 1;</script><p>" + body + "</p>"
        else body
      doc(firstId + k, text, r)
    }
  }

  // ---- query_mix tables ------------------------------------------------

  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                            l_linenumber: Int, l_quantity: Double,
                            l_extendedprice: Double, l_discount: Double,
                            l_tax: Double, l_returnflag: String,
                            l_linestatus: String, l_shipdate: Timestamp)

  /** Embeddings: 64-dim vectors around ten label centroids. */
  def embeddings(seed: Long, n: Int): Seq[Embedding] = {
    val r = rng(seed, 4)
    val centroids = Array.fill(10, 64)(r.nextGaussian().toFloat * 0.1f)
    Seq.tabulate(n) { i =>
      val label = r.nextInt(10)
      Embedding(i.toLong,
        Array.tabulate(64)(j => centroids(label)(j) + r.nextGaussian().toFloat * 0.05f), label)
    }
  }

  /** Events: a month of timestamped events from a few users. Values are
    * whole cents, as in the repository's fixtures. */
  def events(seed: Long, n: Int): Seq[Event] = {
    val r = rng(seed, 5)
    val types = Array("click", "purchase", "error", "signup", "view")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val ts = Seq.fill(n)(t0 + (r.nextDouble() * 30 * 86400000L).toLong).sorted
    ts.zipWithIndex.map { case (t, i) =>
      Event(i.toLong, new Timestamp(t), r.nextInt(15).toLong, types(r.nextInt(5)),
        math.round(r.nextDouble() * r.nextDouble() * 30000) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  def orders(seed: Long, n: Int): Seq[Order] = {
    val r = rng(seed, 7)
    val d0 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    Seq.tabulate(n) { i =>
      Order(i.toLong, r.nextInt(150).toLong, Seq("F", "O", "P")(r.nextInt(3)),
        math.round(r.nextDouble() * 30000000) / 100.0,
        new Timestamp(d0 + r.nextInt(2400) * 86400000L), prio(r.nextInt(5)))
    }
  }

  def lineitem(seed: Long, n: Int): Seq[LineItem] = {
    val r = rng(seed, 6)
    val d0 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
    Seq.tabulate(n) { i =>
      val qty = (1 + r.nextInt(50)).toDouble
      LineItem((i / 4).toLong, r.nextInt(200).toLong, r.nextInt(10).toLong, 1 + i % 4,
        qty, math.round(qty * (900 + r.nextInt(1200)) * 100) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("N", "R", "A")(r.nextInt(3)),
        Seq("F", "O")(r.nextInt(2)), new Timestamp(d0 + r.nextInt(2500) * 86400000L))
    }
  }
}
