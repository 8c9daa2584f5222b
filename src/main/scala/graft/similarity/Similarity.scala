package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the correctness baseline, plus two
  * scale paths — random-hyperplane LSH bucketing and IVF (inverted
  * file) with driver-side k-means centroids.
  */
object Similarity {

  /** Cosine similarity of two double-array columns — native fused
    * expression ([[graft.functions.VectorExprs.cosine]]): one codegen'd
    * pass, no intermediate array (the `zip_with`+`aggregate` route is
    * CodegenFallback and allocates per pair). */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorExprs.cosine(a, b)

  /** L2-normalize a double-array column (pre-normalized corpus makes
    * cosine a plain dot product — normalize once, query many). */
  def l2Normalize(v: Column): Column = graft.functions.VectorExprs.l2Normalize(v)

  /** Brute-force top-k cosine neighbors of each query row against the
    * corpus. Exact — O(|q|·|corpus|); the right tool when |q| is small
    * (the corpus side stays distributed; queries broadcast).
    */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
  }

  /** Hard-negative mining for contrastive training (n11): for each
    * anchor, the top-k most-similar corpus vectors carrying a
    * DIFFERENT label — the negatives that actually move a contrastive
    * loss (in-batch random negatives are mostly easy; mining the
    * hardest ones is standard practice, e.g. Robinson et al. 2021,
    * DPR's BM25-hard-negatives). Brute-force form: anchors broadcast,
    * one streamed corpus pass, label inequality in the join condition
    * (failing pairs never materialize), `WindowGroupLimit`-pruned
    * top-k per anchor. For anchor sets at corpus scale the ANN ladder
    * (IVF/IVFADC with a post-filter on label) is the scale path; this
    * exact form is the oracle-checkable baseline, same contract as
    * [[bruteForceKnn]].
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(anchors.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"), col(labelCol).as("ql")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"), col(labelCol).as("cl"))
    val scored = q.join(c, col("ql") =!= col("cl"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cl").as("neg_label"),
        round(col("sim"), 4).as("sim"))
  }

  /** Exact all-pairs cosine ≥ threshold within `blockCols` blocks —
    * the embedding near-dup correctness baseline (O(block²); LSH is
    * the unblocked scale path). Vectors are L2-normalized once so the
    * pair step is a plain dot product.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double, blockCols: Seq[String]): DataFrame = {
    // normalized once; feeds both join sides. persist keeps lineage
    // (executor loss recomputes, localCheckpoint would fail the job)
    val vecs = graft.Materialize.reuse(df.select(
      blockCols.map(col) :+ col(idCol).as("id") :+
        l2Normalize(col(vecCol).cast("array<double>")).as("v"): _*))
    val dot = graft.functions.VectorExprs.dot(col("v_a"), col("v_b"))
    graft.dedup.PlanBarrier.saltedSelfJoin(
      vecs.select(blockCols.map(col) :+ col("id").as("id_a") :+ col("v").as("v_a"): _*),
      vecs.select(blockCols.map(col) :+ col("id").as("id_b") :+ col("v").as("v_b"): _*),
      blockCols, "id_a", salts = 32)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", graft.dedup.PlanBarrier.barrier(round(dot, 4)))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Random-hyperplane LSH signature: `nbits` sign bits of projections
    * onto seeded pseudo-random hyperplanes. The planes are CONSTANTS —
    * generated once on the driver and embedded as array literals, so
    * each row pays only the dot products (a per-row hash-derived plane
    * would recompute the matrix for every record).
    */
  def rhpSignature(v: Column, dim: Int, nbits: Int, seed: Long = 42L): Column =
    graft.functions.VectorExprs.rhpSignature(v, dim, nbits, seed)

  /** Hyperplanes derived from md5 instead of a seeded RNG: component
    * (p, j) is the high 60 bits of `md5("tag:p:j")` mapped to [-1, 1).
    * Every step (hash, long→double, /2⁶⁰, ×2, −1) is reproducible in
    * plain SQL, so signatures — and therefore the banded candidate
    * pairs — can be recomputed exactly by the DuckDB oracle. Uniform
    * (not gaussian) components: for sign-projection LSH only the
    * direction distribution matters, and coordinate-uniform directions
    * preserve the collision-probability monotonicity the bands need.
    */
  def md5Planes(nbits: Int, dim: Int, tag: String = "rhp"): Array[Double] =
    Array.tabulate(nbits * dim) { idx =>
      val p = idx / dim; val j = idx % dim
      val h = graft.functions.Md5Util.high60(
        s"$tag:$p:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      h.toDouble / 1.152921504606846976e18 * 2.0 - 1.0
    }

  /** [[rhpSignature]] with caller-supplied planes (row-major
    * [bit][dim]) — the md5-plane oracle path and any externally
    * trained projection both enter here. */
  def rhpSignatureWith(v: Column, planes: Array[Double],
                       nbits: Int, dim: Int): Column =
    graft.functions.VectorExprs.rhpSignatureWith(v, planes, nbits, dim)

  /** LSH-bucketed approximate neighbor pairs: rows sharing a signature
    * band are candidates, verified with exact cosine ≥ `threshold`.
    * The scale path for all-pairs similarity (near-dup by embedding).
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, threshold: Double,
                        nbits: Int = 32, bands: Int = 4,
                        planes: Option[Array[Double]] = None,
                        bucketCap: Int = 100000): DataFrame = {
    // default 8-bit bands = 256 buckets/band: at high thresholds
    // (≥0.9) recall stays ~0.9 while candidate volume drops ~100×
    // versus 4-bit bands (16 buckets flood with collisions)
    val rows = nbits / bands
    val vecs = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val sigCol = planes match {
      case Some(pl) => rhpSignatureWith(col("v"), pl, nbits, dim)
      case None     => rhpSignature(col("v"), dim, nbits)
    }
    val withSig = vecs.withColumn("sig", sigCol)
    // shuffle only (id, band, bucket) — vectors re-attach after the
    // candidate pairs are deduplicated
    val banded = graft.Materialize.reuse(withSig.select(col("id"),
      posexplode(array((0 until bands).map(
        b => shiftright(col("sig"), b * rows).bitwiseAND(lit((1L << rows) - 1))): _*))
        .as(Seq("band", "bucket")))) // tiny; feeds both sides of the self-join
    // flooded-bucket salting shared with MinHash (the SimHash
    // bucketCap discipline — see Dedup.bandedPairs)
    val pairs = graft.dedup.Dedup.bandedPairs(banded, bucketCap)
    pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("sim", round(cosine(col("v_a"), col("v_b")), 4))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** LSH-bucketed approximate kNN for a bounded probe batch — the
    * query-side counterpart of [[lshCandidatePairs]]: probes and
    * corpus are RHP-signed with the SAME planes, a probe's candidates
    * are the corpus rows sharing at least one signature band bucket,
    * and candidates are re-ranked by exact cosine (the standard
    * sign-LSH search: hash → bucket probe → exact re-rank; ties break
    * on neighbor id, the [[bruteForceKnn]] contract). Probes that also
    * exist in the corpus retrieve themselves — exclude upstream if
    * unwanted.
    *
    * Scale shape: the probe band table broadcasts (bounded batch, the
    * `queryBatch` discipline), so the corpus is touched by one banding
    * scan fanned out ×`bands` with only (id, band, bucket) shuffled,
    * plus one vector re-attach of the DEDUPLICATED candidates. Unlike
    * the all-pairs path no bucketCap is needed: a flooded bucket costs
    * candidate volume LINEAR in the flood (each flooded row meets at
    * most the probe batch), never pairs quadratic in it.
    */
  def lshKnn(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, dim: Int, nbits: Int = 60,
             bands: Int = 6, planes: Option[Array[Double]] = None): DataFrame = {
    val rows = nbits / bands
    def sigOf(v: Column) = planes match {
      case Some(pl) => rhpSignatureWith(v, pl, nbits, dim)
      case None     => rhpSignature(v, dim, nbits)
    }
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val cv = graft.Materialize.reuse(corpus.select( // banding + re-attach both read it
      col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv")))
    def bandExplode(df: DataFrame, id: String, v: String) =
      df.withColumn("sig", sigOf(col(v)))
        .select(col(id),
          posexplode(array((0 until bands).map(b =>
            shiftright(col("sig"), b * rows)
              .bitwiseAND(lit((1L << rows) - 1))): _*))
            .as(Seq("band", "bucket")))
    val cands = bandExplode(cv, "neighbor_id", "cv")
      .join(broadcast(bandExplode(qv, "query_id", "qv")), Seq("band", "bucket"))
      .select("query_id", "neighbor_id").distinct()
    val scored = cands
      .join(cv, Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
  }

  /** Recall@k of an approximate kNN result against the exact ground
    * truth — THE index-quality number an ANN deployment monitors (the
    * ann-benchmarks protocol; Aumüller et al. 2020): per query,
    * `|approx ∩ truth| / |truth|` over the two (query_id, neighbor_id)
    * sets. The denominator follows the TRUTH set so short truth lists
    * (corpus smaller than k) score correctly; queries the approximate
    * index missed entirely score 0, not absent. Both inputs are
    * consumed as plain id pairs, so any member of the ANN ladder —
    * [[lshKnn]], [[IvfIndex.queryBatch]], PQ/IVFADC, the persisted
    * index — evaluates through the same contract.
    */
  def recallAtK(approx: DataFrame, truth: DataFrame): DataFrame = {
    // distinct enforces the documented SET semantics: a defective
    // index emitting the same neighbor twice must not double-count a
    // hit (nor a duplicated truth row inflate the denominator)
    val a = approx.select(col("query_id"), col("neighbor_id")).distinct()
    val t = truth.select(col("query_id"), col("neighbor_id")).distinct()
    t.join(a.withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_true"), count(col("__hit")).as("hits"))
      .select(col("query_id"), col("n_true"), col("hits"),
        (col("hits").cast("double") / col("n_true")).as("recall"))
  }

  /** IVF index: k-means centroids fitted driver-side on a bounded
    * sample, assignment + probing distributed. The standard
    * billion-vector layout: partition the corpus by centroid id, scan
    * only `nprobe` inverted lists per query.
    */
  final class IvfIndex(val centroids: Array[Array[Double]]) extends Serializable {

    /** L2-normalized centroids — the per-list reference vectors for
      * residual PQ encoding ([[PqIndex.encodeResiduals]]): vectors are
      * scored in normalized (cosine) space, so the residual must be
      * taken against the centroid's image in that same space. */
    lazy val normalizedCentroids: Array[Array[Double]] = centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c.clone() else c.map(_ / n)
    }

    /** [[normalizedCentroids]] flattened row-major [centroid][dim] for
      * the codegen'd [[graft.functions.VectorExprs.residual]] kernel. */
    lazy val normalizedCentroidsFlat: Array[Double] = normalizedCentroids.flatten

    /** Corpus with its inverted-list assignment (persist/partition by
      * `centroid` for repeated querying). Assignment is the native
      * [[graft.functions.NearestCentroid]] kernel — one codegen'd
      * argmin loop per vector. */
    def assign(corpus: DataFrame, vecCol: String): DataFrame = {
      val dim = centroids(0).length
      corpus.withColumn("centroid",
        org.apache.spark.sql.GraftSqlShims.column(
          graft.functions.NearestCentroid(
            org.apache.spark.sql.GraftSqlShims.expression(
              col(vecCol).cast("array<double>")),
            centroids.flatten, centroids.length, dim)))
    }

    def nearestCentroids(v: Seq[Double], nprobe: Int): Seq[Int] =
      centroids.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < v.length) { val t = v(j) - c(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy(_._1).take(nprobe).map(_._2).toSeq

    /** Approximate top-k for one query vector: scan only the `nprobe`
      * nearest inverted lists (partition-pruned when the assigned
      * corpus is partitioned by `centroid`). */
    def query(assigned: DataFrame, idCol: String, vecCol: String,
              qv: Seq[Double], k: Int, nprobe: Int): DataFrame = {
      val probes = nearestCentroids(qv, nprobe)
      val qvCol = array(qv.map(lit): _*)
      assigned.filter(col("centroid").isin(probes: _*))
        .withColumn("sim", cosine(col(vecCol).cast("array<double>"), qvCol))
        .orderBy(col("sim").desc, col(idCol))
        .select(col(idCol).as("neighbor_id"), round(col("sim"), 4).as("sim"))
        .limit(k)
    }

    /** Batched approximate top-k: probe lists are chosen driver-side
      * per query (centroids are driver-resident by construction), then
      * ONE distributed job joins the exploded (query, probe) table
      * against the assigned corpus on `centroid` — each query scans
      * only its `nprobe` inverted lists, and the per-query top-k is a
      * bounded window over those lists. The broadcast side is
      * queries × nprobe rows; the corpus side stays partitioned. */
    def queryBatch(assigned: DataFrame,
                   idCol: String, vecCol: String,
                   queries: Seq[(Long, Seq[Double])],
                   k: Int, nprobe: Int): DataFrame = {
      val spark = assigned.sparkSession
      import spark.implicits._
      val probeRows = queries.flatMap { case (qid, qv) =>
        nearestCentroids(qv, nprobe).map(c => (qid, qv, c))
      }.toDF("query_id", "qv", "centroid")
      assigned
        .join(broadcast(probeRows), Seq("centroid"))
        .filter(col(idCol) =!= col("query_id"))
        .withColumn("sim", cosine(col(vecCol).cast("array<double>"), col("qv")))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("sim").desc, col(idCol))))
        .filter(col("__rn") <= k)
        .select(col("query_id"), col(idCol).as("neighbor_id"),
          round(col("sim"), 4).as("sim"))
    }
  }

  /** Product quantization (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): the vector splits into `m`
    * subvectors, each quantized to one of `k` per-subspace centroids,
    * so a 64-dim float vector compresses to `m` small codes and
    * query-time scoring is Asymmetric Distance Computation — a
    * per-query lookup table of subspace dot products, summed by code.
    * Completes the ANN ladder: brute (n1) → LSH (n2) → IVF (n4) →
    * PQ-compressed scan with exact re-rank (n5).
    *
    * Scale shape: codebooks are driver-bounded (m·k·subDim doubles,
    * KBs); encode is map-only (one [[graft.functions.NearestCentroid]]
    * argmin per subspace inside codegen); a query batch broadcasts
    * (query, ADC table) rows against the encoded corpus — the corpus
    * side streams compressed codes (m bytes/vector instead of the
    * raw embedding), the ADC shortlist is a bounded per-query top-S
    * window, and only shortlisted ids fetch their raw vectors for the
    * EXACT cosine re-rank (the standard offline-compress /
    * online-rerank split; at 10¹¹ vectors the scored scan moves ~m
    * bytes/vector instead of 4·dim).
    */
  final class PqIndex(val codebooks: Array[Array[Array[Double]]])
      extends Serializable {
    val m: Int = codebooks.length
    val k: Int = codebooks(0).length
    val subDim: Int = codebooks(0)(0).length

    /** L2-normalize, then attach `code_0..code_{m-1}` int codes —
      * map-only, one codegen'd argmin per subspace. */
    def encode(corpus: DataFrame, vecCol: String): DataFrame = {
      val normalized = corpus.withColumn("__nv",
        l2Normalize(col(vecCol).cast("array<double>")))
      codebooks.zipWithIndex.foldLeft(normalized) { case (df, (cb, mi)) =>
        df.withColumn(s"code_$mi",
          org.apache.spark.sql.GraftSqlShims.column(
            graft.functions.NearestCentroid(
              org.apache.spark.sql.GraftSqlShims.expression(
                slice(col("__nv"), mi * subDim + 1, subDim)),
              cb.flatten, k, subDim)))
      }.drop("__nv")
    }

    /** Residual encode (Jégou et al. 2011 §V, IVFADC proper): codes
      * quantize r = normalize(x) − ĉ_list instead of the raw vector.
      * Residuals concentrate around the origin — the same m×k code
      * budget spends its centroids on the (small) within-list spread
      * rather than the whole corpus span, so ADC approximates the true
      * score materially better on clustered data (spec-demonstrated).
      * `assigned` must already carry the IVF `centroid` column; the
      * residual is one fused codegen kernel per row
      * ([[graft.functions.VectorExprs.residual]]), then one codegen'd
      * argmin per subspace — map-only, like the raw encode. */
    def encodeResiduals(assigned: DataFrame, vecCol: String,
                        ivf: IvfIndex): DataFrame = {
      val dim = m * subDim
      val withRes = assigned.withColumn("__res",
        graft.functions.VectorExprs.residual(
          col(vecCol).cast("array<double>"), col("centroid"),
          ivf.normalizedCentroidsFlat, ivf.centroids.length, dim))
      codebooks.zipWithIndex.foldLeft(withRes) { case (df, (cb, mi)) =>
        df.withColumn(s"code_$mi",
          org.apache.spark.sql.GraftSqlShims.column(
            graft.functions.NearestCentroid(
              org.apache.spark.sql.GraftSqlShims.expression(
                slice(col("__res"), mi * subDim + 1, subDim)),
              cb.flatten, k, subDim)))
      }.drop("__res")
    }

    /** ADC lookup table for one normalized query: flat [m·k] array of
      * subspace dot products — Σ_m table(m·k + code_m) ≈ cosine.
      * (package-visible: [[Similarity.ivfPqQueryBatch]] reuses it.) */
    private[similarity] def adcTable(qn: Array[Double]): Array[Double] = {
      val t = new Array[Double](m * k)
      for (mi <- 0 until m; ki <- 0 until k) {
        var d = 0.0
        var j = 0
        while (j < subDim) {
          d += qn(mi * subDim + j) * codebooks(mi)(ki)(j); j += 1
        }
        t(mi * k + ki) = d
      }
      t
    }

    /** Batched approximate top-`kOut`: ONE distributed job — ADC
      * tables broadcast, compressed-code scan scores every vector,
      * per-query top-`shortlist` window, then the shortlist re-ranks
      * by EXACT cosine on the raw vectors. Output matches n4's shape:
      * (query_id, neighbor_id, sim) with `sim` exact. */
    def queryBatch(encoded: DataFrame, idCol: String, vecCol: String,
                   queries: Seq[(Long, Seq[Double])], kOut: Int,
                   shortlist: Int = 32): DataFrame = {
      val spark = encoded.sparkSession
      import spark.implicits._
      val qtab = queries.map { case (qid, qv) =>
        val n = math.sqrt(qv.map(x => x * x).sum)
        (qid, adcTable(qv.map(_ / n).toArray).toSeq, qv)
      }.toDF("query_id", "qtab", "qv")
      val codes = array((0 until m).map(mi => col(s"code_$mi")): _*)
      val adc = (0 until m).map(mi =>
        element_at(col("qtab"), col(s"code_$mi") + lit(mi * k) + 1))
        .reduce(_ + _)
      encoded.crossJoin(broadcast(qtab))
        .filter(col(idCol) =!= col("query_id"))
        .withColumn("__adc", adc)
        .withColumn("__rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("__adc").desc, col(idCol))))
        .filter(col("__rn") <= shortlist)
        .withColumn("sim", cosine(col(vecCol).cast("array<double>"), col("qv")))
        .withColumn("__rx", row_number().over(
          Window.partitionBy("query_id").orderBy(col("sim").desc, col(idCol))))
        .filter(col("__rx") <= kOut)
        .select(col("query_id"), col(idCol).as("neighbor_id"),
          round(col("sim"), 4).as("sim"))
    }
  }

  /** IVF × PQ — the production ANN shape (Jégou et al. 2011 §V,
    * "IVFADC"): IVF partition-prunes the scan to `nprobe` inverted
    * lists per query, PQ's ADC scores the survivors on compressed
    * codes, and only the per-query shortlist fetches raw vectors for
    * the EXACT cosine re-rank. SCALE.md's promised composition — both
    * halves already existed ([[IvfIndex]] n4, [[PqIndex]] n5); this
    * joins them end to end.
    *
    * Corpus layout: `ivf.assign(pq.encode(corpus))` — `centroid` for
    * pruning plus `code_0..m-1` for scoring, both map-only codegen'd
    * kernels; partition/bucket the stored corpus by `centroid` so the
    * probe join prunes at the source. Per query the broadcast side
    * carries nprobe rows × (ADC table of m·k doubles) — KBs. At 10¹¹
    * vectors the scored scan touches nprobe/k_lists of the corpus and
    * moves m bytes/vector; nothing else leaves the executors.
    */
  def ivfPqQueryBatch(ivf: IvfIndex, pq: PqIndex, assignedEncoded: DataFrame,
                      idCol: String, vecCol: String,
                      queries: Seq[(Long, Seq[Double])],
                      kOut: Int, nprobe: Int,
                      shortlist: Int = 32): DataFrame = {
    val spark = assignedEncoded.sparkSession
    import spark.implicits._
    // probe selection + ADC tables are driver-side by construction
    // (centroids and codebooks are KB-bounded); one row per (query,
    // probed list) broadcasts
    val probeRows = queries.flatMap { case (qid, qv) =>
      val n = math.sqrt(qv.map(x => x * x).sum)
      val tab = pq.adcTable(qv.map(_ / n).toArray).toSeq
      ivf.nearestCentroids(qv, nprobe).map(c => (qid, tab, qv, c))
    }.toDF("query_id", "qtab", "qv", "centroid")
    adcPipeline(assignedEncoded, idCol, vecCol, probeRows,
      adcSum(pq), kOut, shortlist)
  }

  /** Σ_m qtab[m·k + code_m] — the shared subspace-table ADC score. */
  private def adcSum(pq: PqIndex): Column =
    (0 until pq.m).map(mi =>
      element_at(col("qtab"), col(s"code_$mi") + lit(mi * pq.k) + 1))
      .reduce(_ + _)

  /** Shared IVF×PQ tail (raw [[ivfPqQueryBatch]] and residual
    * [[ivfAdcQueryBatch]] differ ONLY in their probe rows and ADC
    * score): broadcast probe join = the IVF prune, ADC compressed
    * scan, bounded per-query shortlist, exact cosine re-rank. */
  private def adcPipeline(assignedEncoded: DataFrame, idCol: String,
                          vecCol: String, probeRows: DataFrame,
                          adcScore: Column, kOut: Int,
                          shortlist: Int): DataFrame =
    assignedEncoded
      .join(broadcast(probeRows), Seq("centroid")) // the IVF prune
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("__adc", adcScore)               // the compressed scan
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__adc").desc, col(idCol))))
      .filter(col("__rn") <= shortlist)            // bounded shortlist
      .withColumn("sim", cosine(col(vecCol).cast("array<double>"), col("qv")))
      .withColumn("__rx", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col(idCol))))
      .filter(col("__rx") <= kOut)                 // exact re-rank
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(col("sim"), 4).as("sim"))

  /** IVFADC with RESIDUAL codes (Jégou et al. 2011 §V proper —
    * [[ivfPqQueryBatch]] is the raw-vector variant kept for the n5
    * lineage): the corpus carries codes for r = normalize(x) − ĉ_list
    * ([[PqIndex.encodeResiduals]]), and scoring uses the inner-product
    * factorization of Jégou's per-list lookup table. With
    * x̂ = ĉ_l + r̂,   qn·x̂ = qn·ĉ_l + Σ_m qn_sub·cb_m[code_m]
    * — the subspace table is list-INdependent (codebooks are shared
    * across lists), and the list dependence collapses to one scalar
    * offset qn·ĉ_l per (query, probed list). The broadcast side is
    * therefore the same per-(query,list) probe rows as before plus one
    * double; everything else — partition-pruned probe join, compressed
    * scan, bounded shortlist, EXACT cosine re-rank — is unchanged.
    * Residuals concentrate quantization error near the origin, so the
    * same m×k budget ranks clustered corpora materially better
    * (recall spec in SimilaritySpec demonstrates it; the exact re-rank
    * keeps output sims true either way).
    */
  def ivfAdcQueryBatch(ivf: IvfIndex, pq: PqIndex, assignedEncoded: DataFrame,
                       idCol: String, vecCol: String,
                       queries: Seq[(Long, Seq[Double])],
                       kOut: Int, nprobe: Int,
                       shortlist: Int = 32): DataFrame = {
    val spark = assignedEncoded.sparkSession
    import spark.implicits._
    val probeRows = queries.flatMap { case (qid, qv) =>
      val n = math.sqrt(qv.map(x => x * x).sum)
      val qn = qv.map(_ / n).toArray
      val tab = pq.adcTable(qn).toSeq
      ivf.nearestCentroids(qv, nprobe).map { c =>
        val cn = ivf.normalizedCentroids(c)
        var off = 0.0; var i = 0
        while (i < qn.length) { off += qn(i) * cn(i); i += 1 }
        (qid, tab, off, qv, c)
      }
    }.toDF("query_id", "qtab", "qoff", "qv", "centroid")
    adcPipeline(assignedEncoded, idCol, vecCol, probeRows,
      col("qoff") + adcSum(pq), kOut, shortlist)
  }

  object PqIndex {

    /** Persist the codebooks as a tiny parquet table (subspace,
      * centroid id, components) — the PQ half of the offline-build /
      * online-query split [[IvfIndex.save]] already provides for the
      * coarse quantizer. An IVFADC index over a 10¹¹-row corpus is
      * exactly: these codebooks + the IVF centroids + the corpus
      * stored with (centroid, code_0..m-1) columns. Works identically
      * for raw and residual codebooks (a codebook is just centroids;
      * residual-ness lives in how encode/query call sites use it). */
    def save(idx: PqIndex, spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      (for {
        mi <- idx.codebooks.indices
        ki <- idx.codebooks(mi).indices
      } yield (mi, ki, idx.codebooks(mi)(ki).toSeq))
        .toDF("subspace", "centroid", "components")
        .repartition(1).write.mode("overwrite").parquet(path)
    }

    def load(spark: SparkSession, path: String): PqIndex = {
      val rows = spark.read.parquet(path)
        .orderBy("subspace", "centroid")
        .collect() // bounded: m·k codebook rows (KBs)
      require(rows.nonEmpty, s"empty PQ codebook store at $path")
      val m = rows.map(_.getInt(0)).max + 1
      val codebooks = Array.tabulate(m) { mi =>
        rows.filter(_.getInt(0) == mi).map(_.getSeq[Double](2).toArray)
      }
      // save() writes exactly m·k equal-dim rows; anything else is a
      // partial/corrupt store — fail loudly HERE, not as an index
      // error deep inside encode/adcTable at query time
      val k0 = codebooks(0).length
      require(k0 > 0 && codebooks.forall(_.length == k0) &&
        rows.length == m * k0,
        s"corrupt PQ codebook store at $path: expected $m x $k0 " +
          s"equal-sized subspaces, found ${rows.length} rows " +
          s"(per-subspace counts: ${codebooks.map(_.length).mkString(",")})")
      val d0 = codebooks(0)(0).length
      require(codebooks.forall(_.forall(_.length == d0)),
        s"corrupt PQ codebook store at $path: ragged component arrays")
      new PqIndex(codebooks)
    }

    /** Per-subspace Lloyd's on a bounded driver sample (the IvfIndex
      * discipline: deterministic hash-ordered sample, spaced seeding).
      */
    def fit(df: DataFrame, vecCol: String, m: Int, k: Int,
            sampleSize: Int = 2000, iters: Int = 8, seed: Long = 42): PqIndex = {
      val sample = df.select(
        l2Normalize(col(vecCol).cast("array<double>")).as("v"))
        .orderBy(xxhash64(col("v"), lit(seed)))
        .limit(sampleSize)
        .collect().map(_.getSeq[Double](0).toArray)
      fromSample(sample, m, k, iters)
    }

    /** Fit per-subspace codebooks on RESIDUALS x − ĉ_list (Jégou §V):
      * the sample pairs each normalized vector with its assigned list's
      * normalized centroid and quantizes the difference. Bounded like
      * [[fit]]: `sampleSize` rows collect. `assigned` must carry the
      * IVF `centroid` column. */
    def fitResiduals(assigned: DataFrame, vecCol: String, ivf: IvfIndex,
                     m: Int, k: Int, sampleSize: Int = 2000,
                     iters: Int = 8, seed: Long = 42): PqIndex = {
      val rows = assigned.select(col("centroid"),
        l2Normalize(col(vecCol).cast("array<double>")).as("v"))
        .orderBy(xxhash64(col("v"), lit(seed)))
        .limit(sampleSize)
        .collect()
      val sample = rows.map { r =>
        val c = ivf.normalizedCentroids(r.getInt(0))
        val v = r.getSeq[Double](1).toArray
        val res = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { res(i) = v(i) - c(i); i += 1 }
        res
      }
      fromSample(sample, m, k, iters)
    }

    /** Shared per-subspace Lloyd's (spaced seeding) over a driver-side
      * sample — raw vectors and residuals both enter here. */
    private def fromSample(sample: Array[Array[Double]], m: Int, k: Int,
                           iters: Int): PqIndex = {
      require(sample.nonEmpty, "empty corpus")
      val dim = sample(0).length
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val subDim = dim / m
      val codebooks = (0 until m).map { mi =>
        val sub = sample.map(v =>
          java.util.Arrays.copyOfRange(v, mi * subDim, (mi + 1) * subDim))
        var centroids = sub.grouped(math.max(sub.length / k, 1))
          .map(_.head).take(k).toArray
        for (_ <- 0 until iters) {
          val sums = Array.fill(centroids.length)(new Array[Double](subDim))
          val counts = new Array[Long](centroids.length)
          sub.foreach { v =>
            var best = 0; var bestD = Double.MaxValue
            for (c <- centroids.indices) {
              var d = 0.0; var i = 0
              while (i < subDim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
              if (d < bestD) { bestD = d; best = c }
            }
            counts(best) += 1
            var i = 0
            while (i < subDim) { sums(best)(i) += v(i); i += 1 }
          }
          centroids = centroids.indices.map { c =>
            if (counts(c) == 0) centroids(c)
            else sums(c).map(_ / counts(c))
          }.toArray
        }
        centroids
      }.toArray
      new PqIndex(codebooks)
    }
  }

  /** Persisted IVFADC index lifecycle with INCREMENTAL maintenance —
    * the operational path n8 stops short of: at 10¹¹ vectors,
    * re-fitting quantizers and re-encoding the whole corpus on every
    * ingest batch is the dominant cost of running an ANN service, and
    * the standard practice (Jégou-style IVF deployments) is to keep
    * the trained coarse centroids + PQ codebooks FROZEN, assign/encode
    * only the delta, and re-train once accumulated drift justifies it.
    *
    * Layout under `path`: `ivf/` (coarse centroids, KBs), `pq/`
    * (codebooks, KBs), `corpus/` (assigned + residual-encoded vectors
    * — the only O(n) piece), `meta/` (1 row: corpus size at fit time,
    * rows appended since).
    *
    * Shape for scale: [[append]] is ONE map-only assign+encode pass
    * over the delta plus a parquet partition append — the existing
    * corpus is never read, rewritten, or shuffled, and driver contact
    * is the KB-bounded quantizers plus the 1-row meta. The drift
    * counter makes the refit decision explicit and cheap (no corpus
    * scan to decide); [[refit]] is the full rebuild, reading the
    * stored raw vectors back.
    */
  object PersistedIndex {
    final case class Handle(ivf: IvfIndex, pq: PqIndex, path: String)
    final case class AppendResult(drift: Double, needsRefit: Boolean,
                                  nSkippedTombstoned: Long = 0L)

    private def writeMeta(spark: SparkSession, path: String,
                          nBase: Long, nAppended: Long): Unit = {
      import spark.implicits._
      Seq((nBase, nAppended)).toDF("n_base", "n_appended")
        .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
    }

    private def readMeta(spark: SparkSession, path: String): (Long, Long) = {
      val r = spark.read.parquet(s"$path/meta").head
      (r.getLong(0), r.getLong(1))
    }

    /** Offline build: fit coarse + residual quantizers, persist both,
      * encode and store the corpus, zero the drift counter. */
    def build(corpus: DataFrame, idCol: String, vecCol: String,
              path: String, kLists: Int, m: Int, kCodes: Int): Handle = {
      val spark = corpus.sparkSession
      val ivf = IvfIndex.fit(corpus, vecCol, kLists)
      val assigned = ivf.assign(corpus, vecCol)
      val pq = PqIndex.fitResiduals(assigned, vecCol, ivf, m, kCodes)
      IvfIndex.save(ivf, spark, s"$path/ivf")
      PqIndex.save(pq, spark, s"$path/pq")
      pq.encodeResiduals(assigned, vecCol, ivf)
        .write.mode("overwrite").parquet(s"$path/corpus")
      writeMeta(spark, path, corpus.count(), 0L)
      Handle(ivf, pq, path)
    }

    def load(spark: SparkSession, path: String): Handle =
      Handle(IvfIndex.load(spark, s"$path/ivf"),
        PqIndex.load(spark, s"$path/pq"), path)

    /** The stored corpus (assigned + encoded + raw vectors) — the RAW
      * store, including rows that have tombstones pending. Query paths
      * use [[liveCorpus]]. */
    def corpus(spark: SparkSession, path: String): DataFrame =
      spark.read.parquet(s"$path/corpus")

    private def tombstonePath(path: String) =
      new org.apache.hadoop.fs.Path(s"$path/tombstones")

    /** Ids pending deletion (empty frame when none were ever deleted). */
    def tombstones(spark: SparkSession, path: String): DataFrame = {
      val p = tombstonePath(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) spark.read.parquet(p.toString)
      else spark.emptyDataFrame.select(lit(0L).as("id")).limit(0)
    }

    /** Takedown / right-to-erasure for a persisted index (n10): write
      * the ids to a tombstone partition under the index lease — a
      * delta-sized append; the encoded corpus is NOT rewritten (at
      * 10¹¹ rows a physical delete would re-shuffle the store to drop
      * a handful of ids). [[liveCorpus]] anti-joins tombstones into
      * every query's scan side, so deleted rows can never be returned
      * the moment this call completes; [[refit]] folds tombstones into
      * the physical store (the compaction point).
      */
    def delete(ids: DataFrame, idCol: String, path: String): Unit = {
      val spark = ids.sparkSession
      graft.store.WriteLease.withLease(spark, path, "index-delete") {
        ids.select(col(idCol).cast("long").as("id")).distinct()
          .write.mode("append").parquet(tombstonePath(path).toString)
      }
    }

    /** The corpus minus tombstoned rows — the scan side every query
      * should use. The tombstone set is a sliver (AQE broadcasts it),
      * so the anti-join adds no exchange of the store. */
    def liveCorpus(spark: SparkSession, path: String,
                   idCol: String): DataFrame =
      corpus(spark, path).join(
        tombstones(spark, path).select(col("id").as(idCol)),
        Seq(idCol), "left_anti")

    /** Append `delta` WITHOUT refit: assign to the EXISTING centroids,
      * encode residuals with the EXISTING codebooks, append to the
      * corpus store, bump the drift counter. Returns the accumulated
      * drift fraction (appended / fitted-size) and whether it crossed
      * `refitAt` — the caller schedules [[refit]]; appends stay
      * correct either way (quantizers only affect recall/compression,
      * never the exact re-ranked scores).
      *
      * Leased on the index root (the store discipline): two concurrent
      * appenders would each read the drift meta and overwrite the
      * other's increment — the second writer throws
      * [[graft.store.ConcurrentWriteException]] instead, and [[refit]]
      * contends on the SAME lock, so an append can never interleave
      * with a quantizer swap.
      *
      * IDEMPOTENT BY ID (advisor r11): the delta is deduplicated on
      * `idCol` and anti-joined against the stored corpus's id column
      * before anything is written, so duplicate ids within a delta,
      * and a RETRIED append after a crash between the meta write and
      * the corpus write, can never land a row twice (duplicated rows
      * would surface as repeated ids in top-k results). The anti-join
      * reads one id column of the store — pruned-scan cost, no
      * shuffle of the store (AQE broadcasts the small delta). Drift
      * counts only rows actually appended.
      *
      * TOMBSTONED IDS ARE FROZEN UNTIL REFIT (advisor r12): a delta
      * carrying an id with a pending tombstone fails LOUDLY instead of
      * being silently discarded by the store anti-join (the physical
      * row still exists, so re-encoding it would double the id; merely
      * clearing the tombstone would resurrect the OLD vector while
      * silently dropping the new one). The remedy is [[refit]] — the
      * compaction point where deleted rows leave the physical store —
      * after which the id appends normally. Set `skipTombstoned` to
      * drop such rows instead (the streaming-sink policy, where one
      * poisoned row must not kill the query; the skip count is
      * surfaced in the result, never silent).
      */
    final case class TombstonedIdsException(n: Long, path: String)
        extends IllegalArgumentException(
          s"$n delta id(s) have pending tombstones in index $path: " +
            "tombstoned ids are frozen until refit() compacts them out " +
            "of the physical store; refit first (or pass " +
            "skipTombstoned = true to drop these rows explicitly)")

    def append(delta: DataFrame, idCol: String, vecCol: String,
               path: String, refitAt: Double = 0.5,
               skipTombstoned: Boolean = false): AppendResult = {
      val spark = delta.sparkSession
      graft.store.WriteLease.withLease(spark, path, "index-append") {
        val h = load(spark, path)
        val dedup = delta.dropDuplicates(idCol)
        // tombstone probe: read the (sliver) table ONCE, and skip the
        // semi-join count job entirely in the common no-tombstone case
        // — the per-micro-batch hot path of the streaming ingest sink
        // (review r13)
        val tombP = tombstonePath(path)
        val hasTomb = tombP.getFileSystem(
          spark.sparkContext.hadoopConfiguration).exists(tombP)
        val tomb =
          if (hasTomb) tombstones(spark, path).select(col("id").as(idCol))
          else null
        val nTomb = if (hasTomb)
          dedup.join(tomb, Seq(idCol), "left_semi").count() else 0L
        if (nTomb > 0 && !skipTombstoned)
          throw TombstonedIdsException(nTomb, path)
        val live = if (nTomb == 0) dedup
          else dedup.join(tomb, Seq(idCol), "left_anti")
        // fresh = delta minus ids already stored; lineage TRUNCATED
        // (not just persisted) because it reads the same corpus dir
        // the append below writes to — a lineage recompute during the
        // write would re-scan the dir mid-append and could see the
        // partially appended files
        val fresh = graft.Materialize.truncate(
          live.join(corpus(spark, path).select(col(idCol)),
              Seq(idCol), "left_anti"))
        // drift counter FIRST, corpus append second: a crash between
        // the two then OVER-counts drift (an early refit — harmless),
        // never under-counts it (a silently delayed refit would leave
        // quantizer staleness unbounded)
        val (nBase, nApp) = readMeta(spark, path)
        val nApp2 = nApp + fresh.count()
        writeMeta(spark, path, nBase, nApp2)
        h.pq.encodeResiduals(h.ivf.assign(fresh, vecCol), vecCol, h.ivf)
          .write.mode("append").parquet(s"$path/corpus")
        val drift = nApp2.toDouble / math.max(nBase, 1L)
        AppendResult(drift, needsRefit = drift >= refitAt,
          nSkippedTombstoned = nTomb)
      }
    }

    /** Full re-train on the CURRENT LIVE corpus (what a tripped drift
      * counter asks for): read the raw vectors back MINUS tombstoned
      * rows (refit is the compaction point — deleted ids leave the
      * physical store here, and the rebuilt root carries no tombstone
      * partition), rebuild quantizers, re-encode, reset the counter.
      * The WHOLE index — quantizers, encoded corpus, AND meta —
      * rebuilds into a `.__tmp` sibling and swaps in atomically under
      * the index-root lease
      * ([[graft.store.WriteLease.stageAndSwap]]): a crashed refit
      * leaves the old index fully intact, and there is no window
      * where new codes sit beside old codebooks (a corpus-only swap
      * would have exactly that window — codes and codebooks must
      * change together or ADC ranks garbage). All reads of the old
      * index complete inside the staging callback, before any rename.
      */
    def refit(spark: SparkSession, path: String, idCol: String,
              vecCol: String, kLists: Int, m: Int, kCodes: Int): Handle = {
      val dest = new org.apache.hadoop.fs.Path(path)
      val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var rebuilt: Handle = null
      graft.store.WriteLease.stageAndSwap(fs, dest, "index-refit",
        "ANN index") { tmp =>
        val raw = liveCorpus(spark, path, idCol).select(col(idCol), col(vecCol))
        rebuilt = build(raw, idCol, vecCol, tmp.toString, kLists, m, kCodes)
      }
      Handle(rebuilt.ivf, rebuilt.pq, path)
    }
  }

  object IvfIndex {

    /** Persist the fitted centroids as a tiny parquet table
      * (centroid id, component array) — an IVF index over a 10¹¹-row
      * corpus is just these centroids plus the corpus partitioned by
      * `centroid`, so save/load makes the index reusable across
      * sessions without refitting (standard offline-build/online-query
      * split). */
    def save(idx: IvfIndex, spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      idx.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("centroid", "components")
        .repartition(1).write.mode("overwrite").parquet(path)
    }

    def load(spark: SparkSession, path: String): IvfIndex = {
      val rows = spark.read.parquet(path)
        .orderBy("centroid")
        .collect() // bounded: k centroid rows
      new IvfIndex(rows.map(_.getSeq[Double](1).toArray))
    }

    /** Fit k-means on a driver-side sample (Lloyd's, kmeans++-ish
      * seeding by spaced picks). Bounded: `sampleSize` rows collected.
      */
    def fit(df: DataFrame, vecCol: String, k: Int,
            sampleSize: Int = 2000, iters: Int = 8, seed: Long = 42): IvfIndex = {
      val sample = df.select(col(vecCol).cast("array<double>"))
        .orderBy(xxhash64(col(vecCol), lit(seed)))
        .limit(sampleSize)
        .collect().map(_.getSeq[Double](0).toArray)
      require(sample.nonEmpty, "empty corpus")
      val dim = sample(0).length
      var centroids = sample.grouped(math.max(sample.length / k, 1))
        .map(_.head).take(k).toArray
      for (_ <- 0 until iters) {
        val sums = Array.fill(centroids.length)(new Array[Double](dim))
        val counts = new Array[Long](centroids.length)
        sample.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          for (c <- centroids.indices) {
            var d = 0.0; var i = 0
            while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
          }
          counts(best) += 1
          var i = 0
          while (i < dim) { sums(best)(i) += v(i); i += 1 }
        }
        centroids = centroids.indices.map { c =>
          if (counts(c) == 0) centroids(c)
          else sums(c).map(_ / counts(c))
        }.toArray
      }
      new IvfIndex(centroids)
    }
  }
}
