package graft.dedup

import graft.functions.TextFns
import graft.store.{BucketedTable, WriteLease}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental cross-snapshot deduplication: dedup a NEW crawl delta
  * against an EXISTING harvested corpus without re-scanning all pairs
  * — the monthly-crawl-refresh shape every production pipeline runs
  * (the reference's harvesting loop merges new runs into an on-disk
  * store the same way, `manage.py` merge/sync; here the store carries
  * the dedup side-indexes a 100 TB refresh needs).
  *
  * Four catalog tables, all written ONCE at corpus build and reused by
  * every delta (each a [[graft.store.BucketedTable]] — bucketed+sorted
  * tables join/aggregate store-side with NO exchange):
  *
  *  - `<prefix>_corpus`  (doc_id, <keep cols>, fp): the surviving
  *    corpus rows, bucketed by fp.
  *  - `<prefix>_seen`    (id, fp), bucketed by fp: the exact-dedup
  *    census over every doc the pipeline has ACCEPTED INTO THE EXACT
  *    STAGE so far (exact survivors — includes docs later dropped as
  *    near-dups; a delta doc equal to either must still drop).
  *  - `<prefix>_sigs`    (id, band, bucket), bucketed by (band,
  *    bucket): MinHash band buckets of the same population — the
  *    delta's banded join probes these without touching corpus text.
  *  - `<prefix>_shingles` (id, h array<long>), bucketed by id: hashed
  *    shingle sets for exact-Jaccard verification of cross pairs.
  *    ~1% the corpus size (the d2/d3 materialization argument).
  *
  * [[ingestDelta]] touches ONLY the three side tables — the stored
  * corpus is never re-read, re-tokenized, or re-shingled (spec-pinned:
  * dropping the corpus table does not affect delta dedup). Per-delta
  * cost is O(|delta| + matched buckets), not O(|store|).
  *
  * Survivor-set contract (the d11 oracle): with store ids < delta ids
  * (crawl ids are monotone across snapshots), `ingestDelta` returns
  * EXACTLY the delta rows a from-scratch run of the same pipeline
  * (exact keep-first per fingerprint, then near-dup connected
  * components keeping each cluster's min id) over store ∪ delta would
  * keep. Sketch: a delta doc is dropped from-scratch iff its CC
  * cluster contains a smaller id; every delta→store path's first
  * store contact is a cross edge the incremental graph also has, so
  * the two graphs agree on "cluster contains a store id", and
  * delta-only clusters have identical edges. Store-internal edges only
  * merge clusters that already drop their delta members.
  */
final class DedupSnapshot(val spark: SparkSession, val prefix: String,
                          val nBuckets: Int = 8, val n: Int = 3,
                          val bands: Int = 16, val rows: Int = 4,
                          val threshold: Double = 0.8,
                          val bucketCap: Int = 100000) {
  private def table(name: String, keys: String*) =
    new BucketedTable(spark, s"${prefix}_$name", keys, nBuckets)
  private val corpusT = table("corpus", "fp")
  private val seenT = table("seen", "fp")
  private val sigsT = table("sigs", "band", "bucket")
  private val shinglesT = table("shingles", "id")
  private val tombsT = table("tombs", "id")

  /** Single-writer lease over all five tables (the store contract): a
    * concurrent build/commit fails loudly, never silently interleaves. */
  private val lease =
    BucketedTable.inWarehouse(spark, s"graft-snap-$prefix").toString

  def corpus(): DataFrame = corpusT.load()

  /** The pending tombstone ids `(id)` — empty until a [[takedown]],
    * cleared by the next [[writeCorpus]] rebuild. Public so a release
    * AUDIT (cp9) can count erased ids in downstream artifacts — the
    * check a data-protection officer actually asks for. */
  def tombstones(): DataFrame =
    if (tombsT.exists) tombsT.load()
    else spark.range(0).select(col("id"))

  /** [[corpus]] minus tombstoned ids — the read every consumer should
    * use after any [[takedown]]; `idCol` names the id column the
    * corpus was written with. */
  def liveCorpus(idCol: String): DataFrame =
    minusTombs(corpusT.load(), idCol)

  /** Right-to-erasure for the SNAPSHOT (d15) — the n10 contract
    * applied to the dedup store: deletion is a delta-sized tombstone
    * append under the lease (never a store rewrite — at 10¹¹ rows a
    * physical delete re-shuffles four tables to drop a handful of
    * ids), and every subsequent read — [[liveCorpus]] and ALL of
    * [[ingestDelta]]'s side-table probes — anti-joins the tombstone
    * sliver (broadcast at any realistic takedown size). A removed
    * doc therefore vanishes from dedup memory: an identical or
    * near-identical delta doc arriving later SURVIVES ingestion
    * instead of being dropped against the erased row.
    *
    * Fidelity boundary (stated, the n10 refit discipline): the
    * snapshot persists only exact-stage KEEPERS, so a store doc that
    * was an exact twin of a removed keeper (dropped at build, its
    * text never persisted) is NOT resurrected as the fp's new census
    * row until the next full [[writeCorpus]] rebuild — the
    * compaction point, which also clears the tombstone table.
    * Near-dup memory has no such gap: near-dup-dropped docs DO keep
    * their sigs/shingles rows, so only the removed ids' own rows
    * leave the candidate space.
    */
  def takedown(ids: DataFrame, idCol: String): Unit =
    WriteLease.withLease(spark, lease, "snapshot-takedown") {
      // id stored AS WRITTEN — a long cast would NULL out string ids
      // and the anti-join would silently erase nothing (review r13)
      if (!tombsT.exists) tombsT.drop() // an earlier session's location
      tombsT.write(ids.select(col(idCol).as("id")).distinct(), SaveMode.Append)
    }

  /** Anti-join the tombstone sliver (no-op when none exists). */
  private def minusTombs(df: DataFrame, idName: String): DataFrame =
    if (!tombsT.exists) df
    else df.join(
      broadcast(tombsT.load().select(col("id").as(idName))),
      Seq(idName), "left_anti")

  /** Full (re)build: run the complete dedup pipeline over `docs` and
    * persist corpus + side tables. One shingle pass: the (id, h) stage
    * feeds the signature banding, the pair verification, AND the
    * persisted shingle table.
    */
  def writeCorpus(docs: DataFrame, idCol: String, textCol: String,
                  keepCols: Seq[String] = Nil): Unit =
    WriteLease.withLease(spark, lease, "snapshot-build") {
      // tombstones clear too: rebuild IS the compaction point
      Seq(corpusT, seenT, sigsT, shinglesT, tombsT).foreach(_.drop())
      val fp = TextFns.fingerprint(col(textCol))
      val w = Window.partitionBy(fp).orderBy(col(idCol))
      val exact = graft.Materialize.reuse(
        docs.withColumn("fp", fp)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn"))
      val sh = Dedup.hashedShingles(exact, idCol, textCol, n, Nil)
      val banded = graft.Materialize.reuse(Dedup.minHashBanded(sh, bands, rows))
      val drops = Dedup.nearDupDrops(
        Dedup.verifyJaccard(Dedup.bandedPairs(banded, bucketCap), sh, threshold))
      val surv = exact.join(
        drops.select(col("drop_id").as(idCol)), Seq(idCol), "left_anti")
      corpusT.write(surv.select((idCol +: keepCols :+ "fp").map(col): _*),
        SaveMode.ErrorIfExists)
      seenT.write(exact.select(col(idCol).as("id"), col("fp")), SaveMode.ErrorIfExists)
      sigsT.write(banded, SaveMode.ErrorIfExists)
      shinglesT.write(sh, SaveMode.ErrorIfExists)
    }

  /** Dedup `delta` against the snapshot (and against itself) and
    * return the surviving delta rows. Reads ONLY the seen/sigs/
    * shingles side tables — never the stored corpus. With
    * `commit = true` the snapshot is advanced under the lease: the
    * survivors append to the corpus and the delta's exact survivors
    * append to all three side tables (each append is delta-sized,
    * bucketed to match — the store is never rewritten).
    *
    * `idempotentCommit` makes a REPLAYED commit of the same delta
    * converge instead of duplicating (the at-least-once `foreachBatch`
    * contract of [[graft.streaming.Streaming.incrementalDedupSink]]):
    * every append is anti-joined by id against its target table
    * first. Replay after a crash at ANY point between the four
    * appends lands exactly the missing rows — the dedup verdicts
    * recompute identically (a half-committed delta's own store rows
    * can't pair with themselves: same id is filtered; delta-delta
    * pairs dedupe through `distinct`), each append is job-atomic
    * (file-commit protocol), and the id anti-join skips whatever
    * already landed. Cost: one column-pruned id scan per table per
    * commit — a batch pipeline committing once should leave it off; a
    * production stream with monotone ids would prune the scan to the
    * batch's id range.
    */
  def ingestDelta(delta: DataFrame, idCol: String, textCol: String,
                  keepCols: Seq[String] = Nil,
                  commit: Boolean = false,
                  idempotentCommit: Boolean = false): DataFrame = {
    // TOMBSTONED IDS ARE FROZEN UNTIL REBUILD (the n10 batch
    // contract): re-ingesting a taken-down id would land new rows the
    // idempotent anti-joins skip while the tombstone keeps every read
    // hiding it — silent half-visibility. Fail loudly; the remedy is
    // a writeCorpus rebuild (the compaction point).
    if (tombsT.exists) {
      val nT = delta.select(col(idCol)).distinct()
        .join(tombsT.load().select(col("id").as(idCol)),
          Seq(idCol), "left_semi").count()
      if (nT > 0) throw new IllegalArgumentException(
        s"$nT delta id(s) have pending snapshot tombstones " +
          s"(prefix $prefix): tombstoned ids are frozen until a " +
          "writeCorpus rebuild compacts them out; drop them from the " +
          "delta or rebuild first")
    }
    val fp = TextFns.fingerprint(col(textCol))
    val w = Window.partitionBy(fp).orderBy(col(idCol))
    // exact stage: keep-first per fingerprint WITHIN the delta, then
    // anti-join the seen-fp census (bucketed on fp: store side reads
    // with no exchange; the delta side shuffles to match — the
    // asymmetric cost a refresh actually wants)
    // commit path: lineage TRUNCATED, not just persisted — appending to
    // the seen/sigs/shingles tables below makes Spark's CacheManager
    // RECACHE (= recompute) every cached plan that references them, and
    // a recomputed anti-join against the just-updated census would
    // erase the survivors it is about to return
    val matz: DataFrame => DataFrame =
      if (commit) graft.Materialize.truncate else graft.Materialize.reuse
    val dNew = matz(
      delta.withColumn("fp", fp)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .join(minusTombs(seenT.load(), "id").select("fp"),
          Seq("fp"), "left_anti"))
    val dsh = Dedup.hashedShingles(dNew, idCol, textCol, n, Nil)
    val dBanded = graft.Materialize.reuse(Dedup.minHashBanded(dsh, bands, rows))
    // delta-vs-(store ∪ delta) banded pairs: no store-internal pair is
    // generated, and the cap census reads the bucketed sigs table
    // exchange-free (delta ids are new, so the sides are disjoint)
    val pairs = Dedup.asymmetricBandedPairs(dBanded,
      minusTombs(sigsT.load(), "id"), bucketCap)
    // verification shingles: store side from the persisted table
    // (the corpus is NOT re-shingled), delta side from this pass
    val allSh = minusTombs(shinglesT.load(), "id").unionByName(dsh)
    val verified = Dedup.verifyJaccard(pairs, allSh, threshold)
    // CC over delta-touching pairs only; a cluster's min is a store id
    // whenever any store doc is reachable (store ids < delta ids), so
    // "id != cluster" is exactly the from-scratch drop rule
    val drops = Dedup.connectedComponents(verified.select("id_a", "id_b"))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    val surv = dNew.join(drops, Seq(idCol), "left_anti")
    if (!commit) surv.select((idCol +: keepCols).map(col): _*)
    else WriteLease.withLease(spark, lease, "snapshot-commit") {
      // truncated for the same recache reason as dNew: surv's lineage
      // reads sigs/shingles, which the appends below update
      val kept = graft.Materialize.truncate(
        surv.select((idCol +: keepCols :+ "fp").map(col): _*))
      def fresh(c: String) = if (idempotentCommit) Some(c) else None
      corpusT.write(kept, SaveMode.Append, fresh(idCol))
      seenT.write(dNew.select(col(idCol).as("id"), col("fp")), SaveMode.Append,
        fresh("id"))
      sigsT.write(dBanded, SaveMode.Append, fresh("id"))
      shinglesT.write(dsh, SaveMode.Append, fresh("id"))
      kept.drop("fp")
    }
  }
}

/** Persisted artifacts of the CONTAINMENT-SKETCH family (d13/d14) —
  * the [[DedupSnapshot]] discipline applied to the bottom-k sketches:
  * two catalog tables written once at corpus build and probed by
  * every refresh, so the store is never re-sketched (the d14
  * contract, now with a durable home instead of caller-held frames):
  *
  *  - `<prefix>_sk`    (id, sz, sk array<bigint>), bucketed by id —
  *    the [[Dedup.bottomKSketches]] table (verify side).
  *  - `<prefix>_skidx` (id, band, bucket), bucketed by bucket — its
  *    [[Dedup.bandedSketchIndex]] (probe side; bucketed on the join
  *    key, so delta probes read store slivers with no exchange).
  *
  * [[ingestDelta]] returns the delta-touching inclusion pairs
  * (bit-identical to a batch [[Dedup.containmentSketchDelta]] against
  * the same artifacts) and, with `commit = true`, advances both
  * tables under the single-writer lease with delta-sized appends.
  *
  * Replay determinism (the at-least-once `foreachBatch` contract of
  * [[graft.streaming.Streaming.sketchIngestSink]]): the store side is
  * id-ANTI-JOINED against the incoming delta before the union, so a
  * replayed batch whose commit already landed probes EXACTLY the
  * pre-commit artifact state (its own committed rows are replaced by
  * the fresh delta copies, never doubled — doubled sketch rows would
  * duplicate pair rows through the estimate join) and recomputes the
  * identical pair set; `idempotentCommit` then lands zero rows. The
  * anti-join costs one broadcast of the delta id sliver per batch.
  */
final class SketchStore(val spark: SparkSession, val prefix: String,
                        val nBuckets: Int = 8, val n: Int = 3,
                        val k: Int = 32, val threshold: Double = 0.8,
                        val bucketCap: Int = 100000,
                        val salt: Dedup.BucketSalt = Dedup.BucketSalt.XxHash) {
  private val skT = new BucketedTable(spark, s"${prefix}_sk", Seq("id"), nBuckets)
  private val idxT =
    new BucketedTable(spark, s"${prefix}_skidx", Seq("bucket"), nBuckets)
  private val lease =
    BucketedTable.inWarehouse(spark, s"graft-sketch-$prefix").toString

  def sketches(): DataFrame = skT.load()
  def index(): DataFrame = idxT.load()

  /** Full (re)build: sketch `docs` once, persist table + index. */
  def build(docs: DataFrame, idCol: String, textCol: String): Unit =
    WriteLease.withLease(spark, lease, "sketch-build") {
      Seq(skT, idxT).foreach(_.drop())
      val sk = graft.Materialize.reuse(
        Dedup.bottomKSketches(docs, idCol, textCol, n, k))
      skT.write(sk, SaveMode.ErrorIfExists)
      idxT.write(Dedup.bandedSketchIndex(sk), SaveMode.ErrorIfExists)
    }

  /** Probe the store with a delta and return the delta-touching
    * inclusion pairs (id_a, id_b, c_est). With `commit = true` the
    * delta's sketch + index rows append under the lease;
    * `idempotentCommit` anti-joins each append by id first (the
    * replayed-batch path). */
  def ingestDelta(delta: DataFrame, idCol: String, textCol: String,
                  commit: Boolean = false,
                  idempotentCommit: Boolean = false): DataFrame = {
    // commit path truncates (the DedupSnapshot recache discipline: the
    // appends below update the very tables the pair plan reads)
    val matz: DataFrame => DataFrame =
      if (commit) graft.Materialize.truncate else graft.Materialize.reuse
    val dsk = matz(Dedup.bottomKSketches(delta, idCol, textCol, n, k))
    val dIds = dsk.select(col("id"))
    // replay determinism: a delta row already committed by a crashed
    // attempt must not appear on BOTH sides of the union. No broadcast
    // HINT: the anti-join key set is the WHOLE delta id column — a
    // micro-batch is sliver-sized and AQE broadcasts it, but a bulk
    // monthly delta (10⁹ rows) must fall back to a hash anti-join,
    // which a forced broadcast would OOM instead (the tombstone
    // slivers elsewhere are bounded by takedown volume; this one is
    // bounded only by the caller's batch size)
    def minusDelta(df: DataFrame): DataFrame =
      df.join(dIds, Seq("id"), "left_anti")
    val pairs = Dedup.containmentSketchDeltaFromSketches(
      minusDelta(sketches()), minusDelta(index()), dsk,
      k, threshold, bucketCap, salt)
    if (!commit) pairs
    else WriteLease.withLease(spark, lease, "sketch-commit") {
      val out = graft.Materialize.truncate(pairs)
      val fresh = if (idempotentCommit) Some("id") else None
      skT.write(dsk, SaveMode.Append, fresh)
      idxT.write(Dedup.bandedSketchIndex(dsk), SaveMode.Append, fresh)
      out
    }
  }
}
