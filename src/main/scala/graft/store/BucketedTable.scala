package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** One bucketed, sorted catalog table — the persisted layout under
  * every catalog-backed store ([[BucketedStore]], and the side tables
  * of [[graft.dedup.DedupSnapshot]] and [[graft.dedup.SketchStore]]).
  *
  * `bucketBy(nBuckets, keys) + sortBy(keys)` persists the rows
  * pre-hashed and pre-sorted on `keys`, so later joins and aggregations
  * on those keys read the table with NO exchange and NO sort. The
  * table carries no lease: its owning store leases every mutation
  * (see [[WriteLease]]), because one store op usually writes several
  * tables.
  */
private[graft] final class BucketedTable(spark: SparkSession, val name: String,
                                         keys: Seq[String], nBuckets: Int,
                                         partitionCols: Seq[String] = Nil) {
  require(keys.nonEmpty && nBuckets > 0)

  /** The managed table's warehouse location. */
  private def location = BucketedTable.inWarehouse(spark, name)

  def exists: Boolean = spark.catalog.tableExists(name)

  def load(): DataFrame = spark.table(name)

  /** DROP the table AND delete its warehouse location: a FRESH
    * session's catalog doesn't know a previous session's managed table,
    * so DROP alone leaves the location behind and the next create fails
    * with LOCATION_ALREADY_EXISTS. */
  def drop(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val fs = location.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(location)) fs.delete(location, true)
  }

  /** Write `df` with `mode`. With `freshBy = Some(idCol)` only rows
    * whose `idCol` the table lacks are written — the replay-idempotent
    * append (the anti-joined rows are truncated BEFORE the write: the
    * append must not re-scan its own target mid-job).
    *
    * The write is aligned with the bucket spec (optimization r20):
    * `repartition(nBuckets, keys)` uses the same murmur3 pmod as the
    * bucketing, so each task holds exactly one bucket and writes ONE
    * file per (partition dir, bucket) — without it every upstream task
    * wrote a file per bucket it touched (32 tasks × 8 buckets ≈ 250
    * tiny files per table), paying per-file open cost on every later
    * probe. Measured (sf0.1 snapshot build): sigs 3.1 → 0.9 s,
    * shingles 2.0 → 0.9 s per write. Table CONTENT is identical; only
    * the file layout changes. */
  def write(df: DataFrame, mode: SaveMode, freshBy: Option[String] = None): Unit = {
    val out = freshBy.fold(df)(c => graft.Materialize.truncate(
      df.join(load().select(col(c)), Seq(c), "left_anti")))
    val w = out.repartition(nBuckets, keys.map(col): _*).write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(name)
    // the write may run on a DIFFERENT SparkSession than `spark` (a
    // foreachBatch micro-batch executes on a session CLONE, and `df`
    // carries it) — that session's saveAsTable does not invalidate
    // THIS session's cached table relation, so later reads through
    // `spark.table` would list the pre-append files forever. Refresh
    // unconditionally: metadata-only, and a no-op when sessions match.
    spark.catalog.refreshTable(name)
  }
}

private[graft] object BucketedTable {
  /** `<warehouse>/<name>`: where managed tables live, and where the
    * catalog stores keep their leases and staging dirs. */
  def inWarehouse(spark: SparkSession, name: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), name)
}
