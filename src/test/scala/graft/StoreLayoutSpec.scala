package graft

import graft.dedup.DedupSnapshot
import graft.store.{BucketedStore, Merge}
import org.apache.spark.sql.functions._

/** The file layout of [[graft.store.BucketedTable]] writes: every write
  * is aligned with the bucket spec, so it adds exactly ONE parquet file
  * per bucket it holds rows for — not one per (upstream task, bucket).
  * Each case writes enough rows for every write to fill every bucket,
  * then counts files per bucket id under the table's location: the
  * count must equal the number of writes the table's current files
  * come from (an overwrite starts the count again).
  */
class StoreLayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Bucket id → parquet file count under `table`'s location. The id is
    * the `_<bucket>` suffix Spark puts on a bucketed file's name. */
  private def filesPerBucket(table: String): Map[Int, Int] = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .find(_.getString(0) == "Location").map(_.getString(1)).get
    val root = new org.apache.hadoop.fs.Path(loc)
    val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(root, true)
    val bucketId = """.*_(\d+)(?:\..*)?$""".r
    val names = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq
    names.map { case bucketId(b) => b.toInt }.groupBy(identity)
      .map { case (b, fs) => b -> fs.size }
  }

  private def assertLayout(table: String, nBuckets: Int, writes: Int): Unit =
    assert(filesPerBucket(table) == (0 until nBuckets).map(_ -> writes).toMap,
      s"$table: files per bucket after $writes write(s)")

  private def rows(from: Long, to: Long) =
    (from until to).map(k => (k, k * 0.5)).toDF("k", "v")

  test("BucketedStore.mergeIn: one file per bucket, an overwrite resets") {
    val bs = new BucketedStore(spark, "layout_merge", Seq("k"), 4)
    bs.drop()
    bs.mergeIn(rows(0, 200))
    assertLayout("layout_merge", 4, 1)
    // the merge rewrites the whole table: still one file per bucket
    bs.mergeIn(rows(150, 400), Merge.NewWins)
    assertLayout("layout_merge", 4, 1)
    assert(bs.load().count() == 400)
  }

  test("BucketedStore.append: each append adds one file per bucket") {
    val bs = new BucketedStore(spark, "layout_append", Seq("k"), 4)
    bs.drop()
    bs.append(rows(0, 200))
    bs.append(rows(200, 400))
    assertLayout("layout_append", 4, 2)
    bs.drop()
    assert(!bs.exists)
  }

  test("DedupSnapshot: writeCorpus + a committed ingestDelta leave two " +
       "files per bucket in every table") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val snap = new DedupSnapshot(spark, "layout_snap", nBuckets = 4)
    snap.writeCorpus(docs.filter(col("doc_id") < 200), "doc_id", "text")
    Seq("corpus", "seen", "sigs", "shingles")
      .foreach(t => assertLayout(s"layout_snap_$t", 4, 1))
    snap.ingestDelta(docs.filter(col("doc_id") >= 200), "doc_id", "text",
      commit = true).count()
    Seq("corpus", "seen", "sigs", "shingles")
      .foreach(t => assertLayout(s"layout_snap_$t", 4, 2))
  }
}
