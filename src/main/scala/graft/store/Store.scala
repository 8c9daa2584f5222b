package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Merge conflict found by the strict (no-overwrite) merge mode. */
final class MergeConflictException(msg: String) extends RuntimeException(msg)

/** A second writer tried to mutate a store while another held the
  * write lease. */
final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

/** Single-writer lease for store mutations (round-7 directive).
  *
  * The harvest merge is read-merge-write: two concurrent `mergeIn`s
  * into the same store race that cycle and the second overwrite
  * silently drops the first's rows (a lost update — xyzpy's
  * single-process file dance, farming.py:549-580, never faced this;
  * a 1000-executor deployment with several harvest drivers will).
  * Guard: an atomically-created lease FILE next to the store
  * (`fs.create(..., overwrite = false)` — atomic on HDFS and object
  * stores with conditional put). Holding it is required for every
  * mutating op; a concurrent attempt fails LOUDLY with the holder's
  * identity rather than corrupting the store. A crashed writer leaves
  * its lease behind by design (auto-expiry would reintroduce the race
  * as split-brain); `break()` removes a verified-stale lease, and the
  * exception message says exactly that. Semantics: ONE writer per
  * store at a time; readers are never blocked (parquet reads are
  * immutable-file snapshots).
  */
private[graft] object WriteLease {
  /** THE lock-path convention for every leased artifact (store dirs,
    * zarr stores, netCDF files) — single definition so writers and
    * breakLease helpers can never disagree on the path. */
  def lockPathFor(dest: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dest + ".__lock")

  /** Remove a verified-stale write lease left by a crashed writer. */
  def breakLease(spark: org.apache.spark.sql.SparkSession,
                 dest: String): Unit = {
    val lock = lockPathFor(dest)
    lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(lock, true)
  }

  /** Run `body` holding the lease on `dest` (lock at [[lockPathFor]]). */
  def withLease[T](spark: org.apache.spark.sql.SparkSession, dest: String,
                   op: String)(body: => T): T = {
    val lock = lockPathFor(dest)
    withLease(lock.getFileSystem(spark.sparkContext.hadoopConfiguration),
      lock, op)(body)
  }

  def withLease[T](fs: org.apache.hadoop.fs.FileSystem,
                   lock: org.apache.hadoop.fs.Path, op: String)(body: => T): T = {
    val payload = s"pid=${ProcessHandle.current().pid()} op=$op " +
      s"at=${java.time.Instant.now()} host=${java.net.InetAddress.getLocalHost.getHostName}"
    // Only "the lock file already exists" means a concurrent writer.
    // A transient FS failure (permissions, quota, network) must NOT be
    // retyped as a held lease — its message would instruct the operator
    // to breakLease(), and following that advice against a REAL holder
    // reintroduces the lost-update race. Typed signal first; for FS
    // implementations that throw a bare IOException on create-no-
    // overwrite, an existence probe decides, and anything else rethrows
    // as what it is. Known window on such untyped FSes only: if the
    // holder releases between the failed create and the probe, the
    // contention surfaces as the raw IOException (callers retrying on
    // ConcurrentWriteException simply retry one level up); local and
    // HDFS FileSystems throw the typed FileAlreadyExistsException, so
    // they never enter the probe branch.
    def heldBy(): Nothing = {
      val holder =
        try {
          val in = fs.open(lock)
          try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        } catch { case _: Throwable => "<unreadable>" }
      throw new ConcurrentWriteException(
        s"store at '${lock.toString.stripSuffix(".__lock")}' is being " +
          s"written by another process [$holder]; concurrent store " +
          "mutation would lose updates. If that writer crashed, clear " +
          s"the stale lease with breakLease() (removes $lock).")
    }
    val out =
      try fs.create(lock, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => heldBy()
        case _: java.nio.file.FileAlreadyExistsException        => heldBy()
        case e: java.io.IOException =>
          if (try fs.exists(lock) catch { case _: Throwable => false }) heldBy()
          else throw e
      }
    try {
      out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      body
    } finally fs.delete(lock, true)
  }

  /** Lease `dest`, then [[swap]] the output of `write` in — the
    * save-side sinks' shared discipline: a second writer throws
    * [[ConcurrentWriteException]], and a killed write leaves the old
    * store (or none) at `dest`, never a mix. */
  def stageAndSwap(fs: org.apache.hadoop.fs.FileSystem,
                   dest: org.apache.hadoop.fs.Path, op: String,
                   what: String)(write: org.apache.hadoop.fs.Path => Unit): Unit =
    withLease(fs, lockPathFor(dest.toString), op)(swap(fs, dest, what)(write))

  /** Unleased half of [[stageAndSwap]] (callers hold the lease): produce
    * the new store at `<dest>.__tmp` via `write`, then swap it in with
    * CHECKED renames (dest → `.__bak`, tmp → dest, drop bak). Proceeding
    * past a failed rename (dest recreated concurrently, cross-FS rename
    * quirk) and then deleting `.__bak` would destroy the only surviving
    * copy, so a failed rename throws an IOException naming the step and
    * leaves the store recoverable — untouched at `dest` or intact at
    * `.__bak`. `what` names the artifact in error messages. */
  def swap(fs: org.apache.hadoop.fs.FileSystem,
           dest: org.apache.hadoop.fs.Path,
           what: String)(write: org.apache.hadoop.fs.Path => Unit): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dest.toString + ".__tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(tmp)
    val bak = new org.apache.hadoop.fs.Path(dest.toString + ".__bak")
    def renameOrAbort(from: org.apache.hadoop.fs.Path,
                      to: org.apache.hadoop.fs.Path, keep: String): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(
          s"$what swap: rename $from -> $to failed; $keep")
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(dest))
      renameOrAbort(dest, bak, s"$what left untouched at $dest")
    renameOrAbort(tmp, dest,
      s"previous $what preserved at $bak (restore by renaming it back)")
    if (fs.exists(bak)) fs.delete(bak, true)
  }
}

/** Harvest-store merge family (SURVEY §2.4, M1-M12).
  *
  * Reference semantics: farming.py:602-670 (`Harvester.add_ds` three
  * overwrite modes), manage.py:172-208 (`save_merge_ds`),
  * farming.py:478-580 (disk sync + atomic save). xyzpy's merges are
  * coordinate-aligned upserts of result stores; here they are
  * full-outer equi-joins on the axis (key) columns with per-variable
  * `coalesce`, which Catalyst plans as a shuffled or broadcast hash
  * join — at 100 TB the store is partitioned by its leading axis
  * columns so the join co-locates, and the *new* side of a harvest is
  * usually tiny → broadcast.
  */
object Merge {

  /** Which side wins where both stores have a non-null value. */
  sealed trait Mode
  /** M1 `overwrite=None`: raise on conflicting non-null values. */
  case object NoConflicts extends Mode
  /** M2 `overwrite=True`: new wins (`new.combine_first(full)`). */
  case object NewWins extends Mode
  /** M3 `overwrite=False`: old wins (`full.combine_first(new)`). */
  case object OldWins extends Mode

  /** Full-outer merge of two long-form stores on `keys`.
    *
    * Value columns present in both sides are coalesced per `mode`;
    * one-sided columns pass through. With `NoConflicts` the conflict
    * assert rides INSIDE the data pass: each shared cell is wrapped in
    * `when(conflict, raise_error(keys)).otherwise(coalesce)`, so the
    * full-outer join executes exactly ONCE (no pre-flight probe job —
    * at 100 TB a separate probe would shuffle the entire store twice)
    * and a conflicting cell fails the materializing action loudly,
    * naming the column and the offending key values
    * (xyzpy `compat="no_conflicts"`, farming.py:655-661). Store-level
    * entry points ([[ParquetStore.mergeIn]]) rethrow that runtime
    * error as a typed [[MergeConflictException]].
    */
  def merge(old: DataFrame, neu: DataFrame, keys: Seq[String],
            mode: Mode = NoConflicts): DataFrame = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val oldVals = old.columns.filterNot(keys.contains)
    val neuVals = neu.columns.filterNot(keys.contains)
    val shared = oldVals.filter(neuVals.contains)

    val o = oldVals.foldLeft(old)((d, c) => d.withColumnRenamed(c, s"__o_$c"))
    val n = neuVals.foldLeft(neu)((d, c) => d.withColumnRenamed(c, s"__n_$c"))
    val joined = o.join(n, keys, "full_outer")

    val valueCols =
      shared.map { c =>
        val (a, b) = mode match {
          case OldWins => (s"__o_$c", s"__n_$c")
          case _       => (s"__n_$c", s"__o_$c") // NewWins; NoConflicts guarded below
        }
        val merged = coalesce(col(a), col(b))
        if (mode == NoConflicts) {
          // per-cell guard: evaluated in the same (single) join pass as
          // the coalesce itself, so no second execution of the join.
          // raise_error's NullType coerces to the cell type under when.
          val conflict = col(a).isNotNull && col(b).isNotNull &&
            col(a) =!= col(b)
          when(conflict, raise_error(concat(
            lit(s"$conflictTag '$c' at keys ("),
            concat_ws(",", keys.map(k => col(k).cast("string")): _*),
            lit(")"))))
            .otherwise(merged).as(c)
        } else merged.as(c)
      } ++
        oldVals.filterNot(shared.contains).map(c => col(s"__o_$c").as(c)) ++
        neuVals.filterNot(shared.contains).map(c => col(s"__n_$c").as(c))

    joined.select(keys.map(col) ++ valueCols: _*)
  }

  /** Marker prefix of the in-plan conflict `raise_error` message; the
    * store entry points use it to recognize and retype the failure. */
  val conflictTag = "graft merge conflict on"

  /** Run `action`; if a NoConflicts `raise_error` guard fired anywhere
    * in the cause chain, rethrow it as a typed
    * [[MergeConflictException]] carrying the column + offending keys. */
  def orConflict[T](action: => T): T =
    try action catch {
      case e: Throwable =>
        var c: Throwable = e
        while (c != null) {
          val m = c.getMessage
          if (m != null && m.contains(conflictTag))
            throw new MergeConflictException(
              m.substring(m.indexOf(conflictTag)).takeWhile(_ != '\n'))
          c = c.getCause
        }
        throw e
    }

  /** M6: fold-merge N stores (conflict datasets glob,
    * manage.py:349-402). */
  def mergeAll(stores: Seq[DataFrame], keys: Seq[String],
               mode: Mode = NoConflicts): DataFrame =
    stores.reduce((a, b) => merge(a, b, keys, mode))

  /** M12 align+fillna: outer-align, fill one side's NULLs from the
    * other (test_case_runner.py:134-190) — exactly NewWins. */
  def alignFill(base: DataFrame, fill: DataFrame, keys: Seq[String]): DataFrame =
    merge(fill, base, keys, NewWins)

  /** The partition-pruned merge both stores share (`partitionCols` ⊆
    * `keys`, so any store row that can match or conflict with a delta
    * key shares the delta's partition values): merge `neu` into only
    * the `old` rows whose partition tuple `neu` touches (null-safe
    * match), stage the result at `stage` — conflicts fire here, before
    * any mutation — and hand the re-read stage to `overwrite`, a
    * dynamic partition overwrite of exactly the touched partitions.
    * The stage is the read-before-overwrite barrier (the store is both
    * the merge's source and its sink). No-op for an empty delta. */
  private[store] def mergeTouched(old: DataFrame, neu: DataFrame,
                                  keys: Seq[String], partitionCols: Seq[String],
                                  mode: Mode, stage: org.apache.hadoop.fs.Path)(
                                  overwrite: DataFrame => Unit): Unit = {
    // bounded collect: the distinct partition tuples of ONE delta
    val touched = neu.select(partitionCols.map(col): _*).distinct().collect()
    if (touched.nonEmpty) {
      val pred = touched.map { r =>
        partitionCols.zipWithIndex
          .map { case (c, i) => col(c) <=> lit(r.get(i)) }
          .reduce(_ && _)
      }.reduce(_ || _)
      val spark = old.sparkSession
      orConflict(merge(old.filter(pred), neu, keys, mode)
        .select(old.columns.map(col).toIndexedSeq: _*)
        .write.mode(SaveMode.Overwrite).parquet(stage.toString))
      // read back as written (no imposed schema: the store read infers
      // partition-col types from dir names, which can be narrower than
      // the staged data columns)
      try overwrite(spark.read.parquet(stage.toString))
      finally stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(stage, true)
    }
  }
}

/** On-disk parquet store with harvest semantics (M4/M5/M7-M11 + IO1/IO5).
  *
  * The store path is a parquet directory; merges read-modify-write via
  * a temp dir + atomic rename (xyzpy's backup-and-rename,
  * farming.py:549-580 — Spark's output committer makes the write
  * itself atomic; the rename swap makes the *replacement* atomic).
  * At scale: `partitionBy` the leading axis columns so `missing_only`
  * anti-joins and merges prune partitions.
  */
final class ParquetStore(val spark: SparkSession, val path: String,
                         val keys: Seq[String],
                         val partitionCols: Seq[String] = Nil) {

  /** Remove a stale write lease left by a CRASHED writer (never call
    * while a live writer holds it — that reintroduces the lost-update
    * race the lease exists to prevent). Every mutating op runs under
    * the single-writer lease (see [[WriteLease]]). */
  def breakLease(): Unit = WriteLease.breakLease(spark, path)

  def exists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def load(): DataFrame = spark.read.parquet(path)

  private def writer(df: DataFrame) = {
    val w = df.write.mode(SaveMode.Overwrite)
    if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
  }

  /** Atomic replace: write to `<path>.__tmp`, swap, keep `<path>.__bak`
    * until the swap succeeds (IO5, farming.py:549-580). */
  def replaceWith(df: DataFrame): Unit =
    WriteLease.withLease(spark, path, "replace")(replaceWithUnlocked(df))

  private def replaceWithUnlocked(df: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    WriteLease.swap(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p, "store")(tmp => writer(df).parquet(tmp.toString))
  }

  /** M4/M5: merge `neu` into the store (creates it if absent).
    *
    * Read-before-overwrite discipline (round-7 fault-tolerance fix —
    * no `localCheckpoint` anywhere on this path): the unpruned branch
    * needs no explicit materialization at all, because [[replaceWith]]
    * writes the merged frame to `<path>.__tmp` while the source dir is
    * still intact and only then swaps — the tmp write IS the staging
    * barrier, streams through the executors without pinning the whole
    * merged store in block storage, and recovers from executor loss by
    * plain lineage recompute (the read path still exists). The pruned
    * branch overwrites partitions of the SAME directory it reads, so
    * the merged delta is staged to `<path>.__stage` first and the
    * dynamic-partition overwrite re-reads the staged files — on-disk,
    * lineage-free-but-reliable, executor-loss-safe.
    *
    * With `partitionCols` set (and ⊆ `keys`), the merge is restricted
    * to the partitions whose values appear in `neu`: the store side is
    * loaded partition-pruned by the delta's partition tuples, only
    * those rows join, and the write-back uses dynamic partition
    * overwrite — untouched partitions are never read OR rewritten. A
    * harvest loop that merges a KB-sized sweep delta into a 100 TB
    * store pays O(|touched partitions|), not O(|store|), per merge.
    * Correctness of the pruning relies on partitionCols ⊆ keys: any
    * store row that can match (or conflict with) a delta key shares
    * the delta's partition values by definition. The full
    * read-merge-swap path remains for unpartitioned stores and for
    * deltas that introduce new value columns (a partition-scoped write
    * of a widened schema would leave untouched partitions narrow). */
  def mergeIn(neu: DataFrame, mode: Merge.Mode = Merge.NoConflicts): Unit =
    WriteLease.withLease(spark, path, "mergeIn") {
      if (!exists) writer(neu).parquet(path)
      else {
        val old = load()
        val prunable = partitionCols.nonEmpty &&
          partitionCols.forall(keys.contains) &&
          neu.columns.forall(old.columns.contains)
        if (!prunable) {
          // replaceWith writes to <path>.__tmp BEFORE touching <path> —
          // the write is the materialization point, and a NoConflicts
          // raise_error fires during it (before any mutation) → rethrow
          Merge.orConflict(replaceWithUnlocked(Merge.merge(old, neu, keys, mode)))
        } else
          Merge.mergeTouched(old, neu, keys, partitionCols, mode,
            new org.apache.hadoop.fs.Path(path + ".__stage")) {
            _.write.mode(SaveMode.Overwrite)
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy(partitionCols: _*)
              .parquet(path)
          }
      }
    }

  /** M11 `Sampler.add_df`: append rows (long table, no alignment). */
  def append(rows: DataFrame): Unit = WriteLease.withLease(spark, path, "append") {
    if (!exists) writer(rows).parquet(path)
    else rows.write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(path)
  }

  /** M7 `expand_dims`: add a constant coordinate to the whole store.
    * (No checkpoint: replaceWith's tmp write reads the intact store.) */
  def expandDims(name: String, value: Any): Unit =
    WriteLease.withLease(spark, path, "expandDims") {
      replaceWithUnlocked(load().withColumn(name, lit(value)))
    }

  /** M8 `drop_sel`: delete coordinate values from a dimension. */
  def dropSel(dim: String, values: Seq[Any]): Unit =
    WriteLease.withLease(spark, path, "dropSel") {
      replaceWithUnlocked(load().filter(!col(dim).isin(values: _*)))
    }

  /** M10 Ellipsis axis: the store's own coordinates for `axis`. */
  def coords(axis: String): DataFrame =
    load().select(axis).distinct().orderBy(axis)

  /** M9 `missing_only`: grid points not yet in the store. */
  def missing(grid: DataFrame): DataFrame =
    if (!exists) grid
    else graft.expand.Grid.missing(grid, load(), keys)
}

/** Bucketed catalog-table variant of the harvest store: the long-term
  * accumulator for a harvest loop that merges thousands of times.
  *
  * `bucketBy(n, keys) + sortBy(keys)` persists the store pre-hashed
  * and pre-sorted on its axis columns, so every `mergeIn`'s full-outer
  * sort-merge join reads the store side with NO exchange and NO sort —
  * only the (small) new harvest shuffles to match the bucketing. At
  * 100 TB that converts the per-harvest cost from "re-shuffle the
  * accumulated store" to "shuffle the delta": the asymmetric join
  * shape the harvest loop actually has. The path-based [[ParquetStore]]
  * can't express this — parquet files alone carry no bucketing
  * metadata; it lives in the catalog (in-session here; a cluster
  * deployment backs it with a persistent metastore, which is also what
  * makes the table durable across sessions).
  *
  * Semantics mirror [[ParquetStore.mergeIn]]: same [[Merge]] modes,
  * same read-before-overwrite materialization.
  */
final class BucketedStore(val spark: SparkSession, val table: String,
                          val keys: Seq[String], val nBuckets: Int,
                          val partitionCols: Seq[String] = Nil) {
  require(keys.nonEmpty && nBuckets > 0)
  require(partitionCols.forall(keys.contains),
    "partitionCols must be key columns (pruned merges match on keys)")
  private val bucketKeys = keys.filterNot(partitionCols.contains)
  require(bucketKeys.nonEmpty, "at least one key must remain for bucketing")

  private val tbl = new BucketedTable(spark, table, bucketKeys, nBuckets,
    partitionCols)
  /** Single-writer lease, same contract as [[ParquetStore]] (see
    * [[WriteLease]]): every mutator holds it, so a replaceWith racing a
    * mergeIn fails loudly instead of silently dropping the merge's rows. */
  private val lease = BucketedTable.inWarehouse(spark,
    s"graft-store-${table.replace('.', '_')}").toString

  def exists: Boolean = tbl.exists

  def load(): DataFrame = tbl.load()

  /** DROP the table and delete its warehouse location (a previous
    * session's leftover included), under the lease. */
  def drop(): Unit = WriteLease.withLease(spark, lease, "drop")(tbl.drop())

  /** Remove a stale lease left by a crashed writer. */
  def breakLease(): Unit = WriteLease.breakLease(spark, lease)

  def replaceWith(df: DataFrame): Unit =
    WriteLease.withLease(spark, lease, "replace")(tbl.write(df, SaveMode.Overwrite))

  /** Staging dir for read-before-overwrite materialization: the table
    * is both the source and the sink of a merge, so the merged frame
    * is parked as plain parquet on the (shared) filesystem and the
    * overwrite re-reads the staged files — reliable under executor
    * loss, unlike a localCheckpoint whose blocks die with their
    * executor. */
  // no leading underscore: Spark's file listing treats `_`-prefixed
  // paths as hidden metadata ("All paths were ignored" on the staged
  // read — worked by accident on the direct-path branch, but glob and
  // partition-discovery listings genuinely skip such dirs)
  private def stagePath = BucketedTable.inWarehouse(spark,
    s"graft-stage-${table.replace('.', '_')}")

  /** M4/M5 over the bucketed table: store-side exchange-free merge.
    *
    * With `partitionCols` set, the same pruning discipline as
    * [[ParquetStore.mergeIn]] applies on top of the bucket win: the
    * store side is read partition-pruned by the delta's partition
    * tuples AND exchange-free (bucketed), and the write-back is an
    * `insertInto` under dynamic partition overwrite, so only the
    * touched partitions are rewritten — per-harvest cost is
    * O(|touched|) read + join + write, with no full-table pass
    * anywhere. insertInto is position-based, so the merged frame is
    * aligned to the table's column layout first. Both branches stage
    * the merged frame on disk (see [[stagePath]]) before overwriting
    * the table they read from. */
  def mergeIn(neu: DataFrame, mode: Merge.Mode = Merge.NoConflicts): Unit =
    WriteLease.withLease(spark, lease, "mergeIn") {
      if (!exists) tbl.write(neu, SaveMode.ErrorIfExists)
      else {
        val old = load()
        if (partitionCols.isEmpty || !neu.columns.forall(old.columns.contains))
          Merge.orConflict(replaceStagedUnlocked(Merge.merge(old, neu, keys, mode)))
        else Merge.mergeTouched(old, neu, keys, partitionCols, mode, stagePath) {
          staged =>
            val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
            val prev = spark.conf.getOption(overwriteMode)
            spark.conf.set(overwriteMode, "dynamic")
            try staged.write.mode(SaveMode.Overwrite).insertInto(table)
            finally prev match {
              case Some(v) => spark.conf.set(overwriteMode, v)
              case None    => spark.conf.unset(overwriteMode)
            }
        }
      }
    }

  /** M9 `missing_only` against the bucketed store. */
  def missing(grid: DataFrame): DataFrame =
    if (!exists) grid
    else graft.expand.Grid.missing(grid, load(), keys)

  /** Rewrite the whole table from a frame derived from ITSELF: stage
    * on the shared FS first (same discipline as [[mergeIn]] — the
    * table is both source and sink, and a localCheckpoint would die
    * with its executors). Callers hold the lease. */
  private def replaceStagedUnlocked(df: DataFrame): Unit = {
    val stage = stagePath
    df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    // The Overwrite below drops the managed table before rewriting it,
    // so until it succeeds the stage IS the only complete copy — keep
    // it on failure (mirror of ParquetStore.replaceWithUnlocked's
    // .__bak discipline) and name it in the error so the operator can
    // recover by re-running the swap from the stage.
    try tbl.write(spark.read.parquet(stage.toString), SaveMode.Overwrite)
    catch {
      case e: Throwable =>
        throw new java.io.IOException(
          s"table rewrite failed mid-swap; the staged copy at $stage is " +
            "preserved and holds the full post-mutation table — re-run the " +
            "mutation or restore from the stage", e)
    }
    stage.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(stage, true)
  }

  /** M11 `Sampler.add_df`: append rows — bucketed append keeps the
    * layout (Spark verifies matching bucket spec on saveAsTable
    * Append). API parity with [[ParquetStore.append]]. */
  def append(rows: DataFrame): Unit = WriteLease.withLease(spark, lease, "append") {
    if (!exists) tbl.write(rows, SaveMode.ErrorIfExists)
    else tbl.write(rows.select(load().columns.map(col).toIndexedSeq: _*),
      SaveMode.Append)
  }

  /** M7 `expand_dims`: add a constant coordinate to the whole store —
    * parity with [[ParquetStore.expandDims]]. */
  def expandDims(name: String, value: Any): Unit =
    WriteLease.withLease(spark, lease, "expandDims") {
      replaceStagedUnlocked(load().withColumn(name, lit(value)))
    }

  /** M8 `drop_sel`: delete coordinate values from a dimension —
    * parity with [[ParquetStore.dropSel]]. */
  def dropSel(dim: String, values: Seq[Any]): Unit =
    WriteLease.withLease(spark, lease, "dropSel") {
      replaceStagedUnlocked(load().filter(!col(dim).isin(values: _*)))
    }
}
