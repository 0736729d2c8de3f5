package graft.model

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}

/** Parquet-backed model storage with versioned directories and an atomic
  * current-version pointer (kept in the StateStore).
  *
  * This replaces the reference's warehouse-side CREATE OR REPLACE TABLE /
  * staging-table dance (materialization.py, cdc_polars.py) with the
  * pattern that scales on a data lake: each rewrite lands in a fresh
  * `v<N>` directory and becomes visible only when the pointer flips, so
  * readers never observe a half-written table and Spark never reads a
  * directory it is concurrently overwriting. Physical `append` (for
  * append/time-incremental strategies) adds files to the current version
  * directory — O(batch), not O(table), per batch.
  */
final class Warehouse(
    val spark: SparkSession,
    root: String,
    val state: StateStore) {

  Files.createDirectories(Paths.get(root))

  /** Relation name a model is visible under for spark.sql. */
  def relation(model: String): String = s"graft_$model"

  // NIO directory streams hold an OS file handle until closed — every
  // Files.walk/Files.list here drains through this so version cleanup
  // and carry-forward scans don't leak handles until GC finalization.
  private def withStream[A, B](s: java.util.stream.Stream[A])(
      f: Iterator[A] => B): B =
    try f(s.iterator().asScala) finally s.close()

  private def versionDir(model: String, v: Long): Path =
    Paths.get(root, model, s"v$v")

  def currentVersion(model: String): Option[Long] =
    state.get(model).map(_.currentVersion).filter(_ > 0)

  def exists(model: String): Boolean =
    currentVersion(model).exists(v => Files.exists(versionDir(model, v)))

  def currentPath(model: String): Option[String] =
    currentVersion(model).map(v => versionDir(model, v).toString)

  // Whether a version has a catalog entry (bucketed), memoized: on a
  // production metastore the existence check is an RPC, and only this
  // warehouse writes the model, so the answer is stable per version.
  private val catalogTableCache =
    scala.collection.mutable.Map.empty[String, Boolean]

  def read(model: String): DataFrame = {
    val v = currentVersion(model).getOrElse(
      throw new StateError(s"model '$model' not materialized"))
    // Bucketed versions must be read through their catalog table — the
    // bucket spec (what makes joins shuffle-free) lives only there.
    val tbl = catalogName(model, v)
    val isCatalog = catalogTableCache.getOrElseUpdate(tbl,
      spark.catalog.tableExists(tbl))
    if (isCatalog) spark.table(tbl)
    else spark.read.parquet(versionDir(model, v).toString)
  }

  /** Write a full new version and flip the pointer. Partitioning columns
    * (e.g. a date column for incremental models) keep scans prunable at
    * scale. */
  def writeVersion(
      model: String,
      df: DataFrame,
      partitionBy: Seq[String] = Nil): Unit = {
    val next = currentVersion(model).getOrElse(0L) + 1
    val dir = versionDir(model, next)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dir.toString)
    state.update(model)(_.copy(currentVersion = next))
    refreshView(model)
    // Old versions are retained for time-travel/debug; a production
    // deployment would vacuum versions older than a retention window.
  }

  /** Bucketed (CLUSTERED BY) version write: the model lands hash-bucketed
    * on `bucketCols` into `numBuckets` files per partition, registered as
    * an external catalog table (the bucket spec lives in the catalog;
    * the data stays in the versioned directory). Downstream equi-joins
    * and aggregations on the bucket keys between co-bucketed models then
    * plan WITHOUT a shuffle — at 100 TB, bucketing the big fact tables
    * once turns every later fact-fact join into a zip of pre-sorted
    * buckets. `sortBy` additionally pre-sorts within buckets so
    * sort-merge joins skip their sort. */
  def writeVersionBucketed(
      model: String,
      df: DataFrame,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty && numBuckets > 0, "bucket spec required")
    val next = currentVersion(model).getOrElse(0L) + 1
    val dir = versionDir(model, next)
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", dir.toString)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(catalogName(model, next))
    catalogTableCache(catalogName(model, next)) = true
    state.update(model)(_.copy(currentVersion = next))
    refreshView(model)
  }

  /** Range-clustered version write: rows are range-partitioned on
    * `rangeCols` into `numFiles` files and sorted within each, so every
    * file covers a DISJOINT range of the clustering key. Parquet
    * min/max column statistics then turn a selective range predicate
    * into near-total row-group skipping at scan time — the lakehouse
    * CLUSTER BY layout. Complementary to [[writeVersionBucketed]]: hash
    * bucketing makes equi-JOINS shuffle-free; range clustering makes
    * range SCANS (date slices, id ranges, time travel) skip the data
    * they don't touch — at 100 TB the difference between reading one
    * day and reading a month. The write costs one range exchange
    * (sampled bounds) + in-partition sorts. */
  def writeVersionRangeClustered(
      model: String,
      df: DataFrame,
      rangeCols: Seq[String],
      numFiles: Int = 0,
      targetFileBytes: Long = Warehouse.DefaultTargetFileBytes): Unit = {
    require(rangeCols.nonEmpty && numFiles >= 0, "range spec required")
    import org.apache.spark.sql.functions.col
    Warehouse.withResolvedNumFiles(df, numFiles, targetFileBytes) { files =>
      val next = currentVersion(model).getOrElse(0L) + 1
      val dir = versionDir(model, next)
      val cols = rangeCols.map(col)
      df.repartitionByRange(files, cols: _*)
        .sortWithinPartitions(cols: _*)
        .write.mode(SaveMode.Overwrite).parquet(dir.toString)
      state.update(model)(_.copy(currentVersion = next))
      refreshView(model)
    }
  }

  /** Z-order-clustered version write (Delta/Iceberg `OPTIMIZE ZORDER
    * BY` re-expressed; [[graft.ops.ZOrder]]): rows are range-
    * partitioned and sorted by the Morton value of (colA, colB), so
    * parquet per-file min/max stats are tight on BOTH columns at once
    * and a 2-D selective filter prunes to the files whose z-range
    * intersects the query box — where a single-column sort keeps the
    * second dimension smeared across every file. The z-value is
    * layout-only: it is dropped before writing, and results are
    * byte-identical to any other layout of the same rows. */
  def writeVersionZOrdered(
      model: String,
      df: DataFrame,
      colA: String, colB: String,
      numFiles: Int = 0,
      bits: Int = 16,
      targetFileBytes: Long = Warehouse.DefaultTargetFileBytes): Unit = {
    require(numFiles >= 0, "numFiles must be non-negative (0 = by bytes)")
    import org.apache.spark.sql.functions.col
    Warehouse.withResolvedNumFiles(df, numFiles, targetFileBytes) { files =>
      val next = currentVersion(model).getOrElse(0L) + 1
      val dir = versionDir(model, next)
      graft.ops.ZOrder.withZValue(df, colA, colB, bits)
        .repartitionByRange(files, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode(SaveMode.Overwrite).parquet(dir.toString)
      state.update(model)(_.copy(currentVersion = next))
      refreshView(model)
    }
  }

  // Catalog table names are global to the Spark session; two Warehouse
  // instances in one session (scratch warehouses per test/bench run, or
  // two projects) writing the same model+version must not clobber each
  // other's entry — so the name carries a short warehouse-root tag.
  private val whTag =
    f"${scala.util.hashing.MurmurHash3.stringHash(Paths.get(root).toAbsolutePath.toString) & 0x7fffffff}%08x"

  private def catalogName(model: String, v: Long): String =
    s"graft_${whTag}_${model}_v$v"

  /** Partition-scoped rewrite: write only the changed partitions of a new
    * version and hard-link every other partition directory from the
    * previous version. The atomic pointer flip (and therefore snapshot
    * isolation) is unchanged, but a merge batch costs O(changed
    * partitions) data movement + O(partitions) metadata instead of a
    * full-table rewrite — the difference between a 1k-row batch touching
    * one date partition and rewriting 100 TB. Hard links stand in for the
    * manifest-level file reuse a table format (Iceberg/Delta) does on an
    * object store.
    *
    * @param changedRelPaths relative partition paths (`c1=v1/c2=v2`,
    *        full partition depth) that `df` rewrites; every other
    *        partition of the previous version is carried forward as-is —
    *        an untouched subtree links wholesale at the highest level
    *        that contains no changed partition.
    */
  def writeVersionScoped(
      model: String,
      df: DataFrame,
      partCols: Seq[String],
      changedRelPaths: Set[String]): Unit = {
    val prev = currentPath(model).getOrElse(
      throw new StateError(s"model '$model' has no current version"))
    val next = currentVersion(model).getOrElse(0L) + 1
    val dir = versionDir(model, next)
    df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*).parquet(dir.toString)
    carryForward(Paths.get(prev), dir, "", changedRelPaths)
    state.update(model)(_.copy(currentVersion = next))
    refreshView(model)
  }

  /** Hard-link the previous version's partition directories into the new
    * one, except subtrees containing a changed partition (those recurse;
    * fully-changed leaves were rewritten by the scoped write). */
  private def carryForward(
      prev: Path, dst: Path, rel: String, changed: Set[String]): Unit =
    withStream(Files.list(prev))(_
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
      .foreach { p =>
        val childRel =
          if (rel.isEmpty) p.getFileName.toString
          else rel + "/" + p.getFileName.toString
        val target = dst.resolve(p.getFileName.toString)
        if (changed.contains(childRel)) () // rewritten (or deleted) leaf
        else if (changed.exists(_.startsWith(childRel + "/"))) {
          Files.createDirectories(target)
          carryForward(p, target, childRel, changed)
        } else if (!Files.exists(target)) linkTree(p, target)
      })

  /** Recursively hard-link `src` under `dst` (copy fallback for file
    * systems without link support). */
  private def linkTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    withStream(Files.list(src))(_.foreach { p =>
      val t = dst.resolve(p.getFileName.toString)
      if (Files.isDirectory(p)) linkTree(p, t)
      else try Files.createLink(t, p)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(p, t)
      }
    })
  }

  /** When set (an atomic run — see `ModelRunner.runAtomic`), physical
    * appends route through [[appendAsVersion]] so every mutation of the
    * run is a pointer flip over immutable version directories and a
    * mid-DAG failure can roll back by restoring pointers. Off by
    * default: in-place append is O(batch) with zero link overhead and
    * is the right steady-state for non-transactional runs. */
  @volatile var versionedAppends: Boolean = false

  /** Append files into the current version (no pointer flip) — or, in
    * atomic-run mode, into a fresh version via [[appendAsVersion]]. */
  def append(model: String, df: DataFrame): Unit =
    if (versionedAppends) appendAsVersion(model, df)
    else {
      val dir = currentPath(model).getOrElse(
        throw new StateError(s"cannot append to missing model '$model'"))
      df.write.mode(SaveMode.Append).parquet(dir)
      refreshView(model)
    }

  /** Versioned append: the batch lands in a NEW version directory whose
    * prior files are hard-linked in (O(batch) data + O(files) links —
    * the [[writeVersionScoped]] carry-forward idiom, flat), then the
    * pointer flips. The previous version stays immutable, so an atomic
    * run can abandon the new version by restoring the pointer. */
  def appendAsVersion(model: String, df: DataFrame): Unit = {
    val prev = currentPath(model).getOrElse(
      throw new StateError(s"cannot append to missing model '$model'"))
    val next = currentVersion(model).getOrElse(0L) + 1
    val dir = versionDir(model, next)
    // a rolled-back atomic run leaves an abandoned v<next> behind —
    // clear it, like writeVersion's SaveMode.Overwrite does implicitly
    if (Files.exists(dir))
      withStream(Files.walk(dir))(_.toSeq.reverse.foreach(Files.delete))
    linkTree(Paths.get(prev), dir)
    df.write.mode(SaveMode.Append).parquet(dir.toString)
    state.update(model)(_.copy(currentVersion = next))
    refreshView(model)
  }

  /** (Re)register the model's relation as a temp view over its current
    * version. */
  def refreshView(model: String): Unit =
    read(model).createOrReplaceTempView(relation(model))

  /** Rewrite the current version into a new one with `targetFileCount`
    * output files — the compaction pass that keeps append-heavy models
    * (incremental time/append land one file per batch) from degrading
    * into a small-file swamp. Optional sort columns give the rewrite
    * clustering (better column locality + min/max pruning downstream).
    */
  def compact(
      model: String,
      targetFileCount: Int = 0,
      sortBy: Seq[String] = Nil): Unit = {
    val df0 = read(model)
    val parts = if (targetFileCount > 0) targetFileCount
      else math.max(1, spark.sparkContext.defaultParallelism / 4)
    val df = if (sortBy.nonEmpty)
      df0.repartition(parts).sortWithinPartitions(sortBy.map(
        org.apache.spark.sql.functions.col): _*)
    else df0.coalesce(parts)
    writeVersion(model, df)
  }

  /** Drop version directories older than the newest `keep` (the pointer's
    * version is always retained). Returns the number of versions removed.
    * The production analogue of a retention-window vacuum. */
  def vacuum(model: String, keep: Int = 1): Int = {
    require(keep >= 1, "must keep at least the current version")
    val current = currentVersion(model).getOrElse(return 0)
    val modelDir = Paths.get(root, model)
    if (!Files.isDirectory(modelDir)) return 0
    val versions = withStream(Files.list(modelDir))(_
      .filter(p => p.getFileName.toString.matches("v\\d+"))
      .map(p => p.getFileName.toString.drop(1).toLong)
      .toSeq).sorted
    val toDrop = versions.filter(_ <= current).dropRight(keep)
    toDrop.foreach { v =>
      // external catalog entry (bucketed versions) before the files
      spark.sql(s"DROP TABLE IF EXISTS ${catalogName(model, v)}")
      catalogTableCache.remove(catalogName(model, v))
      val dir = versionDir(model, v)
      withStream(Files.walk(dir))(_.toSeq.reverse.foreach(Files.delete))
    }
    toDrop.size
  }

  /** Register a logical (lazy) view — the `view` materialization. */
  def registerView(model: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(relation(model))
}

object Warehouse {

  /** Clustered-write file sizing target when `numFiles = 0` (auto):
    * Catalyst's estimated plan size divided by this, minimum one file.
    * 128 MB is the standard lakehouse compaction target (large enough
    * to amortize parquet footer/row-group overhead, small enough to
    * split scans). A FIXED file count cannot survive a data-volume
    * change — the 30× scale sweep measured a 9.5× write slope on 8
    * pinned files precisely because each file silently grew 30× — so
    * the byte target is the default and an explicit count is the
    * override for layout-sensitive tests. */
  val DefaultTargetFileBytes: Long = 128L * 1024 * 1024

  /** Explicit `numFiles` wins; 0 auto-sizes from the optimized plan's
    * size estimate (proportional to input bytes — exactness does not
    * matter, tracking data volume does).
    *
    * Frames with saturated statistics — e.g. a deep join plan whose
    * compounded BigInt stats reach the session's `defaultSizeInBytes`
    * sentinel (Long.MaxValue by default in Spark 4.x), or an RDD-backed
    * frame without measured stats — would divide the sentinel by the
    * target and hit the 2^20 cap: a million-file write. Detect the
    * sentinel (estimate at or above `defaultSizeInBytes`) and fall back
    * to a row-count × schema-width estimate instead.
    * [[graft.Checkpoints.truncate]] leaves carry measured stats, so
    * truncated frames normally size from their estimate; when one does
    * saturate, its count (every analyzed-plan leaf a LogicalRDD) is a
    * cheap block scan. Any other saturated-stats frame would execute
    * its full plan once for the count and again for the write, so
    * [[Warehouse.withResolvedNumFiles]] persists it first and the write
    * reuses the materialization. */
  private[model] def resolveNumFiles(
      df: DataFrame, numFiles: Int, targetFileBytes: Long): Int = {
    if (numFiles > 0) numFiles
    else {
      require(targetFileBytes > 0, "targetFileBytes must be positive")
      val conf = df.sparkSession.sessionState.conf
      val stats = df.queryExecution.optimizedPlan.stats
      val est: BigInt =
        if (stats.sizeInBytes < conf.defaultSizeInBytes) stats.sizeInBytes
        else {
          // In-memory default widths undercount strings/binaries; the
          // 2x headroom biases toward one extra file rather than one
          // oversized file. Exactness still does not matter.
          val rowWidth =
            math.max(8L, df.schema.map(_.dataType.defaultSize.toLong).sum) * 2
          BigInt(df.count()) * rowWidth
        }
      (est / targetFileBytes).min(BigInt(1) << 20).toInt + 1
    }
  }

  /** Whether [[resolveNumFiles]] on this frame would pay a count that
    * RE-EXECUTES the plan (saturated stats on a non-materialized
    * frame) rather than scanning already-materialized blocks. */
  private[model] def countWouldReExecute(df: DataFrame, numFiles: Int): Boolean =
    numFiles == 0 && {
      val conf = df.sparkSession.sessionState.conf
      df.queryExecution.optimizedPlan.stats.sizeInBytes >=
        conf.defaultSizeInBytes &&
        !org.apache.spark.sql.graftext.Bridge.allLeavesMaterialized(df)
    }

  /** Run `body` with the resolved file count, persisting `df` across
    * sizing + write exactly when the sizing count would otherwise
    * re-execute the plan (the write then reads the cache instead of
    * recomputing), and dropping the cache afterwards. The common cases
    * — explicit numFiles, honest stats, truncated frames — take the
    * plain path with no persistence. */
  private[model] def withResolvedNumFiles[A](
      df: DataFrame, numFiles: Int, targetFileBytes: Long)(
      body: Int => A): A = {
    if (!countWouldReExecute(df, numFiles))
      body(resolveNumFiles(df, numFiles, targetFileBytes))
    else if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) {
      // The caller already persisted this frame: its sizing count reads
      // the caller's cache, and the cache lifecycle stays the CALLER's —
      // unpersisting here would silently degrade their subsequent reads.
      body(resolveNumFiles(df, numFiles, targetFileBytes))
    } else {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try body(resolveNumFiles(df, numFiles, targetFileBytes))
      finally df.unpersist(blocking = false)
    }
  }
}
