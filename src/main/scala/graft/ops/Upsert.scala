package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join-based upsert: the Spark re-expression of the reference's
  * `INSERT … ON CONFLICT (gid) DO UPDATE SET col = excluded.col`
  * (`update_ways_metadata.py:50-54`). No MERGE on OSS parquet, so:
  * full-outer join on the key + per-column `coalesce(new, old)`.
  *
  * Scale notes: both sides shuffle on the key once (sort-merge); if
  * `updates` is small relative to `base`, callers can `broadcast(updates)`.
  * Writing is staged (write temp, swap) by [[Upsert.writeAtomic]].
  */
object Upsert {

  /** Upsert `updates` into `base` by `key`. Columns present only in one
    * side are carried through (null elsewhere). Update wins on conflict.
    */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val b = base.alias("b")
    val u = updates.alias("u")
    val joined = b.join(u, col(s"b.$key") === col(s"u.$key"), "full_outer")
    val baseCols = base.columns.toSet
    val updCols = updates.columns.toSet
    val outCols = (base.columns ++ updates.columns.filterNot(baseCols)).toSeq
    val projected = outCols.map {
      case k if k == key => coalesce(col(s"u.$key"), col(s"b.$key")).as(key)
      case c if baseCols(c) && updCols(c) => coalesce(col(s"u.$c"), col(s"b.$c")).as(c)
      case c if updCols(c) => col(s"u.$c").as(c)
      case c => col(s"b.$c").as(c)
    }
    joined.select(projected: _*)
  }

  /** If `path` is missing but `<path>.old` exists, a previous
    * [[writeAtomic]] crashed between its two renames and the table
    * survives only at the `.old` location: rename it back. Callers that
    * read `path` before upserting (the streaming sinks, any re-run of a
    * crashed pipeline) must do this BEFORE their existence check —
    * otherwise they see "no table" and merge against nothing, silently
    * dropping the accumulated state; [[current]] does both in that
    * order. Returns true if a restore happened.
    */
  def recover(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    val fs = target.getFileSystem(hconf)
    if (!fs.exists(target) && fs.exists(old)) {
      if (!fs.rename(old, target))
        throw new java.io.IOException(
          s"recover: could not restore $old to $target")
      true
    } else false
  }

  /** The table at `path` after [[recover]], or None when there is none
    * (first run). Only genuine absence is None: any read failure of an
    * existing table throws, because treating it as "absent" would
    * overwrite the accumulated state with a single batch.
    */
  def current(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    recover(spark, path)
    val target = new org.apache.hadoop.fs.Path(path)
    if (target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(target)) Some(spark.read.parquet(path))
    else None
  }

  /** The exactly-once state-table contract of a streaming sink, written
    * once. `foreachBatch` delivers at-least-once, so a sink that folds a
    * micro-batch into persisted state must refuse a batch it already
    * applied. The state table carries a `batch_id` column, stamped with
    * the id of the last batch merged, inside the same atomic swap as
    * the data it guards. One call:
    *
    *  1. returns None for an empty batch: no write, and `batch_id` does
    *     not advance (an empty batch cannot seed a sketch, and advancing
    *     the id would make a non-empty redelivery of it look applied);
    *  2. reads the state after [[recover]] (see [[current]]) and returns
    *     None when `max(batch_id) >= batchId`: a replay;
    *  3. hands `step` the state without `batch_id` (None on first run);
    *     `step` returns the new state and a result for the caller;
    *  4. stamps `batch_id` on the new state and swaps it in with
    *     [[writeAtomic]], then returns Some(result).
    *
    * A result that reads the state (verdicts rendered against it) must
    * be materialized inside `step`: the swap replaces what it reads.
    */
  def mergeBatch[T](batch: DataFrame, path: String, batchId: Long)(
      step: Option[DataFrame] => (DataFrame, T)): Option[T] =
    if (batch.isEmpty) None
    else {
      val prev = current(batch.sparkSession, path)
      val applied = prev.map(_.agg(coalesce(max(col("batch_id")),
        lit(Long.MinValue))).head().getLong(0))
      if (applied.exists(_ >= batchId)) None
      else {
        val (next, out) = step(prev.map(_.drop("batch_id")))
        writeAtomic(next.withColumn("batch_id", lit(batchId)), path)
        Some(out)
      }
    }

  /** A [[mergeBatch]] state table as its readers see it: recovered from
    * a torn swap, without the `batch_id` guard column. A missing table
    * throws.
    */
  def readState(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    current(spark, path)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no state table at $path"))
      .drop("batch_id")

  /** Staged overwrite: write to `<path>.staging`, rename the old table
    * aside to `<path>.old`, swap the staging dir in, then drop the old
    * copy. Readers never observe a *partial* table, but there is a brief
    * window between the two renames where the target directory does not
    * exist; a crash in that window leaves the table at `<path>.old`, from
    * which the next [[writeAtomic]] or [[recover]] call restores it
    * automatically (`.old` is only ever deleted when the target exists).
    * Object stores without atomic rename need a manifest commit protocol
    * instead — out of scope here; this helper is for the local/HDFS
    * single-writer case.
    */
  def writeAtomic(df: DataFrame, path: String): Unit =
    writeAtomicMulti(df.sparkSession, path,
      stagingRoot => df.write.mode("overwrite").parquet(stagingRoot))

  /** [[writeAtomic]] generalized to a TREE of tables under one root:
    * `write(stagingRoot)` populates `<path>.staging` (any number of
    * sub-tables — e.g. an ECDF store's `meta` + `counts`), then the
    * whole root swaps in with the same two-rename protocol, so readers
    * never observe a mixed old/new tree (the failure mode a per-table
    * overwrite of a multi-table store cannot avoid). Same crash
    * contract as [[writeAtomic]]: a crash between the renames leaves
    * the prior tree at `<path>.old`, restored by [[recover]].
    */
  def writeAtomicMulti(spark: org.apache.spark.sql.SparkSession,
      path: String, write: String => Unit): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val target = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    recover(spark, path)
    if (fs.exists(staging)) fs.delete(staging, true)
    write(staging.toString)
    // After recover(), `.old` alongside an existing target can only be
    // debris from a crash after a completed swap — safe to delete. It can
    // no longer be the sole copy of the table.
    if (fs.exists(old)) fs.delete(old, true)
    val hadPrior = fs.exists(target)
    if (hadPrior && !fs.rename(target, old))
      throw new java.io.IOException(s"writeAtomic: could not move $target aside")
    if (!fs.rename(staging, target)) {
      // Swap failed: put the previous table back before erroring out.
      if (hadPrior) fs.rename(old, target)
      throw new java.io.IOException(s"writeAtomic: could not move $staging into place")
    }
    if (hadPrior) fs.delete(old, true)
  }
}
