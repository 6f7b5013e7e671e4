package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.obs.Trace

/** Table definition mirroring the reference lakehouse catalog entries
  * (bear-lake `create(name, schema, partition_keys, primary_keys, mode)`,
  * /root/reference/pipelines/clients/bear_lake.py usage sites, e.g.
  * stock_prices_flow.py:99-115). */
final case class TableDef(
    name: String,
    schema: StructType,
    partitionKeys: Seq[String] = Nil,
    primaryKeys: Seq[String] = Nil,
    clusterWrites: Boolean = false)

/** Parquet lakehouse layer (SURVEY.md §2.1 S1-S4): schema-declared tables,
  * year partitioning, append inserts, and upsert-by-compaction
  * (`optimize()` = primary-key dedup keeping the newest version).
  *
  * Scale design:
  *  - data is laid out `root/<table>/<partitionKey>=<value>/...parquet`, so
  *    Catalyst prunes partitions on `WHERE year = ...` for free;
  *  - every append stamps a monotonically increasing `__version`; optimize
  *    keeps, per primary key, the row from the newest version (window
  *    row_number, one hash shuffle on the PK);
  *  - optimize can be scoped to the partitions an append touched
  *    (`optimize(t, touched)`) so daily upserts rewrite one year, not the
  *    whole history — the difference between O(day) and O(100 TB) writes.
  *
  * Every public table operation is a [[Trace.span]] named `lake.<op>` and
  * tagged with its table (`create(t, replace = true)` is a `lake.replace`).
  */
class Lake(spark: SparkSession, root: String) {

  private val VERSION = Lake.Version

  /** The session this lake reads and writes through. */
  private[graft] def session: SparkSession = spark

  private def span[T](op: String, table: String)(body: => T): T =
    Trace.span(spark, s"lake.$op", table)(body)

  def path(name: String): String = s"$root/$name"

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(name: String): Boolean = fs.exists(new Path(path(name)))

  /** Create (replace drops existing data; skip is create-if-absent).
    * An empty seed write materializes the schema so `table()` always
    * resolves. Returns true if the table was (re)created. */
  def create(t: TableDef, replace: Boolean = false): Boolean =
    span(if (replace) "replace" else "create", t.name) {
      val present = exists(t.name)
      if (present && replace) fs.delete(new Path(path(t.name)), true)
      if (present && !replace) false
      else {
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          t.schema.add(VERSION, org.apache.spark.sql.types.LongType))
        writer(empty, t).mode(SaveMode.Overwrite).parquet(path(t.name))
        true
      }
    }

  /** `clusterWrites` shuffles rows onto their partition key before the
    * partitioned write. Without it each upstream task opens one file per
    * distinct key it sees — at HIGH key cardinality (the 4096-cell vector
    * tables) that is tasks × keys small files per write (32k at 8 tasks,
    * measured 3× the build wall at 1M vectors); clustered, a key lives in
    * exactly one task, so the table lands as ONE file per partition.
    * Deliberately opt-in: for LOW-cardinality keys (year-partitioned
    * price history) clustering would collapse a backfill's write
    * parallelism to #years tasks, which is the wrong trade there. */
  private def writer(df: DataFrame, t: TableDef) = {
    val out =
      if (t.clusterWrites && t.partitionKeys.nonEmpty)
        df.repartition(t.partitionKeys.map(col): _*)
      else df
    val w = out.write
    if (t.partitionKeys.nonEmpty) w.partitionBy(t.partitionKeys: _*) else w
  }

  /** Read a table (hidden version column dropped unless `keepVersion` —
    * delta consumers that reconcile against per-row versions, e.g.
    * tombstone filtering, need it). Empty tables (created but never
    * appended — parquet leaves no data files) resolve to an empty frame
    * with the declared schema. */
  def table(t: TableDef, keepVersion: Boolean = false): DataFrame =
    span("read", t.name) {
      try {
        val df = spark.read.parquet(path(t.name))
        if (keepVersion) df else df.drop(VERSION)
      } catch {
        case _: org.apache.spark.sql.AnalysisException =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            if (keepVersion) t.schema.add(VERSION, org.apache.spark.sql.types.LongType)
            else t.schema)
      }
    }

  /** Partition-scoped read — [[optimize]]'s basePath idiom as a SERVING
    * path: only the named partition directories are resolved, so the file
    * listing is O(requested partitions), not O(all partitions). At a
    * 2^16-cell vector table the full recursive listing is itself a scale
    * cost that planner-side partition pruning does nothing about (pruning
    * happens AFTER the listing). Missing partitions are skipped (a probed
    * cell may simply hold no vectors); all-missing resolves to an empty
    * frame with the declared schema, like [[table]] on a missing table. */
  def tableSlice(t: TableDef, partitions: Seq[String],
      keepVersion: Boolean = false): DataFrame = span("read", t.name) {
    val existing = partitions.filter(p =>
      fs.exists(new Path(s"${path(t.name)}/$p")))
    if (existing.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (keepVersion) t.schema.add(VERSION, org.apache.spark.sql.types.LongType)
        else t.schema)
    else {
      val df = spark.read.option("basePath", path(t.name))
        .parquet(existing.map(p => s"${path(t.name)}/$p"): _*)
      if (keepVersion) df else df.drop(VERSION)
    }
  }

  /** Append rows. `version` defaults to current time; pass explicitly for
    * deterministic tests. Later versions win at optimize(). */
  def append(t: TableDef, df: DataFrame, version: Long = System.currentTimeMillis()): Unit =
    span("append", t.name) {
      writer(df.withColumn(VERSION, lit(version)), t)
        .mode(SaveMode.Append).parquet(path(t.name))
    }

  /** Merge-on-read view: one row per primary key — the newest
    * `__version`, ties broken exactly like [[optimize]] — computed at
    * READ time. This is the serving view for DELTA tables whose appends
    * SUPERSEDE rows (a new version of a key is appended, the old row
    * stays on disk): the write stays O(batch) while reads pay one hash
    * shuffle on the PK over (live + superseded) rows. [[optimize]]
    * remains the write-time compaction that bounds this view's input —
    * run it on the maintenance cadence, not per append. Empty/missing
    * tables resolve to an empty frame like [[table]]. */
  def latest(t: TableDef): DataFrame = span("read", t.name) {
    require(t.primaryKeys.nonEmpty, s"${t.name}: latest() needs primary keys")
    val read =
      try Some(spark.read.parquet(path(t.name)))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    read.fold(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema)) { src =>
      val tieBreak = src.columns
        .filterNot(c => t.primaryKeys.contains(c) || c == VERSION).sorted
      val w = Window.partitionBy(t.primaryKeys.map(col): _*)
        .orderBy(col(VERSION).desc +: tieBreak.map(col(_).desc): _*)
      src.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn", VERSION)
    }
  }

  /** Upsert-by-compaction (reference `optimize()`,
    * stock_prices_flow.py:121): keep one row per primary key — the highest
    * `__version`, ties broken by the remaining columns so the survivor is
    * deterministic. `partitions` scopes the rewrite (e.g. Seq("year=2024"))
    * for incremental daily upserts. */
  def optimize(t: TableDef, partitions: Seq[String] = Nil): Unit =
    span("optimize", t.name) {
      require(t.primaryKeys.nonEmpty, s"${t.name}: optimize needs primary keys")
      // ignore named partitions that don't exist yet (e.g. first day of a year)
      val existing = partitions.filter(p => fs.exists(new Path(s"${path(t.name)}/$p")))
      if (partitions.isEmpty || existing.nonEmpty) rewrite(t, partitions, existing)
    }

  private def rewrite(t: TableDef, partitions: Seq[String],
      existing: Seq[String]): Unit = {
    val src =
      if (partitions.isEmpty) spark.read.parquet(path(t.name))
      else {
        // partition-scoped read keeps the partition column via basePath
        spark.read.option("basePath", path(t.name))
          .parquet(existing.map(p => s"${path(t.name)}/$p"): _*)
      }
    val tieBreak = src.columns.filterNot(c => t.primaryKeys.contains(c)).sorted
    val w = Window.partitionBy(t.primaryKeys.map(col): _*)
      .orderBy(col(VERSION).desc +: tieBreak.map(col(_).desc): _*)
    val deduped = src.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")

    // rewrite via temp dir + atomic-ish swap (can't overwrite while reading)
    val tmp = new Path(path(t.name) + s"__compact_tmp")
    fs.delete(tmp, true)
    writer(deduped, t).mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (partitions.isEmpty) {
      swapInto(tmp, new Path(path(t.name)))
    } else {
      existing.foreach { p =>
        swapInto(new Path(s"$tmp/$p"), new Path(s"${path(t.name)}/$p"))
      }
      fs.delete(tmp, true)
    }
  }

  /** Reference upsert idiom: create-if-absent, append, compact
    * (e.g. stock_prices_flow.py:99-121). */
  def upsert(t: TableDef, df: DataFrame, version: Long = System.currentTimeMillis()): Unit =
    span("upsert", t.name) {
      create(t, replace = false)
      append(t, df, version)
      optimize(t)
    }

  /** Replace a table's contents wholesale via the same temp-write + swap
    * discipline as [[optimize]] — `df` MAY read from the table being
    * replaced (the temp write materializes it before the old files are
    * moved aside). For row-level updates prefer [[upsert]]; this is for
    * delete-bearing rewrites (PK compaction can't drop a stale row whose
    * PK vanished from the new data). */
  def replace(t: TableDef, df: DataFrame, version: Long = System.currentTimeMillis()): Unit =
    span("replace", t.name) {
      val tmp = new Path(path(t.name) + "__replace_tmp")
      fs.delete(tmp, true)
      writer(df.withColumn(VERSION, lit(version)), t)
        .mode(SaveMode.Overwrite).parquet(tmp.toString)
      swapInto(tmp, new Path(path(t.name)))
    }

  /** Move `tmp` into place at `dst` without a lose-the-table window: the
    * old data is renamed ASIDE (not deleted) before tmp moves in, so a
    * crash at any point leaves either the old or the new data on disk
    * under a recoverable name — never nothing. Rename results are checked;
    * a false return (cross-filesystem, permissions) aborts loudly instead
    * of letting a later read silently see a missing table as empty. */
  private def swapInto(tmp: Path, dst: Path): Unit = {
    val aside = new Path(dst.toString + "__old")
    fs.delete(aside, true)
    if (fs.exists(dst) && !fs.rename(dst, aside))
      throw new java.io.IOException(s"swap: failed to move $dst aside")
    if (!fs.rename(tmp, dst)) {
      // restore the old data before failing — the table must never vanish
      if (fs.exists(aside)) fs.rename(aside, dst)
      throw new java.io.IOException(s"swap: failed to move $tmp into $dst")
    }
    fs.delete(aside, true)
  }

  /** Remove a table entirely (directory delete) — for transient side
    * tables whose empty state should restore the no-table fast path
    * (e.g. a drained tombstone store), not for data tables. */
  def drop(name: String): Unit =
    span("drop", name)(fs.delete(new Path(path(name)), true))
}

object Lake {
  /** The hidden per-row version column every write stamps. */
  private[graft] val Version = "__version"
}
