package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
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
  * year partitioning, append inserts, and upsert as ONE merge-write.
  *
  * Scale design:
  *  - data is laid out `root/<table>/<partitionKey>=<value>/...parquet`, so
  *    Catalyst prunes partitions on `WHERE year = ...` for free;
  *  - every write stamps a `__version`; one rule ([[Lake.newestPerKey]])
  *    keeps, per primary key, the row from the newest version (window
  *    row_number, one hash shuffle on the PK);
  *  - [[upsert]] runs that rule over existing ∪ incoming in one plan and
  *    writes the result once (tmp write + swap) — the reference's
  *    create → insert → `optimize()` (stock_prices_flow.py:99-121) without
  *    the seed write or the re-read of the rows just appended. Scoped to
  *    the partitions a daily batch touches (`partitions = Seq("year=…")`),
  *    it reads and rewrites one year, not the whole history — the
  *    difference between O(day) and O(100 TB) writes;
  *  - [[optimize]] is the same rule as a maintenance op over what
  *    [[append]] left on disk (the stores' delta tables).
  *
  * Reads resolve against the declared schema (plus `__version`), never
  * by inference: no footer-reading schema job runs per read, every read
  * of a table has the same columns (data columns in declared order, then
  * the partition keys), and a file column whose type differs from the
  * declared one fails the read instead of changing the frame's type.
  *
  * Crash semantics: every rewrite lands in a tmp directory first and is
  * swapped in by renames that move the old data ASIDE (`<t>__old`, or
  * `<t>/<key>=<value>__old` for one partition of a scoped upsert) before
  * the new data moves in. A failure before the swap leaves the old table
  * unchanged; a crash between the two renames leaves only the `__old`
  * copy, which every write and [[exists]] restore before they look at
  * `<t>` ([[recover]]).
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

  /** A write op's span; the table is recovered first (see [[recover]]). */
  private def write[T](op: String, t: TableDef)(body: => T): T =
    span(op, t.name) { recover(t.name); body }

  def path(name: String): String = s"$root/$name"

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(name: String): Boolean = {
    recover(name)
    fs.exists(new Path(path(name)))
  }

  /** Recover on open: a crash between [[swapInto]]'s two renames leaves
    * only `<name>__old`, the sole surviving copy. Move it back before
    * anything reads `<name>` as missing (and seeds or swaps over it).
    * Inside the table the same holds per partition: a scoped upsert's
    * `<key>=<value>__old` is moved back when its live directory is
    * missing, and deleted when the swap's second rename already landed. */
  private def recover(name: String): Unit = {
    val dst = new Path(path(name))
    restore(new Path(path(name) + "__old"), dst)
    if (fs.exists(dst)) fs.listStatus(dst).map(_.getPath)
      .filter(p => p.getName.contains("=") && p.getName.endsWith("__old"))
      .foreach(p => restore(p, new Path(dst, p.getName.stripSuffix("__old"))))
  }

  /** Move the aside copy `aside` back to `live` if `live` is missing;
    * otherwise it is a stale copy and is deleted. */
  private def restore(aside: Path, live: Path): Unit =
    if (fs.exists(aside)) {
      if (fs.exists(live)) fs.delete(aside, true)
      else if (!fs.rename(aside, live))
        throw new java.io.IOException(s"recover: failed to restore $aside")
    }

  /** Declared schema plus the hidden version column. */
  private def stored(t: TableDef) = t.schema.add(VERSION, LongType)

  /** A reader of `t`'s files against its declared schema. */
  private def reader(t: TableDef) = spark.read.schema(stored(t))

  private def empty(schema: StructType) =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Create (replace drops existing data; skip is create-if-absent).
    * An empty seed write materializes the schema so `table()` always
    * resolves. Returns true if the table was (re)created. */
  def create(t: TableDef, replace: Boolean = false): Boolean =
    write(if (replace) "replace" else "create", t) {
      val present = exists(t.name)
      if (present && replace) fs.delete(new Path(path(t.name)), true)
      if (present && !replace) false
      else {
        writer(empty(stored(t)), t).mode(SaveMode.Overwrite).parquet(path(t.name))
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
    * appended — parquet leaves no data files) read as an empty frame with
    * the declared schema, and so does a missing table. */
  def table(t: TableDef, keepVersion: Boolean = false): DataFrame =
    span("read", t.name) {
      try {
        val df = reader(t).parquet(path(t.name))
        if (keepVersion) df else df.drop(VERSION)
      } catch {
        case _: org.apache.spark.sql.AnalysisException =>
          empty(if (keepVersion) stored(t) else t.schema)
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
    val existing = partDirs(t, partitions)
    if (existing.isEmpty) empty(if (keepVersion) stored(t) else t.schema)
    else {
      val df = reader(t).option("basePath", path(t.name)).parquet(existing: _*)
      if (keepVersion) df else df.drop(VERSION)
    }
  }

  /** The directories of the named partitions of `t` that exist. */
  private def partDirs(t: TableDef, partitions: Seq[String]): Seq[String] =
    partitions.map(p => s"${path(t.name)}/$p").filter(d => fs.exists(new Path(d)))

  /** Append rows. `version` defaults to current time; pass explicitly for
    * deterministic tests. Later versions win at optimize(). */
  def append(t: TableDef, df: DataFrame, version: Long = System.currentTimeMillis()): Unit =
    write("append", t) {
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
      try Some(reader(t).parquet(path(t.name)))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    read.fold(empty(t.schema))(Lake.newestPerKey(_, t.primaryKeys).drop(VERSION))
  }

  /** PK compaction (reference `optimize()`, stock_prices_flow.py:121) as a
    * maintenance op over what [[append]] left on disk: keep one row per
    * primary key by [[Lake.newestPerKey]]. `partitions` scopes the rewrite
    * (e.g. Seq("year=2024")); named partitions that don't exist yet are
    * ignored. */
  def optimize(t: TableDef, partitions: Seq[String] = Nil): Unit =
    write("optimize", t) {
      require(t.primaryKeys.nonEmpty, s"${t.name}: optimize needs primary keys")
      val dirs = if (partitions.isEmpty) Seq(path(t.name)) else partDirs(t, partitions)
      if (dirs.nonEmpty)
        compact(t, reader(t).option("basePath", path(t.name)).parquet(dirs: _*), partitions)
    }

  /** Upsert as ONE merge-write: [[Lake.newestPerKey]] over the existing
    * rows ∪ `df` stamped with `version`, written once to a tmp directory
    * and swapped in ([[optimize]]'s rule and swap, without the seed write,
    * the append or the re-read). The dedup runs even into an absent table
    * (a batch can repeat a key); an empty batch into an absent table still
    * leaves an empty table that `table()` resolves. `df` MAY read the
    * target table. Existing rows are read against the declared schema and
    * aligned with `df` by column name.
    *
    * `partitions` (e.g. Seq("year=2024"), single partition key) scopes the
    * merge: only those existing partitions are read, and each partition
    * the write produced is swapped in — a new one simply moves in. A row
    * landing in an EXISTING partition outside the scope would drop that
    * partition's other rows, so that throws before any swap and leaves the
    * table unchanged. Any failure before the swap leaves the old table and
    * its rows unchanged; re-running the upsert converges. */
  def upsert(t: TableDef, df: DataFrame, version: Long = System.currentTimeMillis(),
      partitions: Seq[String] = Nil): Unit =
    if (partitions.isEmpty) upsert(t, df, version) else merge(t, df, version, partitions)

  /** The unscoped [[upsert]] — the form subclasses override. */
  def upsert(t: TableDef, df: DataFrame, version: Long): Unit =
    merge(t, df, version, Nil)

  private def merge(t: TableDef, df: DataFrame, version: Long,
      partitions: Seq[String]): Unit = write("upsert", t) {
    require(t.primaryKeys.nonEmpty, s"${t.name}: upsert needs primary keys")
    require(partitions.isEmpty || t.partitionKeys.size == 1,
      s"${t.name}: a scoped upsert needs exactly one partition key")
    val cols = stored(t).fieldNames.map(col)
    val incoming = df.withColumn(VERSION, lit(version)).select(cols: _*)
    val present = exists(t.name)
    val scope = if (present) partitions.distinct else Nil
    val dirs = if (!present) Nil
      else if (scope.isEmpty) Seq(path(t.name)) else partDirs(t, scope)
    compact(t, if (dirs.isEmpty) incoming else reader(t)
      .option("basePath", path(t.name)).parquet(dirs: _*)
      .select(cols: _*).unionByName(incoming), scope)
  }

  /** Write [[Lake.newestPerKey]] of `src` to a tmp directory (the table
    * can't be overwritten while it is read) and swap it in: the whole
    * table when `scope` is empty, else each partition the write produced.
    * A produced partition outside `scope` that already exists throws
    * before any swap (the tmp holds only part of its rows). */
  private def compact(t: TableDef, src: DataFrame, scope: Seq[String]): Unit = {
    val dst = new Path(path(t.name))
    val tmp = stage(t, Lake.newestPerKey(src, t.primaryKeys), "__compact_tmp")
    val moves = if (scope.isEmpty) Seq(tmp -> dst) else fs.listStatus(tmp).toSeq
      .filter(_.isDirectory).map(s => s.getPath -> new Path(dst, s.getPath.getName))
    val outside = moves.map(_._2).filter(d =>
      scope.nonEmpty && !scope.contains(d.getName) && fs.exists(d))
    if (outside.nonEmpty) {
      fs.delete(tmp, true)
      throw new IllegalArgumentException(s"${t.name}: rows land in existing " +
        s"partitions ${outside.map(_.getName).sorted.mkString(", ")} outside " +
        s"the scope ${scope.mkString(", ")}; table unchanged")
    }
    moves.foreach { case (from, to) => swapInto(from, to) }
    fs.delete(tmp, true)
  }

  /** Write `df` into `<t><suffix>`, a fresh tmp directory, and return it. */
  private def stage(t: TableDef, df: DataFrame, suffix: String): Path = {
    val tmp = new Path(path(t.name) + suffix)
    fs.delete(tmp, true)
    writer(df, t).mode(SaveMode.Overwrite).parquet(tmp.toString)
    tmp
  }

  /** Replace a table's contents wholesale via the same temp-write + swap
    * discipline as [[optimize]] — `df` MAY read from the table being
    * replaced (the temp write materializes it before the old files are
    * moved aside). For row-level updates prefer [[upsert]]; this is for
    * delete-bearing rewrites (PK compaction can't drop a stale row whose
    * PK vanished from the new data). */
  def replace(t: TableDef, df: DataFrame, version: Long = System.currentTimeMillis()): Unit =
    write("replace", t) {
      swapInto(stage(t, df.withColumn(VERSION, lit(version)), "__replace_tmp"),
        new Path(path(t.name)))
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

  /** The newest-per-key rule every compaction and merge view applies: one
    * row per `keys`, the highest `__version` first, ties broken by the
    * remaining columns, sorted by name and descending, so the survivor is
    * deterministic. `__version` is not repeated among the tie-break
    * columns: as the first sort key it already ties wherever a later
    * position could consult it, so the order is the same either way.
    * Keeps `__version`; callers that serve rows drop it. */
  private[graft] def newestPerKey(src: DataFrame, keys: Seq[String]): DataFrame = {
    val tieBreak = src.columns.filterNot(c => keys.contains(c) || c == Version).sorted
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(Version).desc +: tieBreak.map(col(_).desc): _*)
    src.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
