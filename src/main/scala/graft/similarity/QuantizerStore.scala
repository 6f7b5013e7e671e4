package graft.similarity

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{Lake, TableDef}

/** Lake persistence for coarse quantizers ([[Quantizer]]), shared by
  * [[IvfIndex]] and [[graft.dedup.SemDeDupIndex]]: the flat cell table
  * is always written (cell, centroid — the serving layout every search
  * path reads), and routed builds additionally persist the TOP-ROUTER
  * table (branch, offset into the cell table, router centroid), empty
  * for a flat build. Plus the per-cell radii table the adaptive search
  * reads. */
private[graft] object QuantizerStore {

  def centroidTableDef(prefix: String): TableDef = TableDef(s"${prefix}_centroids",
    StructType(Seq(StructField("cell", IntegerType),
      StructField("centroid", ArrayType(DoubleType)))))

  def topTableDef(prefix: String): TableDef = TableDef(s"${prefix}_top",
    StructType(Seq(StructField("branch", IntegerType),
      StructField("offset", IntegerType),
      StructField("centroid", ArrayType(DoubleType)))))

  /** Write the cell table, then the router rows (an empty table for a
    * flat build, so the table always exists after a build — [[load]]
    * judges the REGIME from the caller's configured k, not from table
    * presence). Each is a temp-write + swap; the pair is not jointly
    * atomic, which [[load]]'s partial-build guard covers. */
  def write(lake: Lake, prefix: String, q: Quantizer, version: Long,
      spark: SparkSession): Unit = {
    import spark.implicits._
    lake.replace(centroidTableDef(prefix),
      q.cells.toIndexedSeq.zipWithIndex
        .map { case (cen, i) => (i, cen.toSeq) }
        .toDF("cell", "centroid"), version)
    val t = topTableDef(prefix)
    q match {
      case r: Quantizer.Routed =>
        lake.replace(t,
          r.top.toIndexedSeq.zipWithIndex
            .map { case (cen, b) => (b, r.offsets(b), cen.toSeq) }
            .toDF("branch", "offset", "centroid"), version)
      case _: Quantizer.Flat =>
        lake.replace(t, spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          t.schema), version)
    }
  }

  /** Rebuild the quantizer of a store whose index is configured for `k`
    * cells. The configured regime must match the store: a large-k config
    * over a router-less store would probe FLAT while the stored rows were
    * ROUTE-assigned (a row's routed cell need not be its flat-argmin cell
    * — probes silently miss), and a flat config over a routed store is
    * the same corruption mirrored. Both fail loudly here instead. The
    * router rows are also structurally validated against the cell table
    * (offsets start at 0, strictly increase, stay in bounds): a crash
    * BETWEEN the two table swaps of a re-build at a different k would
    * otherwise reconstruct a misaligned quantizer that probes the wrong
    * cells without error. A missing table reads as empty (Lake.table),
    * so a never-built store fails here too. */
  def load(lake: Lake, prefix: String, k: Int): Quantizer = {
    val flat = lake.table(centroidTableDef(prefix)).orderBy(col("cell")).collect()
      .map(_.getSeq[Double](1).toArray)
    require(flat.nonEmpty,
      s"$prefix: no centroids found — build() the index first")
    val tops = lake.table(topTableDef(prefix)).orderBy(col("branch")).collect()
      .map(r => (r.getInt(1), r.getSeq[Double](2).toArray))
    val expectRouted = Quantizer.routes(k)
    require(tops.nonEmpty == expectRouted,
      s"$prefix: quantizer regime mismatch — the index is configured " +
        s"${if (expectRouted) "large-k (routed)" else "flat"} but the store " +
        s"holds ${if (tops.isEmpty) "no" else tops.length.toString} router " +
        "rows; re-run build() at this configuration")
    if (tops.isEmpty) Quantizer.Flat(flat)
    else {
      val offsets = tops.map(_._1)
      require(offsets.head == 0 &&
          offsets.zip(offsets.tail).forall { case (a, b) => a < b } &&
          offsets.last < flat.length,
        s"$prefix: router offsets inconsistent with the flat cell table " +
          s"(${offsets.length} branches over ${flat.length} cells) — " +
          "partial build detected, re-run build()")
      val bounds = offsets :+ flat.length
      Quantizer.Routed(tops.map(_._2),
        Array.tabulate(tops.length)(b => flat.slice(bounds(b), bounds(b + 1))))
    }
  }

  /** Per-cell angular-radius table (cell, rcos = min member-to-centroid
    * cosine — [[Ann.cellRadii]]'s layout): what the adaptive search's
    * cell bound reads. Written at build, MIN-MERGED at append (a new
    * member can only widen its cell), untouched by delete/compact
    * (shrinking a cell keeps the stored radius a sound, conservative
    * over-estimate — the bound errs toward probing). */
  def radiiTableDef(prefix: String): TableDef = TableDef(s"${prefix}_radii",
    StructType(Seq(StructField("cell", IntegerType),
      StructField("rcos", DoubleType))))

  def writeRadii(lake: Lake, t: TableDef, radii: Array[Double],
      version: Long, spark: SparkSession): Unit = {
    import spark.implicits._
    lake.replace(t,
      radii.toIndexedSeq.zipWithIndex.map { case (r, i) => (i, r) }
        .toDF("cell", "rcos"), version)
  }

  /** Widen stored radii by a batch's own (element-wise min of the two
    * cos arrays) — the O(1)-sized append-path update. A store built
    * before the radii table existed is seeded VACUOUS here (rcos = −1,
    * the full sphere): sound — the adaptive bound can only err toward
    * probing — merely unprunable for the pre-existing cells, so appends
    * to legacy stores keep working without a rebuild (adaptive search
    * regains pruning power on a build() at this version). */
  def mergeRadii(lake: Lake, t: TableDef, batch: Array[Double],
      version: Long, spark: SparkSession): Unit = {
    val stored =
      if (lake.exists(t.name)) loadRadii(lake, t, batch.length)
      else Array.fill(batch.length)(-1.0)
    writeRadii(lake, t,
      Array.tabulate(batch.length)(i => math.min(stored(i), batch(i))),
      version, spark)
  }

  /** Radii indexed by cell; loud on a store built before the radii
    * table existed (adaptive search needs a build() at this version). */
  def loadRadii(lake: Lake, t: TableDef, nCells: Int): Array[Double] = {
    val rows = lake.table(t).collect()
    require(rows.nonEmpty,
      s"${t.name}: no cell radii found — re-run build() (adaptive " +
        "search needs the radii table this build version writes)")
    val out = Array.fill(nCells)(1.0)
    rows.foreach { r =>
      val c = r.getInt(0)
      require(c >= 0 && c < nCells,
        s"${t.name}: radius row for cell $c outside [0, $nCells) — " +
          "the radii table does not match this quantizer; re-run build()")
      out(c) = r.getDouble(1)
    }
    out
  }
}
