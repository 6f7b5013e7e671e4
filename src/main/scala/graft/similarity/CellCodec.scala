package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{Lake, TableDef}

/** What a persisted [[IvfIndex]] stores in each cell row beside
  * (cand_id, cv, cell), and everything that depends on it — the ONLY
  * thing the index's shapes differ in:
  *
  *   - [[CellCodec.Flat]]: nothing; probed cells are scored on `cv` with
  *     exact cosines (the [[Ann.ivfTopK]] shape).
  *   - [[CellCodec.Pq]]: PQ codes against codebooks frozen at build
  *     (IVFADC — the [[Ann.ivfPqTopK]] shape). The scored scan reads
  *     `codes` only (parquet column pruning drops `cv`, ~the PQ
  *     compression ratio fewer bytes on top of the partition pruning);
  *     `rerank` re-reads floats for the shortlist.
  *   - [[CellCodec.Sq8]]: one byte per dimension plus the DECODED norm
  *     against per-dimension (min, step) bounds frozen at build — the
  *     [[Ann.sqTopK]] kernel, ~4× fewer scan bytes than floats at recall
  *     PQ cannot reach on stretched spectra (the arg-38 receipt).
  *
  * Every codec trains from the index's ONE [[Ann.hashSample]], the
  * sample the one-shot paths draw, and scores through the one-shot
  * paths' kernels ([[Ann.scoredCells]], [[Ann.indexedDtabs]] +
  * [[Ann.adcScorer]], [[Ann.indexedSqWeights]] + [[Ann.sqScorer]]) — the
  * x45/x59/x96 byte-parity contracts depend on both. */
sealed trait CellCodec {
  /** Default table prefix of an index over this codec. */
  def defaultPrefix: String
  /** Vector-table columns after (cand_id, cv, cell). */
  private[similarity] def columns: Seq[StructField] = Nil
  /** The trained-parameter table (codebooks, SQ bounds); None when the
    * codec trains nothing. */
  private[similarity] def auxTable(prefix: String): Option[TableDef] = None
  /** Whether the adaptive radius bound holds for this codec's OWN scores
    * (exact cosines; decoded-space cosines over decoded-space radii). PQ's
    * ADC scores are not cosines of anything the radii bound, so its bound
    * holds only for refined exact cosines — [[IvfIndex.searchAdaptive]]
    * then refines each phase before thresholding. */
  private[similarity] def boundOnScores: Boolean = true
  private[similarity] def train(sample: Array[Array[Double]]): CellCodec.Frozen
  private[similarity] def load(lake: Lake, prefix: String): CellCodec.Frozen
}

object CellCodec {

  /** A codec's trained (frozen) state: what build/append encode with and
    * search scores with. */
  private[similarity] trait Frozen {
    /** Rows of the codec's [[CellCodec.auxTable]]. */
    def auxRows(spark: SparkSession): DataFrame = spark.emptyDataFrame
    /** Add the codec's columns to assigned (cand_id, cv, cell) rows. */
    def encode(assigned: DataFrame): DataFrame = assigned
    /** Per-cell radii in the space the scan scores ([[Ann.cellRadii]]'s
      * layout — raw vectors unless overridden). */
    def radii(encoded: DataFrame, centroids: Array[Array[Double]]): Array[Double] =
      Ann.cellRadii(encoded, centroids)
    /** Query-side prep for one batch, returning the scorer of a probed
      * slice against probe rows (query_id, qv, cell): scored rows carry
      * query_id, cand_id and the 6dp `cosine`, self-matches dropped. */
    def scorer(queries: DataFrame, idCol: String, vecCol: String)
      : (DataFrame, DataFrame) => DataFrame
  }

  /** No payload: `cv` is scored directly (exact cosines). */
  case object Flat extends CellCodec {
    def defaultPrefix: String = "ivf"
    private val frozen: Frozen = new Frozen {
      def scorer(queries: DataFrame, idCol: String, vecCol: String)
        : (DataFrame, DataFrame) => DataFrame = Ann.scoredCells
    }
    private[similarity] def train(sample: Array[Array[Double]]): Frozen = frozen
    private[similarity] def load(lake: Lake, prefix: String): Frozen = frozen
  }

  /** PQ codes: m subspaces × ksub centroids, codebooks frozen at build.
    * Codes quantize the NORMALIZED vector (not the cell residual), so one
    * codebook set serves every cell. */
  final case class Pq(m: Int = 8, ksub: Int = 16) extends CellCodec {
    def defaultPrefix: String = "ivfpq"
    override private[similarity] def columns: Seq[StructField] =
      Seq(StructField("codes", ArrayType(IntegerType)))
    /** (subspace, centroid-index, centroid) rows — m·ksub of them. */
    private def books(prefix: String): TableDef = TableDef(s"${prefix}_codebooks",
      StructType(Seq(StructField("subspace", IntegerType),
        StructField("ci", IntegerType),
        StructField("centroid", ArrayType(DoubleType)))))
    override private[similarity] def auxTable(prefix: String): Option[TableDef] =
      Some(books(prefix))
    override private[similarity] def boundOnScores: Boolean = false
    private[similarity] def train(sample: Array[Array[Double]]): Frozen =
      new PqFrozen(Ann.trainPqCodebooksFrom(sample, m, ksub))
    private[similarity] def load(lake: Lake, prefix: String): Frozen = {
      val rows = lake.table(books(prefix))
        .orderBy(col("subspace"), col("ci")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](2).toArray))
      require(rows.nonEmpty,
        s"$prefix: no codebooks found — build() the index before search/append")
      new PqFrozen(rows.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2)).toArray)
    }
  }

  private final class PqFrozen(books: Array[Array[Array[Double]]]) extends Frozen {
    override def auxRows(spark: SparkSession): DataFrame = {
      import spark.implicits._
      books.toIndexedSeq.zipWithIndex.flatMap { case (book, j) =>
        book.toIndexedSeq.zipWithIndex.map { case (cen, ci) => (j, ci, cen.toSeq) }
      }.toDF("subspace", "ci", "centroid")
    }
    override def encode(assigned: DataFrame): DataFrame =
      assigned.withColumn("codes", Ann.pqEncoder(
        assigned.sparkSession.sparkContext.broadcast(books))(col("cv")))
    def scorer(queries: DataFrame, idCol: String, vecCol: String)
      : (DataFrame, DataFrame) => DataFrame = {
      val (qIdx, bcD) = Ann.indexedDtabs(queries, idCol, vecCol,
        queries.sparkSession.sparkContext.broadcast(books))
      (slice, probes) => probedCodes(slice, probes, qIdx, "codes")
        .withColumn("cosine",
          round(lit(1.0) - Ann.adcScorer(bcD)(col("codes"), col("qi")) / lit(2.0), 6))
        .drop("codes", "qi")
    }
  }

  /** SQ8 codes: per-dimension (min, step) bounds frozen at build; `codes`
    * is BINARY (one byte per dimension), `dnorm` the decoded vector's norm,
    * so the scored scan never touches `cv`. */
  case object Sq8 extends CellCodec {
    def defaultPrefix: String = "ivfsq"
    override private[similarity] def columns: Seq[StructField] =
      Seq(StructField("codes", BinaryType), StructField("dnorm", DoubleType))
    /** The per-dimension scalar quantizer: (dim, minv, step). */
    private def bounds(prefix: String): TableDef = TableDef(s"${prefix}_sq",
      StructType(Seq(StructField("dim", IntegerType),
        StructField("minv", DoubleType),
        StructField("step", DoubleType))))
    override private[similarity] def auxTable(prefix: String): Option[TableDef] =
      Some(bounds(prefix))
    private[similarity] def train(sample: Array[Array[Double]]): Frozen =
      new SqFrozen(Ann.trainSq(sample))
    private[similarity] def load(lake: Lake, prefix: String): Frozen = {
      val rows = lake.table(bounds(prefix)).orderBy(col("dim")).collect()
      require(rows.nonEmpty,
        s"$prefix: no SQ bounds found — build() the index before search/append")
      new SqFrozen((rows.map(_.getDouble(1)), rows.map(_.getDouble(2))))
    }
  }

  private final class SqFrozen(quant: (Array[Double], Array[Double])) extends Frozen {
    override def auxRows(spark: SparkSession): DataFrame = {
      import spark.implicits._
      quant._1.toIndexedSeq.zipWithIndex.map { case (mn, i) => (i, mn, quant._2(i)) }
        .toDF("dim", "minv", "step")
    }
    override def encode(assigned: DataFrame): DataFrame =
      assigned.withColumn("__sq", Ann.sqEncoder(
          assigned.sparkSession.sparkContext.broadcast(quant))(col("cv")))
        .select(col("cand_id"), col("cv"), col("cell"),
          col("__sq._1").as("codes"), col("__sq._2").as("dnorm"))
    /** Radii over the DECODED vectors: the scan ranks decoded cosines, so
      * only decoded-space radii keep the adaptive bound sound
      * ([[Ann.sqCellRadii]]). */
    override def radii(encoded: DataFrame, centroids: Array[Array[Double]]): Array[Double] =
      Ann.sqCellRadii(encoded, centroids, quant)
    def scorer(queries: DataFrame, idCol: String, vecCol: String)
      : (DataFrame, DataFrame) => DataFrame = {
      val (qIdx, bcW) = Ann.indexedSqWeights(queries, idCol, vecCol, quant)
      (slice, probes) => probedCodes(slice, probes, qIdx, "codes", "dnorm")
        .withColumn("cosine",
          round(Ann.sqScorer(bcW)(col("codes"), col("dnorm"), col("qi")), 6))
        .drop("codes", "dnorm", "qi")
    }
  }

  /** The codes-only scan shared by the compressed codecs: the slice's
    * (cand_id, cell, payload) joined to its probe rows, each carrying the
    * query's broadcast-table index `qi`. */
  private def probedCodes(slice: DataFrame, probes: DataFrame,
      qIdx: DataFrame, payload: String*): DataFrame =
    slice.select((Seq("cand_id", "cell") ++ payload).map(col): _*)
      .join(broadcast(probes.select(col("query_id"), col("cell"))
        .join(broadcast(qIdx), Seq("query_id"))), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
}
