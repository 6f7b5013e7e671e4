package graft.similarity

import graft.SparkSpec
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Every row-local kernel gives bit-identical rows on the interpreted
  * path and the generated-code path, over edge rows: null input, empty
  * and blank strings, fewer than 2 tokens, n < k, zero vectors, null
  * elements, unequal lengths, Inf and NaN. */
class KernelParitySpec extends SparkSpec {

  private def c(e: Expression): Column = GraftColumnBridge.column(e)
  private def e(c: Column): Expression = GraftColumnBridge.expression(c)
  private val Inf = Double.PositiveInfinity
  private val NaN = Double.NaN

  private def dv(xs: Any*): Seq[java.lang.Double] = xs.map {
    case null => null
    case x: Double => java.lang.Double.valueOf(x)
    case x: Int => java.lang.Double.valueOf(x.toDouble)
  }

  // one edge value per column per row; dimension-bound kernels (v4,
  // codes, bcodes) keep their inputs in range
  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("a", ArrayType(DoubleType)),
    StructField("b", ArrayType(DoubleType)), StructField("v4", ArrayType(DoubleType)),
    StructField("longs", ArrayType(LongType)), StructField("s", StringType),
    StructField("p", StringType), StructField("toks", ArrayType(StringType)),
    StructField("h", LongType), StructField("codes", ArrayType(IntegerType)),
    StructField("qi", IntegerType), StructField("bcodes", BinaryType),
    StructField("dnorm", DoubleType)))
  private val rows = Seq(
    Row(0, null, dv(1, 1, 1, 1), null, null, null, "a", null, null, null, 0, null, 1.0),
    Row(1, dv(), dv(1, 2), dv(0, 0, 0, 0), Seq(), "", null, Seq(), 1L,
      Seq(0, 1), null, Array[Byte](), 0.0),
    Row(2, dv(0, 0, 0, 0), null, dv(1, null, 3, 4), Seq(1L, -1L, 0L, null, 5L),
      "   ", "\\S+", Seq("a"), 2L, Seq(3, 3), 1, Array[Byte](0, -1, -128, 1), NaN),
    Row(3, dv(1, null, 3, 4), dv(4, 5, 6, 7), dv(Inf, 1, 2, 3),
      (0 until 70).map(i => java.lang.Long.valueOf(if (i % 3 == 0) -i else i)), "one", "",
      Seq("a", null, "b"), -5L, null, 0, Array[Byte](1, 2, 3, 4), Inf),
    Row(4, dv(1, 2, 3), dv(1, 2, 3, 4, 5), dv(NaN, 1, 2, 3),
      Seq(Long.MaxValue, Long.MinValue), "a b", "(?:)", Seq("x", "y"), Long.MaxValue,
      Seq(1, 2), 1, null, 2.0),
    Row(5, dv(Inf, 1, 2, 3), dv(1, 1, 1, 1), dv(0.1, -0.7, 1e-300, 3.3),
      Seq(3L), "a b c d e", "[a-c]", null, 0L, Seq(2, 0), 0, Array[Byte](-1, -1),
      -0.0),
    Row(6, dv(NaN, 1, 2, 3), dv(1, 1, 1, 1), dv(1, 2, 3, 4), Seq(null, 1L),
      "répé ti tion répé", "é", Seq("répé", "ti", "répé", "ti"), 42L, Seq(1, 3), 1,
      Array[Byte](7), 0.5),
    Row(7, dv(0.1, -0.7, 1e-300, 3.3), dv(2.5, 1.5, -3.25, 0.75),
      dv(-1, 0.5, 0, 2), Seq(-1L, -2L), "x x x x x", "x", Seq("x", "x", "x"), 7L,
      Seq(0, 0), 0, Array[Byte](0, 0, 0, 0), 1e-300),
    Row(8, dv(1e300, 1e300), dv(1e300, 1e300), dv(0.25, -0.25, 0.9, -0.1),
      Seq(1L, 1L, 1L), "café ﬁre", "\\s", Seq("", "z"), 8L, Seq(3, 2), 1,
      Array[Byte](10, 20, 30, 40), 3.0),
    Row(9, dv(0.5, -0.5, 0.25, 0.125), dv(0, 0, 0, 0), dv(1e300, 1e300, 1, 1),
      Seq(0L), "\t lead trail \n", "\\bthe\\b", Seq("the", "end"), 9L, Seq(1, 1), 0,
      Array[Byte](5, 5, 5, 5), -1.0))

  /** The 17 kernels over the edge table, one column each. */
  private def kernels(): Seq[(String, Column)] = {
    val sc = spark.sparkContext
    val bloom = BloomFilter.create(100, 0.01)
    Seq(1L, 42L, Long.MaxValue).foreach(bloom.putLong)
    val rot = Array.tabulate(4, 4)((i, j) => math.sin(i * 1.7 + j * 0.9))
    val books = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0), Array(0.7, 0.7)),
      Array(Array(0.5, 0.5), Array(-0.5, 0.5), Array(0.0, -1.0), Array(0.2, 0.9)))
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 0.6, 0.8, 0.0),
      Array(-0.5, -0.5, 0.5, 0.5))
    val dtabs = Array(Array.tabulate(8)(i => i * 0.37 - 1.1),
      Array.tabulate(8)(i => 1.0 / (i + 3)))
    val weights = Array((Array(0.01, -0.02, 0.003, 0.5), 0.25),
      (Array(1.0 / 3, 0.0, -1e-3, 2.0), -1.5))
    Seq(
      "array_dot" -> c(ArrayDot(e(col("a")), e(col("b")))),
      "array_cosine" -> c(ArrayCosine(e(col("a")), e(col("b")))),
      "pack_sign_bits" -> c(PackSignBits(e(col("longs")))),
      "nfc_normalize" -> NfcNormalize(col("s")),
      "bloom_might_contain" -> BloomMightContain(col("h"), sc.broadcast(bloom)),
      "regexp_count_loop" -> RegexpCountLoop(col("s"), col("p")),
      "whitespace_tokens" -> c(WhitespaceTokens(e(col("s")))),
      "bigram_keys" -> BigramKeys.bigramKeys(col("toks")),
      "shingle_hashes" -> c(ShingleHashes(e(col("s")), 3)),
      "gram_hashes" -> c(GramHashes(e(col("s")), 3)),
      "adc_score" -> c(AdcScore(e(col("codes")), e(col("qi")), sc.broadcast(dtabs))),
      "sq_cosine" -> c(SqCosine(e(col("bcodes")), e(col("dnorm")), e(col("qi")),
        sc.broadcast(weights))),
      "rotate_vec" -> c(RotateVec(e(col("a")), sc.broadcast(rot))),
      "pq_encode" -> c(PqEncode(e(col("v4")), sc.broadcast(books))),
      "sq_encode" -> c(SqEncode(e(col("v4")), sc.broadcast(
        (Array(-1.0, -1.0, -0.5, 0.0), Array(2.0 / 255, 2.0 / 255, 1.0 / 255, 0.0))))),
      "nearest_cell" -> c(NearestCell(e(col("v4")), sc.broadcast(cents),
        sc.broadcast(cents.map(_.map(x => x * x).sum)))),
      "nearest_cell_scored" -> c(NearestCellScored(e(col("v4")), sc.broadcast(cents),
        sc.broadcast(cents.map(_.map(x => x * x).sum)))))
  }

  private def table: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  private val Interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  private val Generated = Seq("spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")

  /** Doubles by raw bits, binary by content, nested values recursively. */
  private def canon(v: Any): Any = v match {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case o => o
  }

  test("interpreted ≡ generated code, bit for bit, for every kernel on edge rows") {
    val ks = kernels()
    assert(ks.map(_._1).distinct.length == 17)
    def run(conf: Seq[(String, String)]) = withConf(conf: _*) {
      table.select(col("id") +: ks.map { case (n, k) => k.as(n) }: _*)
        .orderBy("id").collect().map(r => r.toSeq.map(canon))
    }
    val interp = run(Interpreted)
    val gen = run(Generated)
    assert(interp.length == rows.length && gen.length == rows.length)
    ks.map(_._1).zipWithIndex.foreach { case (n, i) =>
      val a = interp.map(_(i + 1)).toSeq
      val b = gen.map(_(i + 1)).toSeq
      assert(a == b, s"$n: interpreted=$a generated=$b")
      // non-vacuity: the null-input row is NULL, some row is not
      assert(a.head == null && a.exists(_ != null), s"$n: $a")
    }
    // array_cosine: an Inf element is a NaN value; zero norm and NaN are NULL
    val cos = ks.indexWhere(_._1 == "array_cosine") + 1
    assert(gen(5)(cos) match {
      case (_, bits: Long) => java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(bits))
      case _ => false
    }, s"${gen(5)(cos)}")
    assert(gen(9)(cos) == null && gen(6)(cos) == null)
    // sq_cosine: dnorm 0.0 and -0.0 are NULL; NaN and Inf are values
    val sq = ks.indexWhere(_._1 == "sq_cosine") + 1
    assert(gen(5)(sq) == null && gen(2)(sq) != null && gen(3)(sq) != null)
  }

  test("two SqEncode quantizers and two SqCosine weight sets share one " +
      "generated class (fallback off)") {
    val sc = spark.sparkContext
    val q1 = sc.broadcast((Array(-1.0, -1.0, -0.5, 0.0), Array(2.0 / 255, 2.0 / 255, 1.0 / 255, 0.0)))
    val q2 = sc.broadcast((Array(-0.5, -0.5, -0.5, -0.5), Array(1.0 / 255, 1.0 / 255, 1.0 / 255, 1.0 / 255)))
    val w1 = sc.broadcast(Array((Array(0.01, -0.02, 0.003, 0.5), 0.25),
      (Array(1.0 / 3, 0.0, -1e-3, 2.0), -1.5)))
    val w2 = sc.broadcast(Array((Array(1.0, 1.0, 1.0, 1.0), 0.0),
      (Array(-1.0, 0.5, 0.25, 0.125), 1.0)))
    def q = table.filter(col("v4").isNotNull && col("qi").isNotNull).select(col("id"),
      c(SqEncode(e(col("v4")), q1)).as("e1"), c(SqEncode(e(col("v4")), q2)).as("e2"),
      c(SqCosine(e(c(SqEncode(e(col("v4")), q1)).getField("_1")),
        e(c(SqEncode(e(col("v4")), q1)).getField("_2")), e(col("qi")), w1)).as("s1"),
      c(SqCosine(e(c(SqEncode(e(col("v4")), q2)).getField("_1")),
        e(c(SqEncode(e(col("v4")), q2)).getField("_2")), e(col("qi")), w2)).as("s2"))
      .orderBy("id").collect().map(r => r.toSeq.map(canon)).toSeq
    val gen = withConf(Generated: _*)(q)
    val interp = withConf(Interpreted: _*)(q)
    assert(gen == interp)
    assert(gen.length == 8 && gen.forall(r => r(1) != r(2)), gen)
  }
}
