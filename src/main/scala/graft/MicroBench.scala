package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: A/B-time row-local column formulations over a synthetic
  * corpus with the noop sink (guide §1.4) — used to measure candidate
  * expression-layer rewrites in isolation before integrating them.
  *
  * args: <nDocs> [arm ...]  (arms: old, new, tc, kernels; default old new)
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // synthetic corpus: ~40 tokens/doc, zipf-ish vocabulary, stable
    val docs = spark.range(n).select($"id".as("doc_id"),
        concat_ws(" ", (0 until 40).map(j =>
          concat(lit("w"), pmod(xxhash64($"id" + lit(j * 7919)), lit(997)))): _*)
          .as("text"))
      .localCheckpoint() // corpus generation out of the timed region

    val k = 13
    val sentinel = lit(0x9E3779B97F4A7C15L)

    // OLD docShingles column form (HOFs)
    def oldShingles(text: Column): Column = {
      val toks = graft.functions.TextFunctions.tokens(text)
      val ths = transform(toks, t => xxhash64(t))
      val nn = size(ths)
      def shingleAt(i: Column): Column =
        xxhash64((0 until k).map(j =>
          coalesce(get(ths, i + lit(j)), sentinel)): _*)
      array_distinct(
        when(nn >= k,
            transform(sequence(lit(0), nn - k), i => shingleAt(i)))
          .otherwise(array(shingleAt(lit(0)))))
    }

    def newShingles(text: Column): Column =
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.ShingleHashes(
          org.apache.spark.sql.GraftColumnBridge.expression(text), k))

    def time(label: String, c: Column): Unit = {
      for (pass <- 1 to 2) {
        val t0 = System.nanoTime()
        docs.select($"doc_id", c.as("hs"))
          .select(sum(size($"hs"))) // force full evaluation, tiny result
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[microbench] $label pass=$pass wall=$dt%.2fs")
      }
    }

    // OLD streamingSpanDedup gram form (HOFs) vs GramHashes
    val gk = 5
    def oldGrams(text: Column): Column = {
      val ths = transform(graft.functions.TextFunctions.tokens(text),
        t => xxhash64(t))
      val sz = size(ths)
      def gramAt(i: Column): Column =
        xxhash64((0 until gk).map(j => get(ths, i + lit(j))): _*)
      when(sz >= gk,
          transform(sequence(lit(0), sz - gk),
            i => struct((i + 1).as("p"), gramAt(i).as("h"))))
        .otherwise(array().cast("array<struct<p:int,h:bigint>>"))
    }
    def newGrams(text: Column): Column =
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.GramHashes(
          org.apache.spark.sql.GraftColumnBridge.expression(text), gk))

    // tokenCount formulations: the regex counting loop vs a byte scan
    // (size(tokens) upper-bounds the byte-scan cost — it also slices
    // and materializes every token; a count-only kernel does neither)
    def timeCount(label: String, c: Column): Unit = {
      for (pass <- 1 to 2) {
        val t0 = System.nanoTime()
        docs.select(sum(c)).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[microbench] $label pass=$pass wall=$dt%.2fs")
      }
    }

    val arms = if (args.length > 1) args.drop(1).toSet else Set("old", "new")
    if (arms("tc")) {
      timeCount("tokenCount-regexloop",
        graft.functions.TextFunctions.tokenCount($"text"))
      timeCount("tokenCount-sizeTokens",
        size(graft.functions.TextFunctions.tokens($"text")))
      val tcDiff = docs.select(sum(
        (graft.functions.TextFunctions.tokenCount($"text") -
          size(graft.functions.TextFunctions.tokens($"text"))).cast("long")))
        .head().getLong(0)
      println(s"[microbench] tokenCount parity sum-of-diffs = $tcDiff (want 0)")
    }
    if (arms("kernels")) kernelArm(spark, n)
    if (arms("old")) time("docShingles-HOF", oldShingles($"text"))
    if (arms("new")) time("docShingles-expr", newShingles($"text"))
    if (arms("old")) time("spanGrams-HOF", oldGrams($"text"))
    if (arms("new")) time("spanGrams-expr", newGrams($"text"))

    // sanity: identical distinct-hash MULTISETS per doc (order-free
    // compare here; the order-sensitive pin lives in DedupAnnSpec)
    val a = docs.limit(2000).select($"doc_id",
      array_sort(oldShingles($"text")).as("hs"))
    val b = docs.limit(2000).select($"doc_id",
      array_sort(newShingles($"text")).as("hs"))
    if (arms("old") || arms("new")) {
      val diff = a.except(b).count() + b.except(a).count()
      println(s"[microbench] parity diff rows = $diff (want 0)")
    }
    spark.stop()
  }

  /** Per-row cost of the kernels whose loop the generated code used to
    * inline (array_dot, array_cosine, pack_sign_bits, adc_score,
    * sq_cosine, nearest_cell). Each input group (two 64-d vectors, 64
    * counters, 8 PQ codes, 64 SQ8 bytes) is built for `n` seeded rows and
    * checkpointed outside the timed region; each kernel is reduced into
    * the noop sink over 4 unioned scans of it (so job start-up is a small
    * share of a pass), 9 times, and the median wall and ns/row are
    * printed. Kernels are reached only through their constructors,
    * so the same source times any build that has them. */
  private def kernelArm(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    def vec(salt: Int): Column =
      array((0 until 64).map(j => sin($"id" * lit(0.37 + salt) + lit(j * 1.3))): _*)
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(7)
    val cents = Array.fill(16, 64)(rnd.nextGaussian())
    val bcCents = sc.broadcast(cents)
    val bcCn2 = sc.broadcast(cents.map(_.map(x => x * x).sum))
    val bcDtabs = sc.broadcast(Array.fill(32, 8 * 16)(rnd.nextDouble()))
    val bcQuant = sc.broadcast((Array.fill(64)(-1.0), Array.fill(64)(2.0 / 255)))
    val bcWeights = sc.broadcast(Array.fill(32)((Array.fill(64)(rnd.nextGaussian()),
      rnd.nextGaussian())))
    val qi = pmod($"id", lit(32L)).cast("int").as("qi")
    val groups = Seq(
      Seq(vec(0).as("a"), vec(1).as("b")) -> Seq(
        "array_dot" -> expr(graft.functions.ArrayDot(e($"a"), e($"b"))),
        "array_cosine" -> expr(graft.functions.ArrayCosine(e($"a"), e($"b"))),
        "nearest_cell" -> similarity.MicroKernels.nearestCell($"a", bcCents, bcCn2)),
      Seq(array((0 until 64).map(j =>
          pmod(xxhash64($"id", lit(j)), lit(7L)) - lit(3L)): _*).as("counts")) -> Seq(
        "pack_sign_bits" -> expr(graft.functions.PackSignBits(e($"counts")))),
      Seq(array((0 until 8).map(j =>
          pmod(xxhash64($"id", lit(j)), lit(16L)).cast("int")): _*).as("codes"), qi) -> Seq(
        "adc_score" -> similarity.MicroKernels.adcScore($"codes", $"qi", bcDtabs)),
      Seq(similarity.MicroKernels.sqEncode(vec(0), bcQuant).as("sq"), qi) -> Seq(
        "sq_cosine" -> similarity.MicroKernels.sqCosine($"sq._1", $"sq._2", $"qi",
          bcWeights)))
    val (passes, scans) = (9, 4)
    groups.foreach { case (inputs, kernels) =>
      val rows = spark.range(n).select(inputs: _*).localCheckpoint()
      val scanned = Seq.fill(scans)(rows).reduce(_ union _)
      kernels.foreach { case (name, k) =>
        val walls = (1 to passes).map { _ =>
          val t0 = System.nanoTime()
          scanned.select(max(k)).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        val med = walls(passes / 2)
        println(f"[microbench] kernel $name rows=${n * scans} median=$med%.3fs " +
          f"ns_per_row=${med * 1e9 / (n * scans)}%.1f " +
          f"walls=${walls.map(w => f"$w%.3f").mkString(",")}")
      }
      rows.unpersist(blocking = true)
    }
  }

  private def e(c: Column) = org.apache.spark.sql.GraftColumnBridge.expression(c)
  private def expr(x: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftColumnBridge.column(x)
}

package similarity {
  /** Column forms of the similarity-private kernels [[MicroBench]] times. */
  private[graft] object MicroKernels {
    import org.apache.spark.broadcast.Broadcast
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    def sqEncode(v: Column, q: Broadcast[(Array[Double], Array[Double])]): Column =
      column(SqEncode(expression(v), q))
    def adcScore(codes: Column, qi: Column, d: Broadcast[Array[Array[Double]]]): Column =
      column(AdcScore(expression(codes), expression(qi), d))
    def sqCosine(codes: Column, dnorm: Column, qi: Column,
        w: Broadcast[Array[(Array[Double], Double)]]): Column =
      column(SqCosine(expression(codes), expression(dnorm), expression(qi), w))
    def nearestCell(v: Column, cents: Broadcast[Array[Array[Double]]],
        cn2: Broadcast[Array[Double]]): Column =
      column(NearestCell(expression(v), cents, cn2))
  }
}
