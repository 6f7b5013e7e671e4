package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc job-count receipts for contract queries: run each named query
  * under [[JobProfile]] and print one line per query — the FIRST step of
  * any "this gate is expensive" investigation (round-13 lesson: count
  * jobs before theorizing; the usual disease is one plan evaluated N
  * times under AQE, visible as a job count far above the operator's
  * logical step count).
  *
  * Usage: runMain graft.Profile <sfDir> <queryName> [<queryName> ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Profile <sfDir> <queryName> [<queryName> ...]")
    val sfDir = args.head
    val profCpus = sys.env.getOrElse("GRAFT_PROFILE_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$profCpus]")
      .appName("graft-profile")
      .config("spark.sql.shuffle.partitions", profCpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("GRAFT_PROFILE_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = SparkEntry.queries
    args.tail.foreach {
      case "dsir-ops" => dsirOps(spark, sfDir)
      case "x45-ops" => x45Ops(spark, sfDir)
      case "sem-ops" => semOps(spark, sfDir)
      case "x88-ops" => x88Ops(spark, sfDir)
      case "x66-ops" => x66Ops(spark, sfDir)
      case "x89-ops" => x89Ops(spark, sfDir)
      case "x39-ops" => x39Ops(spark, sfDir)
      case s if s.startsWith("minhash-scale=") =>
        minhashScale(spark, s.stripPrefix("minhash-scale=").toInt)
      case "dsir-scale" => dsirScale(spark)
      case name =>
        require(qs.contains(name), s"unknown query: $name")
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val (n, stats) = JobProfile.profile(spark,
          verbose = sys.env.contains("GRAFT_PROFILE_VERBOSE")) {
          qs(name)(spark, sfDir).collect().length
        }
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $name rows=$n wall=$wall%.2fs $stats")
    }
    spark.stop()
  }

  private def step[T](spark: SparkSession, label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val (r, stats) = JobProfile.profile(spark,
      verbose = sys.env.contains("GRAFT_PROFILE_VERBOSE"))(body)
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[profile]   $label%-28s wall=$wall%6.2fs $stats")
    r
  }

  /** Stage-by-stage receipts for the one-shot minhash near-dup pipeline
    * on the ScaleBench open-vocab corpus (round-18: the 2M-doc c8/c32
    * receipt measured FLAT scaling — attribute the wall before naming a
    * serial section). Mirrors minhashNearDuplicatesFromShingles's
    * internals step by step. */
  private def minhashScale(spark: SparkSession, nDocs: Int): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.dedup.Dedup
    val docLen = 60
    val isClone = pmod($"id", lit(7)) === 0 && $"id" > 0
    val baseId = when(isClone, $"id" - 1).otherwise($"id")
    val tokens = (0 until docLen).map(i =>
      concat(lit("w"), pmod(xxhash64(baseId, lit(i)), lit(1000000L))))
    val docs = spark.range(nDocs.toLong)
      .select($"id".as("doc_id"),
        when(isClone, concat_ws(" ", tokens :+ lit("clone_marker"): _*))
          .otherwise(concat_ws(" ", tokens: _*)).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    step(spark, s"corpus gen ($nDocs)")(docs.count())
    val sh = Dedup.shingleHashes(docs, "doc_id", "text", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    step(spark, "shingles persist+count")(sh.count())
    val sigs = Dedup.minhashSigs(sh, 16)
    step(spark, "sigs (noop)")(
      sigs.write.format("noop").mode("overwrite").save())
    val banded = step(spark, "band+cap checkpoint") {
      graft.dedup.Dedup.bandKeys(sigs, 4, 4)
        .withColumn("__bsize", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band_id"), col("band_hash"))))
        .filter(col("__bsize") <= 500).drop("__bsize")
        .localCheckpoint()
    }
    val a = banded.select(col("band_id"), col("band_hash"), col("id").as("id_a"))
    val b = banded.select(col("band_id"), col("band_hash"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val candP = step(spark, "cand checkpoint+count") {
      val c = cand.localCheckpoint(); println(s"[minhash-scale] cand rows=${c.count()}"); c
    }
    val sizes = step(spark, "sizes agg (noop)") {
      val s2 = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
      s2.write.format("noop").mode("overwrite").save(); s2
    }
    step(spark, "verify joins (count)") {
      val inter = broadcast(candP)
        .join(sh.select(col("id").as("id_a"), col("h")), Seq("id_a"))
        .join(sh.select(col("id").as("id_b"), col("h")), Seq("id_b", "h"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
      val out = inter
        .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
        .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
        .withColumn("jaccard", col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
        .filter(col("jaccard") >= 0.5)
      println(s"[minhash-scale] pairs=${out.count()}")
    }
    step(spark, "full operator (count)") {
      println("[minhash-scale] full=" + Dedup.minhashNearDuplicates(
        docs, "doc_id", "text", 3, 4, 4, 0.5).count())
    }
    docs.unpersist(); sh.unpersist()
  }

  /** Per-arm breakdown of the x39 ANN-recall gate (round-17 verdict
    * item 5: 4.6 s / 16 cpu-s, the most expensive never-slimmed gate).
    * Times each of the gate's nine arms — brute truth plus the eight
    * approximate methods at the gate's exact configs — separately, so
    * the cost attributes to arms before any restructuring. */
  private def x39Ops(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.similarity.Ann
    val e = graft.queries.Tables.t(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val exact = step(spark, "bruteForceTopK+persist") {
      val f = Ann.bruteForceTopK(q, e, "vec_id", "embedding", k = 5)
        .persist()
      f.count(); f
    }
    def rec(m: String, approxBody: => org.apache.spark.sql.DataFrame): Unit = {
      val approx = step(spark, s"$m construct")(approxBody)
      step(spark, s"$m recall collect")(
        Ann.recallAtK(approx, exact).collect())
    }
    rec("ivf", Ann.ivfTopK(q, e, "vec_id", "embedding", k = 5,
      nLists = 8, nProbe = 2))
    rec("lsh", Ann.lshTopK(q, e, "vec_id", "embedding", k = 5,
      nPlanes = 4))
    rec("pq", Ann.pqTopK(q, e, "vec_id", "embedding", k = 5, m = 8,
      ksub = 64, rerank = 100))
    rec("ivfpq", Ann.ivfPqTopK(q, e, "vec_id", "embedding", k = 5,
      nLists = 8, nProbe = 2, m = 8, ksub = 64, rerank = 100))
    rec("lsh_mp", Ann.lshTopK(q, e, "vec_id", "embedding", k = 5,
      nPlanes = 4, multiProbe = true))
    rec("sq", Ann.sqTopK(q, e, "vec_id", "embedding", k = 5))
    rec("ivf_ad", Ann.ivfTopKAdaptive(q, e, "vec_id", "embedding",
      k = 5, nLists = 8, nProbeMin = 2, nProbeMax = 6))
    rec("ivf_ma", Ann.ivfTopKAdaptive(q, e, "vec_id", "embedding",
      k = 5, nLists = 8, nProbeMin = 4, nProbeMax = 4, assign = 2))
  }

  /** Per-arm breakdown of the x89 OPQ gate (round-17 verdict item 1:
    * the one regressed row, coincident with the PqEncode/AdcScore
    * rewrites). Replays the gate's exact corpus prep, then times each
    * arm of `pqTopK(opq = true)` separately — sample, rotation train,
    * codebook train, the rotated encode pass, the unrotated encode pass
    * (isolates the rotateCol expression), the ADC scan, and the exact
    * brute arm — so the +45% cpu can be attributed instead of argued. */
  private def x89Ops(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.similarity.Ann
    import graft.functions.VectorFunctions.asDouble
    val eRaw = step(spark, "eRaw persist+count") {
      val f = graft.queries.Tables.t(spark, sfDir, "embeddings")
        .filter(pmod($"vec_id", lit(4)) === 0)
        .select($"vec_id", $"embedding")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      f.count(); f
    }
    val e = step(spark, "stretch persist+count") {
      val f = eRaw.select($"vec_id", transform($"embedding", (x, i) =>
          x.cast("double") * pow(lit(2.0), -i.cast("double") / lit(4.0)))
          .as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      f.count(); f
    }
    val q = e.filter($"vec_id" < 96)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"embedding", x => x * lit(0.5)).as("embedding"))
    val exact = step(spark, "bruteForceTopK") {
      val f = Ann.bruteForceTopK(q, e, "vec_id", "embedding", k = 5)
        .persist()
      f.count(); f
    }
    // inside pqTopK(opq = true), arm by arm
    val c = e.select($"vec_id".as("cand_id"),
        asDouble($"embedding").as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sample = step(spark, "hashSample")(Ann.hashSample(c))
    val rot = step(spark, "opqRotation (driver)")(
      Ann.opqRotation(sample, 32))
    val rotated = sample.map { v =>
      rot.map { r =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += r(i) * v(i); i += 1 }
        s
      }
    }
    val books = step(spark, "trainPqCodebooks (driver)")(
      Ann.trainPqCodebooksFrom(rotated, 32, 16))
    val booksPlain = Ann.trainPqCodebooksFrom(sample, 32, 16)
    val bc = spark.sparkContext.broadcast(books)
    val bcPlain = spark.sparkContext.broadcast(booksPlain)
    step(spark, "encode rotated (noop)") {
      c.select($"cand_id",
          Ann.pqEncoder(bc)(Ann.rotateCol($"cv", rot)).as("codes"))
        .write.format("noop").mode("overwrite").save()
    }
    step(spark, "encode rotated 2nd (jit)") {
      c.select($"cand_id",
          Ann.pqEncoder(bc)(Ann.rotateCol($"cv", rot)).as("codes"))
        .write.format("noop").mode("overwrite").save()
    }
    step(spark, "encode plain (noop)") {
      c.select($"cand_id", Ann.pqEncoder(bcPlain)($"cv").as("codes"))
        .write.format("noop").mode("overwrite").save()
    }
    step(spark, "rotate only (noop)") {
      c.select($"cand_id", Ann.rotateCol($"cv", rot).as("rv"))
        .write.format("noop").mode("overwrite").save()
    }
    val approx = step(spark, "pqTopK opq full") {
      Ann.pqTopK(q, e, "vec_id", "embedding", k = 5, m = 32,
        ksub = 16, opq = true)
    }
    val qeBuf = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.execution.QueryExecution]()
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qeBuf.synchronized { qeBuf += qe; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    step(spark, "approx noop (scan+rank)") {
      approx.write.format("noop").mode("overwrite").save()
    }
    step(spark, "approx noop 2nd (jit)") {
      approx.write.format("noop").mode("overwrite").save()
    }
    Thread.sleep(2000)
    spark.listenerManager.unregister(qeListener)
    qeBuf.synchronized(qeBuf.toList).foreach { qe =>
      try {
        val stats = org.apache.spark.sql.execution.debug
          .codegenStringSeq(qe.executedPlan)
        stats.zipWithIndex.foreach { case ((_, _, st), i) =>
          println(s"[codegen] approx unit ${i + 1}: max method " +
            s"${st.maxMethodCodeSize} bytecodes") }
      } catch { case e: Throwable =>
        println(s"[codegen] audit failed: ${e.getMessage}") }
    }
    step(spark, "recallAtK collect") {
      Ann.recallAtK(approx, exact)
        .select(lit("opq").as("method"), round($"recall", 6).as("recall"))
        .collect()
    }
  }

  /** Per-arm breakdown of the x66 planted-recall gate: which detector
    * family carries the cpu (the round-15 acquit-or-slim question).
    * Mirrors the gate's CURRENT corpus — the even-id half since the
    * round-15 slim — so the per-arm numbers attribute the gate's
    * actual candidate/verify mass. */
  private def x66Ops(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.dedup.Dedup
    val d = graft.queries.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(pmod(col("doc_id"), lit(2)) === 0)
    val corpus = d.unionByName(d.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" dup")).as("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    step(spark, "corpus materialize")(corpus.count())
    val sh = Dedup.shingleHashes(corpus, "doc_id", "text", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    step(spark, "shingle relation")(sh.count())
    step(spark, "minhash arm")(
      Dedup.minhashNearDuplicatesFromShingles(sh, bands = 4,
        rowsPerBand = 4, threshold = 0.5).count())
    step(spark, "simhash arm")(
      Dedup.simhashNearDuplicates(corpus, "doc_id", "text",
        maxHamming = 6).count())
    step(spark, "ngram arm")(
      Dedup.ngramJaccardNearDuplicatesFromShingles(sh,
        threshold = 0.5).count())
    sh.unpersist(); corpus.unpersist()
  }

  /** Per-op breakdown of the x93 DsirStore lifecycle. */
  private def dsirOps(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("prof-dsir").toString
    val store = new graft.sampling.DsirStore(new graft.lake.Lake(spark, tmp))
    val docs = graft.queries.Tables.t(spark, sfDir, "documents")
    val target = docs.filter(col("lang") === "en")
    step(spark, "appendRaw even")(store.appendRaw(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", 1L))
    step(spark, "appendRaw odd")(store.appendRaw(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", 2L))
    step(spark, "appendTarget")(store.appendTarget(
      target, "doc_id", "text", 3L))
    step(spark, "weights #1")(store.weights(docs, "doc_id", "text")
      .orderBy(col("doc_id")).collect().length)
    step(spark, "one-shot weights")(graft.sampling.Dsir.importanceWeights(
        docs, target, "doc_id", "text")
      .orderBy(col("doc_id")).collect().length)
    step(spark, "deleteRaw de")(store.deleteRaw(
      docs.filter(col("lang") === "de"), "doc_id", "text", 4L))
    val kept = docs.filter(col("lang") =!= "de")
    step(spark, "weights #2 (post-del)")(store.weights(kept, "doc_id", "text")
      .orderBy(col("doc_id")).collect().length)
    step(spark, "one-shot (never)")(graft.sampling.Dsir.importanceWeights(
        kept, target, "doc_id", "text")
      .orderBy(col("doc_id")).collect().length)
    step(spark, "compact")(store.compact(5L))
    step(spark, "weights #3 (post-compact)")(
      store.weights(kept, "doc_id", "text")
        .orderBy(col("doc_id")).collect().length)
  }

  /** Component costs of the DSIR selection at scale: which pass owns
    * the corpus-proportional time (arg-42's dominant stage). */
  private def dsirScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = 2000000L
    def word(mod: Int, j: Int) =
      concat(lit("w"), pmod(xxhash64(col("id"), lit(j)), lit(mod)))
    val docs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 28).map(j => word(256, j)): _*).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    val target = spark.range(2000L).select((col("id") + n).as("doc_id"),
      concat_ws(" ", (0 until 28).map(j => word(64, j)): _*).as("text"))
    import graft.sampling.Dsir
    step(spark, "raw count pass")(
      Dsir.featureBuckets(docs, "doc_id", "text")
        .groupBy(col("bucket")).agg(count(lit(1))).count())
    step(spark, "tokens only")(
      docs.select(graft.functions.TextFunctions.tokens(col("text"))
        .as("tk")).select(sum(size(col("tk")))).head().getLong(0))
    step(spark, "explode, no md5")(
      docs.select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("f"))
        .groupBy(col("f")).agg(count(lit(1))).count())
    val model = Dsir.importanceModel(
      Dsir.featureBuckets(docs, "doc_id", "text"),
      Dsir.featureBuckets(target, "doc_id", "text"), 3).localCheckpoint()
    step(spark, "scoring pass (given model)")(
      Dsir.weightsAgainstModel(docs, model, "doc_id", "text", 3)
        .agg(sum(col("weight"))).head().getDouble(0))
    step(spark, "full resampleTopK")(
      Dsir.resampleTopK(docs, target, "doc_id", "text", k = 20000)
        .count())
    docs.unpersist()
  }

  /** Per-op breakdown of ONE x88 lexical-takedown lifecycle (serial —
    * the gate runs two concurrently; this isolates where the cpu is). */
  /** Per-arm breakdown of the x45 persisted-IVF parity gate (the
    * round-16 slim question: which serve-lifecycle step carries the
    * jobs after the routed arm moved to IvfIndexSpec). */
  private def x45Ops(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("prof-x45").toString
    val e = graft.queries.Tables.t(spark, sfDir, "embeddings")
    val idx = new graft.similarity.IvfIndex(
      new graft.lake.Lake(spark, tmp), graft.similarity.CellCodec.Flat,
      nLists = 8)
    step(spark, "build")(idx.build(e, "vec_id", "embedding", 1L))
    step(spark, "append")(
      idx.append(e.filter($"vec_id" < 50), "vec_id", "embedding", 2L))
    step(spark, "compact")(idx.compact())
    val q = e.filter($"vec_id" < 10)
    step(spark, "idx.search")(
      idx.search(q, "vec_id", "embedding", k = 5, nProbe = 2).collect())
    step(spark, "one-shot ivfTopK")(
      graft.similarity.Ann.ivfTopK(q, e, "vec_id", "embedding", k = 5,
        nLists = 8, nProbe = 2).collect())
    step(spark, "bruteForceTopK")(
      graft.similarity.Ann.bruteForceTopK(q, e, "vec_id", "embedding",
        k = 5).collect())
    step(spark, "searchAdaptive")(
      idx.searchAdaptive(q, "vec_id", "embedding", k = 5,
        nProbeMin = 2, nProbeMax = 6).collect())
  }

  private def x88Ops(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("prof-x88").toString
    val d = graft.queries.Tables.t(spark, sfDir, "documents")
      .filter(pmod(col("doc_id"), lit(16)) === 0)
      .select(col("doc_id"), col("text"))
    val hashed = d.withColumn("h", md5(col("text")))
    val closed = hashed.groupBy(col("h"))
      .agg(count(lit(1)).as("n"),
        sum(when(pmod(col("doc_id"), lit(80)) === 0, 1).otherwise(0))
          .as("nv"))
      .filter(col("n") === col("nv")).select(col("h"))
    val victims = hashed.join(closed, Seq("h"), "left_semi")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val b2 = victims
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(d.filter(pmod(col("doc_id"), lit(80)) === 48)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val b3 = victims
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
    val lake = new graft.lake.Lake(spark, tmp)
    val exact = new graft.dedup.IncrementalDedup.Exact(lake)
    val mh = new graft.dedup.IncrementalDedup.Minhash(lake, threshold = 0.7)
    step(spark, "exact batch1")(
      exact.process(d, "doc_id", "text", 1L).count())
    step(spark, "minhash batch1")(
      mh.process(d, "doc_id", "text", 1L).count())
    step(spark, "exact deleteClosed")(
      exact.deleteClosed(victims, "doc_id", "text", 2L))
    step(spark, "minhash delete")(
      mh.delete(victims.select(col("doc_id")), "doc_id", 2L))
    step(spark, "exact batch2")(
      exact.process(b2, "doc_id", "text", 3L).count())
    step(spark, "minhash batch2")(
      mh.process(b2, "doc_id", "text", 3L).count())
    step(spark, "exact compact")(exact.compact(4L))
    step(spark, "minhash compact")(mh.compact(4L))
    step(spark, "exact batch3")(
      exact.process(b3, "doc_id", "text", 5L).count())
    step(spark, "store-state agg")(
      lake.table(exact.hashTable)
        .groupBy(col("content_hash"))
        .agg(min(col("keep_id")), sum(col("n_members"))).count())
  }

  /** Per-op breakdown of the SemDeDupIndex lifecycle (x84's shape). */
  private def semOps(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("prof-sem").toString
    val e = graft.queries.Tables.t(spark, sfDir, "embeddings")
      .filter(pmod(col("vec_id"), lit(8)) === 0)
      .select(col("vec_id"), col("embedding"))
    val aug = e.unionByName(e.filter(pmod(col("vec_id"), lit(5)) === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          x => x * lit(0.5f)).as("embedding")))
      .localCheckpoint()
    val idx = new graft.dedup.SemDeDupIndex(
      new graft.lake.Lake(spark, tmp), nClusters = 8)
    step(spark, "build")(idx.build(aug, "vec_id", "embedding", 1L))
    step(spark, "append #1 (store empty)")(idx.append(
      aug.filter(col("vec_id") < 1000000L), "vec_id", "embedding", 2L)
      .collect().length)
    step(spark, "append #2 (cross-batch)")(idx.append(
      aug.filter(col("vec_id") >= 1000000L), "vec_id", "embedding", 3L)
      .collect().length)
    step(spark, "assignments")(
      idx.assignments().collect().length)
  }
}
