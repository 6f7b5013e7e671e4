package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import graft.dedup.Dedup
import graft.streaming.DocStream

/** Streaming exact dedup ≡ the batch incremental path, micro-batch by
  * micro-batch, with keyed state surviving a restart. */
class DocStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming exact dedup matches batch incremental across restarts") {
    val docDir = Files.createTempDirectory("docstream").toString
    val ckpt = Files.createTempDirectory("docstream_ck").toString
    val batch1 = Seq(1L -> "alpha beta", 2L -> "gamma", 3L -> "alpha beta")
    val batch2 = Seq(4L -> "gamma", 5L -> "delta", 6L -> "alpha beta",
      7L -> "delta")
    batch1.toDF("doc_id", "text").write.mode("append").parquet(docDir)
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long)]())
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .parquet(docDir)
      val q = DocStream.streamingExactDedup(stream).writeStream
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => collected.add((r.getLong(0), r.getLong(1))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(collected.toArray.toSet == Set((3L, 1L)))
    // restart with a new file: state must remember batch-1 content
    batch2.toDF("doc_id", "text").write.mode("append").parquet(docDir)
    runOnce()
    import scala.jdk.CollectionConverters._
    val got = collected.asScala.toSet
    // batch ground truth: incremental over the two batches
    val state1 = Dedup.exactDuplicates(batch1.toDF("doc_id", "text"),
      "doc_id", "text").select($"content_hash", $"keep_id")
    val (d2, _) = Dedup.exactIncremental(batch2.toDF("doc_id", "text"),
      "doc_id", "text", state1)
    val expect = Set((3L, 1L)) ++
      d2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect && got == Set((3L, 1L), (4L, 2L), (6L, 1L), (7L, 5L)))
  }

  test("streaming decontamination matches batch bitwise") {
    // deterministic corpus with real cross-split overlap, short docs
    // (partial-shingle path), an empty doc, and a whitespace-only doc
    val docs = (0L until 50L).map { i =>
      val toks = (0 until (3 + (i % 9)).toInt)
        .map(j => s"tok${(i * 7 + j * 3) % 23}")
      (i, toks.mkString(" "))
    } ++ Seq(50L -> "", 51L -> "   ", 52L -> "a b")
    val bench = (100L until 105L).map { i =>
      val toks = (0 until 8).map(j => s"tok${(i * 7 + j * 3) % 23}")
      (i, toks.mkString(" "))
    } ++ Seq(105L -> "a b")
    val docsDf = docs.toDF("doc_id", "text")
    val benchDf = bench.toDF("doc_id", "text")

    val docDir = Files.createTempDirectory("docstream_dec").toString
    val ckpt = Files.createTempDirectory("docstream_dec_ck").toString
    docsDf.write.mode("append").parquet(docDir)
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Long, Long)]())
    val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .parquet(docDir)
    val q = DocStream.streamingDecontaminate(stream, "doc_id", "text",
        benchDf, shingleSize = 3)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => collected.add((r.getLong(0), r.getLong(1),
          r.getLong(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3)))))
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = collected.asScala.toSet
    val expect = Dedup.decontaminate(docsDf, "doc_id", "text", benchDf, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet
    assert(got == expect)
    assert(got.nonEmpty)                    // overlap actually exists
    assert(got.exists(_._1 == 52L))         // partial-shingle doc flagged
    assert(!got.exists(t => t._1 == 50L || t._1 == 51L)) // token-less docs
  }

  test("streaming Bloom decontamination matches batch Bloom and exact bitwise") {
    // same corpus as the exact-streaming test; an aggressive fpp forces
    // real Bloom false positives through the stream-static verify join,
    // which must kill every one of them
    val docs = (0L until 50L).map { i =>
      val toks = (0 until (3 + (i % 9)).toInt)
        .map(j => s"tok${(i * 7 + j * 3) % 23}")
      (i, toks.mkString(" "))
    } ++ Seq(50L -> "", 51L -> "   ", 52L -> "a b")
    val bench = (100L until 105L).map { i =>
      val toks = (0 until 8).map(j => s"tok${(i * 7 + j * 3) % 23}")
      (i, toks.mkString(" "))
    } ++ Seq(105L -> "a b")
    val docsDf = docs.toDF("doc_id", "text")
    val benchDf = bench.toDF("doc_id", "text")

    val docDir = Files.createTempDirectory("docstream_bloom").toString
    val ckpt = Files.createTempDirectory("docstream_bloom_ck").toString
    docsDf.write.mode("append").parquet(docDir)
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Long, Long)]())
    val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .parquet(docDir)
    val q = DocStream.streamingDecontaminateBloom(stream, "doc_id", "text",
        benchDf, shingleSize = 3, expectedItems = 64, fpp = 0.2)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => collected.add((r.getLong(0), r.getLong(1),
          r.getLong(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3)))))
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = collected.asScala.toSet
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet
    val exact = asSet(Dedup.decontaminate(docsDf, "doc_id", "text", benchDf, 3))
    val batchBloom = asSet(Dedup.decontaminateBloom(docsDf, "doc_id", "text",
      benchDf, 3, expectedItems = 64, fpp = 0.2))
    assert(batchBloom == exact) // batch Bloom lands on the exact answer
    assert(got == exact)        // and so does the streaming twin
    assert(got.nonEmpty && got.exists(_._1 == 52L))
  }

  test("streaming line dedup matches batch across restarts") {
    val docDir = Files.createTempDirectory("linestream").toString
    val ckpt = Files.createTempDirectory("linestream_ck").toString
    val batch1 = Seq(1L -> "a b c d e f", 2L -> "a b c x y z",
      3L -> "x y z", 100L -> "   ")
    // batch 2 re-hits batch-1 lines ("d e f", first at (1,1)) through the
    // restarted state store, plus a partial line ("q") seen twice
    val batch2 = Seq(4L -> "d e f q", 5L -> "q", 6L -> "n n n n")
    batch1.toDF("doc_id", "text").write.mode("append").parquet(docDir)
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Int, String, Boolean)]())
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .parquet(docDir)
      val q = DocStream.streamingLineDedup(stream).writeStream
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => collected.add(
            (r.getLong(0), r.getInt(1), r.getString(2), r.getBoolean(3))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    batch2.toDF("doc_id", "text").write.mode("append").parquet(docDir)
    runOnce()
    import scala.jdk.CollectionConverters._
    // consumer-side reassembly: per doc, count lines and join the keepers
    // in line order — the batch operator's (n_lines, n_kept, text_kept)
    val gotByDoc = collected.asScala.toSeq.groupBy(_._1).map {
      case (d, rows) =>
        val sorted = rows.sortBy(_._2)
        (d, sorted.size.toLong, sorted.count(_._4).toLong,
          sorted.filter(_._4).map(_._3).mkString(" "))
    }.toSet
    val expect = Dedup.lineDedup(
        (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(gotByDoc == expect)
    assert(!gotByDoc.exists(_._1 == 100L))  // token-less doc absent
    assert(gotByDoc.exists(t => t._1 == 4L && t._3 == 1L)) // cross-restart dup
  }

  test("streaming span dedup matches exactSubstringDedup across restarts") {
    val docDir = Files.createTempDirectory("spanstream").toString
    val ckpt = Files.createTempDirectory("spanstream_ck").toString
    val n = 3
    val batch1 = Seq(1L -> "a b c d e", 2L -> "x a b c y", 100L -> "  ")
    // batch 2 re-hits "a b c" through the restarted state store; doc 5
    // has tokens but no full 3-run (absent from the stream, untouched)
    val batch2 = Seq(4L -> "q a b c r", 5L -> "m n",
      6L -> "r1 r2 r3 zz r1 r2 r3")
    batch1.toDF("doc_id", "text").write.mode("append").parquet(docDir)
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Int, Boolean)]())
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .parquet(docDir)
      val q = DocStream.streamingSpanDedup(stream, n).writeStream
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => collected.add(
            (r.getLong(0), r.getInt(1), r.getBoolean(2))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    batch2.toDF("doc_id", "text").write.mode("append").parquet(docDir)
    runOnce()
    import scala.jdk.CollectionConverters._
    // consumer-side removal fold: kept=false runs expand to covered
    // spans [p, p+n-1]; surviving tokens reassemble — the batch
    // operator's removal step applied to the stream's decisions
    val toks = (batch1 ++ batch2).toMap.map { case (d, t) =>
      d -> t.split("\\s+").filter(_.nonEmpty).toSeq }
    val gotByDoc = collected.asScala.toSeq.groupBy(_._1).map {
      case (d, rows) =>
        val covered = rows.filter(!_._3)
          .flatMap(r => r._2 until r._2 + n).toSet
        val kept = toks(d).zipWithIndex.collect {
          case (t, i) if !covered(i + 1) => t }
        (d, toks(d).length.toLong, kept.length.toLong, kept.mkString(" "))
    }.toSet
    val expectAll = Dedup.exactSubstringDedup(
        (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text", n)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    // docs with < n tokens emit no runs: absent from the stream,
    // untouched in the batch output
    val (short, withRuns) = expectAll.partition(_._2 < n)
    assert(gotByDoc == withRuns)
    assert(short.map(_._1) == Set(5L) && short.forall(e => e._2 == e._3))
    assert(!gotByDoc.exists(_._1 == 100L)) // token-less doc absent
    // cross-restart removal: doc 4 lost its "a b c" span
    assert(gotByDoc.exists(t => t._1 == 4L && t._4 == "q r"))
    // within-doc repeat: doc 6's second "r1 r2 r3" removed
    assert(gotByDoc.exists(t => t._1 == 6L && t._4 == "r1 r2 r3 zz"))
  }

  test("quality signals are stateless row-local streams: batch ≡ stream") {
    // the round-9 signal columns (gopher rules, deflate ratio) are pure
    // expressions — they must run unchanged on a stream with no state
    // store, no watermark, and bitwise batch parity
    import graft.functions.TextFunctions
    val docDir = Files.createTempDirectory("qualstream").toString
    val docs = Seq(
      1L -> ("the spark " + (1 to 25).map(i => s"word$i").mkString(" ")),
      2L -> "- bullet one\n- bullet two",
      3L -> "short")
    docs.toDF("doc_id", "text").write.mode("append").parquet(docDir)
    def signals(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id",
        TextFunctions.gopherPass($"text", minWords = 20,
          stopwords = Seq("the", "spark")).as("pass"),
        TextFunctions.meanWordLength($"text").as("mwl"),
        TextFunctions.bulletLineFrac($"text").as("bul"),
        TextFunctions.compressionRatio($"text").as("cr"))
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Boolean, Double, Double, Double)]())
    val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .parquet(docDir)
    val q = signals(stream).writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => collected.add((r.getLong(0),
          r.getBoolean(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = collected.asScala.toSeq.sortBy(_._1)
    val expect = signals(docs.toDF("doc_id", "text")).orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expect)
    assert(got.head._2 && !got(1)._2) // gate actually discriminated
    // line-quality trimming is the same class (split → HOF filter →
    // rejoin, no state): stream ≡ batch, and it actually trims
    val trimCollected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Long, String)]())
    val q2 = TextFunctions.lineQualityTrim(
        spark.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
          .parquet(docDir),
        "doc_id", "text", minWords = 2, requireTerminal = false)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => trimCollected.add((r.getLong(0),
          r.getLong(1), r.getLong(2), r.getString(3))))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val gotTrim = trimCollected.asScala.toSeq.sortBy(_._1)
    val expectTrim = TextFunctions.lineQualityTrim(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        minWords = 2, requireTerminal = false)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(gotTrim == expectTrim)
    assert(gotTrim(2)._3 == 0L) // "short": 1 word < 2 — trimmed away
  }

  test("streaming DSIR scoring against a frozen model matches the batch operator") {
    import graft.sampling.Dsir
    // raw pool with two vocab domains + a zero-token doc; target sample
    // is the "alpha" domain — the batch fixture shape (DsirSpec)
    val raw = Seq(1L -> "alpha beta alpha", 2L -> "alpha beta beta",
      3L -> "gamma delta gamma", 4L -> "gamma delta delta",
      5L -> "alpha delta", 6L -> "")
    val target = Seq(101L -> "alpha beta", 102L -> "beta alpha alpha")
      .toDF("doc_id", "text")
    val model = Dsir.fitModel(raw.toDF("doc_id", "text"), target,
      "doc_id", "text")
    assert(model.buckets.length == model.logRatios.length &&
      model.buckets.nonEmpty)
    val docDir = Files.createTempDirectory("dsirstream").toString
    raw.toDF("doc_id", "text").write.mode("append").parquet(docDir)
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Double)]())
    val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .parquet(docDir)
    // stateless row-local scoring: no state store, no watermark — the
    // frozen model rides as one map literal
    val q = Dsir.scoreWithModel(stream, "doc_id", "text", model).writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          collected.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = collected.asScala.toSeq.sortBy(_._1)
    // value parity with the one-shot batch operator on the same corpus
    // (its model join drops out-of-model features the same way)
    val expect = Dsir.importanceWeights(raw.toDF("doc_id", "text"), target,
        "doc_id", "text")
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expect, s"stream $got vs batch $expect")
    // a doc with features UNSEEN at fit time scores only its known part
    val novel = Seq(7L -> "alpha unseen-token").toDF("doc_id", "text")
    val scored = Dsir.scoreWithModel(novel, "doc_id", "text", model)
      .collect().head
    assert(scored.getLong(1) == 1L, // "alpha" matched; bigram + new token dropped
      s"expected 1 matched feature, got ${scored.getLong(1)}")
  }

  test("streaming newline line dedup matches lineDedupNewline") {
    val docDir = Files.createTempDirectory("nlstream").toString
    val ckpt = Files.createTempDirectory("nlstream_ck").toString
    val docs = Seq(
      1L -> "header line\nbody one\nbody two",
      2L -> "header line\nbody three", // line 0 dups doc1's
      3L -> "body one",                // whole doc seen at (1,1)
      4L -> "")                        // empty -> absent
    docs.toDF("doc_id", "text").write.mode("append").parquet(docDir)
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Int, String, Boolean)]())
    val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .parquet(docDir)
    val q = DocStream.streamingLineDedup(stream, Dedup.Chunker.Newline)
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => collected.add(
          (r.getLong(0), r.getInt(1), r.getString(2), r.getBoolean(3))))
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val gotByDoc = collected.asScala.toSeq.groupBy(_._1).map {
      case (d, rows) =>
        val sorted = rows.sortBy(_._2)
        (d, sorted.size.toLong, sorted.count(_._4).toLong,
          sorted.filter(_._4).map(_._3).mkString("\n"))
    }.toSet
    val expect = Dedup.lineDedup(docs.toDF("doc_id", "text"),
        "doc_id", "text", Dedup.Chunker.Newline)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(gotByDoc == expect)
    assert(gotByDoc.exists(t => t._1 == 1L && t._4.contains("\n")))
  }

  test("streaming paragraph dedup matches paragraphDedup") {
    val docDir = Files.createTempDirectory("pgstream").toString
    val ckpt = Files.createTempDirectory("pgstream_ck").toString
    val docs = Seq(
      1L -> "shared para\n\nunique one",
      2L -> "shared para\n\nunique two",  // para 0 dups doc1's
      3L -> "unique one")                 // whole doc seen at (1,1)
    docs.toDF("doc_id", "text").write.mode("append").parquet(docDir)
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Int, String, Boolean)]())
    val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .parquet(docDir)
    val q = DocStream.streamingLineDedup(stream, Dedup.Chunker.Paragraph)
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => collected.add(
          (r.getLong(0), r.getInt(1), r.getString(2), r.getBoolean(3))))
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val gotByDoc = collected.asScala.toSeq.groupBy(_._1).map {
      case (d, rows) =>
        val sorted = rows.sortBy(_._2)
        (d, sorted.size.toLong, sorted.count(_._4).toLong,
          sorted.filter(_._4).map(_._3).mkString("\n\n"))
    }.toSet
    val expect = Dedup.lineDedup(docs.toDF("doc_id", "text"),
        "doc_id", "text", Dedup.Chunker.Paragraph)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(gotByDoc == expect)
    assert(gotByDoc.exists(t => t._2 == 2L && t._3 == 1L),
      "cross-doc paragraph dedup must have fired")
  }

  test("streaming semantic dedup matches batch on star groups across restarts") {
    val docDir = Files.createTempDirectory("semstream").toString
    val ckpt = Files.createTempDirectory("semstream_ck").toString
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f)
    }
    // star/clique groups with ascending ids (the arrival order on which
    // greedy online ≡ batch connected components):
    //   group 1: ids 1 (base), 3 (0.5-scaled exact), 8 (5 degrees off)
    //   group 2: ids 2 (base w), 7 (2x-scaled exact)
    //   singletons: 4 (orthogonal), 5 (zero vector), 6 (diagonal)
    val batch1 = Seq(
      1L -> at(0), 2L -> Seq(0.0f, 0.0f, 1.0f),
      3L -> at(0).map(_ * 0.5f), 4L -> Seq(0.0f, 1.0f, 0.0f),
      5L -> Seq(0.0f, 0.0f, 0.0f), 6L -> Seq(1.0f, 1.0f, 1.0f))
    val batch2 = Seq(
      7L -> Seq(0.0f, 0.0f, 2.0f), 8L -> at(5))
    val all = batch1 ++ batch2
    // frozen quantizer, trained once on the full corpus (what a
    // SemDeDupIndex.build would hand the stream)
    val centroids = graft.similarity.Quantizer.train(
      all.toDF("cand_id", "cv").select($"cand_id",
        $"cv".cast("array<double>").as("cv")), 2).cells
    batch1.toDF("doc_id", "embedding").write.mode("append").parquet(docDir)
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Int)]())
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
        .parquet(docDir)
      val q = DocStream.streamingSemanticDedup(stream, centroids,
          threshold = 0.95).writeStream
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => collected.add(
            (r.getLong(0), r.getLong(1), r.getInt(2))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    // restart with batch 2: state must remember batch-1 canonicals
    batch2.toDF("doc_id", "embedding").write.mode("append").parquet(docDir)
    runOnce()
    import scala.jdk.CollectionConverters._
    val got = collected.asScala.toSet
    val expect = Dedup.semanticDedup(all.toDF("doc_id", "embedding"),
        "doc_id", "embedding", nClusters = 2, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expect, s"stream $got vs batch $expect")
    // the interesting rows actually happened: cross-batch dup (7 -> 2),
    // zero-vector singleton (5), scaled twin (3 -> 1)
    assert(got.contains((7L, 2L, 0)) && got.contains((5L, 5L, 1)) &&
      got.contains((3L, 1L, 0)))
  }

  test("reconcileSemantic converges chain-shaped groups to batch " +
      "semantics and flags exactly the moved rows") {
    val docDir = Files.createTempDirectory("semchain").toString
    val ckpt = Files.createTempDirectory("semchain_ck").toString
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f)
    }
    // CHAIN: cos(25°) ≈ .906 ≥ .9 links 1~2 and 2~3, but cos(50°) ≈
    // .643 < .9 keeps 1≁3 — the shape greedy online splits. Plus an
    // untouched star (4, 5) and a singleton (6).
    val docs = Seq(
      1L -> at(0), 2L -> at(25), 3L -> at(50),
      4L -> Seq(0.0f, 0.0f, 1.0f), 5L -> Seq(0.0f, 0.0f, 2.0f),
      6L -> Seq(1.0f, -5.0f, 1.0f))
    // nClusters = 1: pairing is within-cell (the round-11 bridge-fixture
    // rule), and the chain must not be split by a cell boundary
    val centroids = graft.similarity.Quantizer.train(
      docs.toDF("cand_id", "cv").select($"cand_id",
        $"cv".cast("array<double>").as("cv")), 1).cells
    docs.toDF("doc_id", "embedding").write.mode("append").parquet(docDir)
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Int)]())
    val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .parquet(docDir)
    val q = DocStream.streamingSemanticDedup(stream, centroids,
        threshold = 0.9).writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => collected.add(
          (r.getLong(0), r.getLong(1), r.getInt(2))))
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val streamedSet = collected.asScala.toSet
    // the documented greedy deviation: 3 scores only against canonical
    // 1 (2 never entered state), misses, and becomes its own canonical
    assert(streamedSet.contains((3L, 3L, 1)) &&
      streamedSet.contains((2L, 1L, 0)),
      s"chain fixture did not exercise the greedy split: $streamedSet")
    val streamedDf = collected.asScala.toSeq
      .toDF("doc_id", "cluster_id", "is_canonical")
    val reconciled = DocStream.reconcileSemantic(
        docs.toDF("doc_id", "embedding"), centroids, 0.9, streamedDf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
      .toSet
    val batch = Dedup.semanticDedup(docs.toDF("doc_id", "embedding"),
        "doc_id", "embedding", nClusters = 1, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(reconciled.map(t => (t._1, t._2, t._3)) == batch,
      s"reconciled ${reconciled.map(t => (t._1, t._2, t._3))} vs batch $batch")
    // exactly the chain-merge victim moved (3: own cluster -> 1)
    assert(reconciled.filter(_._4).map(_._1) == Set(3L),
      s"moved set wrong: $reconciled")
  }

  test("reconcileSemantic equals batch semanticDedup on a trained " +
      "multi-cell chain corpus") {
    // The operator-vs-operator replay retired from the x97 gate in the
    // round-17 slim (x45/x87 precedent): K-MEANS-TRAINED centroids (not
    // the gate's analytic axes), a hashed-plane multi-chain corpus,
    // stream → reconcile, byte equality with the one-shot batch
    // operator. Quantizer.train is deterministic on identical input, so
    // the gate's old equality claim — reconcile under the frozen
    // quantizer ≡ semanticDedup retraining the same quantizer — holds
    // bit-for-bit; the x97 gate keeps served-label exactness vs the
    // analytic truth and the peak-state bound.
    import org.apache.spark.sql.functions._
    val nChains = 16
    // integral chain key (Divide is DOUBLE division in Spark)
    val chain = floor(col("id") / 3).cast("long")
    val node = pmod(col("id"), lit(3))
    // 16-dim plane bases per chain: u on even dims, w on odd dims
    // (disjoint support ⇒ u ⊥ w exactly); node angle θ ∈ {0,25,50}°
    def half(off: Int): Seq[org.apache.spark.sql.Column] =
      (0 until 8).map(j =>
        pmod(xxhash64(chain, lit(j * 2 + off)), lit(2001))
          .cast("double") / 1000.0 - 1.0)
    def norm(v: Seq[org.apache.spark.sql.Column]) =
      sqrt(v.map(x => x * x).reduce(_ + _))
    val (u, w) = (half(0), half(1))
    val (nu, nw) = (norm(u), norm(w))
    val theta = radians(node.cast("double") * 25.0)
    val dims = (0 until 16).map { d =>
      if (d % 2 == 0) cos(theta) * u(d / 2) / nu
      else sin(theta) * w(d / 2) / nw
    }
    val docs = spark.range(3L * nChains)
      .select(col("id").as("doc_id"), array(dims: _*).as("embedding"))
      .localCheckpoint()
    val centroids = graft.similarity.Quantizer.train(
      docs.select(col("doc_id").as("cand_id"),
        col("embedding").as("cv")), 4).cells
    val docDir = Files.createTempDirectory("semtrained").toString
    val ckpt = Files.createTempDirectory("semtrained_ck").toString
    docs.coalesce(1).write.mode("append").parquet(docDir)
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Int)]())
    val stream = spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
      .parquet(docDir)
    val q = DocStream.streamingSemanticDedup(stream, centroids,
        threshold = 0.9).writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => collected.add(
          (r.getLong(0), r.getLong(1), r.getInt(2))))
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val streamed = collected.asScala.toSeq
    assert(streamed.length == 3 * nChains)
    val streamedDf = streamed.toDF("doc_id", "cluster_id", "is_canonical")
    val rec = DocStream.reconcileSemantic(
        docs, centroids, 0.9, streamedDf)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    val batch = Dedup.semanticDedup(docs, "doc_id", "embedding",
        nClusters = 4, threshold = 0.9)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rec.map(t => (t._1, t._2, t._3)).sameElements(batch),
      "reconciled labels != one-shot batch semanticDedup")
    // moved flags exactly the rows whose streamed label changed, and at
    // least one chain-merge victim actually moved (a split the batch
    // operator agrees with — a chain crossing a cell boundary — moves
    // nothing, so emptiness would mean the fixture lost its power)
    val streamedLab = streamed.map(t => t._1 -> t._2).toMap
    assert(rec.forall(t => t._4 == (streamedLab(t._1) != t._2)),
      "moved flags inconsistent with the streamed labels")
    assert(rec.count(_._4) >= 1,
      "no row moved — the fixture did not exercise the greedy deviation")
  }

  test("reconcileSemantic driver-local path equals its distributed " +
      "branch byte-for-byte (round-17 verdict item 4)") {
    // The round-17 slim gave reconcileSemantic a bounded driver path
    // (takeBounded → semanticPairsLocal → unionFindMinLabels) with the
    // distributed plan as fallback; the components are individually
    // pinned but no spec forced the distributed branch of THIS function
    // on the same corpus and compared. localVectorMax is the seam: 0
    // rejects the bounded take, so the same trained multi-cell chain
    // corpus and the same streamed labels run both branches.
    import org.apache.spark.sql.functions._
    val nChains = 8
    val chain = floor(col("id") / 3).cast("long")
    val node = pmod(col("id"), lit(3))
    def half(off: Int): Seq[org.apache.spark.sql.Column] =
      (0 until 8).map(j =>
        pmod(xxhash64(chain, lit(j * 2 + off)), lit(2001))
          .cast("double") / 1000.0 - 1.0)
    def norm(v: Seq[org.apache.spark.sql.Column]) =
      sqrt(v.map(x => x * x).reduce(_ + _))
    val (u, w) = (half(0), half(1))
    val (nu, nw) = (norm(u), norm(w))
    val theta = radians(node.cast("double") * 25.0)
    val dims = (0 until 16).map { d =>
      if (d % 2 == 0) cos(theta) * u(d / 2) / nu
      else sin(theta) * w(d / 2) / nw
    }
    val docs = spark.range(3L * nChains)
      .select(col("id").as("doc_id"), array(dims: _*).as("embedding"))
      .localCheckpoint()
    val centroids = graft.similarity.Quantizer.train(
      docs.select(col("doc_id").as("cand_id"),
        col("embedding").as("cv")), 4).cells
    // any streamed labels exercise the `moved` column; greedy per-doc
    // self-labels make every merge visible
    val streamedDf = docs.select(col("doc_id"),
      col("doc_id").as("cluster_id"), lit(1).as("is_canonical"))
    def run(localMax: Int) = DocStream.reconcileSemantic(
        docs, centroids, 0.9, streamedDf, localVectorMax = localMax)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    val local = run(1000000)
    val dist = run(0)
    assert(local.length == 3 * nChains, s"unexpected size ${local.length}")
    assert(local.sameElements(dist),
      s"driver-local vs distributed divergence:\n${local.toSeq}\nvs\n${dist.toSeq}")
    // the fixture must exercise real merges (non-trivial clusters), or
    // the equality is vacuous
    assert(local.exists(t => t._2 != t._1),
      "fixture produced only singleton clusters — no merge exercised")
  }
}
