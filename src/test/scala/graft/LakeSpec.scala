package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.lake.{Lake, TableDef}
import org.apache.spark.sql.types._

/** Lake layer: create modes, append, PK-dedup optimize (global and
  * partition-scoped), version-wins upsert semantics, the one-write
  * merge upsert (scope, failure and empty-input cases), recovery of a
  * half-swapped table or partition, and reads against the declared
  * schema. */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def freshLake = new Lake(spark,
    Files.createTempDirectory("lake_test").toString)

  private val prices = TableDef("prices",
    StructType(Seq(
      StructField("ticker", StringType), StructField("date", StringType),
      StructField("year", IntegerType), StructField("close", DoubleType))),
    partitionKeys = Seq("year"), primaryKeys = Seq("date", "ticker"))

  test("create replace/skip modes") {
    val lake = freshLake
    assert(lake.create(prices))
    assert(!lake.create(prices)) // skip: already exists
    lake.append(prices, Seq(("A", "2024-01-02", 2024, 10.0))
      .toDF("ticker", "date", "year", "close"), version = 1L)
    assert(lake.table(prices).count() == 1)
    assert(lake.create(prices, replace = true)) // drops data
    assert(lake.table(prices).count() == 0)
  }

  test("empty created table reads with declared schema") {
    val lake = freshLake
    lake.create(prices)
    val df = lake.table(prices)
    assert(df.count() == 0)
    assert(df.columns.toSet == Set("ticker", "date", "year", "close"))
  }

  test("optimize dedups on PK, newest version wins") {
    val lake = freshLake
    lake.create(prices)
    lake.append(prices, Seq(
      ("A", "2024-01-02", 2024, 10.0), ("B", "2024-01-02", 2024, 20.0))
      .toDF("ticker", "date", "year", "close"), version = 1L)
    // second append revises A's close — upsert
    lake.append(prices, Seq(("A", "2024-01-02", 2024, 11.5))
      .toDF("ticker", "date", "year", "close"), version = 2L)
    assert(lake.table(prices).count() == 3)
    lake.optimize(prices)
    val rows = lake.table(prices).orderBy($"ticker").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("close") == 11.5) // newest version won
    assert(rows(1).getAs[Double]("close") == 20.0)
    // idempotent
    lake.optimize(prices)
    assert(lake.table(prices).count() == 2)
  }

  test("latest() is the merge-on-read optimize view; missing table is empty") {
    val lake = freshLake
    // pre-create read resolves empty with the declared schema (table() rule)
    assert(lake.latest(prices).isEmpty)
    lake.create(prices)
    lake.append(prices, Seq(
      ("A", "2024-01-02", 2024, 10.0), ("B", "2024-01-02", 2024, 20.0))
      .toDF("ticker", "date", "year", "close"), version = 1L)
    lake.append(prices, Seq(("A", "2024-01-02", 2024, 11.5))
      .toDF("ticker", "date", "year", "close"), version = 2L)
    // read-time supersede: same survivors optimize() would keep, with the
    // superseded row still on disk
    val live = lake.latest(prices).orderBy($"ticker").collect()
    assert(live.map(r => (r.getAs[String]("ticker"), r.getAs[Double]("close")))
      .toSeq == Seq(("A", 11.5), ("B", 20.0)))
    assert(lake.table(prices).count() == 3)
    // optimize then agrees with the view it was serving
    lake.optimize(prices)
    assert(lake.latest(prices).orderBy($"ticker").collect()
      .map(_.getAs[Double]("close")).toSeq == Seq(11.5, 20.0))
  }

  test("partition-scoped optimize rewrites only the named partition") {
    val lake = freshLake
    lake.create(prices)
    lake.append(prices, Seq(
      ("A", "2023-06-01", 2023, 1.0), ("A", "2024-01-02", 2024, 10.0))
      .toDF("ticker", "date", "year", "close"), version = 1L)
    lake.append(prices, Seq(("A", "2024-01-02", 2024, 12.0))
      .toDF("ticker", "date", "year", "close"), version = 2L)
    lake.optimize(prices, partitions = Seq("year=2024"))
    val rows = lake.table(prices).orderBy($"date").collect()
    assert(rows.length == 2)
    assert(rows(1).getAs[Double]("close") == 12.0)
    assert(rows(0).getAs[Double]("close") == 1.0) // untouched partition intact
  }

  test("upsert = create-if-absent + append + optimize") {
    val lake = freshLake
    lake.upsert(prices, Seq(("A", "2024-01-02", 2024, 10.0))
      .toDF("ticker", "date", "year", "close"), version = 1L)
    lake.upsert(prices, Seq(("A", "2024-01-02", 2024, 99.0))
      .toDF("ticker", "date", "year", "close"), version = 2L)
    val rows = lake.table(prices).collect()
    assert(rows.length == 1 && rows(0).getAs[Double]("close") == 99.0)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("ticker", "date", "year", "close").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
      .sortBy(r => (r._2, r._1)).toSeq

  private def batch(rs: (String, String, Int, Double)*) =
    rs.toDF("ticker", "date", "year", "close")

  test("merge upsert: old rows plus new, newest version wins, exact-tie " +
      "duplicate keeps optimize's survivor") {
    val lake = freshLake
    lake.upsert(prices, batch(("A", "2024-01-02", 2024, 10.0),
      ("B", "2024-01-02", 2024, 20.0)), version = 1L)
    // one batch repeats key C twice exactly and key D with two closes
    lake.upsert(prices, batch(("A", "2024-01-02", 2024, 11.0),
      ("C", "2024-01-03", 2024, 30.0), ("C", "2024-01-03", 2024, 30.0),
      ("D", "2024-01-03", 2024, 1.0), ("D", "2024-01-03", 2024, 2.0)),
      version = 2L)
    // an older version does not beat the stored row
    lake.upsert(prices, batch(("B", "2024-01-02", 2024, 99.0)), version = 0L)
    val merged = rows(lake.table(prices))
    assert(merged == Seq(("A", "2024-01-02", 2024, 11.0),
      ("B", "2024-01-02", 2024, 20.0), ("C", "2024-01-03", 2024, 30.0),
      ("D", "2024-01-03", 2024, 2.0)))
    // the same batches through create + append + optimize keep the same rows
    val ref = freshLake
    ref.create(prices)
    ref.append(prices, batch(("A", "2024-01-02", 2024, 10.0),
      ("B", "2024-01-02", 2024, 20.0)), version = 1L)
    ref.append(prices, batch(("A", "2024-01-02", 2024, 11.0),
      ("C", "2024-01-03", 2024, 30.0), ("C", "2024-01-03", 2024, 30.0),
      ("D", "2024-01-03", 2024, 1.0), ("D", "2024-01-03", 2024, 2.0)),
      version = 2L)
    ref.append(prices, batch(("B", "2024-01-02", 2024, 99.0)), version = 0L)
    ref.optimize(prices)
    assert(rows(ref.table(prices)) == merged)
  }

  test("scoped merge upsert rewrites only the named partitions; a new " +
      "partition moves in") {
    val lake = freshLake
    lake.upsert(prices, batch(("A", "2023-06-01", 2023, 1.0),
      ("A", "2024-01-02", 2024, 10.0)), version = 1L)
    val before2023 = new java.io.File(lake.path("prices"), "year=2023")
      .listFiles().map(_.getName).toSet
    lake.upsert(prices, batch(("A", "2024-01-02", 2024, 12.0),
      ("B", "2024-01-03", 2024, 5.0), ("A", "2025-01-02", 2025, 7.0)),
      version = 2L, partitions = Seq("year=2024"))
    assert(rows(lake.table(prices)) == Seq(("A", "2023-06-01", 2023, 1.0),
      ("A", "2024-01-02", 2024, 12.0), ("B", "2024-01-03", 2024, 5.0),
      ("A", "2025-01-02", 2025, 7.0)))
    // the out-of-scope partition's files were not rewritten
    assert(new java.io.File(lake.path("prices"), "year=2023")
      .listFiles().map(_.getName).toSet == before2023)
  }

  test("scoped merge upsert landing in an existing partition outside the " +
      "scope throws and leaves the table unchanged") {
    val lake = freshLake
    lake.upsert(prices, batch(("A", "2023-06-01", 2023, 1.0),
      ("A", "2024-01-02", 2024, 10.0)), version = 1L)
    val before = rows(lake.table(prices))
    val e = intercept[IllegalArgumentException] {
      lake.upsert(prices, batch(("A", "2024-01-02", 2024, 12.0),
        ("B", "2023-06-01", 2023, 2.0)), version = 2L,
        partitions = Seq("year=2024"))
    }
    assert(e.getMessage.contains("year=2023"))
    assert(rows(lake.table(prices)) == before)
  }

  test("empty merge upsert into an absent table leaves an empty, " +
      "resolvable table") {
    val lake = freshLake
    assert(!lake.exists("prices"))
    lake.upsert(prices, batch(), version = 1L)
    assert(lake.exists("prices"))
    val df = lake.table(prices)
    assert(df.count() == 0)
    assert(df.columns.toSet == Set("ticker", "date", "year", "close"))
    // and a later upsert merges into the seed-only table cleanly
    lake.upsert(prices, batch(("A", "2024-01-02", 2024, 10.0)), version = 2L)
    assert(rows(lake.table(prices)) == Seq(("A", "2024-01-02", 2024, 10.0)))
  }

  test("merge upsert whose input fails mid-write leaves the old rows") {
    val lake = freshLake
    lake.upsert(prices, batch(("A", "2024-01-02", 2024, 10.0),
      ("B", "2024-01-02", 2024, 20.0)), version = 1L)
    val before = rows(lake.table(prices))
    val failing = batch(("C", "2024-01-03", 2024, 1.0))
      .withColumn("close", raise_error(lit("planted write failure")).cast("double"))
    val e = intercept[Exception](lake.upsert(prices, failing, version = 2L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("planted write failure")))
    assert(rows(lake.table(prices)) == before)
    // re-running with good input converges
    lake.upsert(prices, batch(("C", "2024-01-03", 2024, 1.0)), version = 3L)
    assert(rows(lake.table(prices)).map(_._1) == Seq("A", "B", "C"))
  }

  test("a half-swapped table (only <t>__old left) is restored before the " +
      "next upsert") {
    val lake = freshLake
    lake.upsert(prices, batch(("A", "2024-01-02", 2024, 10.0),
      ("B", "2024-01-02", 2024, 20.0)), version = 1L)
    // a crash between the swap's two renames: the table moved aside, the
    // new data never moved in
    val dst = new java.io.File(lake.path("prices"))
    assert(dst.renameTo(new java.io.File(lake.path("prices") + "__old")))
    lake.upsert(prices, batch(("C", "2024-01-03", 2024, 30.0)), version = 2L)
    assert(rows(lake.table(prices)) == Seq(("A", "2024-01-02", 2024, 10.0),
      ("B", "2024-01-02", 2024, 20.0), ("C", "2024-01-03", 2024, 30.0)))
    assert(!new java.io.File(lake.path("prices") + "__old").exists())
  }

  test("a half-swapped partition (only <t>/year=Y__old left) is restored " +
      "before the next scoped upsert; a stale copy beside its live one is dropped") {
    val lake = freshLake
    lake.upsert(prices, batch(("A", "2023-06-01", 2023, 1.0),
      ("A", "2024-01-02", 2024, 10.0)), version = 1L)
    // a crash inside a scoped upsert's swap: year=2024 moved aside, its new
    // data never moved in
    def part(name: String) = new java.io.File(lake.path("prices"), name)
    assert(part("year=2024").renameTo(part("year=2024__old")))
    lake.upsert(prices, batch(("B", "2024-01-03", 2024, 5.0)), version = 2L,
      partitions = Seq("year=2024"))
    val want = Seq(("A", "2023-06-01", 2023, 1.0), ("A", "2024-01-02", 2024, 10.0),
      ("B", "2024-01-03", 2024, 5.0))
    assert(rows(lake.table(prices)) == want)
    assert(!part("year=2024__old").exists())
    // a crash after the swap's second rename: the aside copy is stale
    org.apache.commons.io.FileUtils.copyDirectory(part("year=2023"), part("year=2023__old"))
    assert(lake.exists("prices"))
    assert(!part("year=2023__old").exists())
    assert(rows(lake.table(prices)) == want)
  }

  test("reads resolve against the declared schema: seed-only and missing " +
      "tables as before, a file column of another type fails the read") {
    val lake = freshLake
    // missing: the declared columns, in declared order, no rows
    assert(lake.table(prices).columns.toSeq == Seq("ticker", "date", "year", "close"))
    assert(lake.table(prices).isEmpty && lake.latest(prices).isEmpty &&
      lake.tableSlice(prices, Seq("year=2024")).isEmpty)
    // seed-only: the same, and the version column on request
    lake.create(prices)
    assert(lake.table(prices).columns.toSeq == Seq("ticker", "date", "year", "close"))
    assert(lake.table(prices, keepVersion = true).columns.toSeq ==
      Seq("ticker", "date", "year", "close", "__version"))
    assert(lake.table(prices).isEmpty && lake.latest(prices).isEmpty)
    // with rows: data columns in declared order, then the partition key
    lake.upsert(prices, batch(("A", "2024-01-02", 2024, 10.0)), version = 1L)
    assert(lake.table(prices).columns.toSeq == Seq("ticker", "date", "close", "year"))
    assert(lake.tableSlice(prices, Seq("year=2024")).columns.toSeq ==
      Seq("ticker", "date", "close", "year"))
    // a table whose only file has `close` as a string: inference would read
    // a string column; against the declared double the read must fail
    val bad = freshLake
    Seq(("B", "2024-01-03", "12.5", 2L)).toDF("ticker", "date", "close", "__version")
      .write.parquet(bad.path("prices") + "/year=2025")
    val e = intercept[Exception](bad.table(prices).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("close")), e.toString)
  }

  test("after runAll every Catalog table reads with the declared columns: " +
      "data columns in declared order, then the partition keys") {
    import graft.lake.Catalog
    val lake = freshLake
    val ds = (0 until 30).map(i => java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 3, 4).plusDays(i.toLong)))
    def bars(ts: Seq[String]) = (for (t <- ts; (d, i) <- ds.zipWithIndex) yield {
      val c = 50.0 + t.length + math.sin(i + t.hashCode % 7)
      (t, d, c, c, c, c, 1e6, 1e3, c)
    }).toDF("ticker", "date", "open", "high", "low", "close", "volume", "trade_count", "vwap")
    new graft.pipelines.Orchestrator(spark, lake, Seq("SPY"), window = 5, halfLife = 5.0)
      .runAll(ds.toDF("date"), Seq("AA", "BB", "CC").toDF("ticker"),
        Seq.empty[(java.sql.Date, String, String)].toDF("effective_date", "ticker", "action"),
        bars(Seq("AA", "BB", "CC")), bars(Seq("SPY")))
    Catalog.all.foreach { t =>
      val cols = t.schema.fieldNames.toSeq
      val want = cols.filterNot(t.partitionKeys.contains) ++ t.partitionKeys
      assert(lake.exists(t.name) == (t != Catalog.portfolioHistory), t.name)
      // a missing table keeps the declared order, as before
      assert(lake.table(t).columns.toSeq == (if (lake.exists(t.name)) want else cols), t.name)
    }
    assert(lake.table(Catalog.universe).columns.toSeq == Seq("date", "ticker", "year"))
  }
}
