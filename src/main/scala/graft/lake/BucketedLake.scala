package graft.lake

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed variant of the lakehouse sink (SURVEY.md §2.1 S2-S4 at scale).
  *
  * The path-based [[Lake]] shuffles on the primary key every time it
  * compacts or joins — correct, but at 100 TB the PK exchange of the full
  * history dominates the daily upsert. Hash-bucketing the table on its
  * primary keys moves that shuffle to WRITE time, once: a bucketed scan
  * reports `HashPartitioning(pk, n)`, so
  *  - PK-dedup compaction windows need no exchange (sort-only within
  *    buckets),
  *  - joins between tables co-bucketed on the same keys/count are
  *    exchange-free on both sides (e.g. prices ⋈ universe on (ticker) or
  *    daily increment ⋈ history),
  * which is exactly Spark's answer to "reuse a partitioning across stages".
  *
  * Bucketing metadata lives in the session catalog (`saveAsTable`); on a
  * cluster this is the metastore. BucketedLakeSpec asserts the plan shapes
  * (zero ShuffleExchange) — not just results.
  */
class BucketedLake(spark: SparkSession, database: String = "graft") {

  private val VERSION = Lake.Version

  spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")

  def qualified(name: String): String = s"$database.$name"

  def exists(name: String): Boolean =
    spark.catalog.tableExists(qualified(name))

  /** Write `df` as a table bucketed (and sorted) on `t.primaryKeys`.
    * `nBuckets` sizes the parallelism of every downstream PK operation:
    * pick ≈ cluster cores at the target scale. */
  def write(t: TableDef, df: DataFrame, nBuckets: Int,
      version: Long = System.currentTimeMillis(),
      mode: SaveMode = SaveMode.Append): Unit = {
    require(t.primaryKeys.nonEmpty, s"${t.name}: bucketing needs primary keys")
    df.withColumn(VERSION, lit(version))
      .write
      .bucketBy(nBuckets, t.primaryKeys.head, t.primaryKeys.tail: _*)
      .sortBy(t.primaryKeys.head, t.primaryKeys.tail: _*)
      .mode(mode)
      .saveAsTable(qualified(t.name))
  }

  def table(t: TableDef): DataFrame =
    spark.table(qualified(t.name)).drop(VERSION)

  /** PK-dedup view (newest `__version` wins, deterministic tie-break) —
    * the same compaction rule as [[Lake.optimize]], but over the bucketed
    * layout the window needs NO exchange: each bucket already holds every
    * row of its keys. */
  def compacted(t: TableDef): DataFrame =
    Lake.newestPerKey(spark.table(qualified(t.name)), t.primaryKeys).drop(VERSION)

  def drop(t: TableDef): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${qualified(t.name)}")
}
