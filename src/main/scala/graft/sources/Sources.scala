package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.FooterSchema

/** File sources beyond the plain table registry (SURVEY.md §2.1).
  *
  * S14 — the reference enumerates year directories by hand
  * (ref: config/gcs/gcs.py:143-187, layout `.../{object}/{taxcode}/{year}`);
  * Spark's Hive-style partition discovery + partition pruning replaces the
  * manual loop: a filter on the partition column prunes directories before
  * any file is opened.
  *
  * S15 — spilled JSON / processed CSV reads
  * (ref: pipeline/hubspot_engagement/hubspot_email_engagement.py:209-216,
  * pipeline/update_objects/update_note_companies.py:51).
  */
object Sources {

  /** S14: read a Hive-partitioned dataset rooted at `basePath`. Filters on
    * partition columns (e.g. `year`) become PartitionFilters — verify with
    * `.explain` — so a year-scoped query touches one directory, not all. */
  def partitioned(spark: SparkSession, basePath: String): DataFrame =
    FooterSchema.load(spark, basePath)

  /** Write a year-partitioned copy of a frame (the reference's GCS layout,
    * gcs.py:143-167) — partitioning column becomes the directory key. */
  def writePartitionedByYear(df: DataFrame, tsCol: String, path: String): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("year", year(col(tsCol)))
      .write.mode("overwrite").partitionBy("year").parquet(path)
  }

  /** S15: JSON spill-file read (schema explicit — inference costs a scan). */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** S15: CSV with header, explicit schema. */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** ORC read — the second columnar format (interchange with Hive-side
    * producers). Same pushdown/pruning machinery as parquet: predicates
    * and column pruning reach the ORC reader, partition discovery is
    * identical. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
