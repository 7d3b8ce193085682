package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over the driver-provided parquet testdata.
  *
  * The reference addresses tables as `{project_id, dataset_id, table_id}`
  * (ref: config/bigquery/bigquery.py:65-70); here a "dataset" is a
  * scale-factor directory and a table is one parquet file/dir. At cluster
  * scale each table would be a partitioned parquet directory — the loader
  * is agnostic (Spark handles both transparently).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Declared-contract enforcement on the READ side: a registry-covered
    * table's loaded schema must carry every declared column at the
    * declared type, or the load fails naming the drifted column. Without
    * this, schema drift in the stored files (a producer changing a type,
    * a bad backfill) surfaces as silently-wrong query results or a
    * mid-query cast error far from the cause; with it, the registry is
    * the contract in both directions (writes already enforce it via
    * `Sinks.appendWithSchema`). Comparison is via the DDL rendering,
    * which deliberately ignores nullability — parquet footers don't
    * carry the registry's NOT NULL, that's the write path's job — and
    * undeclared extra columns pass (additive evolution is not drift).
    * Cost: none beyond the load's: the `df.schema` it reads is the
    * footer schema [[FooterSchema.load]] decoded on the driver, so a load
    * runs no Spark job. */
  private def validateAgainstRegistry(name: String, df: DataFrame): DataFrame = {
    SchemaRegistry.default.get(name).foreach { spec =>
      val actual = df.schema.map(f => f.name -> f.dataType).toMap
      spec.schema.fields.foreach { f =>
        actual.get(f.name) match {
          case None => throw new IllegalStateException(
            s"table '$name': declared column '${f.name}' missing from loaded schema " +
              s"(loaded: ${df.schema.map(_.name).mkString(", ")})")
          case Some(dt) if dt.sql != f.dataType.sql => throw new IllegalStateException(
            s"table '$name': column '${f.name}' declared ${f.dataType.sql} " +
              s"but loaded ${dt.sql} — schema drift, fix the data or the registry")
          case _ => ()
        }
      }
    }
    df
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    validateAgainstRegistry(name, loadRaw(spark, dir, name))

  private def loadRaw(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // `events.ts` has shipped as two different physical types across
      // testdata generations: INT64 TIMESTAMP(NANOS) — which Spark 4
      // rejects outright (PARQUET_TYPE_ILLEGAL) unless nanos are read as
      // long — and plain TIMESTAMP(MICROS). The loader owns the
      // normalization either way: downstream code sees one logical
      // contract (`ts TIMESTAMP_NTZ`, the registry's declaration),
      // whichever file generation is on disk. The nanos conf is set once
      // at session build by GraftSession (all engine-owned sessions);
      // this guarded set is the fallback for externally-owned sessions —
      // harmless for micros files, required before the scan for nanos
      // files ("was it explicitly set?" is unknowable here anyway:
      // getOption surfaces the registered default, not absence). It must
      // be set before the footer is decoded: the converter reads it.
      if (!spark.conf.getOption(NanosConf).contains("true"))
        spark.conf.set(NanosConf, "true")
      val df = FooterSchema.load(spark, s"$dir/$name.parquet")
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // nanos-as-long generation: floor to microseconds, the same
          // truncation Spark applies to ns elsewhere
          df.withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // native micros generation, read as NTZ already; cast is a no-op
          df.withColumn("ts", col("ts").cast("timestamp_ntz"))
        case org.apache.spark.sql.types.TimestampType =>
          // a future generation shipping TIMESTAMP_LTZ: pin the NTZ contract
          df.withColumn("ts", col("ts").cast("timestamp_ntz"))
        case other =>
          // any OTHER physical type (string, int32 date, …) is a testdata
          // generation this loader has never seen: fail loudly instead of
          // silently coercing to nulls through a catch-all cast
          throw new IllegalStateException(
            s"events.ts shipped as unexpected physical type $other — " +
              "extend Tables.loadRaw's normalization for this generation")
      }
    } else FooterSchema.load(spark, s"$dir/$name.parquet")

  /** Register every table as a temp view — the stand-in for the reference's
    * remote-SQL (Redash) source, S10 (ref: config/redash/Redash.py:46-78):
    * SQL text evaluated against warehouse tables becomes `spark.sql` over
    * registered views, planned and optimized by Catalyst.
    *
    * Memoized per (session, dir): registration reads ten parquet footers
    * driver-side (one per table, no Spark job), and the remote-SQL
    * queries call this per invocation — at
    * cluster scale a session runs thousands of statements, so the catalog
    * must be populated once, not per query. A session re-pointed at a
    * different dir re-registers (views are replaced); sessions are tracked
    * weakly so a stopped session doesn't pin its entry.
    */
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  def registerAll(spark: SparkSession, dir: String): Unit =
    // record the dir only AFTER every view registered: a failure halfway
    // (corrupt file, transient FS error) must not poison the memo and turn
    // every later call into a silent no-op over missing views
    if (registeredDir.get(spark) != dir) {
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      registeredDir.put(spark, dir)
    }
}
