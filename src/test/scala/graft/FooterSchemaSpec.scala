package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

import graft.core.{FooterSchema, JobTrace, Tables}
import graft.sinks.Sinks

/** The one parquet-layout reader: `FooterSchema.load` gives every layout
  * the engine reads the schema Spark's inference would, without a job. */
class FooterSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = Files.createTempDirectory(s"footer-$name").toString

  private def rows = Seq((1L, "a", 1.5, 0, 0), (2L, "b", 2.5, 1, 2), (3L, "c", 3.5, 2, 1))
    .toDF("id", "name", "v", "a", "b")

  private def touch(path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), Array.emptyByteArray)
  }

  private def assertSameAsInference(p: String): Unit = {
    val inferred = spark.read.parquet(p).schema
    val (loaded, rec) = JobTrace.measure(spark)(FooterSchema.load(spark, p).schema)
    assert(loaded === inferred, s"'$p'")
    assert(rec.jobs.isEmpty, s"load ran jobs for '$p': ${rec.jobs.map(_.site)}")
  }

  test("a single file, a flat dir and a two-level partitioned dir read the inferred schema") {
    val flat = tmp("flat") + "/t"
    rows.coalesce(1).write.parquet(flat)
    assertSameAsInference(flat)
    val file = new java.io.File(flat).listFiles().filter(_.getName.startsWith("part-")).head
    assertSameAsInference(file.getPath)

    val parted = tmp("parted") + "/t"
    rows.write.partitionBy("a", "b").parquet(parted)
    // partition dirs that hold no data file: the walk must pass over them
    touch(s"$parted/a=00/b=0/_SUCCESS")
    touch(s"$parted/a=00/b=1/_SUCCESS")
    touch(s"$parted/a=00/_SUCCESS")
    touch(s"$parted/_tag")
    assertSameAsInference(parted)
    assert(FooterSchema.load(spark, parted).schema.fieldNames.toSeq ===
      Seq("id", "name", "v", "a", "b"), "partition columns come from the paths")
  }

  test("the events nanos generation reads as long, as Spark's inference does") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val dir = tmp("nanos") + "/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/part-00000.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000000987654321L).foreach {
      case (u, ns) => writer.write(groups.newGroup().append("user_id", u).append("ts", ns))
    } finally writer.close()
    assertSameAsInference(dir)
    assert(FooterSchema.read(spark, dir)("ts").dataType ===
      org.apache.spark.sql.types.LongType)
  }

  test("a marker-mode versioned snapshot reads the inferred schema") {
    val path = tmp("marker") + "/snap"
    Sinks.snapshotSwapMarker(rows, path)
    val versions = new java.io.File(s"${path}__versions").listFiles().filter(_.isDirectory)
    assert(versions.length === 1)
    assertSameAsInference(versions.head.getPath)
    assert(Sinks.readSnapshot(spark, path).schema === spark.read.parquet(versions.head.getPath).schema)
  }

  test("Tables.load runs no job for any of the ten tables") {
    val sf = "/root/testdata/sf0.001"
    val (schemas, rec) = JobTrace.measure(spark)(Tables.names.map(Tables.load(spark, sf, _).schema))
    assert(schemas.forall(_.nonEmpty))
    assert(rec.jobs.isEmpty, s"jobs: ${rec.jobs.map(_.site)}")
  }

  test("a dir holding only hidden entries fails naming the dir") {
    val dir = tmp("hidden") + "/t"
    touch(s"$dir/_SUCCESS")
    touch(s"$dir/.part-00000.parquet.crc")
    touch(s"$dir/part-00001.parquet._COPYING_")
    rows.coalesce(1).write.parquet(s"$dir/_temporary/0")
    assert(!FooterSchema.hasData(spark, dir))
    val e = intercept[IllegalStateException](FooterSchema.load(spark, dir))
    assert(e.getMessage.contains(dir), e.getMessage)
  }
}
