package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The engine's one parquet-layout reader: which files of a layout hold
  * data, what their schema is, and a read that carries that schema.
  *
  * Data files: a name that does not start with `.`, does not start with
  * `_` (unless it holds `=`, a partition dir such as `_b=3`) and does not
  * end in `._COPYING_` — the rule of Spark's file index. So `_SUCCESS`,
  * tags, `_temporary`, `.crc` files and manifests are never data.
  *
  * The walk is depth-first and lazy: a path that is a file is its own
  * data file; a dir yields its data files and goes down into its
  * sub-dirs (the partition dirs of a partitioned layout) in listing
  * order, so a partition dir that holds only hidden entries is passed
  * over and the first one that holds data supplies the schema.
  *
  * Which footer gives the schema: Spark's inference with schema merging
  * off reads `_common_metadata`, else `_metadata`, else the first data
  * file of its (path-sorted) file index, in a one-task Spark job. Here
  * the driver decodes the first data file of the walk with the same
  * conversion (`ParquetFileFormat.readSchemaFromFooter` under the
  * session's converter, so the Spark schema carried in the footer wins
  * and `spark.sql.legacy.parquet.nanosAsLong` applies). The two pick the
  * same schema whenever a layout's files agree, which every layout the
  * engine writes does; a dir whose footers disagree is
  * `operators.Compact`'s concern. [[load]] passes the schema to
  * `spark.read`, so no read runs an inference job; Spark still discovers
  * partition columns from the paths. */
object FooterSchema {

  def isData(name: String): Boolean =
    !(name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) ||
      name.endsWith("._COPYING_"))

  /** The data files under `path`, walked lazily (see above); empty when
    * `path` does not exist. */
  def dataFiles(spark: SparkSession, path: String): Iterator[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Iterator[FileStatus] =
      if (!st.isDirectory) Iterator.single(st)
      else {
        val it = fs.listStatusIterator(st.getPath)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filter(c => isData(c.getPath.getName)).flatMap(walk)
      }
    try walk(fs.getFileStatus(root))
    catch { case _: java.io.FileNotFoundException => Iterator.empty }
  }

  /** Does `path` hold at least one data file? */
  def hasData(spark: SparkSession, path: String): Boolean =
    dataFiles(spark, path).hasNext

  private def footer(spark: SparkSession, st: FileStatus,
                     filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
      HadoopReadOptions.builder(conf).withMetadataFilter(filter).build())
    try reader.getFooter finally reader.close()
  }

  /** One data file's Spark schema (its row groups are not read). */
  def ofFile(spark: SparkSession, st: FileStatus): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(st.getPath, footer(spark, st, ParquetMetadataConverter.SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** One data file's record count, from its row-group metadata. */
  def rowCount(spark: SparkSession, st: FileStatus): Long =
    footer(spark, st, ParquetMetadataConverter.NO_FILTER).getBlocks.asScala
      .map(_.getRowCount).sum

  /** The schema of the first data file under `path`.
    * @throws IllegalStateException when `path` holds no data file */
  def read(spark: SparkSession, path: String): StructType = {
    val files = dataFiles(spark, path)
    if (!files.hasNext) throw new IllegalStateException(
      s"no parquet data file in '$path' to read a schema from")
    ofFile(spark, files.next())
  }

  /** `path` as a DataFrame, with the schema from [[read]]. */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(read(spark, path)).parquet(path)
}
