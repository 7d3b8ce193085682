package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** A parquet directory's schema from one footer, read on the driver.
  *
  * `spark.read.parquet(dir).schema` with schema merging off also reads
  * one footer, but it does so in a one-task Spark job (35-38 ms each in
  * a traced sync cycle on a 4-core box). Here the driver opens the
  * first data file of `dir` itself and runs the same conversion
  * (`ParquetFileFormat.readSchemaFromFooter` under the session's
  * parquet settings), so the Spark schema carried in the footer wins,
  * as it does in Spark's own inference. Only `dir`'s own
  * entries are listed (no recursion into partition dirs), and the
  * listing stops at the first data file. */
object FooterSchema {

  /** Spark's rule for files that are not data: hidden, metadata, or
    * still being copied. */
  private def isData(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".") && !name.endsWith("._COPYING_")

  /** @throws IllegalStateException when `dir` holds no data file */
  def read(spark: SparkSession, dir: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val it = root.getFileSystem(conf).listStatusIterator(root)
    val st = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .find(st => st.isFile && isData(st.getPath.getName))
      .getOrElse(throw new IllegalStateException(
        s"no parquet data file in '$dir' to read a schema from"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val meta = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
