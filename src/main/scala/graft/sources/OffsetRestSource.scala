package graft.sources

import java.util
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 realization of the reference's OFFSET-paginated list
  * endpoints (S9 analog — ref: config/hubspot/hubspotoop.py:350-383:
  * GET `?offset=N&limit=M`, looping while the server reports has-more;
  * same shape at :385-416 for owners).
  *
  * The mapping, made concrete:
  *  - one offset window -> one `InputPartition` (windows fetch in
  *    parallel across executors instead of the reference's serial
  *    offset loop);
  *  - the client stopping the loop early -> `SupportsPushDownLimit`:
  *    a query LIMIT caps how many windows are planned at all, so
  *    `df.limit(n)` fetches ceil(n/pageSize) pages instead of the whole
  *    collection (partial push: Spark still trims to the exact n);
  *  - the HTTP fetch is a pluggable seam: with an `endpoint` option the
  *    reader GETs `<endpoint>?offset=N&limit=M` per window and parses
  *    the reference's offset-page shape (a `results` array of
  *    id/name records — hubspotoop.py:360-367); without one it falls
  *    back to a deterministic in-process generator (no egress here).
  *    OffsetRestSourceSpec drives the HTTP path against a loopback
  *    `HttpServer`, proving the pushed LIMIT keeps un-needed windows
  *    from ever being requested over the wire.
  *
  * Usage: `spark.read.format("graft.sources.OffsetRestSource")
  *   .option("pages", 10).option("pageSize", 100).load()`.
  */
class OffsetRestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OffsetRestSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // user-facing reader options arrive with original casing here
    val opts = new CaseInsensitiveStringMap(properties)
    new OffsetTable(opts.getInt("pages", 10), opts.getInt("pageSize", 100),
      Option(opts.get("endpoint")))
  }
}

object OffsetRestSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false)))

  /** Windows actually planned by the last scan — observable pushdown proof. */
  val lastPlannedPages = new AtomicInteger(0)
}

private class OffsetTable(pages: Int, pageSize: Int, endpoint: Option[String])
    extends Table with SupportsRead {
  override def name(): String = s"offset_rest(pages=$pages, pageSize=$pageSize)"
  override def schema(): StructType = OffsetRestSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OffsetScanBuilder(pages, pageSize, endpoint)
}

private class OffsetScanBuilder(pages: Int, pageSize: Int, endpoint: Option[String])
    extends ScanBuilder with SupportsPushDownLimit {

  private var limit: Int = Int.MaxValue

  override def pushLimit(l: Int): Boolean = {
    limit = l
    true // pushed, but partial — Spark still applies the exact trim
  }

  override def build(): Scan = new OffsetScan(pages, pageSize, limit, endpoint)
}

private class OffsetScan(pages: Int, pageSize: Int, limit: Int,
                         endpoint: Option[String])
    extends Scan with Batch {
  override def readSchema(): StructType = OffsetRestSource.schema
  override def toBatch: Batch = this

  override def description(): String =
    if (limit == Int.MaxValue) "offset_rest"
    else s"offset_rest PushedLimit: [$limit]"

  override def planInputPartitions(): Array[InputPartition] = {
    val needed =
      if (limit == Int.MaxValue) pages
      else math.min(pages.toLong, (limit.toLong + pageSize - 1) / pageSize).toInt
    val planned = (0 until needed)
      .map(p => OffsetWindow(p.toLong * pageSize, pageSize, endpoint): InputPartition)
      .toArray
    OffsetRestSource.lastPlannedPages.set(planned.length)
    planned
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        OffsetPartitionReader(partition.asInstanceOf[OffsetWindow])
    }
}

private case class OffsetWindow(offset: Long, limit: Int, endpoint: Option[String])
    extends InputPartition

/** One HTTP fetch per window — real GET with the reference's
  * offset/limit params when an endpoint is configured
  * (hubspotoop.py:360-367), deterministic generator otherwise. Shares
  * the paged source's in-partition backoff discipline. */
private object OffsetPartitionReader {

  def apply(w: OffsetWindow): PartitionReader[InternalRow] =
    new IteratorReader(w.endpoint.map(httpWindow(w, _)).getOrElse(syntheticWindow(w)))

  private def httpWindow(w: OffsetWindow, endpoint: String): Iterator[InternalRow] = {
    val results = RestFetch.results(s"$endpoint?offset=${w.offset}&limit=${w.limit}")
    (0 until results.size()).iterator.map { i =>
      val r = results.get(i)
      InternalRow(r.get("id").asText().toLong,
        UTF8String.fromString(r.get("name").asText()))
    }
  }

  private def syntheticWindow(w: OffsetWindow): Iterator[InternalRow] =
    (0 until w.limit).iterator.map { i =>
      val id = w.offset + i
      InternalRow(id, UTF8String.fromString(s"record_$id"))
    }
}
