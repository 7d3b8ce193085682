package graft.sources

import java.util
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 realization of the reference's paginated REST scan with
  * server-side predicate pushdown (S1/S4 — ref:
  * config/hubspot/hubspotoop.py:50-83 cursor-token pagination;
  * :140-163 POST filterGroups `hs_lastmodifieddate GT cursor`).
  *
  * The mapping, made concrete:
  *  - one REST page  -> one `InputPartition` (pages fetch in parallel
  *    across executors instead of the reference's serial 2 s-per-page loop);
  *  - the search API's GT-cursor filter group -> `SupportsPushDownFilters`:
  *    a `updated_at > cursor` predicate is claimed at planning time and
  *    pages wholly below the cursor are never fetched;
  *  - the HTTP fetch is a pluggable seam: with an `endpoint` option the
  *    reader GETs `<endpoint>?after=<token>&limit=<pageSize>` per page
  *    and parses the reference's page shape (`results` array +
  *    `paging.next.after` — hubspotoop.py:58-80); without one it falls
  *    back to a deterministic in-process generator (no egress in this
  *    environment). PagedRestSourceSpec exercises the HTTP path against
  *    a loopback `HttpServer`, proving pagination and the GT-cursor
  *    pushdown skip unfetched pages over real HTTP.
  *
  * Usage: `spark.read.format("graft.sources.PagedRestSource")
  *   .option("pages", 10).option("pageSize", 100).load()`.
  */
class PagedRestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedRestSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // user-facing reader options arrive with original casing here
    val opts = new CaseInsensitiveStringMap(properties)
    new PagedTable(opts.getInt("pages", 10), opts.getInt("pageSize", 100),
      Option(opts.get("endpoint")))
  }
}

object PagedRestSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  /** Epoch-micros of the first record; each record advances one minute, so
    * page p covers [p*pageSize, (p+1)*pageSize) minutes after T0. */
  val T0Micros: Long = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  val StepMicros: Long = 60L * 1000000L

  /** Pages actually planned by the last scan — observable pushdown proof. */
  val lastPlannedPages = new AtomicInteger(0)
}

private class PagedTable(pages: Int, pageSize: Int, endpoint: Option[String])
    extends Table with SupportsRead {
  override def name(): String = s"paged_rest(pages=$pages, pageSize=$pageSize)"
  override def schema(): StructType = PagedRestSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedScanBuilder(pages, pageSize, endpoint)
}

private class PagedScanBuilder(pages: Int, pageSize: Int, endpoint: Option[String])
    extends ScanBuilder with SupportsPushDownFilters {

  private var cursorMicros: Long = Long.MinValue

  // Claim `updated_at > ts` — the exact shape of the reference's search
  // filter group — and leave everything else for Spark to re-apply.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pushed, rest) = filters.partition {
      case GreaterThan("updated_at", _) => true
      case _ => false
    }
    // `pushed` contains only GreaterThan by the partition above; the
    // wildcard arm keeps the match total (a MatchError here would kill
    // planning, not surface as a readable bug)
    pushed.foreach {
      case GreaterThan(_, v) =>
        val micros = v match {
          case t: java.sql.Timestamp => t.getTime * 1000L
          case i: java.time.Instant =>
            i.getEpochSecond * 1000000L + i.getNano / 1000L
          case _ => Long.MinValue
        }
        cursorMicros = math.max(cursorMicros, micros)
      case _ => ()
    }
    rest
  }

  override def pushedFilters(): Array[Filter] =
    if (cursorMicros == Long.MinValue) Array.empty
    else Array(GreaterThan("updated_at",
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        cursorMicros / 1000000L, (cursorMicros % 1000000L) * 1000L))))

  override def build(): Scan = new PagedScan(pages, pageSize, cursorMicros, endpoint)
}

private class PagedScan(pages: Int, pageSize: Int, cursorMicros: Long,
                        endpoint: Option[String])
    extends Scan with Batch {
  override def readSchema(): StructType = PagedRestSource.schema
  override def toBatch: Batch = this

  // surface the pushed cursor in plan output (.explain shows it)
  override def description(): String =
    if (cursorMicros == Long.MinValue) "paged_rest"
    else s"paged_rest PushedCursorFilter: [updated_at > $cursorMicros us]"

  // "Server-side" pruning: a page whose newest record is at or below the
  // cursor is never requested — the DSv2 analog of the search API only
  // returning records past the watermark.
  override def planInputPartitions(): Array[InputPartition] = {
    val planned = (0 until pages).filter { p =>
      val pageMax = PagedRestSource.T0Micros +
        ((p + 1L) * pageSize - 1) * PagedRestSource.StepMicros
      pageMax > cursorMicros
    }.map(p => PagePartition(p, pageSize, cursorMicros, endpoint): InputPartition)
      .toArray
    PagedRestSource.lastPlannedPages.set(planned.length)
    planned
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        PagedPartitionReader(partition.asInstanceOf[PagePartition])
    }
}

private case class PagePartition(page: Int, pageSize: Int, cursorMicros: Long,
                                 endpoint: Option[String])
    extends InputPartition

/** One HTTP fetch per partition. With an endpoint the page comes over
  * real HTTP in the reference's shape (`?after=<token>&limit=<n>` GET,
  * `results` + `paging.next.after` response — hubspotoop.py:58-80);
  * without one it is the deterministic in-process generator. Both paths
  * re-check the cursor per record: the server-side filter is a page
  * PRUNE, and a page straddling the cursor still serves rows below it. */
private object PagedPartitionReader {

  def apply(p: PagePartition): PartitionReader[InternalRow] =
    new IteratorReader(p.endpoint.map(httpPage(p, _)).getOrElse(syntheticPage(p)))

  // fetchPage over the wire: GET `<endpoint>?after=<pageToken>&limit=<n>`
  // (hubspotoop.py:58-64 — the after token addresses the page start; the
  // partition-per-page plan makes tokens deterministic so pages fetch in
  // parallel instead of the reference's serial token chain)
  private def httpPage(p: PagePartition, endpoint: String): Iterator[InternalRow] = {
    val after = p.page.toLong * p.pageSize
    val results = RestFetch.results(s"$endpoint?after=$after&limit=${p.pageSize}")
    (0 until results.size()).iterator.flatMap { i =>
      val r = results.get(i)
      val inst = java.time.Instant.parse(r.get("updatedAt").asText())
      val ts = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      if (ts > p.cursorMicros)
        Some(InternalRow(r.get("id").asText().toLong, ts,
          UTF8String.fromString(r.get("payload").asText())))
      else None
    }
  }

  private def syntheticPage(p: PagePartition): Iterator[InternalRow] =
    (0 until p.pageSize).iterator.flatMap { i =>
      val id = p.page.toLong * p.pageSize + i
      val ts = PagedRestSource.T0Micros + id * PagedRestSource.StepMicros
      if (ts > p.cursorMicros)
        Some(InternalRow(id, ts, UTF8String.fromString(s"""{"seq": $id}""")))
      else None
    }
}
