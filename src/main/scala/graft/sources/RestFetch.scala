package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader

/** The REST readers' one HTTP fetch: GET `url` wrapped in the same
  * backoff discipline as the reference's client
  * (test/hubspot/retry.py:6-42), so transient HTTP failures retry inside
  * the partition instead of failing the task and re-running the page
  * through Spark's coarser task-level retry. Returns the page body's
  * `results` array (the reference's page shape). */
private object RestFetch {
  def results(url: String): JsonNode = {
    val body = graft.functions.Retry.withBackoff(maxRetries = 3, baseDelayMs = 200) {
      val conn = java.net.URI.create(url)
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("GET")
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(15000)
      try {
        val is = conn.getInputStream
        try scala.io.Source.fromInputStream(is, "UTF-8").mkString
        finally is.close()
      } finally conn.disconnect()
    }
    new ObjectMapper().readTree(body).get("results")
  }
}

/** A partition reader serving one partition's fetched rows. */
private class IteratorReader(rows: Iterator[InternalRow])
    extends PartitionReader[InternalRow] {
  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
