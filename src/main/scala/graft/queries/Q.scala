package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Staging, Tables}

/** One registered engine query: a Spark implementation plus (where
  * SQL-expressible) the equivalent ANSI SQL the driver runs in DuckDB as
  * the correctness oracle. Keeping both in one value keeps names/aliases
  * in sync — the driver's compare hashes by sorted column name.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Per-invocation scratch state for the incremental and real-stream
    * oracle rows: create a temp dir, run the body, EAGERLY materialize
    * the result (after which it no longer reads from the state), then
    * delete the dir — without the cleanup each invocation leaks a state
    * dir to /tmp, and Bench/Verify invoke each query several times per
    * run (ADVICE r12). The delete runs in `finally` so an aborted
    * invocation doesn't leak either.
    *
    * Bodies that end in a global ORDER BY stage the result FIRST
    * (`Staging.stage(result).orderBy(...)`): the eager stage below
    * otherwise materializes the sort, whose range partitioner SAMPLES
    * the child — executing the body's whole final plan twice (measured:
    * q144's re-rank plan paid ~2 s once for the sampling pass and again
    * for the sort). Staged first, the sampling reads checkpointed
    * blocks. A `.count()`-shaped consumer never sees this (the
    * optimizer eliminates sorts under aggregation), which is exactly
    * why it hid from the phase profiles. */
  private[queries] def withTempState(prefix: String)(
      body: String => DataFrame): DataFrame = {
    // per-invocation scratch is EPHEMERAL by construction (deleted in
    // the finally below), so it goes on the fastest local scratch —
    // the durability story of a real deployment's state path is the
    // caller's, not this demo harness's
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.core.GraftSession.fastScratch), prefix)
    try Staging.stage(body(dir.toString))
    finally {
      val st = java.nio.file.Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally st.close()
    }
  }
}
