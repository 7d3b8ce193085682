package graft

import java.sql.Timestamp

import scala.util.Random

import graft.operators.Upsert

/** Property-style tests for the MERGE upsert (SURVEY.md §5.3): seeded
  * random frames, checked against a reference in-memory MERGE model. */
class UpsertPropSpec extends SparkSpec {
  import spark.implicits._

  private type R = (String, Timestamp, Int)

  private def genRows(rnd: Random, n: Int): List[R] =
    List.fill(n)((s"k${rnd.nextInt(9)}", new Timestamp(86400000L * rnd.nextInt(6)), rnd.nextInt(100)))

  // a snapshot has unique pks by construction
  private def dedupByKey(rows: List[R]): List[R] =
    rows.groupBy(_._1).map { case (_, g) => g.maxBy(r => (r._2.getTime, r._3)) }.toList

  /** In-memory model of MERGE: latest-cursor-wins source dedup, update
    * only on cursor change, insert unmatched. */
  private def model(target: List[R], source: List[R]): Set[R] = {
    val srcBest = source.groupBy(_._1).map { case (_, g) => g.maxBy(r => (r._2.getTime, r._3)) }
    val tMap = target.map(r => r._1 -> r).toMap
    val updatedOrKept = tMap.map { case (k, t) =>
      srcBest.find(_._1 == k) match {
        case Some(s) if s._2 != t._2 => s
        case _ => t
      }
    }.toSet
    updatedOrKept ++ srcBest.filterNot(s => tMap.contains(s._1))
  }

  test("upsert matches the MERGE model on 15 seeded random frames") {
    val rnd = new Random(42)
    for (_ <- 1 to 15) {
      val t = dedupByKey(genRows(rnd, 8))
      val s = genRows(rnd, 8)
      val out = Upsert(t.toDF("id", "updated_at", "v"), s.toDF("id", "updated_at", "v"),
        Seq("id"), "updated_at")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getInt(2))).toSet
      val expected = model(t, s)
      // the engine's dup-dedup tiebreak within equal cursors is row_number
      // over cursor only — compare on key+cursor, values may tie-break
      assert(out.map(r => (r._1, r._2)) === expected.map(r => (r._1, r._2)))
      assert(out.map(_._1).size === out.size, "pks must be unique")
    }
  }

  test("upsert is idempotent: upsert(upsert(t,s),s) == upsert(t,s)") {
    val rnd = new Random(7)
    for (_ <- 1 to 15) {
      val t = dedupByKey(genRows(rnd, 8)).toDF("id", "updated_at", "v")
      val s = genRows(rnd, 8).toDF("id", "updated_at", "v")
      val once = Upsert(t, s, Seq("id"), "updated_at")
      val twice = Upsert(once, s, Seq("id"), "updated_at")
      assert(once.collect().map(r => (r.getString(0), r.getTimestamp(1))).toSet ===
        twice.collect().map(r => (r.getString(0), r.getTimestamp(1))).toSet)
    }
  }

  // ---- NULL cursors, two-column pk ----------------------------------------

  /** (k1, k2, cursor, fromSource): target and source rows carry disjoint
    * values, so which side a surviving row came from is visible. */
  private type N = (String, Int, Option[Timestamp], Int)

  private def genNullable(rnd: Random, n: Int, base: Int): List[N] =
    List.fill(n)((s"k${rnd.nextInt(3)}", rnd.nextInt(3),
      if (rnd.nextInt(3) == 0) None else Some(new Timestamp(86400000L * rnd.nextInt(3))),
      base + rnd.nextInt(100)))

  /** In-memory MERGE with SQL NULL semantics: the source's latest
    * cursor wins with NULLs last; a matched row updates only when both
    * cursors are non-NULL and differ (`t.cursor != s.cursor` is unknown
    * otherwise), so a NULL cursor on either side keeps the target row. */
  private def nullModel(target: List[N], source: List[N]): Set[(String, Int, Option[Timestamp], Boolean)] = {
    val best = source.groupBy(r => (r._1, r._2)).map { case (k, g) =>
      k -> g.maxBy(_._3.map(_.getTime)) }
    val tKeys = target.map(r => (r._1, r._2)).toSet
    val kept = target.map { t =>
      best.get((t._1, t._2)) match {
        case Some(s) if t._3.nonEmpty && s._3.nonEmpty && t._3 != s._3 => (s, true)
        case _ => (t, false)
      }
    }
    val inserted = best.values.filterNot(s => tKeys((s._1, s._2))).map((_, true))
    (kept ++ inserted).map { case (r, fromSrc) => (r._1, r._2, r._3, fromSrc) }.toSet
  }

  test("NULL cursors follow the SQL MERGE on 15 seeded frames with a two-column pk") {
    val rnd = new Random(1301)
    val cols = Seq("k1", "k2", "updated_at", "v")
    for (_ <- 1 to 15) {
      val t = genNullable(rnd, 7, 0).groupBy(r => (r._1, r._2)).map(_._2.head).toList
      val s = genNullable(rnd, 9, 1000)
      val out = Upsert(t.toDF(cols: _*), s.toDF(cols: _*), Seq("k1", "k2"), "updated_at")
        .collect().map(r => (r.getString(0), r.getInt(1), Option(r.getTimestamp(2)),
          r.getInt(3) >= 1000)).toSeq
      assert(out.size === out.map(r => (r._1, r._2)).distinct.size, "pks must be unique")
      // a tie among the source's latest cursors may pick either row:
      // compare on key, cursor and side
      assert(out.toSet === nullModel(t, s))
    }
  }
}
