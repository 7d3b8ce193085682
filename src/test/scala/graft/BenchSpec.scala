package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Unit coverage for the bench's contention-rescue machinery — the probe
  * section (round 9's "live-untested branch": it only fires on a
  * contended run that blew the re-run budget, which a quiet dev box never
  * produces), the kept-section selection, and the floor fold.
  */
class BenchSpec extends SparkSpec {

  private def qs(name: String, times: Seq[Double], spiky: Boolean = false) =
    Bench.QueryStats(name, times, spiky)
  private def section(stats: Seq[Bench.QueryStats], contended: Boolean = true) =
    Bench.Section(stats, 1.0, 1.0, 10.0, contended)

  test("probeSection runs one timed pass per query; a failure records -1, not a throw") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(5).toDF("n")
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new RuntimeException("query exploded")
    val probe = Bench.probeSection(Seq("q_ok" -> ok, "q_boom" -> boom), spark, "unused")
    assert(probe.keySet === Set("q_ok", "q_boom"))
    assert(probe("q_ok") > 0.0)
    assert(probe("q_boom") === -1.0)
  }

  test("floorOf folds probe minima in and filters failure sentinels") {
    val sections = Seq(section(Seq(
      qs("a", Seq(0.5, 0.6, 0.7)),
      qs("b", Seq(-1.0, -1.0, -1.0))))) // b never produced a valid pass
    val probe = Map("a" -> 0.3, "b" -> -1.0)
    // a: min(section 0.5, probe 0.3) = 0.3; b: no valid time anywhere -> 0
    assert(Bench.floorOf(Seq("a", "b"), sections, probe) === 0.3)
    // without the probe the floor falls back to the section minima
    assert(Bench.floorOf(Seq("a", "b"), sections, Map.empty) === 0.5)
    // a probe WORSE than the section must not raise the floor
    assert(Bench.floorOf(Seq("a", "b"), sections, Map("a" -> 9.9)) === 0.5)
  }

  test("keepBest prefers fewest failed queries over a lower total") {
    val healthy = section(Seq(qs("a", Seq(1.0, 1.0, 1.0)), qs("b", Seq(2.0, 2.0, 2.0))))
    val flaky = section(Seq(qs("a", Seq(0.1, 0.1, 0.1)), qs("b", Seq(-1.0, -1.0, -1.0))))
    assert(Bench.keepBest(Seq(healthy, flaky)) === healthy)
  }

  test("only a single-section unflagged run may refresh the quiet reference") {
    assert(Bench.mayRefreshQuiet(keptContended = false, nSections = 1))
    // rescue re-runs have no fresh loadavg sample: a persistent co-tenant
    // yields an unflagged-but-slow second section that must NOT claim
    // the quiet chain
    assert(!Bench.mayRefreshQuiet(keptContended = false, nSections = 2))
    assert(!Bench.mayRefreshQuiet(keptContended = true, nSections = 1))
    assert(!Bench.mayRefreshQuiet(keptContended = true, nSections = 2))
  }

  test("a run far above the quiet reference may not claim the quiet chain") {
    // sustained host steal is invisible to guest loadavg AND to the
    // within-query spike tripwire, so a steal-soaked single-section run
    // self-certifies quiet (measured round 17: 191 s on a 138 s ref);
    // the reference only moves when the total is in the ref's own band
    assert(!Bench.mayRefreshQuiet(keptContended = false, nSections = 1,
      total = 191.1, quietRef = Some(138.4)))
    assert(Bench.mayRefreshQuiet(keptContended = false, nSections = 1,
      total = 140.0, quietRef = Some(138.4)))
    assert(Bench.mayRefreshQuiet(keptContended = false, nSections = 1,
      total = 120.0, quietRef = Some(138.4)))
    // no existing reference: any quiet run may seed the chain
    assert(Bench.mayRefreshQuiet(keptContended = false, nSections = 1,
      total = 191.1, quietRef = None))
  }

  test("a run with one row far above its quiet row may not refresh the reference") {
    // round 18 banked q84 at 3.53 s against a 0.71 s quiet row; the
    // total stayed inside its 15% band, so only a per-row gate sees it
    val ref = Map("q84" -> 0.71, "q01" -> 0.14)
    assert(!Bench.mayRefreshQuiet(keptContended = false, nSections = 1,
      total = 100.0, quietRef = Some(100.0),
      medians = Map("q84" -> 3.53, "q01" -> 0.14), quietRows = ref))
    // within 2.5x, a failed (-1) median, and a query the reference lacks
    // all pass
    assert(Bench.mayRefreshQuiet(keptContended = false, nSections = 1,
      total = 100.0, quietRef = Some(100.0),
      medians = Map("q84" -> 1.70, "q01" -> -1.0, "q99" -> 9.0), quietRows = ref))
  }

  test("keepBest ties on failures break by total over the common-valid queries") {
    // s1's b flaked, s2's c flaked: common-valid = {a}, and s2's a is
    // faster — raw totals would pick s1 (it "measured less" by failing b)
    val s1 = section(Seq(qs("a", Seq(5.0, 5.0, 5.0)),
      qs("b", Seq(-1.0, -1.0, -1.0)), qs("c", Seq(1.0, 1.0, 1.0))))
    val s2 = section(Seq(qs("a", Seq(2.0, 2.0, 2.0)),
      qs("b", Seq(9.0, 9.0, 9.0)), qs("c", Seq(-1.0, -1.0, -1.0))))
    assert(Bench.keepBest(Seq(s1, s2)) === s2)
  }

  test("a failing query's first cause is recorded in its stats entry, escaped on one line") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(5).toDF("n")
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("bad \"plan\"\tat\\root\nsecond line")
    val sec = Bench.timedSection(Seq("q_ok" -> ok, "q_boom" -> boom), spark, "unused",
      cpus = 1, loadPreSampled = None)
    val byName = sec.stats.map(s => s.name -> s).toMap
    assert(byName("q_ok").error === None)
    assert(byName("q_boom").med === -1.0)
    assert(byName("q_boom").error ===
      Some("java.lang.IllegalStateException: bad \"plan\"\tat\\root"))
    assert(Bench.statJson(byName("q_boom")) ===
      "\"q_boom\":{\"min\":-1.000,\"med\":-1.000,\"max\":-1.000," +
        "\"error\":\"java.lang.IllegalStateException: bad \\\"plan\\\"\\tat\\\\root\"}")
    assert(!Bench.statJson(byName("q_ok")).contains("error"))
  }

  test("a timed entry carries its median pass's jobs and task CPU") {
    val range: (SparkSession, String) => DataFrame = (s, _) => s.range(0, 1000, 1, 4).toDF("n")
    val sec = Bench.timedSection(Seq("q_range" -> range), spark, "unused",
      cpus = 1, loadPreSampled = None)
    val st = sec.stats.head
    val rec = st.record.get
    assert(rec.jobs.size >= 1)
    assert(rec.totals.cpuNs >= 0)
    val json = Bench.statJson(st)
    assert(json.contains(s""""jobs":${rec.jobs.size},"""), json)
    assert(""""cpu_s":[0-9]+\.[0-9]{3}""".r.findFirstIn(json).nonEmpty, json)
  }

  test("a pass's time leaves out the listener's quiet wait") {
    // JobTrace.measure waits at least 200 ms for a quiet bus after each
    // pass; a trivial query counted inside that wait could not time under it
    val tiny: (SparkSession, String) => DataFrame = (s, _) => s.range(0, 10, 1, 1).toDF("n")
    Bench.warmUp(Seq("q_tiny" -> tiny), spark, "unused")
    val st = Bench.timedSection(Seq("q_tiny" -> tiny), spark, "unused",
      cpus = 1, loadPreSampled = None).stats.head
    assert(st.med >= 0 && st.med < 0.2, s"median ${st.med} s")
  }

  test("QTime picks queries by name prefix") {
    val all = SparkEntry.queries
    def picked(prefixes: String*) = tools.QTime.pick(all, prefixes).map(_._1)
    val q14 = picked("q14")
    assert(q14.contains("q14_upsert_orders"))
    assert(q14.filterNot(_ == "q14_upsert_orders").map(_.take(4)) === (140 to 149).map(n => s"q$n"))
    assert(picked("q14_") === Seq("q14_upsert_orders"))
    assert(picked() === all.keys.toSeq.sorted)
    assert(picked().size === 149)
  }
}
