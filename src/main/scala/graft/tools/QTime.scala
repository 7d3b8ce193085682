package graft.tools

import graft.{Bench, SparkEntry}
import graft.core.GraftSession

/** Per-query timing for local iteration. It is Bench's section: Bench's
  * warm-up and timed section, run over the queries whose names start
  * with one of the given prefixes (all of them when none are given), so
  * its numbers are Bench's — the same passes, spike retry, scratch
  * release, failure `error` and per-pass job record — without paying a
  * full section while iterating on one operator. Prints one
  * `[qtime] name min= med= max= cpu=` line per query (`cpu=` is the
  * median pass's task CPU seconds, -1 when the median failed). With
  * `-trace`, each line follows the median pass's jobs (`[job] @start
  * wall site frame`, `@` from the pass start) and the stages that took
  * at least 0.2 s. Not part of Verify/Bench; run by hand:
  *
  *   runMain graft.tools.QTime /root/testdata/sf0.01 q144 q129 -trace
  */
object QTime {

  /** The queries of `all` whose names start with one of `prefixes`, in
    * name order; every query when `prefixes` is empty. */
  def pick[A](all: Map[String, A], prefixes: Seq[String]): Seq[(String, A)] =
    all.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }

  def main(args: Array[String]): Unit = {
    val doTrace = args.contains("-trace")
    val sfDir = args.filterNot(_ == "-trace").headOption
      .getOrElse("/root/testdata/sf0.1")
    val names = args.filterNot(_ == "-trace").drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val picked = pick(SparkEntry.queries, names)
    Bench.warmUp(picked, spark, "/root/testdata/sf0.001")
    val section = Bench.timedSection(picked, spark, sfDir, cpus, None)
    section.stats.foreach { s =>
      // -trace: the median pass's jobs (call site + elapsed), for
      // attributing a slow query to its jobs; then the stages that cost
      // >= 0.2 s, for the jobs the [job] lines can't explain
      if (doTrace) s.record.foreach { rec =>
        println(s"[job] ==== ${s.name} median pass ====")
        for (j <- rec.jobs; end <- j.endMs)
          println(f"[job] @${(j.startMs - rec.startMs) / 1e3}%7.2f " +
            f"${(end - j.startMs) / 1e3}%6.2f s  ${j.site}  ${j.frame}")
        for (st <- rec.stages if st.wallMs >= 200)
          println(f"[stage]   ${st.wallMs / 1e3}%6.2f s  ${st.tasks}%4d tasks  ${st.name}")
      }
      // cpu=: co-tenant load inflates wall-clock but barely touches the
      // task CPU sum, so it is the comparison-stable signal on a shared
      // box (wall minus cpu/cores ≈ driver gaps + contention)
      val cpu = s.record.fold(-1.0)(_.totals.cpuNs / 1e9)
      println(f"[qtime] ${s.name}%-32s min=${s.min}%.2f med=${s.med}%.2f " +
        f"max=${s.max}%.2f cpu=$cpu%.2f")
    }
    spark.stop()
  }
}
