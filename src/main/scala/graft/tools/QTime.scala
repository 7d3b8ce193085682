package graft.tools

import graft.{Bench, SparkEntry}
import graft.core.{GraftSession, JobTrace}

/** One-off per-query timing harness for local iteration: run the named
  * queries (all of them when none are named) N passes each against an
  * sf dir, after one untimed warmup pass per query at sf0.001, and
  * print min/med times. The hygiene matches Bench (per-pass scratch
  * release) so numbers are comparable with BENCH_QUIET medians without
  * paying a full 3-pass 144-query section while iterating on one
  * operator. Not part of Verify/Bench; run by hand:
  *
  *   runMain graft.tools.QTime /root/testdata/sf0.1 q131_pagerank q144_incremental_pagerank
  */
object QTime {

  def main(args: Array[String]): Unit = {
    val doTrace = args.contains("-trace")
    val sfDir = args.filterNot(_ == "-trace").headOption
      .getOrElse("/root/testdata/sf0.1")
    val names = args.filterNot(_ == "-trace").drop(1).toSeq
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val picked = if (names.isEmpty) all
      else all.filter { case (n, _) => names.exists(n.startsWith) }
    picked.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
      Bench.releaseQueryScratch(spark)
    }
    picked.foreach { case (name, fn) =>
      val passes = (1 to 3).map { pass =>
        val traced = doTrace && pass == 3
        if (traced) println(s"[job] ==== $name pass 3 ====")
        val passStartMs = System.currentTimeMillis()
        val (t, rec) = JobTrace.measure(spark) {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[qtime] $name failed: ${e.getMessage}"); -1.0 }
        }
        Bench.releaseQueryScratch(spark)
        // -trace: per-job wall times on the LAST timed pass (call site +
        // elapsed, @ from the pass start), for attributing a slow query to
        // its jobs; then the stages that cost >= 0.2 s, for the jobs the
        // [job] lines can't explain
        if (traced) {
          for (j <- rec.jobs; end <- j.endMs)
            println(f"[job] @${(j.startMs - passStartMs) / 1e3}%7.2f " +
              f"${(end - j.startMs) / 1e3}%6.2f s  ${j.site}  ${j.frame}")
          for (st <- rec.stages if st.wallMs >= 200)
            println(f"[stage]   ${st.wallMs / 1e3}%6.2f s  ${st.tasks}%4d tasks  ${st.name}")
        }
        // CPU attribution: co-tenant load inflates wall-clock but barely
        // touches the task CPU sum, so cpu= is the comparison-stable signal
        // on a shared box (wall minus cpu/cores ≈ driver gaps + contention)
        (t, rec.totals.cpuNs / 1e9)
      }
      val ts = passes.map(_._1).sorted
      val cpu = passes.map(_._2).sorted.apply(1)
      println(f"[qtime] $name%-32s min=${ts.head}%.2f med=${ts(1)}%.2f " +
        f"max=${ts(2)}%.2f cpu=$cpu%.2f")
    }
    spark.stop()
  }
}
