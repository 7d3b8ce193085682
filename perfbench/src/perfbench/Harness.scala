package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkEntry
import graft.core.{GraftSession, Tables}
import graft.cursor.CursorStore
import graft.functions.F
import graft.lineage.Lineage
import graft.operators.{Dedup, Shards, Upsert}
import graft.pipelines.CorpusPipeline
import graft.sources.Sources

/** One benchmark run inside one JVM. Reads the input plan the generator
  * wrote, sets up, runs closed-loop ops for the requested seconds (and, in
  * a traced run, a second traced section), and writes result.json next to
  * the plan. It only calls the engine's public functions and times them
  * from outside; the output checks run afterwards, in Python. */
object Harness {

  final case class OpRec(section: String, id: Long, name: String, startMs: Double,
                         endMs: Double, rows: Long, error: Option[(String, String)],
                         extra: Map[String, Any])

  /** What one workload does. `op` runs one timed op and returns the rows
    * it processed; `afterOp` runs untimed right after it and returns facts
    * the checks and per-layer metrics need. */
  trait Workload {
    def prepare(rep: Int): Unit
    def warmup(): Unit
    def hasNext: Boolean
    def nextName: String
    def op(t: Tracer): Long
    def afterOp(traced: Boolean): Map[String, Any]
    def stopOnFailure: Boolean = false
  }

  def main(args: Array[String]): Unit = {
    val planFile = Paths.get(args(0))
    val plan = new ObjectMapper().readTree(planFile.toFile)
    val work = planFile.getParent
    val cores = plan.get("cores").asInt()
    val seconds = plan.get("seconds").asDouble()
    val traced = plan.get("trace").asInt() == 1
    val reps = plan.get("setup_reps").asInt()

    val t0 = Clock.nowMs
    val spark = GraftSession.local(cores)
    val sessionMs = Clock.nowMs - t0
    val tracer = new Tracer(spark.sparkContext)

    val wl: Workload = plan.get("workload").asText() match {
      case "sync_deltas" => new Sync(spark, plan.get("sync"), work)
      case "query_suite" => new Queries(spark, plan.get("queries"), work)
      case "corpus_prep" => new Corpus(spark, plan.get("corpus"), work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val prepareMs = (0 until reps).map { r =>
      val s = Clock.nowMs; wl.prepare(r); Clock.nowMs - s
    }
    val w0 = Clock.nowMs
    wl.warmup()
    val warmupMs = Clock.nowMs - w0

    val ops = mutable.ArrayBuffer.empty[OpRec]
    var opId = 0L
    var stop = false
    val sectionNames = if (traced) Seq("untraced", "traced") else Seq("untraced")
    var listeners: Option[Listeners] = None
    val sectionWall = mutable.LinkedHashMap.empty[String, (Double, Double)]
    for (section <- sectionNames if !stop) {
      if (section == "traced") {
        listeners = Some(new Listeners(spark))
        tracer.enabled = true
      }
      // the window counts op time only: the untimed per-op work (output
      // dumps, file listings) must not shorten the measurement
      val start = Clock.nowMs
      var busyMs = 0.0
      while (!stop && wl.hasNext && busyMs < seconds * 1000) {
        opId += 1
        val name = wl.nextName
        val s = Clock.nowMs
        val res = try Right(tracer.op(opId, s"op.$name")(wl.op(tracer)))
          catch { case e: Throwable => Left(e) }
        val e = Clock.nowMs
        busyMs += e - s
        val extra = try wl.afterOp(section == "traced")
          catch { case ex: Throwable => Map("after_error" -> describe(ex)._2) }
        ops += OpRec(section, opId, name, s, e, res.getOrElse(0L),
          res.left.toOption.map(describe), extra)
        if (res.isLeft && wl.stopOnFailure) stop = true
      }
      sectionWall(section) = (start, Clock.nowMs)
      tracer.enabled = false
    }
    listeners.foreach(_.close())

    val out = Map(
      "cores" -> coresOf(spark.sparkContext.master),
      "master" -> spark.sparkContext.master,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "setup" -> Map("main_start_ms" -> t0, "session_ms" -> sessionMs,
        "prepare_ms" -> prepareMs, "warmup_ms" -> warmupMs),
      "sections" -> sectionWall.map { case (k, (s, e)) =>
        k -> Map("start_ms" -> s, "end_ms" -> e) }.toMap,
      "ops" -> ops.map(o => Map(
        "section" -> o.section, "op" -> o.id, "name" -> o.name, "start_ms" -> o.startMs,
        "end_ms" -> o.endMs, "rows" -> o.rows,
        "error" -> o.error.map { case (c, m) => Map("class" -> c, "message" -> m) },
        "extra" -> o.extra)),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> listeners.map(_.jobRecords.map(j => Map(
        "id" -> j.id, "op" -> j.op, "span" -> j.span, "execution" -> j.execution,
        "site" -> j.site, "frames" -> j.frames,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks,
        "failed_tasks" -> j.failedTasks, "cpu_ms" -> j.cpuNs / 1e6, "run_ms" -> j.runMs,
        "gc_ms" -> j.gcMs, "shuffle_bytes" -> (j.shuffleReadBytes + j.shuffleWriteBytes),
        "spill_bytes" -> j.spillBytes, "output_bytes" -> j.outputBytes))).getOrElse(Nil),
      "executions" -> listeners.map(_.queries.recs.asScala.toSeq.map(r => Map(
        "start_ms" -> r.startMs, "analysis_ms" -> r.analysisMs,
        "optimization_ms" -> r.optimizationMs, "planning_ms" -> r.planningMs,
        "files" -> r.files, "bytes" -> r.bytes))).getOrElse(Nil),
      "peak_rss_kb" -> vmHwmKb,
      "pool_peak_mb" -> java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala.map(p => p.getName -> p.getPeakUsage.getUsed / 1048576.0).toMap)
    spark.stop()
    // NaN stays a bare number token, which Python's json reads as nan
    JsonMapper.builder().addModule(DefaultScalaModule)
      .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()
      .writeValue(work.resolve("result.json").toFile, out)
  }

  def describe(e: Throwable): (String, String) = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
    (e.getClass.getName, msg.take(600))
  }

  def coresOf(master: String): Int =
    "local\\[(\\d+)\\]".r.findFirstMatchIn(master).map(_.group(1).toInt).getOrElse(1)

  def vmHwmKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  /** Files under `root` keyed by path, with their size and mtime. */
  def listing(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  // ------------------------------------------------------------------ sync

  /** One sync cycle per op: cursor read, landed JSON read, transform,
    * cursor filter, dedup, lineage stamp, partitioned MERGE (live rows,
    * then the archived pass), cursor advance. */
  final class Sync(spark: SparkSession, cfg: JsonNode, work: Path) extends Workload {
    private val obj = cfg.get("object").asText()
    private val lookbackMs = cfg.get("lookback_ms").asLong()
    private val batches = cfg.get("batches").elements().asScala.toIndexedSeq
    private var next = 0
    private var state: Path = _
    private var before = Map.empty[String, (Long, Long)]
    private var lastRunId = ""
    private val landedSchema = StructType(Seq("id", "createdAt", "updatedAt", "properties",
      "associations", "archived").map(StructField(_, StringType)))
    private val partOf = year(col("createdAt")) * 100 + month(col("createdAt"))

    private def snap(root: Path) = root.resolve("snapshot").toString
    private def store(root: Path) = new CursorStore(spark, root.resolve("cursor").toString)

    private def typed(path: String, t: Tracer): DataFrame = {
      val landed = t.span("sources.json")(Sources.json(spark, path, landedSchema))
      t.span("functions.transform")(landed.select(col("id"),
        F.parseHubTs(col("createdAt")).as("createdAt"),
        F.parseHubTs(col("updatedAt")).as("updatedAt"),
        col("properties"), col("associations"),
        F.boolRecode(col("archived")).as("archived")))
    }

    private def merge(root: Path, df: DataFrame, runId: String, batchTs: Timestamp,
                      t: Tracer): Unit = {
      val deduped = t.span("operators.dedup")(Dedup.latestWins(df, Seq("id"), "updatedAt"))
      val stamped = t.span("lineage.stamp")(Lineage.stamp(runId, batchTs)(deduped))
      t.span("operators.upsert")(Upsert.partitioned(snap(root), stamped, Seq("id"),
        "updatedAt", "created_month", partOf))
    }

    private def cycle(root: Path, b: JsonNode, t: Tracer): Long = {
      val runId = b.get("run_id").asText()
      val wm = new Timestamp(b.get("watermark").asLong())
      val cs = store(root)
      val cursor = t.span("cursor.latest")(cs.latest(obj))
        .getOrElse(throw new IllegalStateException(s"no cursor for $obj"))
      val fresh = typed(b.get("path").asText(), t)
        .filter(col("updatedAt") >= lit(new Timestamp(cursor.getTime - lookbackMs)))
      merge(root, fresh.filter(!col("archived")), runId, wm, t)
      // archived pass: tombstones land as a flag update, with the +1 s
      // cursor bump so the MERGE's cursor-change guard applies them
      merge(root, fresh.filter(col("archived"))
        .withColumn("updatedAt", col("updatedAt") + expr("INTERVAL 1 SECOND")), runId, wm, t)
      t.span("cursor.advance")(cs.advance(obj, wm, runId, wm))
      lastRunId = runId
      b.get("rows").asLong()
    }

    def prepare(rep: Int): Unit = {
      val root = work.resolve(s"state/rep-$rep")
      val b = cfg.get("bootstrap")
      val wm = new Timestamp(b.get("watermark").asLong())
      val off = new Tracer(spark.sparkContext)
      val rows = typed(b.get("path").asText(), off)
      Upsert.partitioned(snap(root), Lineage.stamp("bootstrap", wm)(rows), Seq("id"),
        "updatedAt", "created_month", partOf)
      store(root).advance(obj, wm, "bootstrap", wm)
      state = root
    }

    /** The first landed batch, as an untimed cycle on the snapshot the
      * timed cycles continue. */
    def warmup(): Unit = {
      cycle(state, cfg.get("warmup"), new Tracer(spark.sparkContext))
      before = listing(state)
    }

    def hasNext: Boolean = next < batches.size
    def nextName: String = batches(next).get("run_id").asText()
    override def stopOnFailure: Boolean = true

    def op(t: Tracer): Long = {
      val b = batches(next)
      next += 1
      cycle(state, b, t)
    }

    def afterOp(traced: Boolean): Map[String, Any] = {
      val after = listing(state)
      val fresh = after.filter { case (p, v) => !p.contains("/cursor/") && !before.get(p).contains(v) }
      val changed = (after.keySet ++ before.keySet).filter(p => before.get(p) != after.get(p))
      val touched = changed.flatMap(p =>
        "created_month=[0-9]+".r.findFirstIn(p)).size
      before = after
      val landed = batches(next - 1)
      val base = Map[String, Any](
        "landed_bytes" -> landed.get("bytes").asLong(),
        "bytes_written" -> fresh.values.map(_._1).sum,
        "files_written" -> fresh.size,
        "partitions_touched" -> touched)
      if (!traced) base
      else base + ("applied_rows" -> spark.read.parquet(snap(state))
        .filter(col("emitted_id") === lastRunId).count())
    }
  }

  // ------------------------------------------------------------ query suite

  final case class QueryRun(name: String, startMs: Double, endMs: Double, rows: Long,
                            error: Option[Throwable], frame: Option[DataFrame])

  /** One round of the query subset per op; each query builds its frame,
    * then count()s it. A query that throws does not stop the round: the
    * round fails afterwards with the first failure, and every query's
    * outcome is in the op's record. */
  final class Queries(spark: SparkSession, cfg: JsonNode, work: Path) extends Workload {
    private val dir = cfg.get("dir").asText()
    private val rounds = cfg.get("rounds").elements().asScala
      .map(_.elements().asScala.map(_.asText()).toIndexedSeq).toIndexedSeq
    private val fns = SparkEntry.queries
    private var next = 0
    private var ran = Seq.empty[QueryRun]
    new ObjectMapper().writeValue(work.resolve("oracle_sql.json").toFile,
      SparkEntry.oracleSql.filter { case (k, _) => rounds.head.contains(k) }.asJava)

    def prepare(rep: Int): Unit = Tables.names.foreach(n => Tables.load(spark, dir, n))

    def warmup(): Unit = rounds.head.sorted.foreach(n => fns(n)(spark, dir).count())

    def hasNext: Boolean = next < rounds.size
    def nextName: String = s"round-${next + 1}"

    def op(t: Tracer): Long = {
      ran = rounds(next).map { name =>
        val s = Clock.nowMs
        try {
          val df = t.span("queries.build")(fns(name)(spark, dir))
          val n = t.span("queries.action")(df.count())
          QueryRun(name, s, Clock.nowMs, n, None, Some(df))
        } catch { case e: Throwable => QueryRun(name, s, Clock.nowMs, 0L, Some(e), None) }
      }
      next += 1
      ran.flatMap(_.error).headOption.foreach(e => throw e)
      ran.map(_.rows).sum
    }

    /** The first round also writes each query's full result for the
      * oracle comparison; every round's row counts are compared. */
    def afterOp(traced: Boolean): Map[String, Any] = {
      val dump = next == 1
      val out = ran.map { q =>
        if (dump) q.frame.foreach(_.coalesce(1).write.mode("overwrite")
          .parquet(work.resolve(s"results/${q.name}").toString))
        Map("name" -> q.name, "latency_s" -> (q.endMs - q.startMs) / 1000, "rows" -> q.rows,
          "error" -> q.error.map(e => describe(e)._1 + ": " + describe(e)._2).orNull,
          "dumped" -> (dump && q.frame.nonEmpty))
      }
      ran = Nil
      Map("queries" -> out)
    }
  }

  // -------------------------------------------------------------- corpus

  /** One corpus preparation per op: CorpusPipeline.run, then export. */
  final class Corpus(spark: SparkSession, cfg: JsonNode, work: Path) extends Workload {
    private val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    private val benchSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    private val rowsPerShard = cfg.get("rows_per_shard").asLong()
    private val maxOps = cfg.get("max_ops").asInt()
    private var done = 0
    private var lastExport = ""

    private def inputs(c: JsonNode): (DataFrame, DataFrame) =
      (Sources.json(spark, c.get("docs").asText(), docSchema),
       Sources.json(spark, c.get("bench").asText(), benchSchema))

    private def prep(c: JsonNode, out: String, t: Tracer): Unit = {
      val (docs, bench) = inputs(c)
      val (packed, _) = t.span("pipelines.corpus_run")(CorpusPipeline.run(docs, bench))
      t.span("operators.shards_write")(CorpusPipeline.export(packed, out, rowsPerShard))
    }

    def prepare(rep: Int): Unit = {
      val (docs, bench) = inputs(cfg.get("input"))
      docs.count(); bench.count()
    }

    /** None: corpus preparation is a batch job, one pipeline run per
      * process, so its op is timed as that run is, cold. */
    def warmup(): Unit = ()

    def hasNext: Boolean = done < maxOps
    def nextName: String = "corpus"

    def op(t: Tracer): Long = {
      done += 1
      lastExport = work.resolve(f"exports/op-$done%03d").toString
      prep(cfg.get("input"), lastExport, t)
      cfg.get("input").get("docs_rows").asLong()
    }

    def afterOp(traced: Boolean): Map[String, Any] =
      Map("export" -> lastExport, "verify" -> Shards.verify(spark, lastExport))
  }
}
