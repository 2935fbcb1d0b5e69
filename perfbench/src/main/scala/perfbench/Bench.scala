package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. One process runs one workload:
  *
  *  1. set-up: session start (while run.py generates the inputs), the
  *     workload's bootstrap and its fixed number of warm-up passes;
  *  2. timed passes, back to back (a closed loop with one client), each
  *     calling `Jobs.all(job)` for every job of the workload: as many as
  *     the workload's nominal pass wall says fit in `--seconds`, so the
  *     count does not hinge on one pass's speed or on the time checks
  *     take. The first pass's outputs are the reference every later pass
  *     must match;
  *  3. with `--trace 1`, one traced pass that calls the same library
  *     functions inside spans, with Spark's listeners attributing their
  *     work to the open span, then one more untraced pass, and the
  *     native-expression rates. Spark's totals are taken from the last
  *     timed pass, which the listeners also record, so they are the
  *     program's figures alone.
  *
  * It writes one JSON result file; `run.py` adds the DuckDB oracle check
  * and prints the final line.
  *
  * Usage: Bench --workload W --seconds S --trace 0|1 --work DIR --result FILE --cores N
  *   --in DIR --ready FILE --setup-start EPOCH_MS --input-rows N
  * (run.py generates the inputs into --in, then creates --ready).
  */
object Bench {
  /** Timed passes are capped at this many. */
  val MaxPasses = 20

  final case class Pass(idx: Int, wall: Double, cpu: Double, heapMb: Double, load: Double,
                        start: Double, end: Double, opLat: Seq[Double], attempted: Int,
                        failed: Int, ok: Boolean, bytesOut: Long, filesOut: Int,
                        hashes: Map[String, String], errors: Seq[String],
                        tracer: Option[Tracer])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads(a("workload"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val in = a("in")
    val setupStart = a("setup-start").toLong
    val inputRows = a("input-rows").toLong

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    spark.streams.addListener(rec.streams)
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec.queries)
    }
    val sessionS = (System.currentTimeMillis() - setupStart) / 1000.0

    // ---- set-up: the inputs are generated while the session starts
    val ready = new java.io.File(a("ready"))
    while (!ready.exists()) {
      if (new java.io.File(ready.getPath + ".failed").exists()) sys.exit(3)
      Thread.sleep(20)
    }
    val inputsS = (System.currentTimeMillis() - setupStart) / 1000.0
    val b0 = System.nanoTime()
    w.bootstrap(spark, in, work)
    val bootS = (System.nanoTime() - b0) / 1e9
    val inputBytes = Files.bytes(in)

    val runner = new Runner(spark, w, rec, in, work, cores)
    val warm = Seq.fill(w.warmupPasses)(runner.pass(s"$work/warm", traced = false, Map.empty))
    val setupS = (System.currentTimeMillis() - setupStart) / 1000.0

    // ---- timed passes; the first is the reference the others must match
    val first = runner.pass(s"$work/check", traced = false, Map.empty)
    val reference = first.hashes
    val n = math.min(MaxPasses, math.max(1, math.ceil(seconds / w.passSeconds).toInt))
    val timed = first +: Seq.fill(n - 1)(runner.pass(s"$work/pass", traced = false, reference))
    val good = timed.filter(_.ok)
    val batchLat = good.flatMap(_.opLat)

    val out = new Json
    out.obj("setup", Map("session_s" -> sessionS, "inputs_ready_s" -> inputsS,
      "bootstrap_s" -> bootS, "warmup_s" -> warm.map(_.wall).sum, "setup_s" -> setupS))
    out.obj("oracle_sql", w.oracleSql)
    out.num("cores", cores)
    out.num("input_rows", inputRows.toDouble)
    out.num("input_bytes", inputBytes.toDouble)
    out.str("in_dir", in)
    out.str("check_dir", s"$work/check")
    out.obj("reference", reference)
    out.bool("warm_ok", warm.forall(_.ok))
    out.strs("warm_errors", warm.flatMap(_.errors).toSeq)
    out.raw("passes", (warm ++ timed).map(passJson).mkString("[", ",", "]"))

    var attempted = timed.map(_.attempted).sum
    var failed = timed.map(_.failed).sum
    // metric names and units are BENCHMARK.json's; run.py picks them from here
    var metrics = Map.empty[String, Double]
    // batch percentiles are taken within each pass, then the lower median
    // over passes: a pass of curation_stream has two micro-batches, so a
    // percentile pooled over the run would ride on its one or two slowest
    // samples, and one disturbed pass would move it
    val withOps = good.filter(_.opLat.nonEmpty)
    def batchPct(p: Double) = Stats.lowerMedian(withOps.map(x => Stats.percentile(x.opLat, p)))
    if (withOps.nonEmpty) {
      val passS = Stats.lowerMedian(good.map(_.wall))
      metrics = Map(
        "setup_s" -> setupS,
        "pass_s" -> passS,
        "pass_cpu_s" -> Stats.lowerMedian(good.map(_.cpu)),
        "rows_per_s" -> inputRows / passS,
        "batch_p50_s" -> batchPct(50),
        "batch_p90_s" -> batchPct(90),
        "heap_peak_mb" -> Stats.lowerMedian(good.map(_.heapMb)),
        "stored_bytes_ratio" -> Stats.lowerMedian(good.map(_.bytesOut.toDouble)) / inputBytes)
    }
    out.num("batch_samples", batchLat.size)
    out.str("batch_tail_percentile", Stats.tailPercentile(batchLat.size).map(_.toString).getOrElse("none"))

    if (trace) {
      val traced = runner.pass(s"$work/pass", traced = true, reference)
      // the untraced passes before and after bracket the traced one, so
      // their mean is as warm as it is
      val after = runner.pass(s"$work/pass", traced = false, reference)
      attempted = traced.attempted + after.attempted
      failed = traced.failed + after.failed
      metrics =
        if (traced.ok && after.ok && timed.last.ok)
          runner.layerMetrics(timed.last, traced, after) ++ runner.nativeRates()
        else Map.empty
      out.raw("traced_passes", Seq(traced, after).map(passJson).mkString("[", ",", "]"))
      out.raw("spans", Runner.spanJson(traced))
    }
    out.num("attempted", attempted)
    out.num("failed", failed)
    out.obj("metrics", metrics)
    java.nio.file.Files.write(java.nio.file.Paths.get(a("result")), out.render.getBytes("UTF-8"))
    spark.stop()
  }

  def passJson(p: Pass): String = {
    val j = new Json
    j.num("idx", p.idx); j.num("wall_s", p.wall); j.num("cpu_s", p.cpu); j.num("heap_peak_mb", p.heapMb)
    j.num("loadavg_1m", p.load); j.num("ops", p.attempted); j.num("ops_failed", p.failed)
    j.bool("ok", p.ok); j.num("bytes_out", p.bytesOut.toDouble); j.num("files_out", p.filesOut)
    j.raw("op_latency_s", p.opLat.map(Json.n).mkString("[", ",", "]"))
    j.obj("hashes", p.hashes); j.strs("errors", p.errors)
    j.render
  }
}

/** Runs passes and turns their records into metrics. */
final class Runner(spark: SparkSession, w: Workload, rec: Recorder, in: String, work: String,
                   cores: Int) {
  import Bench.Pass
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** Largest heap left live after any collection since the last reset. */
  private val liveMax = new java.util.concurrent.atomic.AtomicLong(0L)
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          liveMax.accumulateAndGet(live, (a: Long, b: Long) => math.max(a, b))
        }, null, null)
    case _ =>
  }
  private val stream = w.jobs == Seq("curate_stream")
  private var nextIdx = 0

  private def loadAvg: Double =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble).getOrElse(-1.0)

  /** One pass into `out` (`.../warm` for a warm-up pass). */
  def pass(out: String, traced: Boolean, reference: Map[String, String]): Pass = {
    val idx = nextIdx
    nextIdx += 1
    Files.delete(out)
    Files.delete(s"$work/tmp")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$work/tmp"))
    w.prepare(spark, work, out)
    val prepFiles = Files.dataFiles(out)
    System.gc()
    Thread.sleep(200) // GC notifications arrive on their own thread
    liveMax.set(0L)
    rec.pass = idx
    val load = loadAvg
    val tracer = Option.when(traced)(new Tracer(g =>
      spark.sparkContext.setJobGroup(g.getOrElse(null), g.getOrElse(null), interruptOnCancel = false)))
    val startMs = tracer.map(_.clock).getOrElse(System.currentTimeMillis().toDouble)
    val c0 = cpuBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val lat = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    val failedJobs = mutable.Set.empty[String]
    tracer match {
      case None => w.jobs.foreach { j =>
        val s = System.nanoTime()
        try w.run(spark, in, out, j)
        catch { case e: Throwable => failedJobs += j; errors += s"$j: ${e.toString.take(500)}" }
        lat += (System.nanoTime() - s) / 1e9
      }
      case Some(t) =>
        try w.traced(t, spark, in, out)
        catch { case e: Throwable => failedJobs ++= w.jobs; errors += s"traced: ${e.toString.take(500)}" }
        spark.sparkContext.clearJobGroup()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
    val endMs = tracer.map(_.clock).getOrElse(System.currentTimeMillis().toDouble)
    System.gc() // the heap the pass left live counts too
    Thread.sleep(200)
    val heapMb = liveMax.get / 1048576.0

    // ---- untimed: outputs and their check
    if (stream || traced) rec.settle()
    // warm-up passes are checked only for failures: they are no reference
    val checked = if (out.endsWith("/warm")) Nil else w.outputs
    val hashes = checked.map { case (table, _) =>
      table -> scala.util.Try(Check.hash(spark, s"$out/$table")).fold(e => s"error: ${e.toString.take(200)}", identity)
    }.toMap
    val mismatched = checked.filter { case (table, _) =>
      hashes(table).startsWith("error") || (reference.nonEmpty && !reference.get(table).contains(hashes(table)))
    }
    mismatched.foreach { case (table, job) =>
      failedJobs += job; errors += s"$table: output ${hashes(table)} != reference ${reference.getOrElse(table, "-")}" }
    val (opLat, attempted, failed) =
      if (stream) {
        val b = rec.snapshot(_.batches.filter(_.pass == idx).map(_.batchMs / 1000.0).toSeq)
        (b, math.max(1, b.size), if (failedJobs.isEmpty) 0 else math.max(1, b.size))
      } else (lat.toSeq, w.jobs.size, failedJobs.size)
    val files = Files.dataFiles(out).filterNot(f => prepFiles.exists(_.getPath == f.getPath))
    val p = Pass(idx, wall, cpu, heapMb, load, startMs, endMs, opLat, attempted, failed,
      failedJobs.isEmpty, files.map(_.length).sum, files.size, hashes, errors.toSeq, tracer)
    if (!out.endsWith("/check")) Files.delete(out)
    p
  }

  /** What the listeners recorded inside one pass's window. */
  private def recorded(p: Pass) = {
    def in(ts: Long) = ts >= p.start - 1 && ts <= p.end + 1
    rec.snapshot(r => (
      r.jobs.filter(j => in(j.start)).toSeq, r.tasks.filter(x => in(x.jobStart)).toSeq,
      r.stages.filter(s => in(s.submitted)).toSeq, r.plans.filter(x => in(x.start)).toSeq,
      r.batches.filter(_.pass == p.idx).toSeq))
  }

  /** Per-layer metrics: Spark's, the streaming and the output totals from
    * the untraced pass `p`; the span metrics from the traced pass `tp`,
    * whose overhead is its wall minus the mean of `p`'s and `after`'s, the
    * untraced passes around it (all three carry the listeners). */
  def layerMetrics(p: Pass, tp: Pass, after: Pass): Map[String, Double] = {
    val spans = tp.tracer.get.result
    val self = Tracer.selfTimes(spans)
    val counts = tp.tracer.get.counters
    val (jobs, tasks, stages, plans, batches) = recorded(p)
    val (tJobs, tTasks, _, _, _) = recorded(tp)
    val tasksOf = Tracer.attribute(spans, tTasks)(_.jobGroup, _.jobStart)
    val jobsOf = Tracer.attribute(spans, tJobs)(_.jobGroup, _.start)
    def layerSelf(pred: Span => Boolean) = spans.filter(pred).map(s => self(s.id)).sum / 1000.0
    val runS = tasks.map(_.runMs).sum / 1000.0
    val cpuS = tasks.map(_.cpuNs).sum / 1e9
    val stageIv = stages.map(s => (s.submitted, s.completed))
    val wallMs = p.end - p.start
    val commitS = spans.filter(_.layer == "sources").flatMap { s =>
      tasksOf.get(s.id).map(own => (s.end - own.map(_.finish).max) / 1000.0)
    }.sum
    val m = mutable.Map[String, Double](
      "spark.jobs" -> jobs.size,
      "spark.actions" -> plans.size,
      "spark.plan_s" -> plans.map(_.planMs).sum / 1000.0,
      "spark.driver_gap_s" -> Stats.uncovered(math.round(p.start), math.round(p.end), stageIv) / 1000.0,
      "spark.task_cpu_s" -> cpuS,
      "spark.task_blocked_s" -> (runS - cpuS),
      "spark.core_util" -> runS / (wallMs / 1000.0 * cores),
      "spark.tasks_per_stage_p50" -> (if (stages.isEmpty) 0.0 else Stats.median(stages.map(_.tasks.toDouble))),
      "spark.shuffle_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
      "tables.load_s" -> layerSelf(_.layer == "tables"),
      "tables.rows_read" -> tasks.map(_.inputRecords).sum.toDouble,
      "ops.self_s" -> layerSelf(_.layer == "ops"),
      "ops.rows_out" -> spans.filter(_.layer == "ops").map(s => counts.getOrElse((s.id, "rows_out"), 0L)).sum.toDouble,
      "operators.dedup_s" -> layerSelf(s => s.layer == "operators" && s.name.startsWith("Dedup.")),
      "operators.similarity_s" -> layerSelf(s => s.layer == "operators" && s.name.startsWith("Similarity.")),
      "operators.spark_jobs" -> spans.filter(_.layer == "operators").map(s => jobsOf.getOrElse(s.id, Nil).size).sum.toDouble,
      "sources.write_s" -> layerSelf(_.layer == "sources"),
      "sources.commit_s" -> commitS,
      "sources.files_written" -> p.filesOut.toDouble,
      "sources.bytes_written" -> p.bytesOut.toDouble,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.trigger_s" -> batches.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1000.0,
      "streaming.add_batch_s" -> batches.map(_.durations.getOrElse("addBatch", 0L)).sum / 1000.0,
      "streaming.wal_commit_s" -> batches.map(_.durations.getOrElse("walCommit", 0L)).sum / 1000.0,
      "streaming.rows_per_batch" -> (if (batches.isEmpty) 0.0 else batches.map(_.rows).sum.toDouble / batches.size),
      "trace.pass_s" -> tp.wall,
      "trace.overhead_s" -> (tp.wall - (p.wall + after.wall) / 2))
    spans.filter(_.layer == "jobs").foreach(s => m(s"jobs.call_s.${s.name}") = s.dur / 1000.0)
    m.toMap
  }

  /** Rows per second of the native expressions the curation jobs use,
    * on this workload's own text and embedding columns. */
  def nativeRates(): Map[String, Double] = {
    import graft.functions.native.NativeFns
    def rate(rows: Long)(f: => Unit): Double = {
      f // warm
      val ts = (1 to 3).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      rows / Stats.median(ts)
    }
    val out = mutable.Map.empty[String, Double]
    val reps = spark.range(0, 20).toDF("rep")
    if (new java.io.File(s"$in/documents.parquet").exists()) {
      val text = graft.Tables.load(spark, in, "documents").select("text").crossJoin(reps).drop("rep").cache()
      val n = text.count()
      out("native.shingle_rows_per_s") = rate(n)(
        text.select(NativeFns.shingleHashes(col("text"), 5)).write.format("noop").mode("overwrite").save())
      val sh = text.select(NativeFns.shingleHashes(col("text"), 5).as("sh")).cache()
      sh.count()
      out("native.minhash_rows_per_s") = rate(n)(
        sh.select(NativeFns.minhashSig(col("sh"))).write.format("noop").mode("overwrite").save())
      sh.unpersist(true); text.unpersist(true)
    }
    if (new java.io.File(s"$in/embeddings.parquet").exists()) {
      val emb = graft.Tables.load(spark, in, "embeddings")
        .select(graft.operators.Similarity.asDouble(col("embedding")).as("v"))
        .crossJoin(reps).drop("rep").cache()
      val n = emb.count()
      out("native.dot_rows_per_s") = rate(n)(
        emb.select(NativeFns.dotNative(col("v"), col("v"))).write.format("noop").mode("overwrite").save())
      emb.unpersist(true)
    }
    out.toMap
  }
}

object Runner {
  /** The spans of a traced pass, with their self times. */
  def spanJson(p: Bench.Pass): String = p.tracer.fold("[]") { t =>
    val self = Tracer.selfTimes(t.result)
    t.result.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.q(s.layer)},"name":${Json.q(s.name)},""" +
        s""""start_ms":${Json.n(s.start)},"dur_ms":${Json.n(s.dur)},"self_ms":${Json.n(self(s.id))}}"""
    }.mkString("[", ",", "]")
  }
}

/** Order-independent content check of one committed table. */
object Check {
  def hash(spark: SparkSession, path: String): String = {
    val df = spark.read.parquet(path)
    val r = df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toString).getOrElse("0")}"
  }
}

/** Minimal JSON object writer. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  def raw(k: String, v: String): Unit = fields += s"${Json.q(k)}:$v"
  def num(k: String, v: Double): Unit = raw(k, Json.n(v))
  def str(k: String, v: String): Unit = raw(k, Json.q(v))
  def bool(k: String, v: Boolean): Unit = raw(k, v.toString)
  def strs(k: String, v: Seq[String]): Unit = raw(k, v.map(Json.q).mkString("[", ",", "]"))
  def obj(k: String, v: Map[String, _]): Unit = raw(k, v.toSeq.sortBy(_._1).map {
    case (kk, d: Double) => s"${Json.q(kk)}:${Json.n(d)}"
    case (kk, x) => s"${Json.q(kk)}:${Json.q(x.toString)}"
  }.mkString("{", ",", "}"))
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def n(d: Double): String = if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
}
