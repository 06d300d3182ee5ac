package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's closed-loop client: one thread runs a workload's ops
  * in a fixed order, once cold and then warm until the measuring window
  * closes, and dumps raw timings and listener records as JSON. All
  * attribution and every metric is computed by `perfbench/run.py`.
  *
  * Usage: Harness <config.properties>. Keys: `input`, `out`, `result`,
  * `ops` (comma-separated), `seconds`, `trace` (0|1), `cores`,
  * `min_warm`.
  *
  * Each op is a catalog entry (`graft.SparkEntry.queries`) or `io:<entry>`, which
  * writes the preceding `<entry>` result of the same pass as a submission
  * CSV through `graft.io.Io.writeSingleCsv`. An op runs in phases:
  * `build` calls the entry, `plan` forces the executed plan, `exec` runs
  * the action (a collect, or the CSV write). Every job carries the local
  * property `perfbench.pass`; with tracing on, also `perfbench.span`, the
  * id of the phase span that submitted it. */
object Harness {
  val PassKey = "perfbench.pass"
  val SpanKey = "perfbench.span"
  val DrainAlias = "perfbench_drain"

  final case class Span(id: Long, parent: Long, name: String, op: String,
                        phase: String, pass: Int, start: Double, end: Double)

  def main(args: Array[String]): Unit = {
    val conf = new Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)), UTF_8)
    try conf.load(in) finally in.close()
    def get(k: String) = Option(conf.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"config key $k missing"))
    val input = get("input")
    val out = get("out")
    val ops = get("ops").split(",").map(_.trim).filter(_.nonEmpty).toVector
    val seconds = get("seconds").toDouble
    val traced = get("trace") == "1"
    val cores = get("cores").toInt
    val minWarm = get("min_warm").toInt

    // ---- set-up: the JVM's first session build to the first completed
    // trivial query, what a user pays before any work
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions",
        graft.core.Sizing.shufflePartitions(input, cores))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      .getOrCreate()
    spark.range(1).count()
    val setupS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val listener = new Recorder
    sc.addSparkListener(listener)
    val qeListener = new CatalystRecorder(listener)
    spark.listenerManager.register(qeListener)

    val setupEnd = System.currentTimeMillis()
    // ---- the loop
    val entries = graft.SparkEntry.queries
    val epochBase = System.currentTimeMillis().toDouble
    val nanoBase = System.nanoTime()
    def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
    val spans = mutable.ArrayBuffer[Span]()
    val spanIds = new AtomicLong
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val coldRows = mutable.LinkedHashMap[String, (Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]()

    def drain(): Unit = listener.drain(spark)

    def runPass(pass: Int, tracing: Boolean): Unit = {
      sc.setLocalProperty(PassKey, pass.toString)
      listener.currentPass = pass
      val passSpan = spanIds.incrementAndGet()
      val passStart = nowMs
      val results = mutable.ArrayBuffer[Map[String, Any]]()
      val frames = mutable.Map[String, DataFrame]()
      for (op <- ops) {
        val opSpan = spanIds.incrementAndGet()
        val opStart = nowMs
        val phaseMs = mutable.LinkedHashMap[String, Double]()
        def phase[T](name: String)(body: => T): T = {
          val id = spanIds.incrementAndGet()
          if (tracing) sc.setLocalProperty(SpanKey, id.toString)
          val t0 = nowMs
          try body finally {
            val t1 = nowMs
            phaseMs(name) = t1 - t0
            if (tracing) spans += Span(id, opSpan, s"$op/$name", op, name, pass, t0, t1)
          }
        }
        var digest: String = null
        var rows = -1L
        var error: String = null
        try {
          if (op.startsWith("io:")) {
            val src = op.stripPrefix("io:")
            val df = frames.getOrElse(src,
              throw new IllegalStateException(s"$op runs after $src in the same pass"))
            phase("exec")(graft.io.Io.writeSingleCsv(df, s"$out/submissions/$src.csv"))
          } else {
            val df = phase("build")(entries.getOrElse(op,
              throw new NoSuchElementException(s"no catalog entry $op"))(spark, input))
            phase("plan")(df.queryExecution.executedPlan)
            val collected = phase("exec")(df.collect())
            frames(op) = df
            if (pass == 0) coldRows(op) = (collected, df.schema)
            rows = collected.length
            digest = Harness.digest(collected.iterator.map(_.toString))
          }
        } catch {
          case e: Throwable =>
            val first = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
            error = s"${e.getClass.getName}: ${first.take(300)}"
        }
        if (tracing) sc.setLocalProperty(SpanKey, null)
        val pinned = graft.ops.Leaks.persistentRddCount(spark)
        // an entry whose result an io op writes next is swept after that
        // io op, so the write reads what the collect read
        if (!ops.contains(s"io:$op")) graft.ops.Leaks.sweep(spark)
        val opEnd = nowMs
        if (tracing) spans += Span(opSpan, passSpan, op, op, "", pass, opStart, opEnd)
        results += Map("name" -> op, "ok" -> (error == null), "error" -> error,
          "digest" -> digest, "rows" -> rows, "start_ms" -> opStart,
          "end_ms" -> opEnd, "pinned_rdds" -> pinned) ++
          phaseMs.map { case (k, v) => s"${k}_ms" -> v }
      }
      val passEnd = nowMs
      if (tracing) spans += Span(passSpan, 0L, s"pass$pass", "", "", pass, passStart, passEnd)
      // a traced run drains after every pass, outside the pass wall, so
      // block updates and catalyst events land in the pass that caused them
      if (traced) drain()
      passes += Map("index" -> pass, "traced" -> tracing, "start_ms" -> passStart,
        "end_ms" -> passEnd, "ops" -> results.toSeq)
    }

    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    runPass(0, traced)
    var pass = 1
    // with tracing, warm passes run traced and untraced in the order
    // T U U T T U U T ..., so the same run measures the tracing overhead and
    // a steady drift of pass times (the JIT still warming) cancels out
    while (pass <= minWarm || elapsed < seconds) {
      runPass(pass, traced && pass % 4 <= 1)
      pass += 1
    }
    val measuredS = elapsed
    drain()
    val loopEnd = System.currentTimeMillis()

    // ---- probes, after the passes so the JIT is warm: fixed-work
    // throughput and per-job latency, as graft.Bench takes them
    sc.setLocalProperty(PassKey, "-2")
    listener.currentPass = -2
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def calibration() = timed(spark.range(0L, 1L << 25, 1L, cores)
      .selectExpr("sum((id * 2654435761) % 1000003)").collect())
    def jobLatency() = timed((1 to 5).foreach(_ =>
      spark.range(0L, cores.toLong, 1L, cores).selectExpr("count(1)").collect())) / 5
    val calibrationS = calibration()
    val jobLatencyS = jobLatency()

    val doc = Map(
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "setup_s" -> setupS,
      "calibration_s" -> calibrationS,
      "job_latency_s" -> jobLatencyS,
      "measured_s" -> measuredS,
      "jvm_start_ms" -> jvmStart, "main_start_ms" -> mainStart,
      "setup_end_ms" -> setupEnd, "loop_end_ms" -> loopEnd,
      "passes" -> passes.toSeq,
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "phase" -> s.phase, "pass" -> s.pass,
        "start_ms" -> s.start, "end_ms" -> s.end)),
      "jobs" -> listener.jobs.asScala.toSeq,
      "stages" -> listener.stages.asScala.toSeq,
      "blocks" -> listener.blockBytes.toMap.map { case (k, v) => k.toString -> v },
      "catalyst" -> qeListener.records.asScala.toSeq)
    // ---- oracle dump, outside the measured region: each catalog entry's
    // cold-pass rows as one parquet file plus its oracle SQL, the layout
    // graft.Verify writes and tools/compare_oracle.py reads
    val oracles = graft.SparkEntry.oracleSql
    val dumped = coldRows.toSeq.filter(kv => oracles.contains(kv._1))
    Files.writeString(Paths.get(get("result")),
      Json(doc + ("oracle_ops" -> dumped.map(_._1))))
    sc.setLocalProperty(PassKey, "-3")
    listener.currentPass = -3
    for ((name, (rows, schema)) <- dumped)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/oracle/$name")
    Files.createDirectories(Paths.get(s"$out/oracle"))
    Files.writeString(Paths.get(s"$out/oracle/oracle_sql.json"),
      Json(dumped.map { case (name, _) => name -> oracles(name) }.toMap))
    spark.stop()
  }

  def digest(rows: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.toVector.sorted.foreach { r => md.update(r.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Records every job, stage and block update the run causes. Listener
    * events arrive asynchronously; `drain` submits a marked query and
    * waits until both listeners have seen it, so every earlier event has
    * been recorded. */
  class Recorder extends SparkListener {
    @volatile var currentPass: Int = -1
    val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
    val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
    val blockBytes = mutable.Map[Int, Long]()
    private val jobMeta = mutable.Map[Int, (String, String, Long, Seq[Int])]()
    private val submittedIn = mutable.Map[Int, mutable.Set[Int]]()
    private val stageSubmitted = mutable.Map[(Int, Int), Long]()
    private val stageJob = mutable.Map[Int, Int]()
    private val taskAgg = mutable.Map[(Int, Int), Array[Long]]()
    private val drains = new AtomicLong
    private[perfbench] val catalystDrains = new AtomicLong

    private def prop(p: Properties, k: String): String =
      if (p == null) null else p.getProperty(k)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobMeta(e.jobId) = (prop(e.properties, PassKey), prop(e.properties, SpanKey),
        e.time, e.stageIds)
      submittedIn(e.jobId) = mutable.Set()
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val si = e.stageInfo
      stageSubmitted((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
      submittedIn.foreach { case (job, set) =>
        if (jobMeta.get(job).exists(_._4.contains(si.stageId))) set += si.stageId
      }
    }

    // tasks, failed, run, cpu_ns, gc, deser, in_bytes, in_records,
    // sh_w_bytes, sh_w_ns, sh_r_bytes, fetch_wait, spill, peak_mem, wait
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = taskAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](15))
      a(0) += 1
      if (!e.taskInfo.successful) a(1) += 1
      val m = e.taskMetrics
      if (m != null) {
        a(2) += m.executorRunTime; a(3) += m.executorCpuTime; a(4) += m.jvmGCTime
        a(5) += m.executorDeserializeTime
        a(6) += m.inputMetrics.bytesRead; a(7) += m.inputMetrics.recordsRead
        a(8) += m.shuffleWriteMetrics.bytesWritten; a(9) += m.shuffleWriteMetrics.writeTime
        a(10) += m.shuffleReadMetrics.totalBytesRead; a(11) += m.shuffleReadMetrics.fetchWaitTime
        a(12) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(13) = math.max(a(13), m.peakExecutionMemory)
      }
      stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { sub =>
        a(14) += math.max(0L, e.taskInfo.launchTime - sub)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val a = taskAgg.remove((si.stageId, si.attemptNumber())).getOrElse(new Array[Long](15))
      val names = Seq("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms", "deser_ms",
        "input_bytes", "input_records", "shuffle_write_bytes", "shuffle_write_ns",
        "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "peak_mem_bytes",
        "task_wait_ms")
      stages.add(Map("stage" -> si.stageId, "attempt" -> si.attemptNumber(),
        "job" -> stageJob.getOrElse(si.stageId, -1),
        "submitted_ms" -> stageSubmitted.getOrElse((si.stageId, si.attemptNumber()), -1L),
        "completed_ms" -> si.completionTime.getOrElse(-1L)) ++ names.zip(a))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobMeta.remove(e.jobId).foreach { case (pass, span, start, stageIds) =>
        val submitted = submittedIn.remove(e.jobId).getOrElse(mutable.Set())
        if (span == "drain") drains.incrementAndGet()
        else jobs.add(Map("job" -> e.jobId, "pass" -> pass, "span" -> span,
          "start_ms" -> start, "end_ms" -> e.time, "stages" -> stageIds.size,
          "skipped" -> stageIds.count(s => !submitted.contains(s)),
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid)
        blockBytes(currentPass) = blockBytes.getOrElse(currentPass, 0L) +
          info.memSize + info.diskSize
    }

    def drain(spark: SparkSession): Unit = {
      val sc = spark.sparkContext
      val (j0, c0) = (drains.get, catalystDrains.get)
      val (pass, span) = (sc.getLocalProperty(PassKey), sc.getLocalProperty(SpanKey))
      sc.setLocalProperty(SpanKey, "drain")
      spark.range(1).select(lit(1).as(DrainAlias)).collect()
      sc.setLocalProperty(SpanKey, span)
      sc.setLocalProperty(PassKey, pass)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((drains.get == j0 || catalystDrains.get == c0) && System.nanoTime() < deadline)
        Thread.sleep(2)
    }
  }

  /** Catalyst phase times of every query execution, tagged with the pass
    * that was current when the event was delivered. */
  class CatalystRecorder(rec: Recorder) extends QueryExecutionListener {
    val records = new ConcurrentLinkedQueue[Map[String, Any]]()
    private def record(qe: QueryExecution, ok: Boolean): Unit = {
      if (qe.analyzed.output.exists(_.name == DrainAlias)) {
        rec.catalystDrains.incrementAndGet(); return
      }
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      records.add(Map("pass" -> rec.currentPass, "ok" -> ok,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, ok = false)
  }
}

/** Minimal JSON writer for the harness's result document. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
