package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import graft.core.Env
import graft.ops.Leaks

/** The one timing harness, in four modes (query names filtered by
  * SPARK_GRAFT_BENCH_FILTER, all settings in [[graft.core.Env]]):
  *
  *   runMain graft.Bench                      catalog timing → one JSON line
  *                                            on stdout + bench_full.json
  *   runMain graft.Bench iso                  per query: a cold run, then
  *                                            SPARK_GRAFT_BENCH_ITERS warm ones
  *   runMain graft.Bench trace                iso, plus per-stage wall lines
  *   runMain graft.Bench plans [dir suffix]   formatted physical plans →
  *                                            PLANS.md, or dir/<q>_suffix.txt
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Accumulates task-level shuffle/spill totals; reset per query so
    * bench_full.json can report measured shuffle volume per query (the
    * 100 TB scale story should ride on bytes, not prose).
    *
    * Also accumulates the CONTENTION-ATTRIBUTION triplet (round-10
    * lesson: the driver's loaded run showed 11-34× wall spikes on
    * byte-flat queries while the CPU-throughput calibration probe stayed
    * flat — unattributable without per-query telemetry): job count (a
    * query's wall multiplies with per-job scheduler latency), summed GC
    * time across tasks (pause bursts), and summed executor run time
    * (task-side CPU-seconds — if wall inflates while this stays flat,
    * the time went to scheduling/queueing, not compute).
    *
    * Also keeps one line per completed stage over 50 ms, which the trace
    * mode prints. */
  private class MetricsListener extends SparkListener {
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    // max per-task execution-memory peak over the query — the memory
    // analogue of the shuffle budget (a query whose per-task peak doubles
    // is one sf-step from spilling or OOMing an executor)
    val memPeak = new AtomicLong
    val jobs = new AtomicLong
    val gcMs = new AtomicLong
    val execRunMs = new AtomicLong
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        memPeak.accumulateAndGet(m.peakExecutionMemory,
          (a: Long, b: Long) => math.max(a, b))
        gcMs.addAndGet(m.jvmGCTime)
        execRunMs.addAndGet(m.executorRunTime)
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val wall = (i.completionTime.getOrElse(0L) -
        i.submissionTime.getOrElse(0L)) / 1000.0
      val m = i.taskMetrics
      if (wall > 0.05)
        stages.add(f"    stage ${i.stageId}%4d $wall%7.2f s " +
          f"tasks=${i.numTasks}%4d run=${m.executorRunTime / 1000.0}%6.2f " +
          f"cpu=${m.executorCpuTime / 1e9}%6.2f " +
          f"deser=${m.executorDeserializeTime / 1000.0}%6.2f " +
          f"gc=${m.jvmGCTime / 1000.0}%5.2f ${i.name.take(40)}")
    }
    def reset(): Unit = {
      shuffleRead.set(0); shuffleWrite.set(0); spill.set(0); memPeak.set(0)
      jobs.set(0); gcMs.set(0); execRunMs.set(0); stages.clear()
    }
    def counters = (shuffleRead.get, shuffleWrite.get, spill.get,
      memPeak.get, jobs.get, gcMs.get, execRunMs.get)
  }

  /** Listener events are delivered async; drain before snapshotting so a
    * query's last tasks don't get attributed to the next one.
    * LiveListenerBus is private[spark] — reflection, with a sleep
    * fallback (attribution skew of a few tasks is acceptable). */
  private[graft] def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val m = bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount <= 1)
        .get
      if (m.getParameterCount == 0) m.invoke(bus)
      else m.invoke(bus, java.lang.Long.valueOf(10000L))
    } catch { case _: Throwable => Thread.sleep(200) }

  private val Usage =
    "usage: graft.Bench [iso | trace | plans [<outDir> <suffix>]]"

  def main(args: Array[String]): Unit = {
    val env = Env.orExit()
    args.toList match {
      case Nil => time(env)
      case "iso" :: Nil => isolated(env, trace = false)
      case "trace" :: Nil => isolated(env, trace = true)
      case "plans" :: Nil => plans(env, None)
      case "plans" :: dir :: suffix :: Nil => plans(env, Some(dir -> suffix))
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
  }

  /** Timing session over the bench sf dir (sized to data past sf1 —
    * graft.core.Sizing; sf0.1 resolves to the core count), with the
    * listener attached and the JVM/codegen/parquet-reader warmed up
    * outside any timed region. */
  private def timingSession(env: Env)
  : (SparkSession, String, MetricsListener) = {
    val sfDir = env.sfDir.getOrElse(s"${Env.TestData}/sf0.1")
    val spark = GraftSession(Some(env.cpus), Some(sfDir), env.extraConf)
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().collect()
    (spark, sfDir, listener)
  }

  /** The queries the filter selects, in catalog order. */
  private def selected(env: Env): Seq[(String, Query)] =
    SparkEntry.queries.toSeq.filter(kv => env.selects(kv._1))

  /** One run of a query: wall seconds (-1 when it throws), the listener
    * counters, and the RDDs it left pinned. Then the sweep: queries are
    * independent; drop whatever a pipeline pinned — BOTH layers:
    * clearCache() alone leaves localCheckpoint RDD blocks resident, and
    * 179 queries of accumulated orphans tax every query that runs later
    * in the shared JVM (round-4 lesson: per-query times inflated 9-26x
    * vs isolated measurement). */
  private def measure(spark: SparkSession, sfDir: String,
                      listener: MetricsListener, fn: Query)
  : (Double, (Long, Long, Long, Long, Long, Long, Long), Int) = {
    drainListenerBus(spark)
    listener.reset()
    val t0 = System.nanoTime()
    val ok = try { fn(spark, sfDir).count(); true }
             catch { case _: Throwable => false }
    val dt = (System.nanoTime() - t0) / 1e9
    drainListenerBus(spark)
    val pinned = Leaks.persistentRddCount(spark)
    Leaks.sweep(spark)
    (if (ok) dt else -1.0, listener.counters, pinned)
  }

  /** Isolated per-query timing, the way to adjudicate a single bench
    * regression (round-3 lesson: single-shot JIT noise). The cold run is
    * timed and reported too: for queries whose fitted parameters are
    * process-memoized (tournament accuracies, the shared forest model)
    * the warm runs measure only scoring — cold is the honest
    * fit-inclusive number. `trace` prints the last warm run's stages. */
  private def isolated(env: Env, trace: Boolean): Unit = {
    val (spark, sfDir, listener) = timingSession(env)
    selected(env).sortBy(_._1).foreach { case (name, fn) =>
      val (cold, _, pinnedCold) = measure(spark, sfDir, listener, fn)
      val warm = (1 to env.benchIters).map(_ => measure(spark, sfDir, listener, fn))
      if (trace) listener.stages.forEach(println)
      val (best, (_, _, _, _, jobs, _, _), _) = warm.minBy(_._1)
      println(f"[iso] $name min=$best%.3f cold=$cold%.3f " +
        s"times=${warm.map(r => f"${r._1}%.2f").mkString(",")} jobs=$jobs " +
        s"pinned_after_materialize=$pinnedCold " +
        s"pinned_after_sweep=${Leaks.persistentRddCount(spark)}")
    }
    spark.stop()
  }

  /** Formatted physical plans of the selected queries — the evidence
    * trail for the plan shapes SCALE.md claims (pushdown, broadcast,
    * partial aggregation, top-k, no cartesian products). Pinned to
    * local[8] over sf0.001 by default so the committed PLANS.md does not
    * depend on the host. Without arguments all sections go to PLANS.md;
    * with `<outDir> <suffix>` each plan goes to its own
    * `<outDir>/<query>_<suffix>.txt` (before/after evidence). */
  private def plans(env: Env, perQuery: Option[(String, String)]): Unit = {
    val sfDir = env.sfDir.getOrElse(s"${Env.TestData}/sf0.001")
    val spark = GraftSession(Some(8), Some(sfDir), env.extraConf,
      logLevel = "ERROR")
    val all = selected(env).sortBy(_._1).map { case (name, fn) =>
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}\n" }
      Leaks.sweep(spark)
      perQuery.foreach { case (dir, suffix) =>
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, s"${name}_$suffix.txt"), plan)
      }
      s"\n## $name\n\n```\n$plan```\n"
    }
    if (perQuery.isEmpty) Files.writeString(Paths.get("PLANS.md"),
      "# PLANS — formatted physical plans of every registered query\n\n" +
        s"Generated by `graft.Bench plans` over `$sfDir` (plan SHAPE is scale-\n" +
        "independent: the same operators appear at any input size; only\n" +
        "AQE's runtime partition numbers change).\n" + all.mkString)
    spark.stop()
  }

  /** Catalog timing: the one-line JSON on stdout and bench_full.json. */
  private def time(env: Env): Unit = {
    val (spark, sfDir, listener) = timingSession(env)
    val cpus = env.cpus
    // Fixed-work calibration probe: a constant synthetic aggregation (no
    // I/O, no shuffle, data-independent) timed per run so cross-round
    // wall-clock comparisons can normalize machine-wide drift instead of
    // hand-adjudicating it (round-9 lesson: a uniform +20% idle-vs-idle
    // drift with bit-identical shuffle budgets). min of 3 — same
    // JIT/GC-noise discipline as the query loop.
    def calibrationRun(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 28, 1L, cpus)
        .selectExpr("sum((id * 2654435761) % 1000003)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrationRun() // warm the codegen path before measuring
    val calibrationSec = (1 to 3).map(_ => calibrationRun()).min
    // Per-JOB latency probe: 10 minimal jobs, averaged. calibration_sec is
    // pure CPU throughput and stayed flat across a round-10 episode where
    // EVERY query inflated ~1.8× with bit-identical shuffle bytes — the
    // drift was scheduler/virtualization latency per job, which multiplies
    // with job COUNT, not data volume. The pair (throughput, job latency)
    // adjudicates both drift modes without hand-analysis.
    def jobLatencyRun(): Double = {
      val t0 = System.nanoTime()
      (1 to 10).foreach(_ => spark.range(0L, cpus.toLong, 1L, cpus)
        .selectExpr("count(1)").collect())
      (System.nanoTime() - t0) / 1e9 / 10
    }
    jobLatencyRun() // warm
    val jobLatencySec = (1 to 3).map(_ => jobLatencyRun()).min
    // The driver captures only the LAST 2000 chars of run output (measured:
    // BENCH_r01/r02 tail length == 2000), and sbt appends a ~80-char
    // "[success] Total time" line after our println. A per-query map for ~97
    // queries is ~2.8 KB and gets its head truncated, defeating the driver's
    // JSON parse (BENCH_r02 "parsed": null). So: the stdout line carries the
    // total over ALL queries plus a fixed headline subset of per-query times,
    // and the complete map goes to bench_full.json next to the repo.
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    // n iterations per query, report the MIN: single-shot timings mixed
    // JIT/GC noise into round-3's numbers (9 queries "regressed" 3-9×
    // with no code change); the min of two runs is the stable signal
    val iterations = env.benchIters
    // (time_sec, byte+telemetry counters) per query; the counters come
    // from the min-time iteration; a crashed query reports -1 instead of
    // a normal-looking duration
    val results = selected(env).toMap.map { case (name, fn) =>
      val runs = (1 to iterations).map(_ => measure(spark, sfDir, listener, fn))
      val best = runs.minBy(_._1 match { case d if d < 0 => Double.MaxValue; case d => d })
      val t = if (runs.exists(_._1 < 0)) -1.0 else r3(best._1)
      name -> (t, best._2)
    }
    val headline = Vector(
      "q_a1_tpch_q1", "q_a_tpch_q6", "q_j_tpch_q3", "q_j_tpch_q12", "q_j_tpch_q14",
      "q_j1_top_revenue", "q_j_asof", "q_j_interval",
      "q_a4_crosstab", "q_a8_describe", "q_a16_corr_prune",
      "q_w1_topk", "q_w3_topn_per_group",
      "q_m1_standard_scale", "q_m4_yeojohnson_lambda", "q_m5_quantile", "q_m11_kfold",
      "q_t3_auroc", "q_t8_spearman", "q_t11_wilcoxon",
      "q_x_exact_dedup", "q_x_minhash_neardup", "q_x_simhash_neardup", "q_x_embed_neardup",
      "q_v_knn_brute", "q_v_lsh_ann", "q_v_ivf_ann",
      "q_x_lang_id", "q_x_corpus_pipeline", "q_x_bm25", "q_x_decontam",
      "q_s_session", "q_mm_features")
    def toJson(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val times = results.map { case (k, (t, _)) => k -> t }
    val nFailed = times.count(_._2 < 0)
    val total = r3(times.values.filter(_ >= 0).sum)
    // full artifact: flat time map (backward-compatible) + per-query
    // {time, shuffle_read, shuffle_write, spill} byte metrics
    val metricsJson = results.map {
      case (k, (t, (sr, sw, sp, mp, nj, gc, er))) =>
        // machine-classified wall attribution (scheduler|gc|exec|
        // idle-consistent) so a spike in a loaded run is adjudicable
        // from the artifact alone — no human cross-reading of three
        // telemetry fields (round-11 judging did this by hand)
        val bound = BenchGates.bound(t, er, gc, nj, cpus, jobLatencySec)
        s""""$k":{"time":$t,"shuffle_read":$sr,"shuffle_write":$sw,"spill":$sp,"mem_peak":$mp,"jobs":$nj,"gc_ms":$gc,"exec_run_ms":$er,"bound":"$bound"}"""
    }.mkString("{", ",", "}")
    // Budget regression gates: shuffle_budget.json / mem_budget.json hold
    // committed per-query ceilings (seeded from the accepted idle bench of
    // the prior round). A query exceeding 2× its budget (and an absolute
    // slack — tiny queries jitter) is flagged in bench_full.json and on
    // stderr: either the plan regressed, or the change is intentional and
    // the budget must be re-seeded WITH a SCALE.md note in the same commit.
    // Parsing is STRICT on the whole file (flat {"query":bytes} object):
    // a corrupt/missing/foreign-shaped file disables the gate LOUDLY on
    // stderr instead of silently fabricating budgets from stray numbers.
    def loadBudget(path: String): Map[String, Long] = {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) {
        System.err.println(s"[bench] $path missing - budget gate disabled")
        Map.empty
      } else try {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
        require(txt.startsWith("{") && txt.endsWith("}"), "not a flat JSON object")
        val inner = txt.substring(1, txt.length - 1).trim
        if (inner.isEmpty) Map.empty
        else inner.split(",").iterator.map { kv =>
          val m = "^\\s*\"([^\"]+)\"\\s*:\\s*(\\d+)\\s*$".r.findFirstMatchIn(kv)
            .getOrElse(sys.error(s"bad budget entry: $kv"))
          m.group(1) -> m.group(2).toLong
        }.toMap
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] $path unreadable (${e.getMessage}) - budget gate disabled")
          Map.empty
      }
    }
    def reportAndJson(tag: String, rs: Seq[(String, Long, Long)]): String = {
      if (rs.nonEmpty)
        System.err.println(s"[bench] $tag BUDGET EXCEEDED: " +
          rs.map { case (k, b, v) => s"$k ($b -> $v B)" }.mkString("; "))
      rs.map { case (k, b, v) => s""""$k":{"budget":$b,"measured":$v}""" }
        .mkString("{", ",", "}")
    }
    def measuredOf(pick: ((Long, Long, Long, Long, Long, Long, Long)) => Long) =
      results.map { case (k, (_, m)) => k -> pick(m) }
    // shuffle bytes are plan-deterministic: no contention floor. mem_peak
    // is contention-sensitive (BenchGates.contentionFloor doc) — the
    // floor keeps a loaded driver run from burying a real regression
    // under dozens of uniform-offset false flags.
    val (_, shufFlags) = BenchGates.regressions(
      loadBudget("shuffle_budget.json"), measuredOf(_._1),
      16L * 1024 * 1024, floored = false)
    // The floor only applies with LOAD EVIDENCE: this run's job-latency
    // probe at >=1.5x the committed idle baseline (stored alongside the
    // budgets under the "__idle_job_latency_ms" pseudo-key; r11's loaded
    // run probed 1.56x, its idle runs ~1.0x). Without evidence, uniform
    // over-budget offsets are the SHARED-REGRESSION signature, not
    // machine noise — suppress the floor and say so loudly rather than
    // letting a catalog-wide real regression clear itself
    // (round-12 ADVICE).
    val memBudgetAll = loadBudget("mem_budget.json")
    val idleLatMs = memBudgetAll.get("__idle_job_latency_ms")
    val memBudget = memBudgetAll.filter(!_._1.startsWith("__"))
    val loadEvidence =
      idleLatMs.forall(b => jobLatencySec * 1000.0 >= 1.5 * b)
    val (memFloor, memFlags) = BenchGates.regressions(
      memBudget, measuredOf(_._4),
      64L * 1024 * 1024, floored = true, loadEvidence = loadEvidence)
    if (!loadEvidence) {
      val (suppressed, _) = BenchGates.regressions(
        memBudget, measuredOf(_._4),
        64L * 1024 * 1024, floored = true, loadEvidence = true)
      if (suppressed > 64L * 1024 * 1024)
        System.err.println(
          s"[bench] MEMORY floor ${suppressed} B SUPPRESSED: job latency " +
            f"${jobLatencySec}%.3f s is within 1.5x the idle baseline " +
            s"${idleLatMs.get} ms — uniform over-budget offsets at idle " +
            "latency are a shared regression, treat the flags as real")
    }
    val regressJson = reportAndJson("SHUFFLE", shufFlags)
    val memRegressJson = reportAndJson("MEMORY", memFlags)
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$nFailed,"iterations":$iterations,"calibration_sec":${r3(calibrationSec)},"job_latency_sec":${r3(jobLatencySec)},"leaks_pinned":${graft.ops.Leaks.pinnedCount},"queries":${toJson(times)},"metrics":$metricsJson,"shuffle_regressions":$regressJson,"mem_regressions":$memRegressJson,"mem_floor":$memFloor,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(fullLine) finally w.close()
    } catch { case _: Throwable => () }
    val headlineQs = headline.flatMap(k => times.get(k).map(k -> _))
    var line =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$nFailed,"iterations":$iterations,"queries":${toJson(headlineQs)},"sf":"$sfDir"}"""
    // belt-and-braces: never exceed the driver's 2000-char tail window
    if (line.length > 1800)
      line = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$nFailed,"sf":"$sfDir"}"""
    println(line)
    spark.stop()
  }
}
