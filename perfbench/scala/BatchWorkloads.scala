package perfbench

import java.nio.file.Paths
import java.security.MessageDigest
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The two query workloads: the dashboard refresh (many small panels, closed
  * loop, up to `nproc` panels in flight) and the curation batch build (the
  * heavy corpus keys and the artifact-served reads, each once per pass).
  * Both reach the library only through `SparkEntry.queries` and the
  * publish entry points a deployment's scheduler calls
  * (`MaterializedViews.minuteMvDf`, `ServingArtifacts.ensure*`).
  */
object BatchWorkloads {

  val DashboardPanels: Seq[String] = Seq(
    "q_last_value", "q_latest_per_group", "q_raw_timeseries", "q_mv_read",
    "q_alarm_feed", "q_bucket_agg", "q_downsample_lttb", "q_downsample_ohlc",
    "q_deviation_trend", "q_feeder_low_edge", "q_threshold_alarms",
    "q_auto_recovery", "q_state_agg", "q_histogram", "q_gapfill_locf",
    "q_counter_rate")

  val CurationHeavy: Seq[String] = Seq(
    "q_dedup_apply", "q_dedup_ledger", "q_decontaminate", "q_dedup_clusters",
    "q_dup_weights", "q_sim_recall", "q_bpe_train", "q_tfidf",
    "q_dedup_minhash", "q_dedup_ngram")

  val CurationServed: Seq[String] = Seq(
    "q_sim_serve_ivf_trained", "q_sim_serve_pq", "q_sim_serve_ivfpq",
    "q_sim_serve_pq_rr", "q_sim_serve_ivfpq_rr", "q_dedup_apply_artifacts",
    "q_corpus_ledger")

  val WarmupRefreshes = 2
  /** At least two refreshes (32 panel calls) per window. */
  val MinRefreshes = 2

  /** One timed query call: its phases and its result digest (or error). */
  final case class Call(key: String, buildNs: Long, execNs: Long,
      digest: Option[String], error: Option[String],
      rows: Option[Array[Row]] = None, schema: org.apache.spark.sql.types.StructType = null) {
    def ms: Double = (buildNs + execNs) / 1e6
  }

  def dashboard(a: Main.Args, out: Result): Unit = {
    val tracer = new Tracer(a.trace)
    val (spark, dir) = setUp(a, out, tracer) { (spark, dir) =>
      tracer.span("publish.mv")(graft.pipeline.MaterializedViews.minuteMvDf(spark, dir))
    }
    // warm-up, after set-up and before the window: untimed refreshes absorb
    // class loading, code generation and the first JIT compilation (panel
    // latency keeps falling for several refreshes more, so the window sees
    // a young JVM, as after a restart)
    val w0 = System.nanoTime()
    (1 to WarmupRefreshes).foreach(i => tracer.span("warmup", i.toString)(refresh(spark, dir, tracer)))
    out.metric("dashboard.warmup_s", (System.nanoTime() - w0) / 1e9, "s", WarmupRefreshes)
    // the traced run brackets its window with two untraced half-windows,
    // before the listener is attached and after it is removed, so warm-up
    // drift cancels: trace.overhead_pct compares with them
    def untraced(): Seq[Call] = if (!a.trace) Nil else {
      tracer.enabled = false
      try window(spark, dir, tracer, a.seconds / 2, MinRefreshes / 2)._1.flatMap(_._2)
      finally tracer.enabled = true
    }
    val before = untraced()
    val counters = attach(spark, a.trace)
    val (refreshes, wallS) = window(spark, dir, tracer, a.seconds, MinRefreshes)
    detach(spark, counters)
    val reference = before ++ untraced()
    val calls = refreshes.flatMap(_._2)
    val ok = calls.filter(_.error.isEmpty)
    val panelMs = ok.map(_.ms)
    val refreshS = refreshes.map(_._1).toSeq
    out.attempted = calls.size
    out.failed = calls.count(_.error.nonEmpty)
    calls.filter(_.error.nonEmpty).foreach(c => out.failure(s"${c.key}: ${c.error.get}"))
    if (panelMs.isEmpty) throw new IllegalStateException("no panel succeeded")
    out.metric("dashboard.refresh_p50_s", Stats.median(refreshS), "s", refreshS.size)
    out.metric("dashboard.panel_p50_ms", Stats.median(panelMs), "ms", panelMs.size)
    out.metric("dashboard.panel_p95_ms", Stats.quantile(panelMs, 0.95), "ms", panelMs.size)
    out.e2e("latency_p50_ms", Stats.median(panelMs), "ms")
    out.metric("dashboard.panel_p75_ms", Stats.quantile(panelMs, 0.75), "ms", panelMs.size)
    out.metric(s"${a.workload}.throughput_per_s", calls.size / wallS, "1/s", calls.size)
    consistent(calls ++ reference, out)
    layerMetrics(a, out, counters, tracer, calls, wallS)
    overhead(out, panelMs, reference.filter(_.error.isEmpty).map(_.ms))
    reference.filter(_.error.nonEmpty).foreach(c => out.failure(s"${c.key}: ${c.error.get}"))
    // correctness, outside the window: the last refresh's rows, written for
    // the DuckDB oracle (every refresh returned the same rows)
    dump(spark, a, out, refreshes.last._2)
    finish(a, tracer, spark)
  }

  def curation(a: Main.Args, out: Result): Unit = {
    val tracer = new Tracer(a.trace)
    val (spark, dir) = setUp(a, out, tracer) { (spark, dir) =>
      // the versioned artifacts a deployment's refresh jobs maintain
      tracer.span("publish.ann")(graft.pipeline.ServingArtifacts.ensureAnn(spark, dir))
      tracer.span("publish.dedup")(graft.pipeline.ServingArtifacts.ensureDedup(spark, dir))
      tracer.span("publish.curation")(graft.pipeline.ServingArtifacts.ensureCuration(spark, dir))
    }
    val counters = attach(spark, a.trace)
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[Call])]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val p0 = System.nanoTime()
      val calls = tracer.span("pass", passes.size.toString) {
        (CurationHeavy ++ CurationServed).map(k => runKey(spark, dir, k, tracer, write = Some(a.work)))
      }
      passes += (((System.nanoTime() - p0) / 1e9, calls))
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    detach(spark, counters)
    val calls = passes.flatMap(_._2).toSeq
    val ok = calls.filter(_.error.isEmpty)
    out.attempted = calls.size
    out.failed = calls.count(_.error.nonEmpty)
    calls.filter(_.error.nonEmpty).foreach(c => out.failure(s"${c.key}: ${c.error.get}"))
    if (ok.isEmpty) throw new IllegalStateException("no curation key succeeded")
    val keyMs = ok.map(_.ms)
    val passS = passes.map(_._1).toSeq
    out.metric("curation.wall_s", Stats.median(passS), "s", passS.size)
    out.e2e("latency_p50_ms", Stats.median(keyMs), "ms")
    out.metric("curation.key_p50_ms", Stats.median(keyMs), "ms", keyMs.size)
    out.metric("curation.key_p95_ms", Stats.quantile(keyMs, 0.95), "ms", keyMs.size)
    out.metric(s"${a.workload}.throughput_per_s", calls.size / wallS, "1/s", calls.size)
    layerMetrics(a, out, counters, tracer, calls, wallS)
    // the last pass's outputs are on disk; the oracle checks them
    out.oracleKeys ++= (CurationHeavy ++ CurationServed)
      .filter(k => calls.reverseIterator.find(_.key == k).exists(_.error.isEmpty))
    finish(a, tracer, spark)
  }

  /** The workload's cold set-up: session start and `steps`, timed from JVM
    * start so class loading and static initialization count.
    */
  private def setUp(a: Main.Args, out: Result, tracer: Tracer)(
      steps: (SparkSession, String) => Unit): (SparkSession, String) = {
    val spark = tracer.span("setup") {
      val s = tracer.span("session.start")(Session.start(a.work))
      steps(s, a.data)
      s
    }
    Session.setupDone(spark, out)
    (spark, a.data)
  }

  /** Closed-loop refreshes for `seconds` (and at least `minRefreshes`):
    * each refresh's wall time and calls, and the window's wall time. */
  private def window(spark: SparkSession, dir: String, tracer: Tracer,
      seconds: Double, minRefreshes: Int): (Seq[(Double, Seq[Call])], Double) = {
    val refreshes = mutable.ArrayBuffer.empty[(Double, Seq[Call])]
    val t0 = System.nanoTime()
    while (refreshes.size < minRefreshes || (System.nanoTime() - t0) / 1e9 < seconds) {
      val r0 = System.nanoTime()
      val calls = tracer.span("refresh", refreshes.size.toString)(
        refresh(spark, dir, tracer))
      refreshes += (((System.nanoTime() - r0) / 1e9, calls))
    }
    (refreshes.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** trace.overhead_pct: the traced window's median latency against that
    * of the untraced stretch run just before it in the same JVM. */
  private[perfbench] def overhead(out: Result, traced: Seq[Double], untraced: Seq[Double]): Unit =
    if (traced.nonEmpty && untraced.nonEmpty) {
      out.layer("trace.overhead_pct", 100.0 * (Stats.median(traced) / Stats.median(untraced) - 1.0), "%")
      out.metric("trace.untraced_p50_ms", Stats.median(untraced), "ms", untraced.size)
    }

  /** One dashboard refresh: every panel, at most `nproc` in flight. */
  private def refresh(spark: SparkSession, dir: String, tracer: Tracer): Seq[Call] = {
    val pool = Executors.newFixedThreadPool(Session.cores)
    val parent = tracer.currentId
    try {
      val futures = DashboardPanels.map { k =>
        pool.submit(new Callable[Call] {
          def call(): Call = tracer.under(parent)(runKey(spark, dir, k, tracer, None))
        })
      }
      futures.map(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  /** One query key: the `SparkEntry.queries` call (build) and its
    * materialization (exec) — collected like a dashboard client, or written
    * as parquet like a batch build when `write` names the work directory.
    */
  private def runKey(spark: SparkSession, dir: String, key: String, tracer: Tracer,
      write: Option[String]): Call = {
    val sc = spark.sparkContext
    sc.setLocalProperty(EngineCounters.KeyProp, key)
    val start = System.nanoTime()
    var mid = start
    try tracer.span("key", key) {
      sc.setLocalProperty(EngineCounters.PhaseProp, "build")
      val df = tracer.span("build", key)(graft.SparkEntry.queries(key)(spark, dir))
      mid = System.nanoTime()
      sc.setLocalProperty(EngineCounters.PhaseProp, "exec")
      val rows = tracer.span("exec", key) {
        write match {
          case None => Some(df.collect())
          case Some(work) =>
            forOracle(df).write.mode("overwrite").parquet(s"$work/out/$key")
            None
        }
      }
      val end = System.nanoTime()
      Call(key, mid - start, end - mid, rows.map(digestOf), None, rows, df.schema)
    } catch {
      case t: Throwable =>
        val end = System.nanoTime()
        Call(key, mid - start, end - mid, None,
          Some(s"${t.getClass.getSimpleName}: ${t.getMessage}"))
    } finally {
      sc.setLocalProperty(EngineCounters.KeyProp, null)
      sc.setLocalProperty(EngineCounters.PhaseProp, null)
    }
  }

  /** Timestamps as TIMESTAMP_NTZ, the type DuckDB's oracle results carry. */
  private def forOracle(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.TimestampType => d.withColumn(f.name, d.col(f.name).cast("timestamp_ntz"))
        case _ => d
      }
    }

  private def digestOf(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Every refresh must return the same rows for a panel. */
  private def consistent(calls: Seq[Call], out: Result): Unit =
    calls.filter(_.digest.nonEmpty).groupBy(_.key).foreach { case (k, cs) =>
      if (cs.map(_.digest).distinct.size > 1) out.failure(s"$k: results differ between refreshes")
    }

  /** Writes each successful call's collected rows for the DuckDB oracle. */
  private def dump(spark: SparkSession, a: Main.Args, out: Result, calls: Seq[Call]): Unit =
    calls.filter(_.rows.nonEmpty).foreach { c =>
      forOracle(spark.createDataFrame(c.rows.get.toList.asJava, c.schema))
        .coalesce(1).write.mode("overwrite").parquet(s"${a.work}/out/${c.key}")
      out.oracleKeys += c.key
    }

  private def attach(spark: SparkSession, trace: Boolean): Option[EngineCounters] =
    if (!trace) None
    else {
      val c = new EngineCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    }

  private def detach(spark: SparkSession, c: Option[EngineCounters]): Unit =
    c.foreach { l =>
      // drain the listener bus so the last tasks' metrics are counted
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }

  /** Engine and graft.ops per-layer metrics of the timed window (traced run). */
  private[perfbench] def layerMetrics(a: Main.Args, out: Result, counters: Option[EngineCounters],
      tracer: Tracer, calls: Seq[Call], wallS: Double): Unit = counters.foreach { c =>
    val t = c.total
    val w = a.workload
    engineLayer(out, c, t, wallS)
    out.layer("ops.build_s", calls.map(_.buildNs).sum / 1e9, "s")
    out.layer("ops.build_jobs", t.buildJobs.toDouble, "count")
    out.layer("ops.exec_s", calls.map(_.execNs).sum / 1e9, "s")
    // per key: reported by full name, outside the contract's metric list
    calls.groupBy(_.key).foreach { case (k, cs) =>
      c.perKey.get(k).foreach { acc =>
        val n = cs.size.toDouble
        val wallMs = cs.map(_.ms).sum
        out.metric(s"$w.key.$k.jobs", acc.jobs / n, "count", cs.size)
        out.metric(s"$w.key.$k.stages", acc.stages / n, "count", cs.size)
        out.metric(s"$w.key.$k.tasks", acc.tasks / n, "count", cs.size)
        out.metric(s"$w.key.$k.driver_only_s", math.max(0.0, wallMs - c.busyMillis(acc)) / 1e3 / n, "s", cs.size)
        out.metric(s"$w.key.$k.build_s", cs.map(_.buildNs).sum / 1e9 / n, "s", cs.size)
        out.metric(s"$w.key.$k.build_jobs", acc.buildJobs / n, "count", cs.size)
        out.metric(s"$w.key.$k.task_run_s", acc.runMs / 1e3 / n, "s", cs.size)
        out.metric(s"$w.key.$k.shuffle_write_mb", acc.shWrite / 1e6 / n, "MB", cs.size)
      }
    }
  }

  /** The Spark engine's counters over a window of `wallS` seconds. */
  private[perfbench] def engineLayer(out: Result, c: EngineCounters, t: EngineCounters.Acc,
      wallS: Double): Unit = {
    out.layer("engine.jobs", t.jobs.toDouble, "count")
    out.layer("engine.stages", t.stages.toDouble, "count")
    out.layer("engine.tasks", t.tasks.toDouble, "count")
    out.layer("engine.driver_only_s", math.max(0.0, wallS - c.busyMillis(t) / 1e3), "s")
    out.layer("engine.task_run_s", t.runMs / 1e3, "s")
    out.layer("engine.task_cpu_s", t.cpuNs / 1e9, "s")
    out.layer("engine.gc_s", t.gcMs / 1e3, "s")
    out.layer("engine.core_use", t.runMs / 1e3 / (wallS * Session.cores), "ratio")
    out.layer("engine.shuffle_write_mb", t.shWrite / 1e6, "MB")
    out.layer("engine.shuffle_read_mb", t.shRead / 1e6, "MB")
    out.layer("engine.spill_mb", t.spill / 1e6, "MB")
    out.layer("engine.peak_exec_mem_mb", t.peakMem / 1e6, "MB")
  }

  private[perfbench] def finish(a: Main.Args, tracer: Tracer, spark: SparkSession): Unit = {
    if (a.trace) tracer.write(Paths.get(a.work, "trace.jsonl"))
    spark.stop()
  }
}
