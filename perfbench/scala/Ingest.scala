package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.net.OpcuaWire.{EpochTicks, Variant}

/** The reference's own job, live over real sockets:
  *
  *   OpcuaServer → OpcuaMqttAgent → MqttBroker → MqttBridge.source/decode
  *     → KafkaBridge.sinkLive → KafkaBroker → KafkaBridge.sourceLive
  *     → DataflowOps.enrichViaKv (RespServer) → type dispatch
  *     → IdempotentSink.parquetAppend
  *
  * The context lookup runs on the consumer leg: `KafkaBridge.encode` puts
  * only the five envelope fields on the wire, so context added before the
  * Kafka hop would not reach the sink.
  *
  * Load is open loop. One generator thread writes OPC-UA variables on a
  * fixed schedule and stamps each write's creation time (epoch µs, unique
  * per event) as its source timestamp; the timestamp is the event's id from
  * end to end. A ladder of one-second rungs first climbs from 80 rows/s
  * until a rung misses the limit; the design rung then offers the
  * reference's 20 rows/s (BASELINE.md) for the whole window, yields the
  * latency metrics and counts as the ladder's first rung.
  */
object Ingest {

  val DesignRate = 20.0
  /** The rungs above the design rung. */
  val Ladder: Seq[Double] = Seq(80.0, 320.0, 1280.0, 5120.0, 20480.0, 81920.0)
  val RungSeconds = 1.0
  /** How long the run waits for a failed rung's backlog before the window. */
  val FinalDrainS = 40.0
  /** Untimed design-rate stretch between the ladder and the window. */
  val SettleS = 10.0
  /** p99 event→commit limit: one 5-second Grafana refresh. */
  val LimitMs = 5000.0
  val Topic = "machine_events"
  val Operator = "operator-7"
  val Maintenance = "2025-10-01"

  /** One variable of the simulated machine; `kind` 0 numeric, 1 string, 2 boolean. */
  final case class Var(name: String, kind: Int, weight: Double)

  /** One offered event and what the sink must hold for it. */
  final case class Offered(tsUs: Long, name: String, text: String, num: Option[Double],
      rung: Int, lateNs: Long)
  /** `Offered.rung` of the initial values and the warm-up burst. */
  val Untimed = -1
  /** `Offered.rung` of the traced run's untraced reference stretch. */
  val Reference = -2

  private val States = Seq("Running", "Idle", "Error", "Maintenance", "Störung")

  /** The seed's machine: 12 variables, 7 numeric, 3 string, 2 boolean, with
    * Zipf-like write frequencies in a seed-chosen order.
    */
  def machine(rng: java.util.SplittableRandom): Seq[Var] = {
    val kinds = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
      .shuffle(Seq.fill(7)(0) ++ Seq.fill(3)(1) ++ Seq.fill(2)(2))
    kinds.zipWithIndex.map { case (k, i) => Var(s"var$i", k, 1.0 / (i + 1)) }
  }

  /** Draws one value for `v`: its wire text and numeric dispatch. */
  private def draw(v: Var, rng: java.util.SplittableRandom): (Any, String, Option[Double]) =
    v.kind match {
      case 0 =>
        // non-integral, plain-notation decimals: the JSON text survives
        // both wires unchanged
        var c = rng.nextInt(1, 100000)
        if (c % 100 == 0) c += 1
        val d = c / 100.0
        (d, d.toString, Some(d))
      case 1 => val s = States(rng.nextInt(States.size)); (s, s, None)
      case _ => val b = rng.nextBoolean(); (b, b.toString, None)
    }

  /** The live pipeline of one set-up. */
  final class Pipeline(val spark: SparkSession, work: String, tracer: Tracer) {
    val opc = new graft.net.OpcuaServer()
    val mqtt = new graft.net.MqttBroker()
    val kv = new graft.net.RespServer()
    val kafka = new graft.net.KafkaBroker(defaultPartitions = 3)
    kv.put("context:operator", Operator)
    kv.put("context:last_maintenance", Maintenance)
    val sinkDir = s"$work/sink"
    /** batchId → (commit epoch µs, write duration ns). */
    val commits = new ConcurrentHashMap[Long, (Long, Long)]()
    private val host = "127.0.0.1"

    val hydrate: StreamingQuery = graft.streaming.KafkaBridge.sinkLive(
      graft.streaming.MqttBridge.decode(graft.streaming.MqttBridge.source(spark, host, mqtt.port)),
      host, kafka.port, Topic, s"$work/ck-hydrate")
      .queryName("hydrate").start()

    private val append = graft.pipeline.IdempotentSink.parquetAppend(sinkDir)
    val dbwriter: StreamingQuery = graft.ops.DataflowOps
      .enrichViaKv(graft.streaming.KafkaBridge.sourceLive(spark, host, kafka.port, Topic), host, kv.port)
      // the DB agent's dispatch: JSON numbers become value_num, strings and
      // booleans stay text only
      .withColumn("value_num",
        when(expr("schema_of_variant(value_v)").isin("STRING", "BOOLEAN"), lit(null).cast("double"))
          .otherwise(expr("try_cast(value AS DOUBLE)")))
      .writeStream.queryName("dbwriter")
      .option("checkpointLocation", s"$work/ck-dbwriter")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        tracer.span("sink.commit", id.toString)(append(df, id))
        commits.put(id, (nowMicros(), System.nanoTime() - t0))
        ()
      }
      .start()

    // subscribe both streams before anything is published (QoS 0)
    hydrate.processAllAvailable()
    dbwriter.processAllAvailable()
    var agent: graft.streaming.OpcuaMqttAgent.Handle = _

    /** Creates the variables, then connects the agent (it browses them). */
    def connect(vars: Seq[Var], rng: java.util.SplittableRandom, offered: mutable.ArrayBuffer[Offered]): Unit = {
      vars.foreach { v =>
        val (value, text, num) = draw(v, rng)
        val ts = Clock.next()
        opc.putVariant(v.name, Variant.of(value), ts * 10 + EpochTicks)
        offered += Offered(ts, v.name, text, num, Untimed, 0L)
      }
      agent = graft.streaming.OpcuaMqttAgent.run(host, opc.port, opc.endpointUrl,
        "urn:example:pick-and-place", host, mqtt.port)
    }

    def kafkaEnd: Long = (0 until 3).map(p => math.max(0L, kafka.logEndOffset(Topic, p))).sum

    def close(): Unit = {
      Seq(() => if (agent != null) agent.close(), () => hydrate.stop(), () => dbwriter.stop(),
        () => opc.close(), () => mqtt.close(), () => kv.close(), () => kafka.close())
        .foreach(f => try f() catch { case _: Throwable => () })
    }
  }

  /** Strictly increasing epoch-µs creation stamps. */
  object Clock {
    private var last = 0L
    def next(): Long = synchronized {
      val i = java.time.Instant.now()
      val us = i.getEpochSecond * 1000000L + i.getNano / 1000
      last = math.max(us, last + 1)
      last
    }
  }

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Offers `n` events at `rate` per second from one thread, open loop. */
  private def offer(p: Pipeline, vars: Seq[Var], rng: java.util.SplittableRandom, rate: Double,
      seconds: Double, rung: Int, offered: mutable.ArrayBuffer[Offered]): Unit = {
    val n = math.max(1, math.round(rate * seconds).toInt)
    val cum = vars.map(_.weight).scanLeft(0.0)(_ + _).tail
    val total = cum.last
    // draw every input before the clock starts
    val plan = Array.fill(n) {
      val u = rng.nextDouble() * total
      val v = vars(math.min(cum.indexWhere(_ >= u), vars.size - 1))
      (v, draw(v, rng))
    }
    val start = System.nanoTime() + 2000000L
    var i = 0
    while (i < n) {
      val due = start + (i * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      val late = now - due
      val (v, (value, text, num)) = plan(i)
      val ts = Clock.next()
      p.opc.putVariant(v.name, Variant.of(value), ts * 10 + EpochTicks)
      offered += Offered(ts, v.name, text, num, rung, late)
      i += 1
    }
  }

  /** Offers the design rate for `seconds` from a generator thread while this
    * thread polls the monitor, then waits for the events to commit. */
  private def designStretch(p: Pipeline, mon: Monitor, vars: Seq[Var], rng: java.util.SplittableRandom,
      seconds: Double, rung: Int, offered: mutable.ArrayBuffer[Offered]): Boolean = {
    val gen = new Thread(() => offer(p, vars, rng, DesignRate, seconds, rung, offered))
    gen.start()
    while (gen.isAlive) { mon.poll(); Thread.sleep(50) }
    gen.join()
    drain(p, mon, offered.size, LimitMs / 1e3 + 5)
  }

  /** Waits until the sink holds `n` rows in total or `timeoutS` passes. */
  private def drain(p: Pipeline, mon: Monitor, n: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (mon.committedRows < n && System.nanoTime() < deadline) { mon.poll(); Thread.sleep(20) }
    mon.poll()
    mon.committedRows >= n
  }

  /** Reads both queries' progress and the Kafka backlog between events. */
  final class Monitor(p: Pipeline) {
    val progress = mutable.LinkedHashMap.empty[(String, Long), org.apache.spark.sql.streaming.StreamingQueryProgress]
    var lagMax = 0L
    def poll(): Unit = {
      Seq(p.hydrate, p.dbwriter).foreach { q =>
        q.recentProgress.foreach(pr => progress((q.name, pr.batchId)) = pr)
        q.exception.foreach(e => throw e)
      }
      lagMax = math.max(lagMax, p.kafkaEnd - committedRows)
    }
    def committedRows: Long =
      progress.collect { case (("dbwriter", _), pr) => pr.numInputRows }.sum
  }

  def run(a: Main.Args, out: Result): Unit = {
    val tracer = new Tracer(a.trace)
    val rng = new java.util.SplittableRandom(a.seed)
    val vars = machine(rng)
    out.note("variables", vars.map(v => s"${v.name}:${Seq("num", "str", "bool")(v.kind)}").mkString(","))
    val offered = mutable.ArrayBuffer.empty[Offered]
    val (p, mon) = tracer.span("setup") {
      val spark = tracer.span("session.start")(Session.start(a.work))
      val pl = tracer.span("pipeline.start")(new Pipeline(spark, a.work, tracer))
      tracer.span("agent.connect")(pl.connect(vars, rng, offered))
      val m = new Monitor(pl)
      // ready: the variables' initial values have reached the sink
      if (!drain(pl, m, offered.size, 60.0))
        throw new IllegalStateException("initial values did not reach the sink")
      (pl, m)
    }
    Session.setupDone(p.spark, out)
    // warm-up, after set-up: a burst through every hop, committed before
    // the ladder starts
    val w0 = System.nanoTime()
    tracer.span("warmup") {
      offer(p, vars, rng, 1000.0, 2.0, Untimed, offered)
      if (!drain(p, mon, offered.size, 60.0))
        throw new IllegalStateException("warm-up events did not reach the sink")
    }
    out.metric("ingest.warmup_s", (System.nanoTime() - w0) / 1e9, "s", 1)

    // ladder, before the window: climb from the first rung above the design
    // rate until a rung does not drain within the limit. Its micro-batches
    // also carry the JIT past the steep part of its warm-up (latency falls
    // over the first ~30 s of batches), so the window that follows is steadier.
    var rung = 1
    var climbing = true
    while (climbing && rung <= Ladder.size) {
      val rate = Ladder(rung - 1)
      tracer.span("rung", rate.toString)(offer(p, vars, rng, rate, RungSeconds, rung, offered))
      climbing = drain(p, mon, offered.size, LimitMs / 1e3)
      rung += 1
    }
    // a failed rung's backlog must land before the window: a rung that
    // misses the limit is slow, not lossy
    if (!drain(p, mon, offered.size, FinalDrainS))
      throw new IllegalStateException(s"the ladder's backlog did not drain within ${FinalDrainS}s")
    // back to small batches, and further down the warm-up slope, before
    // the clock starts
    if (!designStretch(p, mon, vars, rng, SettleS, Untimed, offered))
      throw new IllegalStateException("settling events did not reach the sink")

    // the traced run brackets its window with two untraced design-rate
    // half-windows, before the probes and the listener are attached and
    // after they are removed, so warm-up drift cancels: trace.overhead_pct
    // compares with them
    def untraced(): Unit = if (a.trace) {
      tracer.enabled = false
      try {
        if (!designStretch(p, mon, vars, rng, a.seconds / 2, Reference, offered))
          throw new IllegalStateException("untraced reference events did not reach the sink")
      } finally tracer.enabled = true
    }
    untraced()

    val probes = if (a.trace) Some(new Probes(p)) else None
    val counters = if (a.trace) {
      val c = new EngineCounters; p.spark.sparkContext.addSparkListener(c); Some(c)
    } else None
    val progressBefore = mon.progress.keySet.toSet
    val commitsBefore = p.commits.keySet.asScala.toSet
    val before = offered.size

    // design rung (rung 0): the window
    val t0 = System.nanoTime()
    val designOk = designStretch(p, mon, vars, rng, a.seconds, 0, offered)
    val windowS = (System.nanoTime() - t0) / 1e9
    counters.foreach { c =>
      org.apache.spark.perfbench.ListenerBus.drain(p.spark.sparkContext)
      p.spark.sparkContext.removeSparkListener(c)
    }
    val designProgress = mon.progress.filter { case (k, _) => !progressBefore(k) }.toMap
    val designCommits = p.commits.asScala.collect { case (id, (_, ns)) if !commitsBefore(id) => ns / 1e6 }.toSeq
    probes.foreach(_.close())
    untraced()
    val laneLag = mon.lagMax

    // correctness and latency, outside the window: read what the sink holds
    val landed = check(p, offered.toSeq, out)
    // open loop: each event is timed from when it was due, so a generator
    // stall counts against the events it delayed
    val lat = offered.toSeq.flatMap(o => landed.get(o.tsUs).map(c => o -> ((c - o.tsUs) / 1e3 + o.lateNs / 1e6)))
    val design = lat.filter(_._1.rung == 0).map(_._2)
    out.attempted = offered.size
    if (design.isEmpty) throw new IllegalStateException("no design-rung event reached the sink")
    out.metric("ingest.latency_p50_ms", Stats.median(design), "ms", design.size)
    out.metric("ingest.latency_p99_ms", Stats.quantile(design, 0.99), "ms", design.size)
    out.e2e("latency_p50_ms", Stats.median(design), "ms")
    // per rung, the design rung first: p99, loss, and whether it met the limit
    val rates = DesignRate +: Ladder
    val rungStats = (0 until rung).map { r =>
      val ev = offered.filter(_.rung == r)
      val ls = lat.filter(_._1.rung == r).map(_._2)
      val p99 = if (ls.isEmpty) Double.PositiveInfinity else Stats.quantile(ls, 0.99)
      val pass = ls.size == ev.size && p99 <= LimitMs
      out.note(s"rung_${rates(r).toInt}", f"offered=${ev.size} landed=${ls.size} p99_ms=$p99%.1f pass=$pass")
      (rates(r), pass)
    }
    val passed = rungStats.takeWhile(_._2)
    val maxRate = passed.lastOption.map(_._1).getOrElse(0.0)
    out.metric("ingest.max_rate_rows_s", maxRate, "rows/s", rungStats.size)
    out.note("design_drained", designOk.toString)

    if (a.trace) {
      engineAndStreamLayers(out, counters.get, designProgress, windowS)
      probes.foreach(_.report(out, tracer, offered.filter(_.rung == 0).toSeq, landed))
      out.layer("ingest.sink.commit_p50_ms", if (designCommits.isEmpty) 0.0 else Stats.median(designCommits), "ms")
      out.layer("ingest.sink.commit_p99_ms",
        if (designCommits.isEmpty) 0.0 else Stats.quantile(designCommits, 0.99), "ms")
      val files = Files.walk(Paths.get(p.sinkDir)).iterator().asScala.toSeq
        .filter(f => f.toString.endsWith(".parquet"))
      out.layer("ingest.sink.files", files.size.toDouble, "count")
      out.layer("ingest.sink.bytes_per_row", files.map(Files.size).sum.toDouble / math.max(1, landed.size), "B")
      out.layer("ingest.kafka.lag_max_rows", laneLag.toDouble, "rows")
      out.layer("ingest.gen.late_ms_max", offered.filter(_.rung >= 0).map(_.lateNs).max / 1e6, "ms")
      BatchWorkloads.overhead(out, design, lat.filter(_._1.rung == Reference).map(_._2))
      out.layer("ops.build_s", 0.0, "s")
      out.layer("ops.build_jobs", 0.0, "count")
      out.layer("ops.exec_s", 0.0, "s")
      tracer.write(Paths.get(a.work, "trace.jsonl"))
    }
    out.note("events_before_window", before.toString)
    p.close()
    p.spark.stop()
  }

  /** TopologySpec's checks at load: every offered event exactly once, with
    * its byte-exact value, its numeric dispatch and its context. Returns
    * each landed event's commit time (epoch µs) by creation stamp.
    */
  private def check(p: Pipeline, offered: Seq[Offered], out: Result): Map[Long, Long] = {
    val rows = p.spark.read.parquet(p.sinkDir)
      .select(expr("unix_micros(ts)").as("ts_us"), col("metric"), col("value"), col("value_num"),
        col("operator"), col("last_maintenance"), col("batch_id").cast("long"))
      .collect()
    val byTs = rows.groupBy(_.getLong(0))
    val want = offered.map(o => o.tsUs -> o).toMap
    var bad = 0L
    def fail(msg: String): Unit = { bad += 1; if (bad <= 20) out.failure(msg) }
    byTs.keys.filterNot(want.contains).foreach(ts => fail(s"unexpected row with ts_us=$ts"))
    val landed = mutable.Map.empty[Long, Long]
    offered.foreach { o =>
      byTs.get(o.tsUs) match {
        case None => fail(s"event ${o.tsUs} (${o.name}) never committed")
        case Some(rs) if rs.length > 1 => fail(s"event ${o.tsUs} committed ${rs.length} times")
        case Some(Array(r)) =>
          val num = if (r.isNullAt(3)) None else Some(r.getDouble(3))
          if (r.getString(1) != o.name) fail(s"event ${o.tsUs}: metric ${r.getString(1)} != ${o.name}")
          else if (r.getString(2) != o.text) fail(s"event ${o.tsUs}: value '${r.getString(2)}' != '${o.text}'")
          else if (num != o.num) fail(s"event ${o.tsUs}: value_num $num != ${o.num}")
          else if (r.getString(4) != Operator || r.getString(5) != Maintenance)
            fail(s"event ${o.tsUs}: context ${r.getString(4)}/${r.getString(5)}")
          else Option(p.commits.get(r.getLong(6))) match {
            case Some((at, _)) => landed(o.tsUs) = at
            case None => fail(s"event ${o.tsUs}: batch ${r.getLong(6)} has no commit record")
          }
      }
    }
    out.failed = bad
    if (bad > 20) out.failure(s"... and ${bad - 20} more")
    landed.toMap
  }

  private def engineAndStreamLayers(out: Result, c: EngineCounters,
      progress: Map[(String, Long), org.apache.spark.sql.streaming.StreamingQueryProgress],
      windowS: Double): Unit = {
    BatchWorkloads.engineLayer(out, c, c.total, windowS)
    Seq("hydrate", "dbwriter").foreach { q =>
      val ps = progress.collect { case ((`q`, _), pr) => pr }.toSeq
      val withRows = ps.filter(_.numInputRows > 0)
      val jobs = ps.headOption.map(pr => c.streamJobs(pr.id.toString)).getOrElse(0L)
      out.layer(s"ingest.$q.batches", withRows.size.toDouble, "count")
      out.layer(s"ingest.$q.rows_per_batch",
        if (withRows.isEmpty) 0.0 else withRows.map(_.numInputRows).sum.toDouble / withRows.size, "rows")
      out.layer(s"ingest.$q.jobs_per_batch", if (ps.isEmpty) 0.0 else jobs.toDouble / ps.size, "count")
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "triggerExecution")
        .foreach { phase =>
          val v = withRows.flatMap(pr => Option(pr.durationMs.get(phase)).map(_.toDouble))
          out.layer(s"ingest.$q.${phase}_ms", if (v.isEmpty) 0.0 else Stats.median(v), "ms")
        }
    }
  }

  /** Hop probes of the traced run: a second MQTT subscriber and a Kafka
    * group consumer record when each event crosses those wires.
    */
  final class Probes(p: Pipeline) {
    private val mqttSeen = new ConcurrentHashMap[Long, Long]()
    private val kafkaSeen = new ConcurrentHashMap[Long, Long]()
    private val TsUs = "\"ts_us\":(\\d+)".r
    private def tsOf(bytes: Array[Byte]): Option[Long] =
      TsUs.findFirstMatchIn(new String(bytes, "UTF-8")).map(_.group(1).toLong)

    private val sub = new graft.net.MqttClient("127.0.0.1", p.mqtt.port, "perfbench-probe")
    sub.subscribe(graft.streaming.MqttBridge.Topic) { (_, payload) =>
      val now = nowMicros(); tsOf(payload).foreach(ts => mqttSeen.putIfAbsent(ts, now))
    }
    private val consumer = new graft.net.KafkaGroupConsumer("127.0.0.1", p.kafka.port, "perfbench-probe")
    consumer.subscribe(Seq(Topic))
    @volatile private var running = true
    private val poller = new Thread(() =>
      while (running) consumer.poll(100).foreach { r =>
        val now = nowMicros(); tsOf(r.value).foreach(ts => kafkaSeen.putIfAbsent(ts, now))
      })
    poller.setDaemon(true)
    poller.start()

    def close(): Unit = {
      running = false; poller.join(5000)
      try consumer.close() catch { case _: Throwable => () }
      try sub.close() catch { case _: Throwable => () }
    }

    def report(out: Result, tracer: Tracer, events: Seq[Offered], landed: Map[Long, Long]): Unit = {
      // one span per event and hop, all three under the event's id
      events.foreach { o =>
        val ref = o.tsUs.toString
        val m = Option(mqttSeen.get(o.tsUs)).map(_.toLong)
        val k = Option(kafkaSeen.get(o.tsUs)).map(_.toLong)
        m.foreach(t => tracer.record("hop.opcua_mqtt", ref, o.tsUs * 1000, t * 1000))
        for (a <- m; b <- k) tracer.record("hop.mqtt_kafka", ref, a * 1000, b * 1000)
        for (a <- k; b <- landed.get(o.tsUs)) tracer.record("hop.kafka_commit", ref, a * 1000, b * 1000)
      }
      def hop(name: String, xs: Seq[Double]): Unit = {
        out.layer(s"ingest.hop.${name}_p50_ms", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
        out.layer(s"ingest.hop.${name}_p99_ms", if (xs.isEmpty) 0.0 else Stats.quantile(xs, 0.99), "ms")
      }
      val m = events.flatMap(o => Option(mqttSeen.get(o.tsUs)).map(t => (o.tsUs, t.toLong)))
      hop("opcua_mqtt", m.map { case (ts, t) => (t - ts) / 1e3 })
      hop("mqtt_kafka", m.flatMap { case (ts, t) => Option(kafkaSeen.get(ts)).map(k => (k - t) / 1e3) })
      hop("kafka_commit", events.flatMap(o =>
        Option(kafkaSeen.get(o.tsUs)).flatMap(k => landed.get(o.tsUs).map(c => (c - k) / 1e3))))
    }
  }
}
