package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval recorded by the benchmark around a call into a layer.
  * `parent` is the id of the enclosing span (0 for a root); `ref` names the
  * request or event the span belongs to (a query key, an event timestamp).
  */
final case class Span(id: Long, parent: Long, name: String, ref: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled recorders cost one branch per call, so
  * the untraced run executes the same benchmark code paths as the traced one.
  * The traced run switches it off for its untraced reference stretch.
  */
final class Tracer(@volatile var enabled: Boolean) {
  // span times are epoch nanoseconds: a monotonic clock anchored once, so
  // spans taken here and event stamps taken on the wire share one axis
  private val epochNs0 = {
    val i = java.time.Instant.now(); i.getEpochSecond * 1000000000L + i.getNano
  }
  private val mono0 = System.nanoTime()
  def now(): Long = epochNs0 + (System.nanoTime() - mono0)
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** Times `body` as a span named `name`, nested under this thread's open span. */
  def span[T](name: String, ref: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, parent, name, ref, t0, now()))
        current.set(parent)
      }
    }

  /** The id of this thread's open span (0 when none). */
  def currentId: Long = current.get()

  /** Runs `body` on this thread as if inside span `parent` (which another
    * thread opened), so spans taken in a worker pool nest under it. */
  def under[T](parent: Long)(body: => T): T =
    if (!enabled) body
    else {
      val saved = current.get()
      current.set(parent)
      try body finally current.set(saved)
    }

  /** Records an interval measured elsewhere (e.g. one hop of one event),
    * in epoch nanoseconds. */
  def record(name: String, ref: String, startNs: Long, endNs: Long, parent: Long = 0L): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, name, ref, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span: its duration minus the union its children cover. */
  def selfTimes: Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"ref":${Json.str(s.ref)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Engine counters taken at job, stage and task boundaries, attributed to
  * the query key and phase ("build" inside the `SparkEntry.queries` call,
  * "exec" while materializing) that the submitting thread declared through
  * Spark local properties.
  */
final class EngineCounters extends SparkListener {
  import EngineCounters.Acc
  private val lock = new Object
  val total = new Acc
  val perKey = mutable.LinkedHashMap.empty[String, Acc]
  private val stageKey = new ConcurrentHashMap[Int, String]()
  val streamJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private val jobKey = mutable.Map.empty[Int, String]

  private def acc(key: String): Acc = perKey.getOrElseUpdate(key, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val p = Option(e.properties)
    val key = p.flatMap(x => Option(x.getProperty(EngineCounters.KeyProp))).getOrElse("")
    val phase = p.flatMap(x => Option(x.getProperty(EngineCounters.PhaseProp))).getOrElse("")
    p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).foreach(q => streamJobs(q) += 1)
    val targets = if (key.nonEmpty) Seq(total, acc(key)) else Seq(total)
    targets.foreach { a =>
      a.jobs += 1
      if (phase == "build") a.buildJobs += 1
      if (a.open == 0) a.sinceMs = e.time
      a.open += 1
    }
    jobKey(e.jobId) = key
    e.stageIds.foreach(s => stageKey.put(s, key))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    val key = jobKey.remove(e.jobId).getOrElse("")
    val targets = if (key.nonEmpty) Seq(total, acc(key)) else Seq(total)
    targets.foreach { a =>
      a.open = math.max(0, a.open - 1)
      if (a.open == 0) a.busyMs += e.time - a.sinceMs
    }
  }

  /** Milliseconds (by event time) during which at least one job of `a` ran. */
  def busyMillis(a: Acc): Long = lock.synchronized {
    a.busyMs + (if (a.open > 0) System.currentTimeMillis() - a.sinceMs else 0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    total.stages += 1
    val key = stageKey.getOrDefault(e.stageInfo.stageId, "")
    if (key.nonEmpty) acc(key).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    val key = stageKey.getOrDefault(e.stageId, "")
    val targets = if (key.nonEmpty) Seq(total, acc(key)) else Seq(total)
    targets.foreach { a =>
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }
}

object EngineCounters {
  /** Counts of one key, or of the whole window. */
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shWrite = 0L; var shRead = 0L; var spill = 0L; var peakMem = 0L
    var buildJobs = 0L
    var open = 0; var sinceMs = 0L; var busyMs = 0L
  }

  val KeyProp = "perfbench.key"
  val PhaseProp = "perfbench.phase"
}
