package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark's JVM side. `perfbench/run.py` builds the
  * library and this package, generates the inputs from the seed, and runs
  *
  *   perfbench.Main <workload> <dataDir> <workDir> <seconds> <trace 0|1> <seed>
  *
  * The workload writes `<workDir>/result.json`: the end-to-end metrics, the
  * per-layer metrics (traced run only), a report with every metric by its
  * full name, unit and sample count, the session and host description, and
  * the correctness failures found inside the JVM. Query outputs that the
  * DuckDB oracle checks are left under `<workDir>/out/<key>`.
  */
object Main {

  final case class Args(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, seed: Long)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1", argv(5).toLong)
    val out = new Result(a)
    val code =
      try {
        a.workload match {
          case "ingest" => Ingest.run(a, out)
          case "dashboard" => BatchWorkloads.dashboard(a, out)
          case "curation" => BatchWorkloads.curation(a, out)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          out.failure(s"workload aborted: ${t.getClass.getSimpleName}: ${t.getMessage}")
          1
      } finally out.write()
    // the streaming sources and servers leave non-daemon threads behind
    // after a failure; exit explicitly once the result is on disk
    sys.exit(code)
  }
}

/** Everything one run reports, written as one JSON document. */
final class Result(a: Main.Args) {
  private val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val report = mutable.LinkedHashMap.empty[String, String]
  private val info = mutable.LinkedHashMap.empty[String, String]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Keys whose outputs under `out/` the DuckDB oracle must still check;
    * their oracle SQL is written with the result. */
  val oracleKeys = mutable.ArrayBuffer.empty[String]

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)
  /** A metric by its full name, with the number of samples behind it. */
  def metric(name: String, value: Double, unit: String, samples: Long): Unit =
    report(name) = s"""{"value":${Json.num(value)},"unit":${Json.str(unit)},"n":$samples}"""
  def note(name: String, value: String): Unit = info(name) = value
  def failure(msg: String): Unit = synchronized { failures += msg }

  def write(): Unit = {
    def obj(m: Iterable[(String, (Double, String))]) = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{" + s""""value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"workload":${Json.str(a.workload)},"seed":${a.seed},"seconds":${a.seconds},""" +
        s""""trace":${a.trace},"attempted":$attempted,"failed":$failed,""" +
        s""""end_to_end":${obj(endToEnd)},"per_layer":${obj(layers)},""" +
        s""""report":${report.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},""" +
        s""""info":${info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")},""" +
        s""""oracle_sql":${oracleKeys.flatMap(k => graft.SparkEntry.oracleSql.get(k)
          .map(sql => s"${Json.str(k)}:${Json.str(sql)}")).mkString("{", ",", "}")},""" +
        s""""failures":${synchronized(failures.toList).map(Json.str).mkString("[", ",", "]")}}"""
    Files.write(Paths.get(a.work, "result.json"), json.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** Order statistics with the same interpolation as Python's
  * `statistics.quantiles(..., method="inclusive")` and `statistics.median`.
  */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** The session every workload runs on: the library's production builder
  * at one task slot per core. Scratch space, the warehouse and the
  * artifact root are placed under the run's work directory so the run
  * writes nothing outside it.
  */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors

  def start(work: String): SparkSession = {
    val spark = graft.GraftSession.builder(master = s"local[$cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.artifactRoot", s"$work/artifacts")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Records `setup_s` — JVM start until the workload is ready, one cold
    * sample per run — and describes the session. */
  def setupDone(spark: SparkSession, out: Result): Unit = {
    val s = sinceJvmStartS
    out.e2e("setup_s", s, "s")
    out.metric("setup_s", s, "s", 1)
    describe(spark, out)
  }

  /** Session conf, core count and memory, so drift in either shows. */
  def describe(spark: SparkSession, out: Result): Unit = {
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
        k.startsWith("spark.graft.") || k == "spark.driver.memory" }
      .filterNot { case (k, _) => k == "spark.sql.warehouse.dir" || k == "spark.graft.artifactRoot" }
    out.note("spark_conf", conf.map { case (k, v) => s"$k=$v" }.mkString(";"))
    out.note("spark_version", spark.version)
    out.note("nproc", cores.toString)
    out.note("jvm_max_heap_mb", (Runtime.getRuntime.maxMemory >> 20).toString)
    val memKb = scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)).getOrElse(0L)
    out.note("host_mem_mb", (memKb >> 10).toString)
    out.note("host_cpu_index_ms", f"$cpuIndexMs%.1f")
  }

  /** Host speed index: median wall time of a fixed single-threaded integer
    * loop, so that a slow phase of the host shows next to the metrics. */
  def cpuIndexMs: Double = Stats.median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 0L; var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + i; i += 1 }
    if (x == 42) println(x)
    (System.nanoTime() - t0) / 1e6
  })

  /** Seconds since this JVM started, the set-up clock. */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1e3
}
