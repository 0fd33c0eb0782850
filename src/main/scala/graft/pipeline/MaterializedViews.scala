package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Batch materialization of the continuous aggregates AT REST — the
  * day-partitioned parquet table the dashboard's MV reads actually scan.
  *
  * In the reference the dashboard never recomputes `machine_stats_minute`;
  * it reads the persisted continuous aggregate
  * (grafana/dashboards/machine_dashboard.json:1120 FROM machine_stats_minute)
  * that TimescaleDB's refresh policy maintains (database/init.sql:37-54).
  * The streaming twin of that refresh loop is `MvRefreshJob`; this object is
  * the batch producer of the same layout, used by the `q_mv_read` read path
  * so the registered query exercises a real scan of written MV parquet —
  * day partition pruning, parquet stats — instead of a recompute.
  *
  * Write-once per JVM per fixture dir (rewritten fresh on first use in each
  * JVM): the MV is maintained continuously in a deployment, so its refresh
  * cost does not belong to every dashboard read.
  */
object MaterializedViews {

  private val prepared = new java.util.concurrent.ConcurrentHashMap[String, String]()

  // per-JVM directory token: the output lives in the SHARED java.io.tmpdir,
  // and the write-once guard below is per-JVM, so two JVMs benching the
  // same fixture concurrently (Bench + Verify, or two probes) would race
  // overwrite-vs-read on one directory — one could scan a half-written MV.
  // A per-JVM suffix removes the shared mutable path entirely; each JVM
  // still writes once (the per-READ refresh cost this object exists to
  // avoid), and the shutdown hook reclaims the scratch dir.
  private val jvmToken = java.util.UUID.randomUUID().toString.take(8)

  /** Day-partitioned minute-grain MV for `sfDir`; returns its directory.
    *
    * `computeIfAbsent` (not check-then-act): a concurrent caller BLOCKS
    * until the write commits instead of reading a half-written directory,
    * and a failed write leaves no mapping so the next call retries rather
    * than permanently poisoning the key for the JVM.
    */
  def minuteMvDir(spark: SparkSession, sfDir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = s"${sys.props("java.io.tmpdir")}/graft-mv-minute-$key-$jvmToken"
    prepared.computeIfAbsent(out, _ => {
      // reclaim siblings leaked by UNCLEAN exits (SIGKILL/OOM skip the
      // shutdown hook): a stale sibling is this key's dir from another
      // token, old enough that a LIVE concurrent JVM cannot own it
      sweepStaleSiblings(key, out)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          import scala.jdk.CollectionConverters._
          val root = java.nio.file.Paths.get(out)
          if (java.nio.file.Files.exists(root))
            java.nio.file.Files.walk(root)
              .sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(java.nio.file.Files.delete)
        } catch { case _: Throwable => () }))
      graft.ops.RelationalOps.minuteMv(spark, sfDir)
        // day partitioning at rest = the hypertable chunk layout
        // (init.sql:11): a bucket-range dashboard predicate prunes whole
        // day directories before any row-group I/O
        .withColumn("day", date_format(col("bucket"), "yyyy-MM-dd"))
        // (day, metric) task keying like PartitionedWriter: day alone would
        // be one task per day — a single writer for a whole day's MV rows
        // at scale; metric in the key restores write parallelism and the
        // sort clusters row groups for the metric-equality read predicate
        .repartition(col("day"), col("metric"))
        .sortWithinPartitions(col("metric"), col("bucket"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
      out
    })
  }

  /** Delete graft-mv-minute-<key>-* siblings whose last modification is
    * older than a day: dead JVMs' scratch (their shutdown hook never ran).
    * The age bound is what keeps this safe against a CONCURRENT live JVM
    * — its directory is necessarily fresh.
    */
  private def sweepStaleSiblings(key: String, keep: String): Unit =
    try {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"))
      val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
      val prefix = s"graft-mv-minute-$key-"
      Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isDirectory && f.getName.startsWith(prefix) &&
          f.getAbsolutePath != keep && f.lastModified() < cutoff) {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(f.toPath)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(p =>
              try java.nio.file.Files.delete(p) catch { case _: Throwable => () })
          finally walk.close()
        }
      }
    } catch { case _: Throwable => () } // best-effort housekeeping

  /** The MV as a DataFrame. Each call pays partition discovery and schema
    * inference; a dashboard deployment avoids that with a registered
    * catalog table whose metastore prunes partitions without listing.
    */
  def minuteMvDf(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(minuteMvDir(spark, sfDir))
}
