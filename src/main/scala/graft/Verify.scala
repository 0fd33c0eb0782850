package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the session Bench measures, so the oracle checks the benched config
    val spark = GraftSession.fixture()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration (same contract as
    // Bench's SPARK_GRAFT_ONLY); the dumped oracle_sql.json is filtered to
    // the subset so check_oracle.py compares exactly what was dumped.
    // Driver runs set no subset and get the full registry.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(kv => ks(kv._1)))
    var failures = List.empty[String]
    selected.foreach { case (name, fn) =>
      // delete any previous dump FIRST: a query that throws before its
      // overwrite starts must leave a missing dir (a red row in the
      // driver's compare), never a stale pass from an earlier run
      val target = java.nio.file.Paths.get(s"$outDir/$name")
      if (java.nio.file.Files.exists(target)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(target)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
        finally walk.close()
      }
      try {
        val out = fn(spark, sfDir)
        // Session TZ is UTC, so TIMESTAMP → TIMESTAMP_NTZ keeps the wall
        // clock; parquet then stores naive µs (isAdjustedToUTC=false), the
        // exact type DuckDB's oracle result has — tz-aware µs or INT96 ns
        // would hash-mismatch in the driver's compare.
        val casted = out.schema.fields.foldLeft(out) { (df, f) =>
          f.dataType match {
            case org.apache.spark.sql.types.TimestampType =>
              df.withColumn(f.name, df.col(f.name).cast("timestamp_ntz"))
            case _ => df
          }
        }
        casted.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failures ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} queries failed (missing dumps): ${failures.reverse.mkString(", ")}")
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${Jsons.quote(k)}: ${Jsons.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
