package graft

import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool: dumps `explain("formatted")` for
  * every registered query (or a comma-separated subset) under the SAME
  * session configuration the bench uses, one file per query, so plan
  * claims in OPTIMIZATION_r*.md are checkable against committed text.
  *
  * With `--exec` it runs each query first and dumps the final
  * `executedPlan` instead: runtime-only effects (AQE exchange and stage
  * reuse, skew splits under `SPARK_GRAFT_CONF=spark.sql.adaptive.enabled=true`)
  * are invisible in the static explain.
  *
  * Usage: runMain graft.PlanDump [--exec] <sfDir> <outDir> <suffix> [keys]
  *   e.g. runMain graft.PlanDump /root/testdata/sf0.1 plans/r17 before
  */
object PlanDump {
  def main(argv: Array[String]): Unit = {
    val (execFlag, args) = argv.partition(_ == "--exec")
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "plans/r17"
    val suffix = if (args.length > 2) args(2) else "before"
    val only = if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val spark = GraftSession.fixture()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val selected = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(kv => ks(kv._1)))
    // a failed dump must fail the RUN, not just print: a silently
    // incomplete plan set makes downstream before/after claims compare
    // against missing files
    var failures = 0
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan =
          if (execFlag.nonEmpty) {
            df.collect()
            df.queryExecution.executedPlan.toString
          } else df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $name ok")
      } catch {
        case e: Throwable =>
          failures += 1
          println(s"[plandump] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failures > 0) {
      System.err.println(s"PLANDUMP FAILED: $failures queries did not dump")
      sys.exit(1)
    }
  }
}
