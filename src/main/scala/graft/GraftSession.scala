package graft

import org.apache.spark.sql.SparkSession

/** One-stop SparkSession builder with the engine's production posture —
  * the configuration a deployment of this library runs with, kept in code
  * so the 100 TB design decisions are executable, not just documented:
  *
  *  - AQE on with skew-join splitting: runtime re-plan handles the skewed
  *    keys (hot metrics, boilerplate near-dup clusters) that no static
  *    plan survives at scale.
  *  - Partition-size-targeted coalescing instead of a fixed shuffle
  *    partition count: `shufflePartitions` is only the initial number;
  *    AQE coalesces to ~64 MB targets.
  *  - RocksDB state store for streaming jobs: open-window + session +
  *    GroupState state lives off-heap with incremental checkpointing.
  *  - The engine's native functions (cosine_sim) injected via
  *    SparkSessionExtensions so SQL users get them too.
  *  - A fork-free `file:` filesystem ([[LocalFsConf]]). Spark ships
  *    without `libhadoop`, so the stock local filesystem shells out to
  *    `chmod` on every file create and mkdir and to `readlink` on every
  *    checkpoint rename: a JFR recording of one benchmark ingest run
  *    counted 5,780 process starts (2,142 `chmod`, 3,632 `readlink`), and
  *    the streaming WAL commit took 34 ms per micro-batch. Over
  *    [[graft.pipeline.NioLocalFileSystem]] the same run starts 6
  *    processes and the WAL commit takes 2 ms (PERF.md, "Fork-free local
  *    filesystem").
  */
object GraftSession {

  /** The Hadoop keys that route `file:` through the fork-free local
    * filesystem, for both the `FileSystem` API (sinks, committers, stores)
    * and the `FileContext` API (streaming offset and commit logs).
    */
  val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.pipeline.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.pipeline.NioLocalFs].getName)

  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config(LocalFsConf)
}
