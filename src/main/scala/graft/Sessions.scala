package graft

import org.apache.spark.sql.SparkSession

/** Session builders with the engine's recommended configuration.
  *
  * `batch` mirrors what Verify/Bench use; `streaming` adds the stateful-
  * pipeline settings of [[Sessions.streamingConf]]. A 1 s micro-batch (the
  * reference's ticker cadence) is set per-query via Trigger, and
  * checkpointing is per-query. AQE (on by default in Spark 4) handles
  * skewed shuffle partitions at scale; shuffle partitions default to the
  * local core count here and should be ~2-3x total executor cores on a
  * cluster.
  */
object Sessions {

  def batch(name: String, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Coalesce post-shuffle partitions to the advisory target instead of
      // keeping one-per-core parallelism: multi-stage pipelines over
      // small-to-medium shuffles otherwise schedule `cores` near-empty
      // tasks per exchange, and the scheduling overhead dominates (the
      // curation funnel's ~30 exchanges at sf0.1 carry only thousands of
      // rows each). At cluster scale this is the documented production
      // setting — partitions track data size (64 MB advisory), not a
      // fixed count, which is exactly the 100 TB posture.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .getOrCreate()

  /** The stateful-pipeline settings, one definition for `streaming` and
    * the test session:
    *  - RocksDB state store (bounded heap at 100 TB state) with changelog
    *    checkpointing, so a commit writes one changelog per partition;
    *  - no per-file checkpoint checksums (new in Spark 4.1): they deadlock
    *    under many concurrent small state-commit writes in local mode —
    *    every executor thread parks in
    *    `ChecksumCheckpointFileManager.awaitResult` and the micro-batch
    *    never finishes. This drops only Spark's extra checksum files;
    *    Hadoop's `.crc` sidecars stay;
    *  - [[graft.streaming.LocalCheckpointFileManager]] as the checkpoint
    *    file manager (see `streaming`); the key is read when a query
    *    starts.
    */
  val streamingConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName)

  /** A local session with [[streamingConf]].
    *
    * Checkpoint files (offset and commit logs, RocksDB state changelogs and
    * snapshot metadata) go through [[graft.streaming.LocalCheckpointFileManager]].
    * Spark's default manager goes through Hadoop's `FileContext`, which on
    * `file:` starts a `chmod` for each checkpoint file and for its `.crc`,
    * and about 6 `readlink`s per rename: about 8 process starts per file,
    * several ms each (2,247 of the 2,489 process starts of a pbench
    * `stream_replay` run). On local paths the manager writes the same
    * files with no process start: temp file + rename, verified `.crc`
    * sidecars in the same format (a checkpoint restarts under either
    * manager), umasked permission bits, and `FileAlreadyExistsException`
    * when a file it must not overwrite exists. On any other scheme it is
    * Spark's default manager, unchanged.
    */
  def streaming(name: String, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(streamingConf)
      .getOrCreate()
}
