package graft

import org.apache.spark.sql.SparkSession

/** Session builders with the engine's recommended configuration.
  *
  * `batch` mirrors what Verify/Bench use; `streaming` adds the stateful-
  * pipeline settings: RocksDB state store (bounded heap at 100 TB state),
  * a 1 s micro-batch (the reference's ticker cadence) is set per-query via
  * Trigger, and checkpointing is per-query. AQE (on by default in Spark 4)
  * handles skewed shuffle partitions at scale; shuffle partitions default
  * to the local core count here and should be ~2-3x total executor cores
  * on a cluster.
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

  def streaming(name: String, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // per-file checkpoint checksums (new in Spark 4.1) deadlock under
      // many concurrent small state-commit writes in local mode: every
      // executor thread parks in ChecksumCheckpointFileManager.awaitResult
      // and the micro-batch never finishes. Durability of the checkpoint
      // is unaffected — this disables only the extra checksum sidecars.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
}
