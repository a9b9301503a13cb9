package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object SparkSpec {

  /** The specs' local session: the running one, or a new one with these
    * settings once the running one has stopped.
    */
  def session(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // transformWithState (CDP/entity/rolling-counter processors) requires
    // the RocksDB state store; the streaming settings are Sessions.streaming's
    .config(Sessions.streamingConf)
    .getOrCreate()
}

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session()

  override def afterAll(): Unit = {
    // shared across suites in one JVM; do not stop
    super.afterAll()
  }

  def ts(iso: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(iso))
}
