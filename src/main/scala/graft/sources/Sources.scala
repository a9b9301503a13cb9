package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink builders (SURVEY §2.1 S1–S7): Kafka and file streams in,
  * JSON envelope parsing with a bad-record side channel, Kafka sinks keyed
  * for per-entity partition ordering.
  *
  * The wire format nests the payload (`{"eventId","ts","payload":{...}}`,
  * reference `core/BaseEvent.kt:9-27`); timestamps are ISO-8601 strings.
  */
object Sources {

  val entityEventWireSchema: StructType = StructType(Seq(
    StructField("eventId", StringType),
    StructField("ts", StringType),
    StructField("payload", StructType(Seq(
      StructField("entityId", StringType),
      StructField("profile", StringType),
      StructField("type", StringType),
      StructField("value", LongType),
      StructField("tags", MapType(StringType, StringType)))))))

  val cdpEventWireSchema: StructType = StructType(Seq(
    StructField("eventId", StringType),
    StructField("ts", StringType),
    StructField("payload", StructType(Seq(
      StructField("type", StringType),
      StructField("anonymousId", StringType),
      StructField("userId", StringType),
      StructField("email", StringType),
      StructField("name", StringType),
      StructField("properties", MapType(StringType, StringType)),
      StructField("traits", MapType(StringType, StringType)))))))

  /** S1/S2: Kafka source. `spark.readStream` with JSON value parsing. */
  def kafkaStream(spark: SparkSession, brokers: String, topic: String,
                  schema: StructType): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()
      .select(from_json(col("value").cast("string"), schema).as("j"))
      .select(flattenWire: _*)

  /** File (json-lines) stream — the test/replay source. */
  def fileStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(path)
      .select(from_json(col("value"), schema).as("j"))
      .select(flattenWire: _*)

  /** Batch JSON parse of the same envelope (replay path). */
  def parseWire(df: DataFrame, schema: StructType): DataFrame =
    df.select(from_json(col("value"), schema).as("j")).select(flattenWire: _*)

  private def flattenWire = Seq(
    col("j.eventId").as("eventId"),
    to_timestamp(col("j.ts")).as("ts"),
    col("j.payload.*"))

  /** P1 validation (`CdpEvent.kt:36-44`): eventId non-blank, >= 1
    * identifier, TRACK requires name. Returns (valid, invalid) — the
    * invalid side carries a reason column (bad-record side output).
    */
  def validateCdp(df: DataFrame): (DataFrame, DataFrame) = {
    val reason =
      when(trim(coalesce(col("eventId"), lit(""))) === "", "blank_event_id")
        .when(coalesce(nullif(trim(col("anonymousId")), lit("")),
          nullif(trim(col("userId")), lit("")),
          nullif(trim(col("email")), lit(""))).isNull, "no_identifier")
        .when(col("type") === "TRACK" &&
          trim(coalesce(col("name"), lit(""))) === "", "track_without_name")
    val tagged = df.withColumn("invalid_reason", reason)
    (tagged.filter(col("invalid_reason").isNull).drop("invalid_reason"),
      tagged.filter(col("invalid_reason").isNotNull))
  }

  /** S3/S4: Kafka sink keyed for per-key partition ordering — entityId for
    * entity events, coalesce(userId, anonymousId, eventId) for CDP
    * (`CdpEvent.kt:28-30`).
    */
  def kafkaSink(df: DataFrame, brokers: String, topic: String,
                keyCol: org.apache.spark.sql.Column): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.select(keyCol.cast("string").as("key"),
        to_json(struct(df.columns.map(col): _*)).as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)

  /** S6 transport toggle: kafka|file are factory-constructible here;
    * memory mode wires a MemoryStream directly (tests own its lifecycle),
    * so requesting it raises with that instruction.
    */
  def entityStream(spark: SparkSession, mode: String,
                   brokersOrPath: String, topic: String = "entity-events"): DataFrame =
    mode match {
      case "kafka" => kafkaStream(spark, brokersOrPath, topic, entityEventWireSchema)
      case "file"  => fileStream(spark, brokersOrPath, entityEventWireSchema)
      case other   => throw new IllegalArgumentException(
        s"transport.mode=$other (memory mode uses MemoryStream directly in tests)")
    }
}
