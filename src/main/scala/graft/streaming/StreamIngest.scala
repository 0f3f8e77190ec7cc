package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The reference's one always-on job re-derived as Structured Streaming:
  * Kafka topic `music_recommendations` → JSON decode → flatten → Delta
  * bronze sink with checkpoint
  * (reference pyspark_jobs/process_recommendation_events.py:57–84).
  *
  * The source is abstracted (SURVEY.md §7.5 item 4) so the identical
  * parse-and-persist query runs against:
  *   - [[EventSource.Kafka]] in the production shape (the reference's
  *     subscribe + startingOffsets=earliest, :57–62) — compiles against
  *     stock Spark; needs the spark-sql-kafka connector at runtime;
  *   - [[EventSource.Files]] offline: a directory of JSON-lines files
  *     standing in for the topic, one line per Kafka record value.
  *
  * Both produce a single `value: string` column, so everything from
  * `from_json` onward is byte-for-byte the same query.
  *
  * Scale posture: the query is stateless map-only (§2.9) — no watermark or
  * state store needed; throughput scales with source partitions (Kafka
  * partitions / input files). The parquet sink partitions by event date so
  * the bronze table prunes on date at read time, mirroring the reference's
  * partitioned bronze layout (process_historical_data.py:53).
  */
object StreamIngest {

  /** Kafka payload schema (process_recommendation_events.py:27–31):
    * requestedUserId, recommendations array, ISO-8601 timestamp STRING —
    * kept as string exactly like the reference (no event-time ops, §2.9).
    */
  val payloadSchema: StructType = StructType(Seq(
    StructField("requestedUserId", LongType),
    StructField("recommendations", ArrayType(IntegerType)),
    StructField("timestamp", StringType)))

  sealed trait EventSource {
    /** A streaming DataFrame with exactly one `value: string` column. */
    def load(spark: SparkSession): DataFrame
  }
  object EventSource {
    /** Production shape (process_recommendation_events.py:57–62). */
    final case class Kafka(bootstrapServers: String, topic: String) extends EventSource {
      def load(spark: SparkSession): DataFrame =
        spark.readStream.format("kafka")
          .option("kafka.bootstrap.servers", bootstrapServers)
          .option("subscribe", topic)
          .option("startingOffsets", "earliest")
          .load()
          .selectExpr("CAST(value AS STRING) AS value")
    }
    /** Offline stand-in: each text line = one Kafka record value. */
    final case class Files(path: String, maxFilesPerTrigger: Option[Int] = None)
        extends EventSource {
      def load(spark: SparkSession): DataFrame = {
        val r = spark.readStream
        maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
        r.text(path).select(col("value").cast("string").as("value"))
      }
    }
  }

  /** The shared parse-and-flatten transform (S7,
    * process_recommendation_events.py:66–67): JSON value → struct →
    * top-level columns. Runs identically on streaming and batch frames —
    * the correctness gate exercises it both ways.
    */
  def parse(values: DataFrame): DataFrame =
    values
      .select(from_json(col("value"), payloadSchema).as("data"))
      .select(col("data.*"))
      // Derived partition column: ISO-8601 strings are lexicographic, so
      // substring beats a full timestamp parse and stays codegen-friendly.
      .withColumn("event_date", substring(col("timestamp"), 1, 10))

  /** Checkpointed append sink (S9, process_recommendation_events.py:78–82;
    * parquet stands in for Delta offline per SURVEY §7.3). Partitioned by
    * `event_date` — the reason parse() derives the column at all: the
    * bronze table prunes on date at read time (scaladoc's claimed layout,
    * which an unpartitioned sink would silently not deliver). */
  def startSink(parsed: DataFrame, outPath: String, checkpointPath: String,
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    parsed.writeStream
      .format("parquet")
      .outputMode("append")
      .partitionBy("event_date")
      .option("checkpointLocation", checkpointPath)
      .option("path", outPath)
      .trigger(trigger)
      .start()

  /** foreachBatch sink: hands each micro-batch to arbitrary batch-writer
    * logic with its batch id — the shape used for idempotent upserts /
    * partition overwrites where a plain append sink can't express the
    * write (the Delta-MERGE pattern in the reference architecture's
    * lineage). The batch id lets the writer deduplicate re-delivered
    * batches after recovery.
    */
  def startForeachBatchSink(parsed: DataFrame, checkpointPath: String,
                            trigger: Trigger = Trigger.AvailableNow())(
      write: (DataFrame, Long) => Unit): StreamingQuery =
    parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch(write)
      .trigger(trigger)
      .start()

  /** Debug console tap (S8, process_recommendation_events.py:70–74). */
  def startConsoleTap(parsed: DataFrame, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    parsed.writeStream
      .format("console")
      .outputMode("append")
      .option("numRows", 5)
      .trigger(trigger)
      .start()

  /** Kafka producer sink shape (S14, KafkaEventProducer.cs:42–65 /
    * Program.cs:57–66): payload rows serialized back to JSON `value`
    * records and written to a topic. Compiles against stock Spark; needs
    * the spark-sql-kafka connector at runtime (same as the source).
    */
  def writeKafka(payload: DataFrame, bootstrapServers: String, topic: String): Unit =
    payload
      .select(to_json(struct(payload.columns.toIndexedSeq.map(col): _*)).as("value"))
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .save()

  /** The reference's second producer value schema, verbatim semantics
    * (RecommendationEventSchema.cs:5–19): the Avro record the C#
    * `AvroSerializer<RecommendationEvent>` registers and emits. */
  val RecommendationEventAvroSchema: String =
    """{"type":"record","name":"RecommendationEvent",
      |"namespace":"com.harman.music","fields":[
      |{"name":"requestedUserId","type":"long"},
      |{"name":"recommendations","type":{"type":"array","items":"long"}},
      |{"name":"timestamp","type":"string"}]}""".stripMargin

  /** Avro leg of S14 (KafkaEventProducer.cs:27–36, the Schema-Registry
    * producer): rows with columns (requestedUserId, recommendations,
    * timestamp) encoded to the Confluent wire format — magic byte +
    * big-endian schema id + Avro binary — via [[graft.functions
    * .avro_encode]] (built on the classpath's core Avro library; the
    * spark-avro connector module is absent offline). `schemaId` is what a
    * live deployment would get from registering
    * [[RecommendationEventAvroSchema]] with the registry REST API once at
    * startup. The byte-exact encoding is oracle-gated by
    * q172_avro_roundtrip; only the broker handshake itself remains
    * untestable offline.
    */
  def writeKafkaAvro(payload: DataFrame, bootstrapServers: String,
                     topic: String, schemaId: Int): Unit =
    payload
      .select(graft.functions.avro_encode(
        struct(col("requestedUserId"), col("recommendations"), col("timestamp")),
        RecommendationEventAvroSchema, schemaId).as("value"))
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .save()

  /** Run the full job to completion over a bounded source: parse, persist,
    * optionally tee to console, await every query (S10,
    * process_recommendation_events.py:84 runs both sinks concurrently).
    * Returns the sink path read back as a batch DataFrame.
    */
  def runToCompletion(spark: SparkSession, source: EventSource, outPath: String,
                      checkpointPath: String, consoleTap: Boolean = false): DataFrame = {
    val parsed = parse(source.load(spark))
    val sink = startSink(parsed, outPath, checkpointPath)
    val tap = if (consoleTap) Some(startConsoleTap(parsed)) else None
    sink.awaitTermination()
    tap.foreach(_.awaitTermination())
    readSink(spark, outPath, payloadSchema.add("event_date", StringType))
  }

  /** Read a bounded run's parquet sink with its expected schema; a run
    * whose source held zero records commits no batch and never creates
    * the sink path — that reads as an empty frame instead of throwing.
    * The one sink reader of every bounded `run*` driver here. */
  private[streaming] def readSink(spark: SparkSession, outPath: String,
                                  schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(outPath)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(outPath)
  }
}
