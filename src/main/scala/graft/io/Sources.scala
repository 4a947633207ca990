package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.PipelineConfig

/** Streaming and batch sources (S1-S5 reader side).
  *
  * Kafka source parallelism equals the topic's partition count (the
  * reference provisions 3, init-topics.txt:5-17); at 100 TB/day the scale
  * lever is partitions on the topic plus `minPartitions` here — the plan
  * stays identical.
  */
object Sources {

  /** S1-S3: the raw sensor-ingest stream
    * (reference: data_persistance.py:68-73, alert_detector.py:71-79,
    * data_agregator.py:57-62). `failOnDataLoss=false` matches the alert
    * detector's posture and is what you want operationally: a compacted /
    * expired offset should not kill the query (alert_detector.py:78).
    */
  def sensorStream(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    kafkaStream(spark, cfg, cfg.kafka.sensorTopic)

  /** S4: the derived alert stream, consumed by the mail notifier
    * (reference: gestionnaire_mail.py:89-101 — a hand-rolled KafkaConsumer
    * loop there; a fourth Structured Streaming query here, removing the
    * reference's blocking-main hazard, SURVEY §3.4).
    */
  def alertStream(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    kafkaStream(spark, cfg, cfg.kafka.alertTopic)

  def kafkaStream(
      spark: SparkSession,
      cfg: PipelineConfig,
      topic: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", cfg.kafka.bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", "false")
      .load()

  /** Batch JSONL reader for the reference's sensor payloads: one JSON
    * document per line, pushed through the SAME permissive parse chain as
    * live Kafka traffic (`Parse.jsonToReadings`), so a dump of raw
    * payloads replays bit-identically to the stream. Read as text, not
    * `spark.read.json` — schema inference would take an extra pass over
    * 100 TB and silently widen types the fixed schema pins down.
    */
  def readingsFromJsonl(spark: SparkSession, path: String): DataFrame =
    graft.ops.Parse.jsonToReadings(
      spark.read.text(path).withColumnRenamed("value", "json"), "json")

  /** Batch CSV ingest with an EXPLICIT schema and PERMISSIVE corrupt-row
    * capture — the data-lake landing-zone face of the parse chain (the
    * third wire format next to parquet and JSONL). Schema inference is
    * deliberately off: at 100 TB an inference pass is a full extra read,
    * and a drifting inferred type silently rewrites downstream semantics;
    * the explicit schema + `_corrupt_record` column makes bad rows
    * VISIBLE (`WHERE _corrupt_record IS NOT NULL` is the quarantine
    * query) instead of dropped or job-fatal.
    *
    * Spark restriction: a query whose required schema prunes to ONLY the
    * internal corrupt-record column (e.g. `.select("_corrupt_record")`,
    * or a filtered `.count()` after the quarantine predicate) raises
    * AnalysisException — `cache()` the parsed frame first, or keep a data
    * column in the projection alongside `_corrupt_record`.
    */
  def eventsFromCsv(
      spark: SparkSession,
      path: String,
      header: Boolean = true): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING, " +
          "_corrupt_record STRING"))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** ORC landing-zone source — the fourth batch wire format next to
    * parquet / JSONL / CSV. ORC is TYPED (the schema rides the file), so
    * there is no PERMISSIVE corrupt-record lane like the CSV/JSON paths:
    * a structurally corrupt file fails the reader loudly, and the
    * explicit read schema pins column names/types so pruning and
    * predicate pushdown behave exactly like the parquet path (ORC
    * row-group PPD is on by default — `PushedFilters` shows in the scan,
    * unit-pinned in SourcesSpec).
    */
  def eventsFromOrc(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING"))
      .orc(path)

  /** Avro landing-zone source — the fifth batch wire format. Spark 4
    * ships the Avro connector classes inside spark-sql but does NOT list
    * them in the DataSourceRegister service file, so the short name
    * `format("avro")` fails lookup in this distribution; addressing the
    * [[org.apache.spark.sql.avro.AvroFileFormat]] class directly resolves
    * the same code path (pinned in BatchSourcesSpec — on a distribution
    * with the registration present, the short name and this class name
    * are the same source). Avro is
    * ROW-oriented: there are no column chunks or row-group statistics to
    * prune against, so unlike parquet/ORC the read cost is the full row
    * stream — its place in the pipeline is CDC/stream interchange (the
    * Kafka-ecosystem wire schema), not analytics storage; land Avro,
    * compact to parquet. Spark still pushes filters into the
    * DESERIALIZER (`spark.sql.avro.filterPushdown.enabled`, on by
    * default): non-matching rows are discarded mid-decode without
    * materializing an InternalRow, and the explicit read schema bounds
    * decode to the projected fields.
    */
  def eventsFromAvro(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING"))
      .format("org.apache.spark.sql.avro.AvroFileFormat")
      .load(path)

  /** Streaming replay of an archived readings directory (the parquet files
    * [[Sinks.parquetArchive]] writes): history flows through the exact same
    * downstream operators as live Kafka traffic. `maxFilesPerTrigger`
    * bounds micro-batch size so a year of archive does not land in one
    * batch.
    */
  def replayReadings(
      spark: SparkSession,
      dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(graft.model.Schemas.flatReadingSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
}
