package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-transport source factories — the wiring twin of the reference's
  * runnable apps (`modules/kinesis/.../KinesisApp.scala`,
  * `modules/pubsub/.../PubsubApp.scala`, `modules/nsq/.../NsqApp.scala`,
  * `modules/kafka`): each factory takes a config case class shaped like
  * the reference's `input` section (same field names — a migrating user's
  * config values drop straight in; the minimal config files are plain
  * JSON and parse as-is via [[TransportFactories.fromJson]]) and resolves
  * it to the Spark connector `(format, options)` pair plus the framing
  * projection onto graft's [[graft.streaming.Transport]] contract
  * (`shard_id`, `seq_no`, `arrival_us`, `value`).
  *
  * The kinesis/pubsub connector JARs are not on this classpath (zero
  * egress), so `open()` on those will fail at runtime HERE — but the
  * option mapping, validation, and framing projection are pure functions,
  * compiled and spec-pinned, which is exactly the code a migration has to
  * get right. Kafka ships in-box and `open()` is live. NSQ has no Spark
  * connector at all: its factory binds the reference's config to the
  * file-dump bridge ([[graft.streaming.Transport.FileShards]]) that a
  * 20-line nsq_to_file dumper feeds.
  */
object TransportFactories {

  /** A resolved source: `format` + `options` for `spark.readStream`, and
    * `frame` mapping the connector's native columns onto the Transport
    * contract. */
  final case class SourceBinding(
    format: String,
    options: Map[String, String],
    frame: DataFrame => DataFrame,
    schema: org.apache.spark.sql.types.StructType = null
  ) {
    /** `spark.readStream.format(format).options(options).load()` framed to
      * (shard_id, seq_no, arrival_us, value). Needs the connector on the
      * classpath for kinesis/pubsublite — unless the config routes through
      * an `archiveDir` replay (file stream over a connector-native dump),
      * which carries its own `schema`. */
    def open(spark: SparkSession): DataFrame = {
      val r = spark.readStream.format(format).options(options)
      frame((if (schema != null) r.schema(schema) else r).load())
    }
  }

  /** The `input` section of one transport's app config. */
  sealed trait SourceConfig {
    def binding: SourceBinding
  }

  // ---- Kinesis (reference config/config.kinesis.reference.hocon `input`) ----

  /** `input` section of the reference's kinesis app config. Maps onto the
    * `spark-sql-kinesis` connector (qubole/awslabs fork) options; the KCL
    * lease/backoff tuning fields have no Spark twin (the connector manages
    * its own checkpointing through the query's checkpointLocation) and are
    * accepted-but-unused, like the reference accepts unknown keys. */
  final case class KinesisSourceConfig(
    streamName: String,
    appName: String = "snowplow-enrich",
    region: String = "us-east-1",
    initialPositionType: String = "TRIM_HORIZON",
    initialPositionTimestamp: String = null,
    retrievalModeType: String = "Polling",
    maxRecords: Int = 750,
    /** Replay a connector-native archive instead of the live stream: a
      * directory of parquet files with the connector's own columns
      * (shardId, sequenceNumber, approximateArrivalTimestamp, data) — the
      * layout a Kinesis→S3 archival job writes. The framing projection
      * (incl. the lossless seq_str dedup identity) is IDENTICAL to the
      * live path, so backfill and live runs dedup the same way. */
    archiveDir: String = null
  ) extends SourceConfig {
    require(streamName != null && streamName.nonEmpty, "kinesis: input.streamName is required")
    require(Set("TRIM_HORIZON", "LATEST", "AT_TIMESTAMP").contains(initialPositionType),
      s"kinesis: initialPosition.type must be TRIM_HORIZON | LATEST | AT_TIMESTAMP (got $initialPositionType)")
    require(initialPositionType != "AT_TIMESTAMP" || initialPositionTimestamp != null,
      "kinesis: initialPosition.timestamp is required when type is AT_TIMESTAMP")
    require(Set("Polling", "FanOut").contains(retrievalModeType),
      s"kinesis: retrievalMode.type must be Polling | FanOut (got $retrievalModeType)")
    require(maxRecords > 0, "kinesis: retrievalMode.maxRecords must be positive")

    def binding: SourceBinding = SourceBinding(
      format = if (archiveDir != null) "parquet" else "aws-kinesis",
      options =
        if (archiveDir != null) Map("path" -> archiveDir)
        else Map(
          "streamName" -> streamName,
          "consumerName" -> appName,
          "region" -> region,
          "initialPosition" -> (initialPositionType match {
            case "AT_TIMESTAMP" => s"at_timestamp $initialPositionTimestamp"
            case p => p.toLowerCase
          }),
          "consumerType" -> (if (retrievalModeType == "FanOut") "SubscribeToShard" else "GetRecords"),
          "maxFetchRecordsPerShard" -> maxRecords.toString),
      schema =
        if (archiveDir == null) null
        else org.apache.spark.sql.types.StructType.fromDDL(
          "shardId STRING, sequenceNumber STRING, " +
            "approximateArrivalTimestamp TIMESTAMP, data BINARY"),
      frame = df => df.select(
        // Kinesis shard ids are strings ("shardId-000000000042"); the stable
        // int framing keys partition affinity, not shard identity — hash it
        hash(col("shardId")).as("shard_id"),
        // sequenceNumber is a decimal string monotone per shard, too wide
        // for a long: the numeric contract folds to the tail digits. This
        // fold is LOSSY (collides at a high-order rollover), so it is NOT
        // the dedup key — `seq_str` below carries the full identity and
        // absorbRedelivery keys on it when present
        substring(col("sequenceNumber"), -18, 18).cast("long").as("seq_no"),
        unix_micros(col("approximateArrivalTimestamp")).as("arrival_us"),
        col("data").cast("string").as("value"),
        // full-fidelity (shardId, sequenceNumber) identity: redelivery dedup
        // keys on this, so a seq_no fold collision can never drop a distinct
        // event; order-sensitive consumers re-sort within a shard by
        // (length(seq), seq) — equal-length decimal strings compare correctly
        concat_ws(":", col("shardId"), col("sequenceNumber")).as("seq_str")))
  }

  // ---- PubSub (reference config/config.pubsub.reference.hocon `input`) ----

  /** `input` section of the reference's pubsub app config. The
    * subscription string is the reference's full resource name
    * `projects/P/subscriptions/S`; ack-deadline tuning has no Spark twin
    * (Pub/Sub Lite ack semantics live in the connector). */
  final case class PubsubSourceConfig(
    subscription: String,
    /** Replay a connector-native archive (parquet with partition, offset,
      * publish_timestamp, data) instead of the live subscription — same
      * framing as the live path, see KinesisSourceConfig.archiveDir. */
    archiveDir: String = null
  ) extends SourceConfig {
    require(subscription != null,
      "pubsub: input.subscription is required (projects/P/subscriptions/S)")
    private val Re = "^projects/([^/]+)/subscriptions/(.+)$".r
    val (project: String, name: String) = subscription match {
      case Re(p, s) => (p, s)
      case _ => throw new IllegalArgumentException(
        s"pubsub: input.subscription must look like projects/P/subscriptions/S (got $subscription)")
    }

    def binding: SourceBinding = SourceBinding(
      format = if (archiveDir != null) "parquet" else "pubsublite",
      options =
        if (archiveDir != null) Map("path" -> archiveDir)
        else Map("pubsublite.subscription" -> subscription),
      schema =
        if (archiveDir == null) null
        else org.apache.spark.sql.types.StructType.fromDDL(
          "partition BIGINT, offset BIGINT, publish_timestamp TIMESTAMP, data BINARY"),
      frame = df => df.select(
        col("partition").cast("int").as("shard_id"),
        col("offset").cast("long").as("seq_no"),
        unix_micros(col("publish_timestamp")).as("arrival_us"),
        col("data").cast("string").as("value")))
  }

  // ---- NSQ (reference config/config.nsq.reference.hocon `input`) ----

  /** `input` section of the reference's nsq app config. NSQ has no Spark
    * connector: the binding reads the file-dump bridge — an external
    * `nsq_to_file`-style dumper consumes (topic, channel) via the lookup
    * daemon and appends framed lines (`shard<TAB>seq<TAB>arrival_us<TAB>
    * payload`) under `dumpDir`; Structured Streaming picks up each new
    * file as a micro-batch ([[graft.streaming.Transport.FileShards]]'s
    * contract). The nsq fields validate and ride along as options so the
    * dumper can be configured from the same object. */
  final case class NsqSourceConfig(
    topic: String,
    channel: String,
    lookupHost: String = "127.0.0.1",
    lookupPort: Int = 4161,
    dumpDir: String = null
  ) extends SourceConfig {
    require(topic != null && topic.nonEmpty, "nsq: input.topic is required")
    require(channel != null && channel.nonEmpty, "nsq: input.channel is required")
    require(lookupPort > 0 && lookupPort < 65536, s"nsq: bad lookupPort $lookupPort")

    def binding: SourceBinding = {
      require(dumpDir != null,
        "nsq: no Spark connector exists — set dumpDir to the nsq_to_file bridge directory")
      SourceBinding(
        format = "text",
        options = Map(
          "path" -> dumpDir,
          "nsq.topic" -> topic,
          "nsq.channel" -> channel,
          "nsq.lookupHost" -> lookupHost,
          "nsq.lookupPort" -> lookupPort.toString),
        frame = graft.streaming.Transport.frame)
    }
  }

  // ---- Kafka (reference config/config.kafka.reference.hocon `input`) ----

  /** `input` section of the reference's kafka app config. Spark's kafka
    * source is in-box, so this binding runs as-is. `consumerConf` passes
    * through with the connector's `kafka.` prefix — except the keys Spark
    * owns (group id and offset commits belong to the checkpoint, exactly
    * as the reference's own `enable.auto.commit=false` posture). */
  final case class KafkaSourceConfig(
    topicName: String,
    bootstrapServers: String,
    consumerConf: Map[String, String] = Map.empty
  ) extends SourceConfig {
    require(topicName != null && topicName.nonEmpty, "kafka: input.topicName is required")
    require(bootstrapServers != null && bootstrapServers.nonEmpty,
      "kafka: input.bootstrapServers is required")

    /** Spark manages these through its own checkpointed offsets. */
    private val sparkOwned = Set("group.id", "enable.auto.commit", "auto.offset.reset")

    def binding: SourceBinding = SourceBinding(
      format = "kafka",
      options = Map(
        "kafka.bootstrap.servers" -> bootstrapServers,
        "subscribe" -> topicName,
        "startingOffsets" ->
          (if (consumerConf.get("auto.offset.reset").contains("latest")) "latest" else "earliest")) ++
        consumerConf.view.filterKeys(!sparkOwned.contains(_))
          .map { case (k, v) => s"kafka.$k" -> v }.toMap,
      frame = df => df.select(
        col("partition").cast("int").as("shard_id"),
        col("offset").cast("long").as("seq_no"),
        unix_micros(col("timestamp")).as("arrival_us"),
        col("value").cast("string").as("value")))
  }

  // ---- reference-config JSON ingestion ----

  private val mapper = new ObjectMapper()

  private def str(n: JsonNode, field: String, dflt: String = null): String =
    Option(n.get(field)).map(_.asText()).getOrElse(dflt)

  /** Parse the `input` section of a reference minimal config (the minimal
    * HOCON files are plain JSON) for the given transport
    * (`kinesis | pubsub | nsq | kafka`). Unknown keys are accepted and
    * ignored, like the reference's own pureconfig defaults. */
  def fromJson(transport: String, json: String): SourceConfig = {
    val root = mapper.readTree(json)
    val in = Option(root.get("input")).getOrElse(
      throw new IllegalArgumentException(s"$transport config: missing input section"))
    transport match {
      case "kinesis" =>
        val pos = Option(in.get("initialPosition"))
        val ret = Option(in.get("retrievalMode"))
        KinesisSourceConfig(
          streamName = str(in, "streamName"),
          appName = str(in, "appName", "snowplow-enrich"),
          region = str(in, "region", "us-east-1"),
          initialPositionType = pos.map(p => str(p, "type", "TRIM_HORIZON")).getOrElse("TRIM_HORIZON"),
          initialPositionTimestamp = pos.map(p => str(p, "timestamp")).orNull,
          retrievalModeType = ret.map(r => str(r, "type", "Polling")).getOrElse("Polling"),
          maxRecords = ret.flatMap(r => Option(r.get("maxRecords")).map(_.asInt())).getOrElse(750),
          archiveDir = str(in, "archiveDir"))
      case "pubsub" =>
        PubsubSourceConfig(
          subscription = str(in, "subscription"),
          archiveDir = str(in, "archiveDir"))
      case "nsq" =>
        NsqSourceConfig(
          topic = str(in, "topic"),
          channel = str(in, "channel"),
          lookupHost = str(in, "lookupHost", "127.0.0.1"),
          lookupPort = Option(in.get("lookupPort")).map(_.asInt()).getOrElse(4161),
          dumpDir = str(in, "dumpDir"))
      case "kafka" =>
        KafkaSourceConfig(
          topicName = str(in, "topicName"),
          bootstrapServers = str(in, "bootstrapServers"),
          consumerConf = Option(in.get("consumerConf")).map(c =>
            c.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
            .getOrElse(Map.empty))
      case other =>
        throw new IllegalArgumentException(
          s"unknown transport '$other' (one of kinesis, pubsub, nsq, kafka)")
    }
  }
}
