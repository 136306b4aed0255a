package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.enrich.{EnrichmentConfig, EnrichmentPipeline}
import graft.sources.Sources

/** Standalone enrichment application — the Spark twin of the reference's
  * runnable assets (stream-enrich for Kinesis/Kafka/NSQ, enrich-pubsub):
  * source → enrichment pipeline → good/bad sinks, batch or streaming.
  *
  * {{{
  * spark-submit --class graft.Main graft.jar \
  *   --mode batch --format collector-tsv \
  *   --input  s3://raw/2024-01-15/ \
  *   --good   s3://enriched/good/ --bad s3://enriched/bad/ \
  *   --config enrichments.json [--checkpoint s3://ck/]   # streaming only
  * }}}
  */
object Main {

  private case class Args(
    mode: String = "batch",
    format: String = "collector-tsv",
    input: String = "",
    good: String = "",
    bad: String = "",
    config: String = "",
    checkpoint: String = "",
    transport: String = "",
    transportConfig: String = "",
    once: Boolean = false,
    refreshDims: Boolean = false
  )

  private def parse(argv: List[String], acc: Args): Args = argv match {
    case Nil => acc
    case "--mode" :: v :: rest => parse(rest, acc.copy(mode = v))
    case "--format" :: v :: rest => parse(rest, acc.copy(format = v))
    case "--input" :: v :: rest => parse(rest, acc.copy(input = v))
    case "--good" :: v :: rest => parse(rest, acc.copy(good = v))
    case "--bad" :: v :: rest => parse(rest, acc.copy(bad = v))
    case "--config" :: v :: rest => parse(rest, acc.copy(config = v))
    case "--checkpoint" :: v :: rest => parse(rest, acc.copy(checkpoint = v))
    // per-transport source factory (reference kinesis/pubsub/nsq/kafka app
    // config, minimal-JSON form) — overrides --format/--input for streams
    case "--transport" :: v :: rest => parse(rest, acc.copy(transport = v))
    case "--transport-config" :: v :: rest => parse(rest, acc.copy(transportConfig = v))
    // drain mode: process everything available, then exit (Trigger.AvailableNow)
    case "--once" :: rest => parse(rest, acc.copy(once = true))
    // AssetRefresher semantics: rebuild the pipeline (and re-resolve its
    // parquet dims + the --config file itself) every micro-batch — BOTH the
    // good and bad streams, so one batch never splits across two configs.
    // Note: this routes the sinks through foreachBatch append, which is
    // at-least-once on a batch retry (the default file sink's exactly-once
    // commit log does not apply in this mode).
    case "--refresh-dims" :: rest => parse(rest, acc.copy(refreshDims = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList, Args())
    require(args.good.nonEmpty, "--good is required")
    args.mode match {
      case "batch" => require(args.input.nonEmpty, "--input is required in batch mode")
      case "stream" =>
        require(args.input.nonEmpty || args.transport.nonEmpty,
          "--input (or --transport + --transport-config) is required in stream mode")
        require(args.checkpoint.nonEmpty, "--checkpoint is required in stream mode")
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }

    val builder = SparkSession.builder()
      .appName("graft-enrich")
      .config("spark.sql.session.timeZone", "UTC")
      // let AQE re-plan shuffles INSIDE cached plans (off by default): the
      // iterative operators (connected components, PageRank) cache small
      // per-round frames whose fixed-width partitioning otherwise dominates
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // InferFiltersFromGenerate turns explode/inline over an expensive
      // parsed column (webhook regexp + url_decode + from_json) into a
      // pushed-down filter that RE-EVALUATES the whole decode chain per
      // row below the exchange — measured +55% on the array adapters at
      // sf0.1. The synth/webhook arrays are non-null by construction, so
      // the inferred filter only costs.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // spark-submit injects the master; default for bare local runs. Track
    // whether we REUSED an existing session (tests drive main() in-process)
    // so we never stop a session we did not create.
    val reused = org.apache.spark.sql.SparkSession.getActiveSession.isDefined
    val spark = (if (new org.apache.spark.SparkConf().contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()

    def mkPipeline() =
      if (args.config.nonEmpty) EnrichmentConfig.fromJson(readFile(args.config))
      else graft.queries.PipelineQuery.pipeline
    val pipeline = mkPipeline()

    // the etl timestamp every bad-row envelope carries (reference
    // etlTstamp: job start)
    val etlUs = org.apache.spark.sql.functions.lit(System.currentTimeMillis() * 1000L)
    // replay payload inside envelopes = the raw collector columns
    def payloadCols(df: DataFrame): Seq[String] =
      Sources.CollectorTsvFields.map(_._1).filter(df.columns.contains) match {
        case Nil => df.columns.toSeq.take(6)
        case cols => cols
      }

    // the two output sides, the same in batch and stream: good enriched
    // rows, and one reference-compatible bad-row envelope JSON document
    // per failed event
    def goodSide(p: EnrichmentPipeline, df: DataFrame): DataFrame = p.split(df)._1
    def badSide(p: EnrichmentPipeline, df: DataFrame): DataFrame =
      p.badRowsJson(df, payloadCols(df), etlUs).select("bad_row")

    if (args.mode == "batch") {
      val raw = args.format match {
        case "collector-tsv" =>
          graft.enrich.Protocol.fromCollector(Sources.collectorTsv(spark, args.input))
        case "cloudfront" =>
          graft.enrich.Protocol.fromCollector(Sources.parseCloudfrontLog(spark.read.text(args.input)))
        case "parquet" => spark.read.parquet(args.input)
        case other => throw new IllegalArgumentException(s"unknown format: $other")
      }
      // two sinks with different formats (parquet rows vs envelope text)
      // cost one chain evaluation each; when a single parquet root works,
      // EnrichmentPipeline.splitWrite does both sides in ONE pass
      goodSide(pipeline, raw).write.mode("append").parquet(args.good)
      if (args.bad.nonEmpty) badSide(pipeline, raw).write.mode("append").text(args.bad)
      if (!reused) spark.stop()
    } else {
      val raw =
        if (args.transport.nonEmpty) {
          // reference-app transport config → connector binding → framing →
          // watermark-bounded (shard, seq) redelivery absorption →
          // collector TSV parse — the full migration path in one flag
          require(args.transportConfig.nonEmpty,
            "--transport needs --transport-config <reference input-section JSON>")
          val framed = graft.sources.TransportFactories
            .fromJson(args.transport, readFile(args.transportConfig))
            .binding.open(spark)
          graft.enrich.Protocol.fromCollector(Sources.parseCollectorTsv(
            graft.streaming.Transport.absorbRedelivery(framed)))
        } else args.format match {
          case "collector-tsv" =>
            graft.enrich.Protocol.fromCollector(Sources.collectorTsvStream(spark, args.input))
          case other => throw new IllegalArgumentException(
            s"unknown streaming format: $other (broker streams read through " +
              "--transport kafka|kinesis|pubsub|nsq --transport-config <json>)")
        }
      // One query per side, each with its own checkpoint. Under
      // --refresh-dims every micro-batch of a side is computed under one
      // config snapshot, but the two queries run on their own cadence, so a
      // mid-stream config/dim swap can land between the two sides'
      // executions of the same input offsets.
      def startSink(name: String, path: String, format: String,
                    side: (EnrichmentPipeline, DataFrame) => DataFrame) = {
        val writer =
          if (args.refreshDims)
            graft.streaming.RefreshableDim.transformEachBatch(raw)(df => side(mkPipeline(), df)) {
              (batch, _) => batch.write.mode("append").format(format).save(path)
            }
          else
            side(pipeline, raw).writeStream.format(format).option("path", path).outputMode("append")
        val w = writer.option("checkpointLocation", s"${args.checkpoint}/$name")
        (if (args.once) w.trigger(Trigger.AvailableNow()) else w).start()
      }
      val goodQ = startSink("good", args.good, "parquet", goodSide)
      val badQ = if (args.bad.nonEmpty) Some(startSink("bad", args.bad, "text", badSide)) else None
      goodQ.awaitTermination()
      badQ.foreach(_.awaitTermination())
    }
  }
}
