package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.{Enrichment, EnrichmentPipeline, PipelineMetrics, Protocol}
import graft.queries.PipelineQuery
import graft.sources.Sources

import Harness._

/** Per-layer attribution of the enrichment path, outside-in: each public
  * step Main composes is re-run by itself into a noop sink, and a stage's
  * self time is the difference between consecutive cumulative prefixes of
  * the default chain. */
object EnrichLayers {
  def measure(spark: SparkSession, input: String, sinkDir: String, tr: Tracer): Map[String, Any] = {
    val pipeline = PipelineQuery.pipeline
    val stages = pipeline.enrichments
    val payload = Sources.CollectorTsvFields.map(_._1)
    val etlUs = lit(System.currentTimeMillis() * 1000L)
    def raw(): DataFrame = tr("call.Protocol.fromCollector") {
      Protocol.fromCollector(tr("call.Sources.collectorTsv") { Sources.collectorTsv(spark, input) })
    }
    val m = mutable.LinkedHashMap[String, Any]()

    tr("sources.read") { noop(tr("call.Sources.collectorTsv") { Sources.collectorTsv(spark, input) }) }
    val tRead = tr.seconds("sources.read")
    tr("enrich.protocol") { noop(raw()) }
    val tProto = tr.seconds("enrich.protocol")
    tr("enrich.prefix.base") { noop(raw().withColumn("bad_row_errors", Enrichment.emptyFailures)) }
    var prev = tr.seconds("enrich.prefix.base")
    val tBase = prev
    stages.indices.foreach { k =>
      val name = s"enrich.prefix.$k"
      tr(name) {
        val df = raw()
        noop(tr(s"call.Enrichment.apply.${stages(k).name}") { EnrichmentPipeline(stages.take(k + 1)).run(df) })
      }
      val t = tr.seconds(name)
      m(s"enrich.stage.${stages(k).getClass.getSimpleName}_s") = t - prev
      prev = t
    }
    val tChain = prev
    tr("enrich.bad_side") { noop(pipeline.split(raw())._2) }
    tr("enrich.badrows") {
      noop(tr("call.EnrichmentPipeline.badRowsJson") { pipeline.badRowsJson(raw(), payload, etlUs) })
    }
    val metrics = PipelineMetrics("bench", spark)
    tr("enrich.instrumented") { noop(metrics.instrument(pipeline.run(raw()))) }
    val counts = metrics.report().head()
    tr("sinks.good") { pipeline.split(raw())._1.write.mode("append").parquet(s"$sinkDir/good") }
    tr("sinks.bad") {
      pipeline.badRowsJson(raw(), payload, etlUs).select("bad_row").write.mode("append").text(s"$sinkDir/bad")
    }
    m("sources.read_s") = tRead
    m("enrich.protocol_s") = tProto - tRead
    m("enrich.chain_s") = tChain - tBase
    m("enrich.badrows_envelope_s") = tr.seconds("enrich.badrows") - tr.seconds("enrich.bad_side")
    m("enrich.bad_rows") = counts.getAs[Long]("bad")
    m("enrich.failure_entities") = counts.getAs[Long]("failure_entities")
    m("sinks.write_s") = tr.seconds("sinks.good") - tChain +
      tr.seconds("sinks.bad") - tr.seconds("enrich.badrows")
    m.toMap
  }
}
