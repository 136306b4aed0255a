package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.util.CacheScope

import Harness._

/** `corpus_dedup`: the shipped-corpus composition `corpus_pipeline`
  * (exact-dedup window, quality gates, MinHash band self-join, connected
  * components, broadcast decontamination) over generated documents, its
  * result committed as parquet. */
final class CorpusDedup(conf: Conf) extends Workload {
  private val dir = s"${conf.data}/tables"
  private val warmDir = s"${conf.data}/warm_tables"

  private def run(spark: SparkSession, tables: String, out: String): Double = seconds {
    SparkEntry.queries("corpus_pipeline")(spark, tables).write.parquet(out)
    CacheScope.release(spark)
    spark.catalog.clearCache()
  }._2

  def warm(spark: SparkSession, tag: String): Unit = run(spark, warmDir, s"${conf.work}/$tag")

  private def shipped(spark: SparkSession, out: String, ids: Boolean): Map[String, Any] = {
    val df = spark.read.parquet(out)
    val m = mutable.LinkedHashMap[String, Any]("digest" -> digest(df))
    if (ids) m("doc_ids") = df.select("doc_id").collect().map(_.getLong(0)).toSeq
    m.toMap
  }

  def timed(spark: SparkSession, res: mutable.Map[String, Any]): Unit = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val bytes = mutable.ArrayBuffer.empty[Long]
    val outputs = mutable.ArrayBuffer.empty[Map[String, Any]]
    HeapProbe.reset()
    while (walls.sum < conf.seconds || walls.size < 3) {
      val out = s"${conf.work}/run-${walls.size}"
      walls += run(spark, dir, out)
      HeapProbe.sample()
      bytes += outputSize(out)._1
      outputs += shipped(spark, out, ids = walls.size == 1)
      rmrf(out)
    }
    res("peak_heap_mb") = HeapProbe.peakMb
    res("walls") = walls
    res("output_bytes") = bytes
    res("outputs") = outputs
    res("pairs") = candidatePairs(spark)
  }

  /** The near-duplicate candidate pairs, from the same shared fragment the
    * pipeline joins on: the checks derive the exact shipped set from them. */
  private def candidatePairs(spark: SparkSession): Seq[Seq[Long]] = {
    val pairs = SparkEntry.queries("dedup_minhash_pairs")(spark, dir).collect()
      .map(r => Seq(r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq
    CacheScope.release(spark)
    spark.catalog.clearCache()
    pairs
  }

  def traced(spark: SparkSession, res: mutable.Map[String, Any]): Unit = {
    val tr = new Tracer
    val m = mutable.LinkedHashMap[String, Any]()
    val engine = attach(spark)
    val out = s"${conf.work}/traced"
    val wall = tr("main.corpus_pipeline") { run(spark, dir, out) }
    detach(spark, engine)
    m ++= engineMetrics(engine, wall, conf.cores)
    m("bench.tracing_overhead_s") = engine.busyNs.get / 1e9
    m("bench.generator_lag_s") = 0.0
    val inBytes = outputSize(s"$dir/documents.parquet")._1.toDouble
    m("sources.bytes_read") = engine.bytesRead.get
    m("sources.read_amplification") = engine.bytesRead.get / inBytes
    val (b, f) = outputSize(out)
    m("sinks.bytes_written") = b
    m("sinks.files_written") = f

    def query(key: String): Double = {
      tr(s"query.$key") {
        noop(tr(s"call.SparkEntry.queries.$key") { SparkEntry.queries(key)(spark, dir) })
        CacheScope.release(spark)
        spark.catalog.clearCache()
      }
      tr.seconds(s"query.$key")
    }
    m("corpus.gate_s") = query("corpus_filter")
    val pairsS = query("dedup_minhash_pairs")
    m("corpus.pairs_s") = pairsS
    m("operators.cc_s") = query("dedup_minhash_keep") - pairsS
    m("corpus.decontam_s") = query("decontaminate")
    res("outputs") = Seq(shipped(spark, out, ids = true))
    val pairs = candidatePairs(spark)
    m("operators.cc.edges_in") = pairs.size
    m("corpus.candidate_pairs") = pairs.size
    res("pairs") = pairs
    m("engine.scaling_1_to_n") = {
      spark.stop()
      val one = session(1, conf.work)
      run(one, warmDir, s"${conf.work}/one-warm")
      run(one, dir, s"${conf.work}/one") / wall
    }
    res("layers") = m
    res("trace") = tr.json
  }
}
