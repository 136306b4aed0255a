package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JVM side of the graft benchmark. Drives graft only through its public
  * entry points (graft.Main, the loaders, the enrichment chain, the
  * SparkEntry query map), measures, exports what the output checks need,
  * and writes one JSON result file. `run.py` generates the inputs, starts
  * this program, checks the outputs against the ground truth and prints
  * the metrics.
  *
  * Arguments: --workload --data --work --seconds --trace 0|1 --cores
  * --result
  */
object Harness {

  final case class Conf(
    workload: String,
    data: String,
    work: String,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    result: String
  )

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(a("workload"), a("data"), a("work"), a("seconds").toDouble, a("trace") == "1",
      a("cores").toInt, a("result"))
    val res = mutable.LinkedHashMap[String, Any]()
    val workload: Workload = conf.workload match {
      case "enrich_stream" => new EnrichStream(conf)
      case "corpus_dedup" => new CorpusDedup(conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: session start plus warm-up in this fresh JVM, until the first
    // timed step can begin
    val (spark, setupS) = seconds {
      val s = session(conf.cores, conf.work)
      workload.warm(s, "warm")
      s
    }
    res("setup_s") = setupS
    if (conf.trace) workload.traced(spark, res) else workload.timed(spark, res)
    SparkSession.active.stop()
    Files.writeString(Paths.get(conf.result), Json(res))
  }

  def session(cores: Int, work: String): SparkSession = {
    // graft.Main builds its own session with getOrCreate; it must find
    // this one, so the master is visible to a bare SparkConf too
    System.setProperty("spark.master", s"local[$cores]")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store keeps per-task history on the heap even without a
      // UI; bounded small so the heap figure tracks graft, not that history
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    SparkSession.setActiveSession(s)
    SparkSession.setDefaultSession(s)
    s
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Bytes and files under a sink directory, ignoring Spark's metadata,
    * checksum and marker files. */
  def outputSize(path: String): (Long, Long) = {
    val root = Paths.get(path)
    if (!Files.exists(root)) return (0L, 0L)
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_") ||
        p.toString.contains("_spark_metadata"))
      .toSeq
    (files.map(Files.size).sum, files.size.toLong)
  }

  def attach(spark: SparkSession): EngineProbe = {
    val p = new EngineProbe
    spark.sparkContext.addSparkListener(p)
    p
  }

  def detach(spark: SparkSession, p: EngineProbe): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(p)
  }

  def engineMetrics(p: EngineProbe, wall: Double, cores: Int): Map[String, Any] = Map(
    "engine.cpu_s" -> p.cpuNs.get / 1e9,
    "engine.gc_s" -> p.gcMs.get / 1e3,
    "engine.shuffle_write_bytes" -> p.shuffleWriteBytes.get,
    "engine.spill_bytes" -> p.spillBytes.get,
    "engine.tasks" -> p.tasks.get,
    "engine.stage_skew_max" -> p.stageSkewMax,
    "engine.cpu_utilization" -> p.cpuNs.get / 1e9 / (wall * cores))

  def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  // ---- what the output checks need ----------------------------------------

  private val EidRe = "(?:^|&)eid=([0-9]+)"

  /** Order-independent digest of a frame: row count plus the sum of a
    * 64-bit hash of every row. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
      .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }

  private val MessagesType = ArrayType(StructType(Seq(
    StructField("failureType", StringType),
    StructField("errors", ArrayType(StructType(Seq(StructField("message", StringType))))))))

  /** Good and bad digests of an enrichment output; with `eids`, also the
    * event id of every good row and the failure entities of every bad row.
    * Bad-row envelopes carry the job's start time, which is blanked before
    * hashing. */
  def enrichOutputs(spark: SparkSession, good: String, bad: String, eids: Boolean): Map[String, Any] = {
    val g = spark.read.parquet(good)
    val b = spark.read.text(bad)
    val badStable = b.select(regexp_replace(col("value"), "\"timestamp\":\"[^\"]*\"", "").as("v"))
    val out = mutable.LinkedHashMap[String, Any](
      "good_digest" -> digest(g), "bad_digest" -> digest(badStable))
    if (eids) {
      out("good_eids") = g.select(regexp_extract(col("querystring"), EidRe, 1).cast("long"))
        .collect().map(_.getLong(0)).toSeq
      val msgs = from_json(get_json_object(col("value"), "$.data.failure.messages"), MessagesType)
      out("bad_entities") = b.select(
        regexp_extract(get_json_object(col("value"), "$.data.payload.querystring"), EidRe, 1),
        array_sort(transform(msgs, m => concat(m.getField("failureType"), lit("|"),
          m.getField("errors").getItem(0).getField("message")))))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    }
    out.toMap
  }
}

/** One workload: a warm-up, the timed runs and the traced run. */
trait Workload {
  def warm(spark: SparkSession, tag: String): Unit
  def timed(spark: SparkSession, res: mutable.Map[String, Any]): Unit
  def traced(spark: SparkSession, res: mutable.Map[String, Any]): Unit
}
