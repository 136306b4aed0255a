package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.enrich.{EnrichmentPipeline, IpGeoLookup}
import graft.streaming.RefreshableDim

/** RefreshableDim — the AssetRefresher twin: a parquet dim swapped on disk
  * mid-stream is picked up by the NEXT micro-batch without restarting the
  * query, because foreachBatch rebuilds the enrichment plan (and therefore
  * re-lists the dim path) per batch.
  */
class RefreshableDimSpec extends SparkSpec {
  import spark.implicits._

  test("a geo dim overwritten mid-stream takes effect on the next micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val dimPath = Files.createTempDirectory("refresh_dim").toString + "/geo"
    val outPath = Files.createTempDirectory("refresh_out").toString + "/enriched"
    val ckpt = Files.createTempDirectory("refresh_ckpt").toString

    // dim v1: 10.0.0.0/8 -> SE
    Seq((167772160L, 184549375L, "SE")).toDF("lo", "hi", "geo_country")
      .write.mode("overwrite").parquet(dimPath)

    val mem = MemoryStream[(Long, String)]
    val raw = mem.toDF().toDF("event_id", "user_ipaddress")
    val mkPipeline = () => EnrichmentPipeline(Seq(IpGeoLookup(Nil, rangesPath = dimPath)))
    val q = RefreshableDim
      .transformEachBatch(raw)(df => mkPipeline().run(df)) { (batch, _) =>
        batch.write.mode("append").parquet(outPath)
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      mem.addData((1L, "10.1.2.3"))
      q.processAllAvailable()
      // hot-swap: same path, new country mapping (v2: 10.0.0.0/8 -> NO)
      Seq((167772160L, 184549375L, "NO")).toDF("lo", "hi", "geo_country")
        .write.mode("overwrite").parquet(dimPath)
      mem.addData((2L, "10.1.2.4"))
      q.processAllAvailable()

      val out = spark.read.parquet(outPath)
        .select("event_id", "geo_country").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out(1L) == "SE", "batch 1 must see dim v1")
      assert(out(2L) == "NO", "the batch AFTER the swap must see dim v2 — no restart")
    } finally q.stop()
  }

  test("transformEachBatch hands every batch id through to the sink") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("refresh_ids").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val mem = MemoryStream[Long]
    val q = RefreshableDim
      .transformEachBatch(mem.toDF().toDF("v"))(b => b)((batch, id) => {
        seen.add((id, batch.count()))
      })
      .option("checkpointLocation", ckpt)
      .start()
    try {
      mem.addData(1L, 2L)
      q.processAllAvailable()
      mem.addData(3L)
      q.processAllAvailable()
      val byId = {
        import scala.jdk.CollectionConverters._
        seen.asScala.toMap
      }
      assert(byId(0L) == 2L && byId(1L) == 1L)
    } finally q.stop()
  }
}
