package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Asset hot-swap for long-running streams — the twin of the reference's
  * `AssetRefresher` (modules/common-fs2 `Assets.scala` / core
  * `AssetRefresher`: MaxMind/referer DBs re-download on a schedule and the
  * running enricher swaps them in WITHOUT a restart).
  *
  * graft's dims are parquet paths resolved at PLAN time
  * (`spark.read.parquet(rangesPath)` inside each enrichment's `apply`), so
  * a `writeStream` over `pipeline.run(stream)` pins the dim files the plan
  * was built with — correct for a batch backfill, stale for a week-running
  * stream. The swap point Spark gives us is `foreachBatch`: the batch
  * handler REBUILDS the enrichment plan per micro-batch, so every
  * `spark.read.parquet` re-lists its path (a fresh file index per read —
  * Spark caches nothing across these plans) and the NEXT micro-batch joins
  * against whatever dim files are at the path now. Publishing a dim update
  * is therefore just an atomic parquet overwrite (write-new-dir + rename,
  * or `mode("overwrite")` which commits through a staging dir) — the
  * refresh cadence is the publisher's, not the stream's.
  *
  * Cost note: re-planning per micro-batch re-broadcasts the dim (dims are
  * broadcast-sized by design — geo ranges, rates, weather observations).
  * That is exactly what the reference pays on asset refresh (it re-mmaps
  * the new MaxMind file); here it is per batch rather than per refresh,
  * acceptable for dim sizes in the tens of MB and the micro-batch cadences
  * enrichment runs at. For a dim too large to re-broadcast every batch,
  * publish it versioned and swap less often — the mechanism is unchanged.
  */
object RefreshableDim {

  /** Run `transform` (rebuilt per micro-batch) over each batch and hand the
    * result to `sink`. The returned writer still needs
    * `.option("checkpointLocation", …)` / `.start()` — callers keep full
    * control of trigger and checkpoint. */
  def transformEachBatch(raw: DataFrame)(transform: DataFrame => DataFrame)(
    sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    raw.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(transform(batch), batchId)
    }
}
