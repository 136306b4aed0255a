package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The transport seam — graft's twin of the reference's per-cloud streaming
  * apps (`modules/kinesis/.../KinesisApp.scala`, `modules/pubsub`,
  * `modules/nsq`: a stream factory yields framed records; the enrich core
  * is transport-agnostic and the factory guarantees at-least-once delivery
  * with checkpointed offsets).
  *
  * A [[Transport]] yields a STREAMING DataFrame with the framing every
  * shard-oriented broker attaches to its records:
  *
  *  - `shard_id`   — the partition/shard the record landed on (Kinesis
  *                   shardId, Kafka partition, PubSub ordering key hash)
  *  - `seq_no`     — the per-shard monotone sequence number (Kinesis
  *                   sequenceNumber, Kafka offset)
  *  - `arrival_us` — broker arrival time, epoch micros (Kinesis
  *                   approximateArrivalTimestamp)
  *  - `value`      — the raw payload
  *
  * WHICH SEMANTICS TRANSFER to a Spark cluster, exactly:
  *
  *  1. **At-least-once, not exactly-once-delivery.** Both the reference's
  *     KCL checkpointing and Spark's streaming checkpoints replay from the
  *     last committed offset after a crash — records between the
  *     checkpoint and the failure are REDELIVERED. [[Transport.AtLeastOnce]]
  *     simulates exactly that failure mode so the absorption layer is
  *     testable without a broker.
  *  2. **Idempotent absorption makes it effectively-once.**
  *     [[Transport.absorbRedelivery]] drops duplicate (shard_id, seq_no)
  *     pairs within the watermark — the same role the reference delegates
  *     to downstream loaders' event_id dedup. State is bounded: a
  *     (shard, seq) key is held only until the arrival-time watermark
  *     passes it (`dropDuplicatesWithinWatermark`), never forever.
  *  3. **Per-shard order survives, cross-shard order does not** — identical
  *     to Kinesis/Kafka. Anything order-sensitive must key by shard or
  *     re-sort by event time downstream (the sessionizer does the latter).
  *
  * A real Kinesis deployment plugs its Spark connector in at this seam
  * (`spark.readStream.format("aws-kinesis")` → select the same four
  * columns); Kafka ships in-box
  * (`graft.sources.TransportFactories.KafkaSourceConfig`); the
  * file-backed [[Transport.FileShards]] is the broker-free simulation the
  * semantics spec drives.
  */
trait Transport extends Serializable {
  /** The framed record stream: (shard_id int, seq_no long, arrival_us long,
    * value string). */
  def read(spark: SparkSession): DataFrame
}

object Transport {

  /** File-backed shard framing (the broker simulation): each text line is
    * `shard_id<TAB>seq_no<TAB>arrival_us<TAB>payload` — the framing fields
    * a KCL consumer reads off each Kinesis record. New files appearing
    * under `dir` are new deliveries (micro-batch per file drop). */
  final case class FileShards(dir: String) extends Transport {
    def read(spark: SparkSession): DataFrame =
      frame(spark.readStream.text(dir))
  }

  /** Parse shard framing from raw `value` lines — shared by the streaming
    * and batch (spec twin) paths. Malformed lines come through with null
    * framing rather than killing the stream; their `value` keeps the WHOLE
    * raw line (there is no payload field to extract), so downstream
    * dead-letter handling sees what actually arrived. */
  def frame(lines: DataFrame): DataFrame = {
    val p = split(col("value"), "\t", 4)
    val shard = try_element_at(p, lit(1)).try_cast("int")
    val seqNo = try_element_at(p, lit(2)).try_cast("long")
    val arrival = try_element_at(p, lit(3)).try_cast("long")
    // the raw-line fallback fires ONLY for malformed lines (any framing
    // field failed to parse); a fully-framed line with no 4th field keeps a
    // null payload instead of echoing the framing prefix as its value
    lines.select(
      shard.as("shard_id"),
      seqNo.as("seq_no"),
      arrival.as("arrival_us"),
      when(shard.isNull || seqNo.isNull || arrival.isNull, col("value"))
        .otherwise(try_element_at(p, lit(4))).as("value"))
  }

  /** At-least-once failure-mode simulation: every record whose `seq_no` is
    * a multiple of `replayEvery` is delivered TWICE — the checkpoint-gap
    * replay a consumer sees when a worker dies between checkpoint commits.
    * Wrapping any transport in this must not change the enriched output
    * once [[absorbRedelivery]] runs (the semantics spec's core claim). */
  final case class AtLeastOnce(inner: Transport, replayEvery: Int = 5) extends Transport {
    require(replayEvery >= 1)
    def read(spark: SparkSession): DataFrame = {
      val d = inner.read(spark)
      d.unionAll(d.filter(pmod(col("seq_no"), lit(replayEvery.toLong)) === 0))
    }
  }

  /** The idempotence layer that turns at-least-once delivery into
    * effectively-once processing: drop duplicate (shard_id, seq_no) pairs,
    * holding each key's dedup state only within `watermarkDelay` of the
    * arrival-time watermark — bounded state on an unbounded stream.
    *
    * Null-framed rows (malformed lines: no shard/seq identity, and no
    * arrival time to watermark on) are routed AROUND the dedup — keying
    * them through it would collapse every distinct malformed payload in a
    * window onto the single (null, null) key and silently drop all but
    * one. A broker cannot redeliver a record it never framed, so the
    * dedup has nothing to absorb there; they pass through for dead-letter
    * handling downstream.
    *
    * Transports whose native record identity does not fit the numeric
    * (shard_id, seq_no) pair losslessly (Kinesis: a ~56-digit decimal
    * sequenceNumber) attach the full-fidelity identity string as a
    * `seq_str` column; the dedup keys on IT when present, so a numeric
    * fold collision can never silently drop a distinct event. */
  /** Dedup identity choice: the full-fidelity `seq_str` when the transport
    * attaches one, the numeric pair otherwise. */
  private[graft] def dedupIdCols(columns: Seq[String]): Seq[String] =
    if (columns.contains("seq_str")) Seq("shard_id", "seq_str")
    else Seq("shard_id", "seq_no")

  def absorbRedelivery(framed: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame = {
    val idCols = dedupIdCols(framed.columns.toSeq)
    // Framedness is judged on the columns the dedup actually KEYS on: for a
    // seq_str-bearing transport (Kinesis) that is shard_id/seq_str — a
    // record whose lossy last-18-digit numeric fold failed to cast must
    // still enter the dedup, because its full-fidelity identity is intact
    // and a redelivered copy would otherwise pass straight through.
    val seqIdCol = if (idCols.contains("seq_str")) col("seq_str") else col("seq_no")
    val isFramed =
      col("shard_id").isNotNull && seqIdCol.isNotNull && col("arrival_us").isNotNull
    val deduped = framed
      .filter(isFramed)
      .withColumn("__arrival_time", timestamp_micros(col("arrival_us")))
      .withWatermark("__arrival_time", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)
      .drop("__arrival_time")
    deduped.unionByName(framed.filter(!isFramed))
  }
}
