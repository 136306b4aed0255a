package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Engine counters read from outside the program: task metrics summed over
  * every task that ends while the probe is attached. */
final class EngineProbe extends SparkListener {
  val cpuNs, gcMs, shuffleWriteBytes, spillBytes, tasks, bytesRead = new AtomicLong
  /** Time spent inside this probe's callbacks: the cost of tracing. */
  val busyNs = new AtomicLong
  @volatile var stageSkewMax = 0.0
  private val durations = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
    }
    tasks.incrementAndGet()
    durations.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue()).add(e.taskInfo.duration)
  }

  /** Skew of a stage: its slowest task over its median task (stages of at
    * least two tasks). */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val q = durations.remove(e.stageInfo.stageId)
    if (q != null && q.size >= 2) {
      val d = q.asScala.map(_.longValue).toArray.sorted
      val skew = d.last.toDouble / math.max(1L, d(d.length / 2)).toDouble
      if (skew > stageSkewMax) stageSkewMax = skew
    }
  }
}

/** One micro-batch as the stream listener saw it. */
final case class BatchProgress(
  sink: String,
  batchId: Long,
  startMs: Long,
  durationMs: Long,
  addBatchMs: Long,
  endLogOffset: Long,
  inputRows: Long,
  stateRows: Long,
  stateBytes: Long,
  droppedDuplicates: Long
) {
  def endMs: Long = startMs + durationMs
}

/** Collects every streaming progress report of the session. */
final class StreamProbe extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[BatchProgress]()
  private val LogOffset = "\"logOffset\"\\s*:\\s*(-?[0-9]+)".r

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.sources.isEmpty || p.numInputRows == 0 && p.durationMs.get("addBatch") == null) return
    val end = Option(p.sources(0).endOffset).flatMap(s => LogOffset.findFirstMatchIn(s))
      .map(_.group(1).toLong).getOrElse(-1L)
    val ops = p.stateOperators
    def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    progress.add(BatchProgress(
      p.sink.description, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, dur("triggerExecution"), dur("addBatch"),
      end, p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(o => Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum))
  }

  def snapshot(): Seq[BatchProgress] = progress.asScala.toSeq
}

/** Peak heap occupancy: the largest heap still in use after a full
  * collection at the end of each measured step — what the program retains
  * (caches, state, broadcasts), without the garbage-collector timing noise
  * of sampling a live heap. */
object HeapProbe {
  val samples = ArrayBuffer.empty[Double]

  def sample(): Unit = {
    // the first collection lets Spark's cleaner drop the blocks of
    // broadcasts and shuffles that became unreachable; the second frees them
    System.gc()
    Thread.sleep(200)
    System.gc()
    samples += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def reset(): Unit = samples.clear()
  def peakMb: Double = samples.max
}

/** In-memory spans recorded around calls into the program; written out as
  * JSON when the run ends. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  /** Total duration of the spans of that name, their child spans included. */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * sequences and string-keyed maps). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
