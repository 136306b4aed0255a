package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import Harness._

/** `enrich_stream`: the shipped stream app, `graft.Main --mode stream
  * --transport nsq`, reading FileShards-framed files: a few standing
  * backlogs released at once, then files released on a fixed schedule
  * (open loop). Both sink queries run the whole chain per micro-batch. */
object EnrichStream {
  /** One generated file: its phase (`fixed`, `drain<k>`), due time within
    * the fixed-rate phase, first-delivery events and redelivered copies. */
  final case class Part(phase: String, name: String, dueS: Double, events: Int, redelivered: Int) {
    def file: String = s"$phase-$name"
  }

  /** What one stream run measured: per fixed-rate file (latency s, events),
    * per backlog (wall s, records), and what the traced run reports. */
  final case class StreamRun(
    dir: String,
    latencies: Seq[(Double, Int)],
    drains: Seq[(Double, Long)],
    lagMax: Double,
    backlogMax: Int,
    batches: Seq[BatchProgress],
    bytesReleased: Long,
    seconds: Double
  )
}

final class EnrichStream(conf: Conf) extends Workload {
  import EnrichStream._

  private val parts: Seq[Part] = {
    val root = new ObjectMapper().readTree(new java.io.File(s"${conf.data}/manifest.json"))
    root.fieldNames().asScala.toSeq.flatMap { phase =>
      root.get(phase).elements().asScala.map { f =>
        Part(phase, f.get("name").asText, f.get("due_s").asDouble, f.get("events").asInt,
          f.get("redelivered").asInt)
      }
    }
  }
  private val fixed = parts.filter(_.phase == "fixed")
  private val drains = parts.filter(_.phase.startsWith("drain")).groupBy(_.phase).toSeq.sortBy(_._1).map(_._2)

  private def mainArgs(dir: String, in: String, once: Boolean): Array[String] = {
    val cfg = s"$dir/nsq.json"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(cfg),
      s"""{"input": {"topic": "raw", "channel": "enrich", "dumpDir": ${Json.str(in)}}}""")
    Array("--mode", "stream", "--transport", "nsq", "--transport-config", cfg,
      "--good", s"$dir/good", "--bad", s"$dir/bad", "--checkpoint", s"$dir/ckpt") ++
      (if (once) Array("--once") else Array.empty[String])
  }

  def warm(spark: SparkSession, tag: String): Unit = {
    val dir = s"${conf.work}/$tag"
    graft.Main.main(mainArgs(dir, s"${conf.data}/warm", once = true))
  }

  /** file name → file-source log batch, from a query's checkpoint. */
  private def sourceLog(ckpt: String): Map[String, Long] = {
    val d = new java.io.File(s"$ckpt/sources/0")
    val entry = "\"path\":\"([^\"]*)\".*?\"batchId\":([0-9]+)".r
    val files = Option(d.listFiles()).getOrElse(Array.empty).filterNot(_.getName.startsWith("."))
    files.toSeq.flatMap { f =>
      try Files.readAllLines(f.toPath).asScala.toSeq.flatMap(l => entry.findFirstMatchIn(l))
        .map(m => m.group(1).substring(m.group(1).lastIndexOf('/') + 1) -> m.group(2).toLong)
      catch { case _: java.io.IOException => Nil }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
  }

  /** One stream from start to stop: the backlog rounds, then the fixed-rate
    * phase (if asked); each waits until both sinks committed it. */
  private def unit(spark: SparkSession, tag: String, withFixed: Boolean, rounds: Int,
                   probe: StreamProbe): StreamRun = {
    val t00 = System.nanoTime()
    val dir = s"${conf.work}/$tag"
    val in = s"$dir/in"
    val stage = s"$dir/stage"
    Files.createDirectories(Paths.get(in))
    Files.createDirectories(Paths.get(stage))
    val backlogs = drains.take(rounds)
    val mine = (if (withFixed) fixed else Nil) ++ backlogs.flatten
    mine.foreach(p => Files.copy(Paths.get(s"${conf.data}/${p.phase}/${p.name}"), Paths.get(s"$stage/${p.file}")))
    val bytesReleased = mine.map(p => Files.size(Paths.get(s"$stage/${p.file}"))).sum
    val args = mainArgs(dir, in, once = false)
    val failure = new AtomicReference[Throwable]()
    val app = new Thread(() => try graft.Main.main(args) catch { case t: Throwable => failure.set(t) })
    app.start()

    def waitFor(what: String, limitS: Double)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + (limitS * 1e9).toLong
      while (!cond) {
        if (failure.get != null) throw new RuntimeException("stream app failed", failure.get)
        if (System.nanoTime() > deadline) throw new RuntimeException(s"stream: timed out waiting for $what")
        Thread.sleep(20)
      }
    }
    waitFor("queries to start", 60)(spark.streams.active.length == 2)
    val queries = spark.streams.active.toSeq
    waitFor("queries to idle", 30)(queries.forall(q => !q.status.isTriggerActive))
    Thread.sleep(300)

    val sinks = Seq("good", "bad")
    def batchesOf(q: String): Seq[BatchProgress] =
      probe.snapshot().filter(_.sink.contains(s"$dir/$q")).sortBy(_.batchId)
    def committedAt(q: String, log: Map[String, Long], file: String): Option[Long] =
      log.get(file).flatMap(l => batchesOf(q).find(_.endLogOffset >= l)).map(_.endMs)
    def caughtUp(files: Seq[String]): Boolean = sinks.forall { q =>
      val log = sourceLog(s"$dir/ckpt/$q")
      files.forall(f => committedAt(q, log, f).isDefined)
    }
    def release(p: Part): Long = {
      Files.move(Paths.get(s"$stage/${p.file}"), Paths.get(s"$in/${p.file}"), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }

    // between batches, so no micro-batch's working data is in flight
    def sampleHeap(): Unit = {
      waitFor("queries to idle", 30)(queries.forall(q => !q.status.isTriggerActive))
      HeapProbe.sample()
    }

    // the backlogs run first: they also warm the JVM for the latency phase
    val released = mutable.ArrayBuffer.empty[(Part, Long, Long)] // part, due ms, released ms
    val drainStarts = backlogs.map { round =>
      val td = System.currentTimeMillis()
      round.foreach(p => released += ((p, td, release(p))))
      waitFor("a backlog to commit", 90)(caughtUp(round.map(_.file)))
      sampleHeap()
      td
    }
    val t0 = System.currentTimeMillis() + 200
    if (withFixed) {
      fixed.foreach { p =>
        val due = t0 + math.round(p.dueS * 1000)
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        released += ((p, due, release(p)))
      }
      waitFor("the fixed-rate phase to commit", 90)(caughtUp(fixed.map(_.file)))
      sampleHeap()
    }
    queries.foreach(_.stop())
    app.join(60000)
    if (failure.get != null) throw new RuntimeException("stream app failed", failure.get)
    org.apache.spark.BenchBus.drain(spark.sparkContext)

    val logs = sinks.map(q => q -> sourceLog(s"$dir/ckpt/$q")).toMap
    def commit(p: Part): Long = sinks.map(q => committedAt(q, logs(q), p.file).get).max
    val latencies = released.toSeq.filter(_._1.phase == "fixed").map { case (p, due, _) =>
      ((commit(p) - due) / 1e3, p.events)
    }
    val drainWalls = backlogs.zip(drainStarts).map { case (round, td) =>
      ((round.map(commit).max - td) / 1e3, round.map(p => (p.events + p.redelivered).toLong).sum)
    }
    val lagMax = released.map { case (_, due, at) => (at - due) / 1e3 }.maxOption.getOrElse(0.0)
    // backlog: files released but not yet committed by a sink, seen at the
    // start of each of its batches during the fixed-rate phase
    val backlogMax = sinks.flatMap { q =>
      val bs = batchesOf(q)
      bs.filter(_.startMs >= t0).map { b =>
        val done = bs.filter(_.endMs <= b.startMs).map(_.endLogOffset).maxOption.getOrElse(-1L)
        released.count { case (p, _, at) =>
          at <= b.startMs && logs(q).get(p.file).forall(_ > done)
        }
      }
    }.maxOption.getOrElse(0)
    val all = sinks.flatMap(batchesOf)
    StreamRun(dir, latencies, drainWalls, lagMax, backlogMax, all, bytesReleased,
      (System.nanoTime() - t00) / 1e9)
  }

  private def reference(spark: SparkSession): Map[String, Any] = {
    val out = s"${conf.work}/reference"
    graft.Main.main(Array("--mode", "batch", "--format", "collector-tsv",
      "--input", s"${conf.data}/unique.tsv", "--good", s"$out/good", "--bad", s"$out/bad"))
    enrichOutputs(spark, s"$out/good", s"$out/bad", eids = false)
  }

  def timed(spark: SparkSession, res: mutable.Map[String, Any]): Unit = {
    val probe = new StreamProbe
    spark.streams.addListener(probe)
    HeapProbe.reset()
    val run = unit(spark, "run", withFixed = true, drains.size, probe)
    res("peak_heap_mb") = HeapProbe.peakMb
    res("latencies") = run.latencies.map { case (s, n) => Seq(s, n) }
    res("walls") = run.drains.map(_._1)
    res("drain_records") = run.drains.map(_._2)
    res("generator_lag_s") = run.lagMax
    res("output_bytes") = Seq(outputSize(s"${run.dir}/good")._1 + outputSize(s"${run.dir}/bad")._1)
    res("outputs") = Seq(enrichOutputs(spark, s"${run.dir}/good", s"${run.dir}/bad", eids = true))
    res("reference") = reference(spark)
  }

  def traced(spark: SparkSession, res: mutable.Map[String, Any]): Unit = {
    val tr = new Tracer
    val m = mutable.LinkedHashMap[String, Any]()
    val probe = new StreamProbe
    spark.streams.addListener(probe)
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val engine = attach(spark)
    val run = tr("main.stream") { unit(spark, "traced", withFixed = true, drains.size, probe) }
    detach(spark, engine)
    m ++= engineMetrics(engine, run.seconds, conf.cores)
    m("bench.tracing_overhead_s") = engine.busyNs.get / 1e9
    m("bench.generator_lag_s") = run.lagMax
    m("sources.bytes_read") = engine.bytesRead.get
    m("sources.read_amplification") = engine.bytesRead.get.toDouble / run.bytesReleased
    res("outputs") = Seq(enrichOutputs(spark, s"${run.dir}/good", s"${run.dir}/bad", eids = true))
    val (goodB, goodF) = outputSize(s"${run.dir}/good")
    val (badB, badF) = outputSize(s"${run.dir}/bad")
    m("sinks.bytes_written") = goodB + badB
    m("sinks.files_written") = goodF + badF
    val bs = run.batches.filter(_.inputRows > 0)
    m("streaming.batches") = bs.size
    m("streaming.batch_s_p50") = median(bs.map(_.durationMs / 1e3))
    m("streaming.planning_s") = median(bs.map(b => (b.durationMs - b.addBatchMs) / 1e3))
    m("streaming.add_batch_s") = median(bs.map(_.addBatchMs / 1e3))
    m("streaming.queries") = run.batches.map(_.sink).distinct.size
    val last = run.batches.groupBy(_.sink).values.map(_.maxBy(_.batchId))
    m("streaming.state_rows") = last.map(_.stateRows).sum
    m("streaming.state_bytes") = last.map(_.stateBytes).sum
    m("streaming.dups_absorbed") = run.batches.map(_.droppedDuplicates).sum
    m("streaming.backlog_files_max") = run.backlogMax
    m ++= EnrichLayers.measure(spark, s"${conf.data}/sample.tsv", s"${conf.work}/sinks", tr)
    m("engine.scaling_1_to_n") = {
      spark.stop()
      val one = session(1, conf.work)
      val p1 = new StreamProbe
      one.streams.addListener(p1)
      unit(one, "one", withFixed = false, 1, p1).drains.head._1 / run.drains.head._1
    }
    res("layers") = m
    res("trace") = tr.json
  }
}
