package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.PipelineConfig
import graft.sources.KinesisEventSource
import graft.streaming.LogStreamJob

/** The stream half of the `logs` workload: an open loop. A publisher thread moves pre-generated
  * Lambda-event files into the watched directory on a fixed schedule, one
  * file per slot, whatever the stream is doing. `KinesisEventSource
  * .streamLambdaEventDir` feeds `LogStreamJob.start` with a zero-interval
  * processing-time trigger. An untimed warm-up is followed by two timed
  * phases, a low and a high record rate, each started on an idle stream.
  * A record's latency runs from the time its file was due to be published
  * to the end of the micro-batch that wrote it.
  */
object Stream {
  val SlotMs = 100L
  final case class Phase(name: String, recordsPerS: Int, seconds: Double, timed: Boolean) {
    def files: Int = math.max(1, math.round(seconds * 1000 / SlotMs).toInt)
    def recordsPerFile: Int = (recordsPerS * SlotMs / 1000).toInt
  }
  val DrainTimeoutS = 20.0

  /** The high-rate phase, whose latencies are the end-to-end figures, runs
    * longest: a micro-batch takes about a second whatever its size, so the
    * phase must span well over a dozen batches for its percentiles to rest
    * on more than a few batch end times. Its rate keeps the per-record share
    * of a batch small: near saturation, a host slowed by a few per cent
    * grows every batch, which grows the next, and the latencies blow up.
    */
  def phases(seconds: Double): Seq[Phase] = Seq(
    Phase("warmup", 2500, 3.0, timed = false),
    Phase("low_rate", 500, seconds / 5, timed = true),
    Phase("high_rate", 2500, seconds * 1.5, timed = true))

  /** One published file: when it was due, when it was moved into place. */
  final case class FileEvent(name: String, phase: String, dueMs: Double, publishedMs: Double,
                             lines: Int, records: Int)
  /** One micro-batch as reported by `StreamingQueryProgress`. */
  final case class BatchEvent(id: Long, startMs: Double, durations: Map[String, Double], rows: Long) {
    def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0.0)
  }

  /** Per-record latency samples (ms) of each file's records: end of the batch
    * that read the file minus the file's due time. Files that no batch read
    * are missing from the result.
    */
  def latencies(files: Seq[FileEvent], batchOf: Map[String, Long],
                batches: Map[Long, BatchEvent]): Map[String, Double] =
    files.flatMap { f =>
      batchOf.get(f.name).flatMap(batches.get).map(b => f.name -> (b.endMs - f.dueMs))
    }.toMap

  /** Latency percentile over records, each file weighing its record count;
    * 0 if no batch read any of the files.
    */
  def recordPercentile(files: Seq[FileEvent], lat: Map[String, Double], p: Double): Double =
    Stats.percentileOr0(files.filter(f => lat.contains(f.name))
      .flatMap(f => Iterator.fill(f.records)(lat(f.name))), p)

  /** Files waiting (published, not yet read) when each batch started. */
  def backlogMax(files: Seq[FileEvent], batchOf: Map[String, Long], batches: Seq[BatchEvent]): Int =
    if (batches.isEmpty) 0
    else batches.map { b =>
      files.count(f => f.publishedMs < b.startMs && batchOf.get(f.name).forall(_ >= b.id))
    }.max

  /** The file source's own log in the checkpoint: file name -> batch id. */
  def batchOfFiles(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map.empty
    val entries = Files.list(dir).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.filter(_.startsWith("{")))
    entries.map { l =>
      val n = Json.mapper.readTree(l)
      val path = n.get("path").asText
      path.substring(path.lastIndexOf('/') + 1) -> n.get("batchId").asLong
    }.toMap
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val stage = c.work.resolve("stage"); val in = c.work.resolve("in")
    val out = c.work.resolve("out"); val ckpt = c.work.resolve("checkpoint")
    Seq(stage, in).foreach(Files.createDirectories(_))
    val ps = phases(c.seconds)
    val names = ps.map(p => p -> (0 until p.files).map(i => f"${p.name}-$i%05d.jsonl"))
    val specs = LogGen.writeFiles(c.seed, LogGen.StreamTimes,
      names.flatMap { case (p, ns) => ns.map(n => stage.resolve(n) -> p.recordsPerFile) })
    val man = LogGen.manifest(specs.flatMap(_.records), specs.map(_.kinesisRecords.toLong).sum)
    LogGen.writeManifest(c.work.resolve("manifest.json"), man)
    val planned = {
      val it = specs.iterator
      names.map { case (p, ns) => p -> ns.map { n => val f = it.next(); (n, f.lines, f.records.size) } }
    }

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchEvent]()
    val linesDone = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0 || p.durationMs.containsKey("addBatch")) {
          batches.add(BatchEvent(p.batchId, Instant.parse(p.timestamp).toEpochMilli.toDouble,
            p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap, p.numInputRows))
          linesDone.addAndGet(p.numInputRows)
        }
      }
    }
    spark.streams.addListener(listener)

    val published = mutable.ArrayBuffer.empty[FileEvent]
    var linesPublished = 0L
    def publish(p: Phase, files: Seq[(String, Int, Int)]): Unit = c.trace.span(s"stream.${p.name}") {
      val t0 = System.currentTimeMillis().toDouble + SlotMs
      files.zipWithIndex.foreach { case ((name, lines, records), i) =>
        val due = t0 + i * SlotMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait.toLong)
        Files.move(stage.resolve(name), in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        published += FileEvent(name, p.name, due, System.currentTimeMillis().toDouble, lines, records)
        linesPublished += lines
      }
    }
    def awaitIdle(timeoutS: Double): Boolean = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      while (linesDone.get < linesPublished && System.nanoTime() < end) Thread.sleep(20)
      linesDone.get >= linesPublished
    }

    val cfg = PipelineConfig()
    val query = c.trace.span("streaming.LogStreamJob.start") {
      LogStreamJob.start(KinesisEventSource.streamLambdaEventDir(spark, in.toString), cfg,
        out.toString, ckpt.toString, Trigger.ProcessingTime(0))
    }
    var drained = true
    try planned.foreach { case (p, files) =>
      publish(p, files)
      drained = awaitIdle(DrainTimeoutS) && drained
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }

    val got = c.trace.span("check.landed")(LogGen.landed(out))
    val failed = LogGen.failures(man, got)
    val batchOf = batchOfFiles(ckpt)
    val bs = batches.asScala.toVector.groupBy(_.id).map { case (id, v) => id -> v.maxBy(_.rows) }
    val lat = latencies(published.toSeq, batchOf, bs)
    def phaseFiles(name: String) = published.filter(_.phase == name).toSeq
    def phaseBatches(name: String): Seq[BatchEvent] = {
      val ids = phaseFiles(name).flatMap(f => batchOf.get(f.name)).toSet
      bs.values.filter(b => ids(b.id)).toSeq.sortBy(_.id)
    }
    def pct(name: String, p: Double) = recordPercentile(phaseFiles(name), lat, p)
    val firstLatencyS = published.headOption.flatMap(f => lat.get(f.name)).map(_ / 1000.0)
    val timedFiles = ps.filter(_.timed).flatMap(p => phaseFiles(p.name))
    val timedBatches = ps.filter(_.timed).flatMap(p => phaseBatches(p.name))
    val high = phaseBatches("high_rate")
    val info = Map[String, Any](
      "drained" -> drained, "records" -> man.attempted, "first_file_latency_s" -> firstLatencyS,
      "high_rate.batch_s" -> Stats.percentileOr0(high.map(_.durations.getOrElse("triggerExecution", 0.0)), 50) / 1000,
      "low_rate.latency_p50_ms" -> pct("low_rate", 50), "low_rate.latency_p90_ms" -> pct("low_rate", 90),
      "high_rate.latency_p50_ms" -> pct("high_rate", 50), "high_rate.latency_p90_ms" -> pct("high_rate", 90),
      "batches" -> ps.map(p => p.name -> phaseBatches(p.name).size).toMap,
      "files" -> ps.map(p => p.name -> p.files).toMap,
      "gen_late_ms_max" -> timedFiles.map(f => f.publishedMs - f.dueMs).max)
    Json.write(c.work.resolve("timeline.json"), Map(
      "files" -> published.map(f => Map("name" -> f.name, "phase" -> f.phase, "due_ms" -> f.dueMs,
        "published_ms" -> f.publishedMs, "records" -> f.records, "batch" -> batchOf.getOrElse(f.name, -1L))),
      "batches" -> bs.values.toSeq.sortBy(_.id).map(b => Map("id" -> b.id, "start_ms" -> b.startMs,
        "end_ms" -> b.endMs, "rows" -> b.rows, "durations_ms" -> b.durations))))

    val e2e = Map("latency_p50_ms" -> pct("high_rate", 50), "latency_p90_ms" -> pct("high_rate", 90))
    if (!c.traced) Outcome(man.attempted, failed, e2e, Map.empty, info)
    else {
      def dur(key: String) = Stats.percentileOr0(timedBatches.map(_.durations.getOrElse(key, 0.0)), 50)
      Outcome(man.attempted, failed, e2e, Map(
        "streaming.batches" -> timedBatches.size.toDouble,
        "streaming.rows_per_batch_p50" -> Stats.percentileOr0(timedBatches.map(_.rows.toDouble), 50),
        "streaming.trigger_ms" -> dur("triggerExecution"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.commit_offsets_ms" -> dur("commitOffsets"),
        "streaming.backlog_files_max" -> backlogMax(timedFiles, batchOf, timedBatches).toDouble,
        "streaming.gen_late_ms_max" -> timedFiles.map(f => f.publishedMs - f.dueMs).max), info)
    }
  }
}
