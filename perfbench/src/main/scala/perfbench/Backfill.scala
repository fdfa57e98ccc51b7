package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.PipelineConfig
import graft.functions.gfn
import graft.pipeline.LogPipeline
import graft.sources.KinesisEventSource

/** The batch half of the `logs` workload. Seeded Lambda-event files are read by
  * `KinesisEventSource.readLambdaEventFile` and written by `LogPipeline.run`
  * into a fresh output root per repetition. The first repetition in the JVM
  * is the cold one; `WarmupReps` more are untimed, while the JIT settles;
  * then repetitions are timed until half the run's seconds are spent. Every
  * repetition's output is checked against the manifest, outside the timed
  * region.
  */
object Backfill {
  val InputFiles = 8
  val RecordsPerFile = 3000
  val WarmupReps = 2
  val MinTimedReps = 3

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val in = c.work.resolve("input")
    Files.createDirectories(in)
    val specs = LogGen.writeFiles(c.seed, LogGen.BackfillTimes,
      (0 until InputFiles).map(i => in.resolve(f"events-$i%02d.jsonl") -> RecordsPerFile))
    val man = LogGen.manifest(specs.flatMap(_.records), specs.map(_.kinesisRecords.toLong).sum)
    LogGen.writeManifest(c.work.resolve("manifest.json"), man)
    val cfg = PipelineConfig()
    val probe = if (c.traced) Some(new SparkProbe(spark)) else None

    var attempted, failed = 0L
    // the output and Spark counters of the latest repetition
    var lastOutput = Map.empty[String, LogGen.Digest]
    var lastFiles = 0L
    var lastWindow: Option[Window] = None
    def rep(i: Int): Double = {
      val out = c.work.resolve(s"out-$i")
      probe.foreach(_.open())
      val t0 = System.nanoTime()
      c.trace.span("pipeline.run") {
        val records = c.trace.span("sources.readLambdaEventFile") {
          KinesisEventSource.readLambdaEventFile(spark, in.toString)
        }
        LogPipeline.run(records, cfg, out.toString)
      }
      val s = (System.nanoTime() - t0) / 1e9
      lastWindow = probe.map(_.close())
      lastOutput = LogGen.landed(out)
      lastFiles = Files.walk(out).filter(p => p.toString.endsWith(".gz")).count()
      attempted += man.attempted
      failed += LogGen.failures(man, lastOutput)
      deleteTree(out)
      s
    }

    val cold = rep(0)
    (1 to WarmupReps).foreach(rep)
    // timed for half the run's seconds, to leave the stream room in the run
    val deadline = System.nanoTime() + (c.seconds / 2 * 1e9).toLong
    val timed = Vector.newBuilder[Double]
    var i = 1 + WarmupReps
    while (i < 1 + WarmupReps + MinTimedReps || System.nanoTime() < deadline) { timed += rep(i); i += 1 }
    val reps = timed.result()
    val warm = Stats.median(reps)
    val info = Map[String, Any](
      "records_per_s" -> man.attempted / warm, "records" -> man.attempted,
      "input_bytes" -> specs.indices.map(i => Files.size(in.resolve(f"events-$i%02d.jsonl"))).sum,
      "output_prefixes" -> man.prefixes.size, "timed_reps" -> reps.size,
      "rep_s" -> reps)

    val e2e = Map("cold_s" -> cold, "warm_s" -> warm)
    if (!c.traced) Outcome(attempted, failed, e2e, Map.empty, info)
    else {
      val layers = layerSplits(c, in, cfg) ++ kernels(c, in) ++ oneCore(c, specs.head, cfg)
      val w = lastWindow.get
      // output figures of the last timed repetition, the one `w` covers
      val unknownRoute = lastOutput.collect {
        case (p, d) if p.contains(s"/log_type=${LogGen.UnknownRoute}/") => d.count
      }.sum
      Outcome(attempted, failed, e2e, layers ++ Map(
        "sources.kinesis_records" -> man.kinesisRecords.toDouble,
        "pipeline.output_prefixes" -> lastOutput.size.toDouble,
        "pipeline.files_written" -> lastFiles.toDouble,
        "pipeline.bytes_written" -> w.outputBytes.toDouble,
        "pipeline.shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
        "pipeline.records_unknown_route" -> unknownRoute.toDouble,
        "pipeline.records_dropped" -> (man.attempted - lastOutput.values.map(_.count).sum).toDouble),
        info)
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def medianSeconds(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })

  /** The pipeline's stages as increments between noop-sink runs of the
    * source, `decode`, `parse . decode` and the full `run`.
    */
  private def layerSplits(c: Ctx, in: Path, cfg: PipelineConfig): Map[String, Double] = {
    val spark = c.spark
    def src = KinesisEventSource.readLambdaEventFile(spark, in.toString)
    val read = c.trace.span("split.source")(medianSeconds(3)(noop(src)))
    val dec = c.trace.span("split.decode")(medianSeconds(3)(noop(LogPipeline.decode(src))))
    val parse = c.trace.span("split.parse")(
      medianSeconds(3)(noop(LogPipeline.parse(LogPipeline.decode(src), cfg))))
    var i = 0
    val full = c.trace.span("split.run")(medianSeconds(3) {
      i += 1
      val out = c.work.resolve(s"split-$i")
      LogPipeline.run(src, cfg, out.toString)
      deleteTree(out)
    })
    Map("sources.read_s" -> read, "pipeline.decode_s" -> (dec - read),
      "pipeline.parse_s" -> (parse - dec), "pipeline.write_s" -> (full - parse))
  }

  /** One ETL kernel over the workload's own input: its input column is
    * cached first, and the kernel's time is a noop-sink pass with it minus
    * one without it.
    */
  private def kernels(c: Ctx, in: Path): Map[String, Double] = {
    val spark = c.spark
    val src = KinesisEventSource.readLambdaEventFile(spark, in.toString).select(col("data")).cache()
    val deagg = src.select(gfn.kpl_deaggregate(col("data")).as("p")).cache()
    val times = LogPipeline.parse(LogPipeline.decode(src), PipelineConfig())
      .select(try_variant_get(try_parse_json(col("raw")), "$.time", "string").as("t")).cache()
    Seq(src, deagg, times).foreach(_.count())
    def kernel(name: String, base: DataFrame, applied: DataFrame): (String, Double) =
      c.trace.span(s"kernel.$name") {
        name -> math.max(0.0, medianSeconds(3)(noop(applied)) - medianSeconds(3)(noop(base)))
      }
    val out = Map(
      kernel("functions.kpl_deaggregate_s", src, src.select(gfn.kpl_deaggregate(col("data")))),
      kernel("functions.try_gunzip_s", deagg, deagg.select(gfn.try_gunzip(col("p")))),
      kernel("functions.lenient_ts_s", times, times.select(gfn.lenient_ts(col("t"), "UTC"))))
    Seq(src, deagg, times).foreach(_.unpersist(blocking = true))
    out
  }

  /** A single-threaded run over one input file: each stage one task. It
    * runs after every other split, on a warm JVM, so one run is enough.
    */
  private def oneCore(c: Ctx, spec: LogGen.FileSpec, cfg: PipelineConfig): Map[String, Double] = {
    val spark = c.spark
    val file = c.work.resolve("input").resolve("events-00.jsonl")
    val keep = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      var i = 0
      val s = c.trace.span("split.one_core")(medianSeconds(1) {
        i += 1
        val out = c.work.resolve(s"one-core-$i")
        LogPipeline.run(KinesisEventSource.readLambdaEventFile(spark, file.toString), cfg, out.toString)
        deleteTree(out)
      })
      Map("pipeline.records_per_s_1core" -> spec.records.size / s)
    } finally spark.conf.set("spark.sql.shuffle.partitions", keep)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).toArray
      all.foreach(x => Files.delete(x.asInstanceOf[Path]))
    }
}
