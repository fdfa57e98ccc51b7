package perfbench

import java.nio.file.Paths

/** One workload run in a fresh JVM; `run.py` launches it and turns the
  * result file into the benchmark's result line.
  *
  *   Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *        --spawn-ms EPOCH_MS [--cores N] [--catalog-data DIR]
  *        [--queries FILE] [--digests FILE]
  *   Main --record-digests --catalog-data DIR --queries FILE --work DIR
  *
  * Every form also takes `--local-dir DIR`, Spark's scratch space.
  * `--spawn-ms` is the wall-clock time the launcher started this process;
  * set-up time runs from there to a ready session.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val flags = Set("--record-digests")
    val args = argv.foldLeft((Map.empty[String, String], Option.empty[String])) {
      case ((m, Some(k)), v) => (m + (k -> v), None)
      case ((m, None), k) if flags(k) => (m + (k -> "1"), None)
      case ((m, None), k) => (m, Some(k))
    }._1
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing $k"))
    val work = Paths.get(arg("--work")).toAbsolutePath
    val cores = args.get("--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

    val spark = Session.create(cores, arg("--local-dir"))
    val setupS = (System.currentTimeMillis() - arg("--spawn-ms").toDouble) / 1000
    try {
      if (args.contains("--record-digests")) {
        Catalog.record(Ctx(spark, 0, 0, new Trace(false, "record"), work, cores),
          arg("--catalog-data"), Paths.get(arg("--queries")), work)
      } else {
        val workload = arg("--workload")
        val traced = arg("--trace") == "1"
        val trace = new Trace(traced, s"$workload-${arg("--seed")}")
        val c = Ctx(spark, arg("--seed").toLong, arg("--seconds").toDouble, trace, work, cores)
        val jvm0 = Jvm.metrics()
        val o = workload match {
          case "logs" =>
            // the batch path first: its cold run is also the stream's JIT warm-up
            val b = Backfill.run(c.copy(work = work.resolve("backfill")))
            val s = Stream.run(c.copy(work = work.resolve("stream")))
            Outcome(b.attempted + s.attempted, b.failed + s.failed, b.e2e ++ s.e2e,
              b.layers ++ s.layers, Map("backfill" -> b.info, "stream" -> s.info))
          case "catalog" => Catalog.run(c, arg("--catalog-data"),
            Paths.get(arg("--queries")), Paths.get(arg("--digests")))
          case other => sys.error(s"unknown workload $other")
        }
        val jvm = Jvm.metrics().map { case (k, v) => k -> (v - jvm0.getOrElse(k, 0.0)) }
        val e2e = o.e2e ++ Map("setup_s" -> setupS, "peak_rss_mb" -> Jvm.peakRssMb())
        // traced runs also report their own end-to-end figures, so the
        // tracing overhead is the difference to an untraced run
        val metrics =
          if (traced) o.layers ++ jvm ++ e2e.map { case (k, v) => s"traced.$k" -> v }
          else e2e
        if (traced) trace.write(work.resolve("spans.json"))
        Json.write(work.resolve("result.json"), Map(
          "attempted" -> o.attempted, "failed" -> o.failed, "metrics" -> metrics,
          "info" -> o.info))
      }
    } finally spark.stop()
  }
}
