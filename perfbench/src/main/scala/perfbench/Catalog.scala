package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Queries
import graft.functions.gfn
import graft.ops.Caches

/** `catalog`: a fixed subset of `graft.Queries.all` over the generated
  * tables. Each query builds, then writes to the noop sink; caches are
  * drained and the heap collected between queries. One cold pass, then
  * `WarmupPasses` untimed ones while the JIT settles (the first warm passes
  * after the cold one ran up to 1.6x slower than later ones), then timed
  * passes until the run's seconds are spent, each pass in a seed-shuffled
  * order. The cold pass collects each result instead, and compares its
  * digest, untimed, with the one recorded in `catalog_digests.json`.
  */
object Catalog {
  val WarmupPasses = 2
  val MinWarmPasses = 2

  /** One query of the subset, with the half it belongs to. */
  final case class Entry(q: Queries.Q, half: String)

  def entries(queryFile: Path): Seq[Entry] = {
    val byName = Queries.all.map(q => q.name -> q).toMap
    Json.fields(Json.read(queryFile).get("queries")).map { case (name, n) =>
      Entry(byName.getOrElse(name, sys.error(s"unknown query $name")), n.get("half").asText)
    }
  }

  def readDigests(path: Path): Map[String, String] =
    Json.fields(Json.read(path)).map { case (k, v) => k -> v.get("digest").asText }.toMap

  /** Order-independent digest of a result: row count and the sum of the
    * rows' 64-bit hashes. Doubles are rounded to 12 significant digits and
    * timestamps rendered zone-free, so the digest is stable across runs.
    */
  def digest(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += LogGen.lineHash(canon(r)))
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0" else String.format("%.11e", Double.box(d))
    case f: Float => canon(f.toDouble)
    case t: java.sql.Timestamp => s"${t.getTime / 1000}.${t.getNanos}"
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def run(c: Ctx, dataDir: String, queryFile: Path, digestFile: Path): Outcome = {
    val spark = c.spark
    val es = entries(queryFile)
    val expected = readDigests(digestFile)
    val probe = if (c.traced) Some(new SparkProbe(spark)) else None
    val rnd = new Random(c.seed)
    var attempted, failed = 0L

    final case class Sample(wallS: Double, buildS: Double, planS: Double, execS: Double,
                            drainS: Double, w: Option[Window])
    val mismatches = scala.collection.mutable.Map.empty[String, Any]
    /** One timed run of a query. With `check` the result is collected, and
      * its digest compared with the recorded one after the clock stops;
      * otherwise it is written to the noop sink.
      */
    def once(e: Entry, check: Boolean): Option[Sample] = {
      val d0 = System.nanoTime()
      c.trace.span("ops.Caches.drainAll")(Caches.drainAll(spark))
      val drainS = (System.nanoTime() - d0) / 1e9
      System.gc()
      attempted += 1
      try c.trace.span(s"query.${e.q.name}") {
        probe.foreach(_.open())
        val t0 = System.nanoTime()
        val df = c.trace.span("Queries.build")(e.q.build(spark, dataDir))
        val t1 = System.nanoTime(); val buildEndMs = System.currentTimeMillis()
        if (c.traced) c.trace.span("plan")(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val rows = c.trace.span("exec") {
          if (check) df.collect() else { df.write.format("noop").mode("overwrite").save(); null }
        }
        val t3 = System.nanoTime()
        val s = Sample((t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, drainS,
          probe.map(_.close(buildEndMs)))
        if (check && !expected.get(e.q.name).contains(digest(rows))) {
          failed += 1
          mismatches(e.q.name) = Map("expected" -> expected.get(e.q.name), "got" -> digest(rows))
        }
        Some(s)
      } catch {
        case ex: Throwable =>
          System.err.println(s"[perfbench] ${e.q.name} failed: ${ex.getMessage}")
          failed += 1
          None
      }
    }
    def pass(check: Boolean): Map[String, Sample] =
      rnd.shuffle(es).flatMap(e => once(e, check).map(e.q.name -> _)).toMap

    // the cold pass collects every result, which is checked untimed
    val cold = c.trace.span("catalog.cold_pass")(pass(check = true))
    (1 to WarmupPasses).foreach(_ => c.trace.span("catalog.warmup_pass")(pass(check = false)))
    val warm = Vector.newBuilder[Map[String, Sample]]
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var n = 0
    while (n < MinWarmPasses || System.nanoTime() < deadline) {
      warm += c.trace.span("catalog.warm_pass")(pass(check = false)); n += 1
    }
    val passes = warm.result()

    def samples(name: String) = passes.flatMap(_.get(name))
    def medianOf(name: String, f: Sample => Double) = {
      val s = samples(name); if (s.isEmpty) 0.0 else Stats.median(s.map(f))
    }
    val names = es.map(_.q.name)
    val coldS = names.flatMap(cold.get).map(_.wallS).sum
    val warmS = names.map(medianOf(_, _.wallS)).sum
    // a query's latency is its median warm run; the percentiles run over queries
    val queryMs = names.map(medianOf(_, _.wallS) * 1000)
    val info = Map[String, Any](
      "cold_pass_s" -> coldS, "warm_pass_s" -> warmS, "warm_passes" -> passes.size,
      "query_cold_s" -> names.map(n => n -> cold.get(n).map(_.wallS).getOrElse(0.0)).toMap,
      "query_warm_s" -> names.map(n => n -> medianOf(n, _.wallS)).toMap,
      "query_warm_runs_s" -> names.map(n => n -> samples(n).map(_.wallS)).toMap,
      "digest_mismatches" -> mismatches.toMap)

    val e2e = Map(
      "cold_s" -> coldS, "warm_s" -> warmS,
      "latency_p50_ms" -> Stats.percentile(queryMs, 50),
      "latency_p90_ms" -> Stats.percentile(queryMs, 90))
    if (!c.traced) Outcome(attempted, failed, e2e, Map.empty, info)
    else {
      val halves = Seq("catalog" -> es, "catalog.manyjob" -> es.filter(_.half == "manyjob"),
        "catalog.compute" -> es.filter(_.half == "compute"))
      val layer = halves.flatMap { case (prefix, part) =>
        def sum(f: Sample => Double) = part.map(e => medianOf(e.q.name, f)).sum
        def w(f: Window => Double) = sum(s => s.w.map(f).getOrElse(0.0))
        val wall = w(_.wallS)
        Seq("build_s" -> sum(_.buildS), "plan_s" -> sum(_.planS), "exec_s" -> sum(_.execS),
          "jobs" -> w(_.jobs), "build_jobs" -> w(_.buildJobs), "stages" -> w(_.stages),
          "tasks" -> w(_.tasks.toDouble), "single_task_stages" -> w(_.singleTaskStages),
          "driver_gap_s" -> w(_.driverGapS),
          "core_util" -> (if (wall > 0) w(_.taskCpuS) / (wall * c.cores) else 0.0),
          "shuffle_write_bytes" -> w(_.shuffleWriteBytes.toDouble),
          "shuffle_read_bytes" -> w(_.shuffleReadBytes.toDouble),
          "spill_bytes" -> w(_.spillBytes.toDouble), "task_gc_ms" -> w(_.taskGcMs.toDouble),
          "peak_task_mem_bytes" -> part.map(e => medianOf(e.q.name, _.w.map(_.peakTaskMemBytes.toDouble).getOrElse(0.0))).maxOption.getOrElse(0.0)
        ).map { case (k, v) => s"$prefix.$k" -> v }
      }.toMap
      val perQuery = names.map { n =>
        n -> Map("jobs" -> medianOf(n, _.w.map(_.jobs.toDouble).getOrElse(0.0)),
          "core_util" -> medianOf(n, s => s.w.map(w => w.taskCpuS / (w.wallS * c.cores)).getOrElse(0.0)),
          "warm_s" -> medianOf(n, _.wallS))
      }.toMap
      Outcome(attempted, failed, e2e, layer ++ kernels(c, dataDir) ++ Map(
        "ops.caches.drain_s" -> names.map(medianOf(_, _.drainS)).sum),
        info + ("per_query" -> perQuery))
    }
  }

  /** Text and aggregate kernels the catalog leans on, each over its table
    * with a noop sink, repeated for at least a second; seconds per pass.
    */
  private def kernels(c: Ctx, dataDir: String): Map[String, Double] = {
    val spark = c.spark
    val docs = graft.Tables(spark, dataDir, "documents").select(col("text"))
      .repartition(c.cores).cache()
    val events = graft.Tables(spark, dataDir, "events").select(col("event_type"), col("value")).cache()
    docs.count(); events.count()
    def loop(name: String, df: => DataFrame): (String, Double) = c.trace.span(s"kernel.$name") {
      var n = 0; val t0 = System.nanoTime()
      while (n < 3 || System.nanoTime() - t0 < 1e9) {
        df.write.format("noop").mode("overwrite").save(); n += 1
      }
      name -> (System.nanoTime() - t0) / 1e9 / n
    }
    val out = Map(
      loop("functions.shingle_strings_s", docs.select(gfn.shingle_strings(col("text"), 3))),
      loop("functions.tokens_s", docs.select(gfn.tokens(col("text")))),
      loop("functions.exact_percentile_s",
        events.groupBy(col("event_type")).agg(gfn.exact_percentile(col("value"), 0.5))))
    docs.unpersist(blocking = true); events.unpersist(blocking = true)
    out
  }

  /** Runs each query once and writes its digest, and its rows as parquet
    * for an outside cross-check; used to record `catalog_digests.json`.
    */
  def record(c: Ctx, dataDir: String, queryFile: Path, outDir: Path): Unit = {
    val digests = entries(queryFile).map { e =>
      Caches.drainAll(c.spark)
      val df = e.q.build(c.spark, dataDir)
      val rows = df.collect()
      c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(outDir.resolve(e.q.name).toString)
      e.q.name -> Map("digest" -> digest(rows), "rows" -> rows.length,
        "oracle" -> e.q.oracle.map(_.stripMargin.trim).orNull)
    }.toMap
    Json.write(outDir.resolve("digests.json"), digests)
  }
}
