package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.zip.GZIPInputStream

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.io.JsonStringEncoder

/** Seeded generator of Lambda-event JSONL input for the log workloads, and
  * the manifest that says what the pipeline must land.
  *
  * A user record is one JSON log line. Kinesis records carry user records
  * as plain JSON, gzip JSON, KPL aggregates of 10 (`graft.functions.Kpl`)
  * or gzip CloudWatch Logs envelopes of 5 events; by user record the mix is
  * about 60/20/15/5 %. About 1 % of user records are not JSON (dropped by
  * the pipeline) and about 2 % lack `log_type` (routed to `unknown`).
  * Timestamps come as ISO-8601 Z, SQL local time (the pipeline's zone is
  * UTC) or RFC 2822 with an offset. Log types are Zipf-skewed. The bytes
  * depend only on the seed.
  */
object LogGen {
  val Types: Vector[String] = Vector("app", "access", "audit", "auth", "billing", "cron", "db", "edge")
  val PathPrefix = "logs" // graft.PipelineConfig().pathPrefix
  val UnknownRoute = "unknown" // graft.PipelineConfig().unknownPrefix

  private val typeCdf: Array[Double] = {
    val w = Types.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val words = Vector("request", "served", "cache", "miss", "hit", "user", "login",
    "failed", "retry", "timeout", "queue", "batch", "write", "read", "shard", "stream",
    "commit", "offset", "latency", "upstream", "token", "session", "payload", "ok")
  private val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  private val sqlLocal = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val offsets = Vector(ZoneOffset.UTC, ZoneOffset.ofHours(9), ZoneOffset.ofHours(-5))
  private val month = DateTimeFormatter.ofPattern("yyyy-MM").withZone(ZoneOffset.UTC)
  private val day = DateTimeFormatter.ofPattern("dd").withZone(ZoneOffset.UTC)

  /** Where event times fall: uniformly over `days` days from `startSec`, and
    * with probability `previousDayFrac` on the day before it.
    */
  final case class Times(startSec: Long, days: Int, previousDayFrac: Double = 0.0)

  /** Backfill: ten days of September 2026. */
  val BackfillTimes: Times = Times(Instant.parse("2026-09-01T00:00:00Z").getEpochSecond, 10)

  /** Stream: one fixed "today", with about 5 % of records from yesterday. */
  val StreamTimes: Times = Times(Instant.parse("2026-10-01T00:00:00Z").getEpochSecond, 1, 0.05)

  /** One user record: the line the pipeline must land byte for byte, and
    * the output prefix it must land under (`None`: the pipeline drops it).
    */
  final case class UserRecord(line: String, prefix: Option[String])

  def prefixOf(route: String, epochSec: Long): String = {
    val i = Instant.ofEpochSecond(epochSec)
    s"$PathPrefix/log_type=$route/month=${month.format(i)}/day=${day.format(i)}"
  }

  final class Gen(seed: Long, times: Times) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var serial = 0L
    private val b64 = java.util.Base64.getEncoder

    private def quote(s: String): String =
      new String(JsonStringEncoder.getInstance().quoteAsString(s))

    def userRecord(): UserRecord = {
      serial += 1
      val id = s"$seed-$serial"
      if (rnd.nextDouble() < 0.01)
        return UserRecord(s"<<not json>> $id ${words(rnd.nextInt(words.size))}", None)
      val u = rnd.nextDouble()
      val tpe = Types(typeCdf.indexWhere(u <= _) max 0)
      val dayBack = if (rnd.nextDouble() < times.previousDayFrac) 86400L else 0L
      val sec = times.startSec - dayBack + rnd.nextLong(times.days * 86400L)
      val inst = Instant.ofEpochSecond(sec, rnd.nextInt(1000) * 1000000L)
      val time = rnd.nextInt(3) match {
        case 0 => iso.format(inst)
        case 1 => sqlLocal.format(inst)
        case _ => DateTimeFormatter.RFC_1123_DATE_TIME.format(
          inst.atOffset(offsets(rnd.nextInt(offsets.size))))
      }
      val hasType = rnd.nextDouble() >= 0.02
      val msg = Seq.fill(4 + rnd.nextInt(12))(words(rnd.nextInt(words.size))).mkString(" ")
      val typeField = if (hasType) s""""log_type":"$tpe",""" else ""
      val line = s"""{"log_id":"$id",$typeField"time":"$time","level":"INFO",""" +
        s""""latency_ms":${rnd.nextInt(5000)},"msg":"$msg"}"""
      UserRecord(line, Some(prefixOf(if (hasType) tpe else UnknownRoute, sec)))
    }

    /** One Kinesis record's data bytes and the user records inside it. */
    def kinesisRecord(): (Array[Byte], Seq[UserRecord]) = {
      // by Kinesis record: 60 plain, 20 gzip, 1.5 KPL(10), 1 gzip CWL(5)
      val u = rnd.nextDouble() * 82.5
      if (u < 60) { val r = userRecord(); (r.line.getBytes(UTF_8), Seq(r)) }
      else if (u < 80) {
        val r = userRecord(); (graft.functions.GzipUtil.gzip(r.line.getBytes(UTF_8)), Seq(r))
      } else if (u < 81.5) {
        val rs = Seq.fill(10)(userRecord())
        (graft.functions.Kpl.aggregate(rs.map(_.line.getBytes(UTF_8)), s"pk-$serial"), rs)
      } else {
        val rs = Seq.fill(5)(userRecord())
        val events = rs.zipWithIndex.map { case (r, i) =>
          s"""{"id":"${serial}0$i","timestamp":${times.startSec * 1000},"message":"${quote(r.line)}"}"""
        }
        val env = """{"messageType":"DATA_MESSAGE","owner":"123456789012",""" +
          """"logGroup":"/aws/app","logStream":"s-1","subscriptionFilters":["f"],""" +
          s""""logEvents":${events.mkString("[", ",", "]")}}"""
        (graft.functions.GzipUtil.gzip(env.getBytes(UTF_8)), rs)
      }
    }

    /** One Lambda event (one JSONL line) of `n` Kinesis records. */
    def eventLine(n: Int): (String, Seq[UserRecord]) = {
      val recs = Seq.fill(n)(kinesisRecord())
      val json = recs.zipWithIndex.map { case ((data, _), i) =>
        val sn = f"49$seed%014d$serial%010d$i%03d"
        s"""{"kinesis":{"partitionKey":"pk-${i % 16}","sequenceNumber":"$sn",""" +
          s""""data":"${b64.encodeToString(data)}","approximateArrivalTimestamp":${times.startSec}.5},""" +
          s""""eventID":"shardId-000000000000:$sn",""" +
          """"eventSourceARN":"arn:aws:kinesis:us-east-1:123456789012:stream/logs"}"""
      }.mkString("""{"Records":[""", ",", "]}")
      (json, recs.flatMap(_._2))
    }
  }

  val KinesisPerEvent = 25

  /** A generated input file: its event lines and the user records in it. */
  final case class FileSpec(lines: Int, kinesisRecords: Int, records: Seq[UserRecord])

  /** Write one JSONL file of at least `minRecords` user records. */
  def writeFile(gen: Gen, path: Path, minRecords: Int): FileSpec = {
    val out = Files.newBufferedWriter(path, UTF_8)
    val recs = mutable.ArrayBuffer.empty[UserRecord]
    var lines = 0
    try while (recs.size < minRecords) {
      val (line, rs) = gen.eventLine(KinesisPerEvent)
      out.write(line); out.write('\n')
      recs ++= rs; lines += 1
    } finally out.close()
    FileSpec(lines, lines * KinesisPerEvent, recs.toSeq)
  }

  /** Writes each `(path, minRecords)` file from a generator of its own,
    * seeded by `seed` and the file's position, in parallel. The bytes depend
    * only on the seed and the list.
    */
  def writeFiles(seed: Long, times: Times, files: Seq[(Path, Int)]): Seq[FileSpec] =
    parMap(files.zipWithIndex) { case ((path, n), i) =>
      writeFile(new Gen(seed * 100000 + i, times), path, n)
    }

  /** `xs.map(f)`, run on the global pool. */
  private def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
  }

  // ---------------------------------------------------------------- manifest

  /** Order-independent digest of landed lines: count and the sum of 64-bit
    * line hashes, per output prefix.
    */
  final case class Digest(count: Long, hash: Long) {
    def +(o: Digest): Digest = Digest(count + o.count, hash + o.hash)
  }
  def lineHash(line: String): Long = {
    val b = line.getBytes(UTF_8)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x1b873593)
    (h1.toLong << 32) | (h2 & 0xffffffffL)
  }

  final case class Manifest(attempted: Long, kinesisRecords: Long, prefixes: Map[String, Digest])

  def manifest(records: Seq[UserRecord], kinesisRecords: Long): Manifest = {
    val m = mutable.HashMap.empty[String, Digest]
    records.foreach { r =>
      r.prefix.foreach(p => m(p) = m.getOrElse(p, Digest(0, 0)) + Digest(1, lineHash(r.line)))
    }
    Manifest(records.size.toLong, kinesisRecords, m.toMap)
  }

  def writeManifest(path: Path, m: Manifest): Unit =
    Json.write(path, Map(
      "attempted" -> m.attempted, "kinesis_records" -> m.kinesisRecords,
      "prefixes" -> m.prefixes.toSeq.sortBy(_._1).map { case (p, d) =>
        p -> Map("count" -> d.count, "hash" -> java.lang.Long.toHexString(d.hash)) }.toMap))

  /** Digests of everything landed under `outRoot`, per prefix directory.
    * Files are read in parallel.
    */
  def landed(outRoot: Path): Map[String, Digest] = {
    if (!Files.exists(outRoot)) return Map.empty
    val files = Files.walk(outRoot).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".gz")).toVector
    parMap(files) { f =>
      val in = new BufferedReader(new InputStreamReader(
        new GZIPInputStream(Files.newInputStream(f), 65536), UTF_8))
      try {
        var d = Digest(0, 0)
        var line = in.readLine()
        while (line != null) { d = d + Digest(1, lineHash(line)); line = in.readLine() }
        outRoot.relativize(f.getParent).toString.replace('\\', '/') -> d
      } finally in.close()
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Records that are lost, duplicated or mis-routed: per prefix, the count
    * difference, and at least 1 where the line digests differ.
    */
  def failures(expected: Manifest, got: Map[String, Digest]): Long = {
    val bad = (expected.prefixes.keySet ++ got.keySet).toSeq.map { p =>
      val e = expected.prefixes.getOrElse(p, Digest(0, 0))
      val g = got.getOrElse(p, Digest(0, 0))
      if (e == g) 0L else math.max(1L, math.abs(e.count - g.count))
    }.sum
    math.min(bad, expected.attempted)
  }
}
