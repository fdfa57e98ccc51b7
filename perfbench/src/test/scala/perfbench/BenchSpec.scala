package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("perfbench-spec")

  test("the generator's bytes depend only on the seed") {
    val d = tmp()
    // files written in parallel, each from its own generator
    def files(seed: Long, tag: String): Seq[Array[Byte]] = {
      val paths = (0 until 3).map(i => d.resolve(s"$tag-$i"))
      LogGen.writeFiles(seed, LogGen.BackfillTimes, paths.map(_ -> 500))
      paths.map(p => Files.readAllBytes(p))
    }
    val a = files(7, "a"); val b = files(7, "b"); val c = files(8, "c")
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!java.util.Arrays.equals(a.head, c.head))
    assert(!java.util.Arrays.equals(a(0), a(1)))
    Backfill.deleteTree(d)
  }

  test("the generated mix has every record kind, non-JSON lines and unknown routes") {
    val gen = new LogGen.Gen(3, LogGen.BackfillTimes)
    val recs = Seq.fill(20000)(gen.userRecord())
    val dropped = recs.count(_.prefix.isEmpty).toDouble / recs.size
    val unknown = recs.count(_.prefix.exists(_.contains("/log_type=unknown/"))).toDouble / recs.size
    assert(dropped > 0.005 && dropped < 0.02)
    assert(unknown > 0.01 && unknown < 0.04)
    val prefixes = recs.flatMap(_.prefix).toSet
    assert(prefixes.size > 80 && prefixes.size <= 9 * 11)
    val kinds = Seq.fill(2000)(gen.kinesisRecord()).map(_._2.size).toSet
    assert(kinds == Set(1, 5, 10))
  }

  test("percentile interpolates linearly between order statistics") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(math.abs(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 90) - 3.7) < 1e-12)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 0) == 1.0)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 100) == 4.0)
    assert(Stats.percentile(Seq(5.0), 90) == 5.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  /** Lands `lines` the way the pipeline's text sink does: gzip files in
    * Hive-style prefix directories.
    */
  private def land(root: Path, lines: Seq[(String, String)]): Unit =
    lines.groupBy(_._1).zipWithIndex.foreach { case ((prefix, ls), i) =>
      val dir = root.resolve(prefix)
      Files.createDirectories(dir)
      val out = new GZIPOutputStream(Files.newOutputStream(dir.resolve(s"part-$i.txt.gz")))
      ls.foreach { case (_, l) => out.write((l + "\n").getBytes(UTF_8)) }
      out.close()
    }

  test("the manifest check catches a dropped, duplicated or mis-routed record") {
    val gen = new LogGen.Gen(11, LogGen.BackfillTimes)
    val recs = Seq.fill(3000)(gen.userRecord())
    val man = LogGen.manifest(recs, 0)
    val good = recs.flatMap(r => r.prefix.map(_ -> r.line))
    def failures(lines: Seq[(String, String)]): Long = {
      val d = tmp()
      land(d, lines)
      try LogGen.failures(man, LogGen.landed(d)) finally Backfill.deleteTree(d)
    }
    assert(failures(good) == 0)
    assert(failures(good.reverse) == 0)
    assert(failures(good.tail) == 1)
    assert(failures(good :+ good.head) == 1)
    val other = good.map(_._1).find(_ != good.head._1).get
    assert(failures((other -> good.head._2) +: good.tail) == 2)
    // same count, different line under one prefix
    assert(failures((good.head._1 -> (good.head._2 + " ")) +: good.tail) == 1)
  }

  test("stream latency maps each file to the end of the batch that read it") {
    import Stream.{BatchEvent, FileEvent}
    val files = Seq(
      FileEvent("a", "p", dueMs = 1000, publishedMs = 1001, lines = 1, records = 10),
      FileEvent("b", "p", dueMs = 1100, publishedMs = 1102, lines = 1, records = 30),
      FileEvent("c", "p", dueMs = 1200, publishedMs = 1250, lines = 1, records = 10),
      FileEvent("d", "p", dueMs = 1300, publishedMs = 1301, lines = 1, records = 5))
    val batches = Map(
      0L -> BatchEvent(0, 1050, Map("triggerExecution" -> 400.0), 1),
      1L -> BatchEvent(1, 1450, Map("triggerExecution" -> 300.0), 2))
    val batchOf = Map("a" -> 0L, "b" -> 1L, "c" -> 1L) // d never read
    val lat = Stream.latencies(files, batchOf, batches)
    assert(lat == Map("a" -> 450.0, "b" -> 650.0, "c" -> 550.0))
    // 10 records at 450, 30 at 650, 10 at 550: weighted by records
    assert(Stream.recordPercentile(files, lat, 50) == 650.0)
    assert(Stream.recordPercentile(files, lat, 0) == 450.0)
    // a phase whose files no batch read has no latency; it reads 0
    assert(Stream.recordPercentile(files.takeRight(1), lat, 50) == 0.0)
    // at batch 1's start a has been read; b, c and the never-read d wait
    assert(Stream.backlogMax(files, batchOf, batches.values.toSeq) == 3)
  }
}
