package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Small helpers shared by every workload: percentiles, JSON, the session
  * every workload runs in, and the in-memory span recorder of traced runs.
  */
object Stats {

  /** Linear-interpolated percentile (numpy's default "linear" rule) of a
    * non-empty sample, `p` in [0, 100].
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of [0, 100]")
    val s = xs.toArray.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** `percentile`, or 0 for an empty sample: a figure over records or
    * batches that never arrived, which the run already counts as failed.
    */
  def percentileOr0(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else percentile(xs, p)
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: Path, value: Any): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(value))
  }

  def read(path: Path): JsonNode = mapper.readTree(path.toFile)

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq
}

object Session {

  /** The one session every workload runs in: `local[cores]`, the engine's
    * extensions installed, AQE on, and the shuffle width pinned to the core
    * count. Returns once the session state is built and the extensions'
    * functions are registered.
    */
  def create(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("lenient_ts")), "graft extensions missing")
    spark
  }
}

/** Spans of one traced run, kept in memory and written once at exit. A span
  * covers one call into a layer; its parent is the span open on the same
  * thread when it started. With tracing off `span` only runs the body.
  */
final class Trace(val enabled: Boolean, runId: String) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  def write(path: Path): Unit = synchronized {
    Json.write(path, Map(
      "run_id" -> runId,
      "spans" -> spans.sortBy(_.startNs).map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run_id" -> runId))))
  }
}

/** What a workload hands back to `Main`: operations attempted and failed,
  * its end-to-end metrics, its per-layer metrics (traced runs only), and
  * free-form details printed for a reader.
  */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double],
                         layers: Map[String, Double],
                         info: Map[String, Any])

/** The common frame of a workload run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     trace: Trace, work: Path, cores: Int) {
  def traced: Boolean = trace.enabled
}
