package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line arguments; `work` is the scratch directory inside the checkout. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, sfDir: String, oracle: Path)

/** Every reading of one run, plus the failure count the run's checks keep. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** One checked operation: counts toward `attempted`, and toward `failed`
   * when `ok` is false. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"FAILED: $what") }
  }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Runs `f` at least `min` times, and again while fewer than `seconds`
   * have passed since `startNs`. */
  def repeat[A](min: Int, seconds: Double, startNs: Long)(f: => A): List[A] = {
    val out = List.newBuilder[A]
    var n = 0
    while (n < min || (System.nanoTime() - startNs) / 1e9 < seconds) { out += f; n += 1 }
    out.result()
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/**
 * Benchmark main. One JVM runs one workload at local[<cores>]:
 *
 *   perfbench.Main --workload kg_build|queries --seed n --seconds s --trace 0|1
 *                  --work dir --sf dir --oracle rows.tsv
 *
 * It prints one `metric <name> <value> <unit>` line per reading and, as its
 * last line, a JSON object with the run's checks and every reading. It exits
 * non-zero when any check failed.
 */
object Main {

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      Paths.get(req("work")).toAbsolutePath, req("sf"), Paths.get(req("oracle")))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** (Re)starts the session every workload runs in. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `setup` three times, each in a freshly started session, and
   * reports the median as `setup_s`. Returns the last session. */
  def setUp[A](a: Args, r: Report)(setup: SparkSession => A): (SparkSession, A) = {
    var spark: SparkSession = null
    var out: Option[A] = None
    val walls = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      Stats.timed { spark = session(a.work); out = Some(setup(spark)) }._2
    }
    r.put("setup_s", Stats.median(walls), "s")
    r.put("setup_first_s", walls.head, "s")
    (spark, out.get)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val r = new Report
    val spark = a.workload match {
      case "kg_build" => Kg.run(a, r)
      case "queries"  => QueryBench.run(a, r)
      case other      => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    r.put("host.cores", cores, "count")
    r.put("failed_share", r.failed.toDouble / math.max(1L, r.attempted), "share")
    spark.stop()
    r.metrics.foreach { case (k, (v, u)) => println(s"metric $k $v $u") }
    println(r.json)
    System.out.flush()
    sys.exit(if (r.failed == 0) 0 else 1)
  }

  /** Wraps a workload's timed region with the host-weather readings: a
   * pure-CPU probe before and after, and the CPU-steal ticks in between. */
  def weather[A](spark: SparkSession, r: Report)(f: => A): A = {
    r.put("host.probe_before_s", Host.probe(spark.sparkContext, cores), "s")
    val steal0 = Host.stealTicks
    val out = f
    r.put("host.steal_ticks", (Host.stealTicks - steal0).toDouble, "count")
    r.put("host.probe_after_s", Host.probe(spark.sparkContext, cores), "s")
    out
  }
}
