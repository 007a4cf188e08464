package perfbench

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession

/**
 * Per-layer readings of a traced run. Each layer call runs under a span and
 * under a Spark job group named after the layer, set on the calling thread;
 * the layer's CPU is its tasks' executor CPU plus the calling thread's own.
 * The ledger listens to Spark from construction until `close`.
 */
final class Ledger(spark: SparkSession, val tracer: Tracer) extends AutoCloseable {
  private val listener = new LayerListener
  spark.sparkContext.addSparkListener(listener)
  private val rowsOut = TrieMap.empty[String, Long]
  private val driverCpu = TrieMap.empty[String, Long]

  def root[A](name: String)(f: Int => A): A = tracer.span(name, -1)(f)

  /** Runs `f`, which returns its result and the layer's output rows. */
  def layer[A](group: String, span: String, parent: Int)(f: => (A, Long)): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val c0 = Host.threadCpuNs
    try tracer.span(span, parent) { _ =>
      val (a, n) = f
      synchronized { rowsOut(group) = rowsOut.getOrElse(group, 0L) + n }
      a
    } finally {
      val c = Host.threadCpuNs - c0
      synchronized { driverCpu(group) = driverCpu.getOrElse(group, 0L) + c }
      sc.clearJobGroup()
    }
  }

  def rows(group: String): Long = rowsOut.getOrElse(group, 0L)

  /** Stops listening once every event so far has been delivered. */
  def close(): Unit = {
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Task metrics of a group, plus the CPU of the driver threads that ran it. */
  def metrics(group: String): (GroupMetrics, Double) = {
    val m = listener.group(group)
    (m, (m.cpuNs + driverCpu.getOrElse(group, 0L)) / 1e9)
  }

  /** `<layer>.wall_s/self_s/cpu_s/gc_s/shuffle_write_mb/spill_mb/rows_out`. */
  def report(r: Report, layers: Seq[String]): Unit = layers.foreach { l =>
    val spans = tracer.named(l)
    val (m, cpu) = metrics(l)
    r.put(s"$l.wall_s", spans.map(_.seconds).sum, "s")
    r.put(s"$l.self_s", spans.map(tracer.selfSeconds).sum, "s")
    r.put(s"$l.cpu_s", cpu, "s")
    r.put(s"$l.gc_s", m.gcMs / 1e3, "s")
    r.put(s"$l.shuffle_write_mb", m.shuffleWriteBytes / 1e6, "MB")
    r.put(s"$l.spill_mb", m.spillBytes / 1e6, "MB")
    r.put(s"$l.rows_out", rows(l).toDouble, "count")
  }
}

object Ledger {
  val PipelineLayers: Seq[String] =
    Seq("corpus", "mine_bg", "mine", "score", "artifact", "tag", "kg.link", "kg.triples")
}
