package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One traced interval. `parent` is -1 for the run's root span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out once, when the run ends. */
final class Tracer(val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  def span[A](name: String, parent: Int)(f: Int => A): A = {
    val id = nextId.getAndIncrement()
    val t0 = System.nanoTime()
    try f(id)
    finally {
      val s = Span(id, name, parent, t0, System.nanoTime(), run)
      synchronized { spans += s }
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Duration minus the part of the interval its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map { s =>
      s"""{"run":"${s.run}","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Task metrics summed per job group. */
final class GroupMetrics {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/**
 * Attributes Spark task metrics to the job group that was set on the thread
 * which submitted the job. Job groups are thread-local, so a layer that runs
 * on its own thread must set its group on that thread.
 */
final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupMetrics]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(group => e.stageIds.foreach(stageGroup.put(_, group)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val acc = groups.computeIfAbsent(g, _ => new GroupMetrics)
      acc.synchronized {
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** The group's totals; call after `ListenerBusAccess.waitUntilEmpty`. */
  def group(name: String): GroupMetrics = groups.getOrDefault(name, new GroupMetrics)
}

/** Host and process readings taken from outside Spark. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  def processCpuSeconds: Double = os.getProcessCpuTime / 1e9
  def threadCpuNs: Long = threads.getCurrentThreadCpuTime

  /** Total CPU-steal ticks over all CPUs, from the first line of /proc/stat;
   * 0 where the file is not there. */
  def stealTicks: Long = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(f)) 0L
    else {
      val cpu = java.nio.file.Files.readAllLines(f).asScala.head.trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toLong else 0L
    }
  }

  /** Pure-CPU zero-allocation loop, the unit of the weather probe. */
  def burn(rounds: Long): Long = {
    var h = 1234567L; var i = 0L
    while (i < rounds) { h = h * 6364136223846793005L + 1442695040888963407L; h ^= h >>> 33; i += 1 }
    h
  }

  /** Wall seconds of one fixed burn per core, run as one Spark job: the same
   * job on the same host reads the same unless other load takes the CPUs. */
  def probe(sc: SparkContext, cores: Int): Double = {
    val t0 = System.nanoTime()
    sc.parallelize(1 to cores, cores).map(_ => burn(50000000L)).sum()
    (System.nanoTime() - t0) / 1e9
  }

  /** Bytes of persisted data (memory and disk) Spark holds. Broadcast blocks
   * are left out: the cleaner frees them when the driver's GC runs, so their
   * sum at any moment depends on GC timing. */
  def storageUsed(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Samples `storageUsed` every 20 ms until closed; `peak` is the largest
   * reading so far. */
  final class StoragePeak(sc: SparkContext) extends AutoCloseable {
    @volatile private var running = true
    @volatile var peak: Long = storageUsed(sc)
    private val t = new Thread(() => {
      while (running) {
        peak = peak max storageUsed(sc)
        Thread.sleep(20)
      }
    }, "storage-peak")
    t.setDaemon(true)
    t.start()
    def close(): Unit = { running = false; t.join(); peak = peak max storageUsed(sc) }
  }
}
