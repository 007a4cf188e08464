package perfbench

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Generator, UserDefinedExpression, WindowFunction}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, Window}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkEntry
import graft.queries.Queries

/**
 * The `queries` workload: `SparkEntry.queries` over the benchmark's copy of
 * the sf0.01 `documents` table. First a cold pass after
 * `Queries.clearCache()`, then warm passes. Each query is timed through a
 * `noop`-format write, so every declared column is computed, and its row
 * count is checked against the DuckDB result of its `SparkEntry.oracleSql`.
 */
object QueryBench {

  /** The queries an optimisation of joins and exchanges is most likely to
   * touch: the PageRank, triangle and link-prediction graph queries and the
   * entropy query. A cold and a warm pass over all 61 take about two minutes
   * on 4 cores, over a run's time budget. */
  val Timed: Seq[String] = Seq("kg_pagerank", "en_entropy", "kg_triangles", "kg_linkpred")

  /** The seed fixes the order in which a pass runs the queries. */
  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Timed)

  /** DuckDB row counts of the timed queries' `SparkEntry.oracleSql`, as
   * `name<TAB>rows` lines (data/oracle_rows_sf0.01.tsv; NOTES.md says how to
   * remake it). */
  def oracleCounts(a: Args): Map[String, Long] = {
    val rows = Files.readAllLines(a.oracle).asScala.map(_.split("\t"))
      .map(f => f(0) -> f(1).toLong).toMap
    val missing = Timed.filterNot(rows.contains)
    require(missing.isEmpty, s"no oracle row count for ${missing.mkString(", ")}")
    rows
  }

  def run(a: Args, r: Report): SparkSession = {
    val (spark, oracle) = Main.setUp(a, r)(_ => oracleCounts(a))
    Main.weather(spark, r) { if (a.trace) traced(spark, a, r, oracle) else timed(spark, a, r, oracle) }
    spark
  }

  /** Runs one query to a noop sink; returns its wall seconds, or None when it
   * threw or its row count differs from the oracle's. */
  def runOne(spark: SparkSession, a: Args, r: Report, oracle: Map[String, Long],
      name: String): Option[Double] = {
    val t0 = System.nanoTime()
    val rows = try {
      val obs = Observation()
      SparkEntry.queries(name)(spark, a.sfDir).observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      Right(obs.get("rows").asInstanceOf[Long])
    } catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    rows match {
      case Left(e) =>
        r.check(ok = false, s"query $name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      case Right(n) =>
        r.check(n == oracle(name), s"query $name returned $n rows, its oracle ${oracle(name)}")
        if (n == oracle(name)) Some(secs) else None
    }
  }

  /** One pass over the timed queries: (wall, per-query seconds of the ones
   * that succeeded). */
  def pass(spark: SparkSession, a: Args, r: Report, oracle: Map[String, Long])
      : (Double, Seq[(String, Double)]) = {
    val (ts, wall) = Stats.timed(order(a.seed).flatMap(n => runOne(spark, a, r, oracle, n).map(n -> _)))
    (wall, ts)
  }

  private def timed(spark: SparkSession, a: Args, r: Report, oracle: Map[String, Long]): Unit = {
    val peak = new Host.StoragePeak(spark.sparkContext)
    Queries.clearCache()
    val start = System.nanoTime()
    val (cold, _) = pass(spark, a, r, oracle)
    val warm = Stats.repeat(1, a.seconds, start) {
      val cpu0 = Host.processCpuSeconds
      val (wall, qs) = pass(spark, a, r, oracle)
      (wall, qs, Host.processCpuSeconds - cpu0)
    }
    peak.close()
    val perQuery = warm.flatMap(_._2.map(_._2))
    r.put("cold_s", cold, "s")
    r.put("warm_s", Stats.median(warm.map(_._1)), "s")
    r.put("docs_per_s", documents(spark, a) / Stats.median(warm.map(_._1)), "1/s")
    r.put("cpu_s", Stats.median(warm.map(_._3)), "s")
    r.put("storage_peak_mb", peak.peak / 1e6, "MB")
    r.put("query_p50_s", Stats.median(perQuery), "s")
    r.put("warm_passes", warm.size.toDouble, "count")
  }

  def documents(spark: SparkSession, a: Args): Double =
    Queries.table(spark, a.sfDir, "documents").count().toDouble

  /** Captures the query executions Spark reports, to read executed plans. */
  final class Plans extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object Helper extends AdaptiveSparkPlanHelper

  /** Exchange nodes in an executed plan, inside adaptive stages and subqueries. */
  def exchanges(qe: QueryExecution): Int =
    Helper.collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size

  /** The work an optimized plan declares, counted by class: aggregate and
   * window functions, generators and user-defined functions, and the joins,
   * aggregates, windows and generates that run them. Projections and sorts
   * are left out: every plan drops those under `count()`. */
  def work(df: DataFrame): Map[String, Int] = {
    val plan = df.queryExecution.optimizedPlan
    val nodes = plan.collectWithSubqueries {
      case p @ (_: Join | _: Aggregate | _: Window | _: Generate) => p.getClass.getSimpleName
    }
    val exprs = plan.collectWithSubqueries { case p => p.expressions }.flatten.flatMap(_.collect {
      case e @ (_: AggregateFunction | _: WindowFunction | _: Generator | _: UserDefinedExpression) =>
        e.getClass.getSimpleName
    })
    (nodes ++ exprs).groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** The timed queries whose plan under `count()` drops work the
   * noop-write plan does, with the dropped classes: a `count()` timing of
   * those would not time all of their columns. */
  def hollowUnderCount(spark: SparkSession, a: Args): Seq[(String, Iterable[String])] =
    Timed.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, a.sfDir)
      val counted = work(df.groupBy().count())
      val dropped = work(df).collect { case (k, n) if counted.getOrElse(k, 0) < n => k }
      if (dropped.isEmpty) None else Some(name -> dropped)
    }

  private def traced(spark: SparkSession, a: Args, r: Report, oracle: Map[String, Long]): Unit = {
    // The first warm pass still runs code the JIT has not finished with; the
    // second is the untraced twin of the traced pass.
    Queries.clearCache()
    pass(spark, a, r, oracle)
    pass(spark, a, r, oracle)
    val (untraced, _) = pass(spark, a, r, oracle)

    val plans = new Plans
    spark.listenerManager.register(plans)
    val ledger = new Ledger(spark, new Tracer(s"queries-${a.seed}"))
    val exch = scala.collection.mutable.Map.empty[String, Int]
    val (_, tracedWall) = Stats.timed(ledger.root("queries") { root =>
      order(a.seed).foreach { name =>
        ledger.layer(s"queries.$name", s"queries.$name", root) {
          plans.seen.clear()
          runOne(spark, a, r, oracle, name)
          ((), 0L)
        }
        exch(name) = lastWrite(plans).map(exchanges).getOrElse(-1)
      }
    })
    ledger.close()
    spark.listenerManager.unregister(plans)

    val layers = Timed.map(n => s"queries.$n").map(l => l -> ledger.metrics(l))
    Timed.zip(layers).foreach { case (name, (l, (_, cpu))) =>
      r.put(s"$l.warm_s", ledger.tracer.named(l).map(_.seconds).sum, "s")
      r.put(s"$l.cpu_s", cpu, "s")
      r.put(s"$l.exchanges", exch(name).toDouble, "count")
    }
    r.put("queries.cpu_s", layers.map(_._2._2).sum, "s")
    r.put("queries.gc_s", layers.map(_._2._1.gcMs).sum / 1e3, "s")
    r.put("queries.shuffle_write_mb", layers.map(_._2._1.shuffleWriteBytes).sum / 1e6, "MB")

    val hollow = hollowUnderCount(spark, a)
    hollow.foreach { case (n, dropped) =>
      println(s"hollow under count(): $n drops ${dropped.toSeq.sorted.mkString(" ")}")
    }
    r.put("queries.hollow_under_count", hollow.size.toDouble, "count")
    r.put("trace.overhead_s", tracedWall - untraced, "s")
    ledger.tracer.writeJsonl(a.work.resolve(s"spans-queries-${a.seed}.jsonl"))
  }

  /** The noop write's execution. Listener calls arrive asynchronously, so
   * this waits for it, ten seconds at most. */
  private def lastWrite(plans: Plans): Option[QueryExecution] = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    def find = plans.seen.asScala.toSeq.reverse.find(isWrite)
    var found = find
    while (found.isEmpty && System.nanoTime() < deadline) { Thread.sleep(5); found = find }
    found
  }

  private def isWrite(qe: QueryExecution): Boolean =
    qe.logical.getClass.getSimpleName.matches("(OverwriteByExpression|AppendData|SaveIntoDataSourceCommand).*")
}
