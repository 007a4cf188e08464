package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.KgApp
import graft.corpus.Synth
import graft.kg.KgPipeline
import graft.lake.LakeTable

/** The benchmark's own checks at a small size: the plain build, the lake
 * commit and the traced replay make the same triples, and the ledger's row
 * counts and spans agree with the untraced run. */
class CrossPathSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Paths.get("target", "test-work").toAbsolutePath
  private val a = Args("kg_build", seed = 7L, seconds = 1, trace = true, work = work,
    sfDir = "", oracle = work.resolve("none"))
  private lazy val spark = Main.session(work)

  override def beforeAll(): Unit = {
    graft.util.Fs.rmrf(work.toFile)
    Files.createDirectories(work)
    Synth.corpus(spark, 3000, a.seed).write.parquet(Kg.corpusPath(a))
  }

  override def afterAll(): Unit = spark.stop()

  private def build() = {
    val plan = KgPipeline.build(spark, Kg.pages(spark, a), None, Kg.Config)
    (Kg.digest(plan.triples), plan.mentions.count())
  }

  test("kg_build's triple digest equals that of the triples KgApp.run commits") {
    val (d, _) = build()
    val lake = work.resolve("lake").toString
    val (triples, _) = KgApp.run(spark, KgApp.AppArgs(input = Some(Kg.corpusPath(a)), lake = lake))
    assert(d._1 > 0)
    assert(Kg.digest(triples) === d)
    assert(Kg.digest(new LakeTable(spark, lake).read("triples")) === d)
  }

  test("the traced replay's row counts equal the untraced build's; self time <= wall") {
    val (d, mentions) = build()
    val ledger = new Ledger(spark, new Tracer("test"))
    val out = Kg.replay(spark, a, ledger, None)
    ledger.close()
    assert(out.digest === d)
    assert(ledger.rows("tag") === mentions)
    assert(ledger.rows("kg.triples") === d._1)

    val r = new Report
    ledger.report(r, Ledger.PipelineLayers)
    val spans = ledger.tracer.all
    val root = spans.filter(_.parent == -1)
    assert(root.map(_.name) === Seq("kg_build"))
    Ledger.PipelineLayers.foreach { l =>
      assert(spans.exists(s => s.name == l && s.parent == root.head.id), l)
      assert(r.metrics(s"$l.self_s")._1 <= r.metrics(s"$l.wall_s")._1, l)
      assert(r.metrics(s"$l.rows_out")._1 > 0, l)
      assert(r.metrics(s"$l.cpu_s")._1 > 0, l)
    }
  }

  test("the lake replay commits the same triples through LakeTable") {
    val (d, _) = build()
    val root = Kg.freshDir(work.resolve("lake-replay"))
    val ledger = new Ledger(spark, new Tracer("test-lake"))
    val out = Kg.replay(spark, a, ledger, Some(new LakeTable(spark, root)))
    ledger.close()
    assert(out.digest === d)
    assert(Kg.digest(new LakeTable(spark, root).read("triples")) === d)
    assert(ledger.tracer.named("lake.write").size === 5)
  }

  test("self time is a span's duration minus the union of its children") {
    val t = new Tracer("t")
    t.span("root", -1) { root =>
      t.span("a", root)(_ => Thread.sleep(30))
      t.span("b", root)(_ => Thread.sleep(30))
    }
    val root = t.named("root").head
    val kids = t.named("a").head.seconds + t.named("b").head.seconds
    assert(math.abs(t.selfSeconds(root) - (root.seconds - kids)) < 1e-6)
    assert(t.selfSeconds(t.named("a").head) === t.named("a").head.seconds)
  }
}
