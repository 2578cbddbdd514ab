package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark: SparkSession = Main.session(2, s"$work/spark-local")

  override def afterAll(): Unit = spark.stop()

  test("generators: same seed gives identical inputs, another seed different ones") {
    def rows(seed: Long) = (0L until 50L).map(i => Gen.corpusRow(seed, 3, i, 50))
      .map(r => (r.url, r.warc_ts, r.html.toSeq, r.text, r.lang))
    def batch(seed: Long) = (0L until 50L).map(i => Gen.batchRow(seed, 3, 1, i, 50, 40, 0.2))
      .map(r => (r.url, r.text))
    def qs(seed: Long) = Gen.queries(seed, 200).toSeq.map(q => (q.qid, q.text))
    assert(rows(7) == rows(7))
    assert(batch(7) == batch(7))
    assert(qs(7) == qs(7))
    assert(rows(7) != rows(8))
    assert(batch(7) != batch(8))
    assert(qs(7) != qs(8))
    // the Spark-side corpus is the same pure function of the seed
    val a = Gen.corpus(spark, 7, 3, 50, 3).collect().map(_.getString(3)).toSeq
    val b = Gen.corpus(spark, 7, 3, 50, 2).collect().map(_.getString(3)).toSeq
    assert(a == b)
    assert(a == rows(7).map(_._4))
  }

  test("query stream mixes fresh and repeated terms with 1-5 terms per query") {
    val qs = Gen.queries(11, 400)
    assert(qs.forall(q => q.terms.length >= 1 && q.terms.length <= 5))
    val p = Gen.queryProperties(11, qs)
    assert(p("load.fresh_term_share") > 0.2 && p("load.fresh_term_share") < 0.8)
    assert(p("load.head_term_share") > 0.05)
  }

  test("percentile refuses a percentile with fewer than ten samples beyond it") {
    val xs100 = (1 to 100).map(_.toDouble)
    intercept[IllegalArgumentException](Stats.percentile(xs100, 0.95))
    assert(Stats.percentile(xs100, 0.90) == 90.0)
    val xs200 = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs200, 0.95) == 190.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    // tail: p95 once there are enough samples, else the highest allowed
    assert(Stats.tail(xs200) == 190.0)
    assert(Stats.tail(xs100) == 90.0)
    assert(Stats.tail(Seq(1.0, 5.0, 2.0)) == 5.0)
    assert(Stats.tail((1 to 12).map(_.toDouble)) == 12.0)
  }

  test("self time subtracts the union of child spans") {
    val spans = Seq(Span(1, 0, 1, "q", 0, 100), Span(2, 1, 1, "a", 10, 40),
      Span(3, 1, 1, "b", 30, 60), Span(4, 1, 1, "c", 80, 90))
    assert(Tracer.selfMs(spans)(1) == 100 - 50 - 10)
  }

  test("step attribution on a tiny index covers the build's critical path") {
    val ctx = new Ctx(spark, 5, 1, traced = true, work, "")
    val st = Builds.stage(ctx, 0, 400, ctx.path("in"))
    val dir = ctx.path("idx")
    val b = Builds.build(ctx, st, dir)
    val m = Builds.stepMetrics(ctx, dir, dir, b.req, b.t0, b.t1)
    assert(m("index.critical_path_cover") >= 0.95, m)
    Steps.All.foreach(s => assert(m(s"index.step.${s}_s") > 0, s))
    Seq("docs", "doc_terms", "postings", "term_stats", "doc_map")
      .foreach(s => assert(m(s"index.$s.exec_s") > 0, s))
    Gates.indexCounts(ctx, dir, st.distinctUrls, "tiny")
    assert(ctx.failed == 0, ctx.failures)
  }
}
