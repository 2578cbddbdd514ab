package perfbench

import org.apache.spark.sql.functions._

import graft.index.PostingsBuilder
import graft.io.TableIO
import graft.web.WebIndex

/** Index builds over seeded input corpora, and the step-level numbers of a
  * traced build. */
object Builds {
  /** Doc-shard size: a few shards per core at the benchmark's corpus sizes,
    * as at larger scale. */
  val ShardSize = 1024L

  def cfg: PostingsBuilder.Config =
    PostingsBuilder.Config(shardSize = ShardSize, shardGroups = 1)

  final case class Staged(dir: String, docs: Long, distinctUrls: Long,
      textBytes: Long, stageS: Double)

  /** Write seeded corpus `stream` as input_hint parquet (the table an index
    * build starts from). */
  def stage(ctx: Ctx, stream: Long, n: Long, dir: String): Staged = {
    val spark = ctx.spark
    val (_, s) = Main.timed {
      Gen.corpus(spark, ctx.seed, stream, n, ctx.cores * 2)
        .write.mode("overwrite").parquet(dir)
    }
    // expected counts straight from the generator, not from the engine
    val urls = (0L until n).map(i => Gen.corpusUrl(ctx.seed, stream, i, n)).distinct.size
    val text = (0L until n).map(i => Gen.text(ctx.seed, stream, i).length.toLong).sum
    Staged(dir, n, urls.toLong, text, s)
  }

  final case class Built(wallS: Double, t0: Double, t1: Double, req: Long)

  def build(ctx: Ctx, st: Staged, dir: String): Built = {
    new TableIO(dir).deleteAll()
    val input = ctx.spark.read.parquet(st.dir)
    val req = ctx.nextReq()
    val t0 = ctx.tracer.nowMs
    ctx.tracer.span("index.build", req) { WebIndex.build(ctx.spark, input, dir, cfg) }
    val t1 = ctx.tracer.nowMs
    Built((t1 - t0) / 1000.0, t0, t1, req)
  }

  /** Step timeline and per-step executor numbers of one traced build whose
    * jobs carry request id `req`. `manifestDir` holds the finished index;
    * `writeDir` is where its tables were written (they differ for a
    * compaction, which builds aside and swaps in). */
  def stepMetrics(ctx: Ctx, manifestDir: String, writeDir: String, req: Long,
      t0: Double, t1: Double): Map[String, Double] = {
    ctx.drain()
    val tl = Steps.timeline(manifestDir, t0, t1)
    val parent = ctx.tracer.all.find(s => s.req == req && s.name == "index.build")
      .map(_.id).getOrElse(0L)
    tl.windows.foreach { case (s, (a, b)) =>
      ctx.tracer.record(s"index.step.$s", req, parent, a, b)
    }
    val js = ctx.jobs.all.filter(_.req == req.toString)
    val byStep = js.groupBy(j => Steps.attribute(ctx.jobs, j, writeDir, tl).getOrElse("other"))
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Steps.All.foreach(s => m(s"index.step.${s}_s") = tl.seconds(s))
    m(s"index.critical_path_cover") = tl.cover
    ctx.gate("index.critical_path_cover", tl.cover >= 0.95,
      s"step chain covers ${tl.cover} of the build wall (< 0.95)")
    Seq("docs", "doc_terms", "postings", "term_stats", "doc_map").foreach { s =>
      val sj = byStep.getOrElse(s, Nil)
      m(s"index.$s.exec_s") = sj.map(_.runMs).sum / 1000.0
      m(s"index.$s.shuffle_write_mb") = sj.map(_.shuffleWriteBytes).sum / JobRecorder.MB
      m(s"index.$s.spill_mb") = sj.map(_.spillBytes).sum / JobRecorder.MB
    }
    m(s"index.gc_s") = js.map(_.gcMs).sum / 1000.0
    m(s"index.exec_s") = js.map(_.runMs).sum / 1000.0
    m(s"index.shuffle_mb") = js.map(_.shuffleWriteBytes).sum / JobRecorder.MB
    m(s"index.cpu_util") = js.map(_.runMs).sum / ((t1 - t0) * ctx.cores)
    val lin = ctx.spark.read.parquet(new TableIO(manifestDir).tablePath("lineage"))
      .agg(sum("postings_bytes"), sum("n_postings")).head()
    m(s"index.postings_mb") = lin.getLong(0) / JobRecorder.MB
    m(s"index.bytes_per_posting") = lin.getLong(0).toDouble / lin.getLong(1)
    m.toMap
  }
}
