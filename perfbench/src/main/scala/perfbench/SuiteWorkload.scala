package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** Oracle-checked queries of the engine (`SparkEntry.queries`) over the
  * benchmark's copy of the sf0.01 testdata: a warm-up pass (the set-up),
  * then timed passes until `--seconds` have passed, each computing and
  * writing every result; the last pass's results go to the DuckDB oracle
  * check. One pass takes about 10 s on 4 cores, so a run normally times two
  * and a run on a slowed host one; the timings pool every pass.
  *
  * The suite is a fixed subset of the 90 queries: seven of the eight that
  * ROADMAP's open items target plus one per remaining harness module. The
  * full suite, and the fielded-index fixture that `q_field_*` queries need,
  * cost about 2.5 minutes per run on a 4-core box, more than the
  * benchmark's whole per-run budget. */
object SuiteWorkload {
  /** Queries ROADMAP's open items target; each gets its own wall. */
  val Watched = Seq("q_dedup_ngram", "q_bm25_queryset", "q_bm25_topk",
    "q_dedup_minhash", "q_dedup_simhash_pairs", "q_dedup_cluster", "q_ann_pairs")
  val Queries: Seq[String] = Watched ++
    Seq("q_rel_join", "q_web_lww", "q_crossref_simplify", "q_pipeline_clean")
  val Modules = Seq("text", "dedup", "ann", "rel", "web", "crossref", "pipeline")

  def module(q: String): String =
    if (q.startsWith("q_dedup_")) "dedup"
    else if (q.startsWith("q_ann_")) "ann"
    else if (q.startsWith("q_rel_")) "rel"
    else if (q.startsWith("q_web_")) "web"
    else if (q.startsWith("q_crossref_")) "crossref"
    else if (Set("q_doc_tokens", "q_tf", "q_df", "q_corpus_stats")(q) ||
      q.startsWith("q_bm25_")) "text"
    else "pipeline"

  /** One pass over every query in name order; wall seconds per query, or
    * infinity for a query that failed. */
  def pass(ctx: Ctx, sf: String, act: (String, DataFrame) => Unit)
      : Seq[(String, Double)] =
    Queries.sorted.map(name => name -> SparkEntry.queries(name)).map { case (name, fn) =>
      val req = ctx.nextReq()
      val t0 = System.nanoTime()
      val ok =
        try { ctx.tracer.span(s"harness.$name", req) { act(name, fn(ctx.spark, sf)) }; true }
        catch { case e: Throwable => ctx.fail(s"$name: $e"); false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity)
    }

  def run(ctx: Ctx): Unit = {
    val sf = Paths.get(ctx.data).toAbsolutePath.toString
    require(Files.isDirectory(Paths.get(sf)), s"no testdata at $sf")
    val out = ctx.path("suite/out")
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")

    val tracing = ctx.traced
    ctx.setTracing(false)
    ctx.e2e("setup_s") = pass(ctx, sf, write).map(_._2).sum
    ctx.setTracing(tracing)
    // collect the warm-up's garbage, so every timed pass starts alike
    System.gc()
    val passes = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    var timedS = 0.0
    while (passes.isEmpty || timedS < ctx.seconds) {
      passes += pass(ctx, sf, write)
      timedS += passes.last.map(_._2).sum
      ctx.mark(f"timed pass ${passes.length}: ${passes.last.map(_._2).sum}%.2fs")
    }
    writeOracleSql(s"$out/oracle_sql.json")
    ctx.attempt(passes.map(_.length).sum)
    // each query's mean wall over the passes
    val walls: Seq[(String, Double)] = Queries.sorted.map(q =>
      q -> passes.map(_.find(_._1 == q).get._2).sum / passes.length)
    ctx.e2e("throughput_per_s") = passes.map(_.length).sum / timedS
    val byWall = walls.map(_._2).sorted
    ctx.e2e("latency_p50_ms") = Stats.median(byWall) * 1000
    // 11 queries leave no percentile with ten beyond it: the tail is the
    // mean wall of the slowest quarter of the queries
    val slowest = byWall.takeRight((byWall.length + 3) / 4)
    ctx.e2e("latency_tail_ms") = slowest.sum / slowest.length * 1000
    ctx.report("suite.passes") = passes.length
    ctx.report("suite_s") = timedS / passes.length
    walls.foreach { case (q, w) => ctx.report(s"suite.$q.s") = w }
    if (ctx.traced) {
      Modules.foreach { m =>
        ctx.layer(s"harness.${m}_s") = walls.filter(q => module(q._1) == m).map(_._2).sum
      }
      Watched.foreach { q =>
        ctx.layer(s"harness.${q}_s") = walls.find(_._1 == q).map(_._2).getOrElse(Double.NaN)
      }
      // the same warm pass again, untraced
      ctx.setTracing(false)
      val untraced = pass(ctx, sf, write).map(_._2).sum
      ctx.layer("tracing.overhead_frac") = timedS / passes.length / untraced
    }
  }

  /** oracle_sql.json in the engine's `graft.Verify` format. */
  def writeOracleSql(path: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(Paths.get(path), SparkEntry.oracleSql
      .filter { case (k, _) => Queries.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
  }
}
