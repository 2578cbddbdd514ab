package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.{DocIds, IndexTables, TextIndex}
import graft.io.TableIO
import graft.query.Searcher

/** Correctness gates. Each check is one attempted operation; a failed check
  * counts as a failed operation and makes the run incorrect. */
object Gates {
  val K = 10

  /** Bytes of every file under an index directory. */
  def dirBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  /** doc_map holds one row per distinct url (last write wins), and the
    * postings count in lineage equals Σ df over term_stats. */
  def indexCounts(ctx: Ctx, dir: String, distinctUrls: Long, label: String): Unit = {
    val spark = ctx.spark
    val io = new TableIO(dir)
    val docMap = IndexTables.docMap(spark, io).count()
    ctx.gate(s"$label.doc_map_rows", docMap == distinctUrls,
      s"doc_map has $docMap rows for $distinctUrls distinct urls")
    val postings = spark.read.parquet(io.tablePath("lineage"))
      .agg(sum("n_postings")).head().getLong(0)
    val dfSum = IndexTables.termStats(spark, io).agg(sum("df")).head().getLong(0)
    ctx.gate(s"$label.postings_eq_df", postings == dfSum,
      s"lineage n_postings $postings != sum(term_stats.df) $dfSum")
  }

  /** The docs an index serves, as (doc_id, text): the base's docs, then
    * each streamed batch's docs appended with ids past the previous maximum
    * (a re-crawled url stays a second doc until compaction). */
  def servedDocs(ctx: Ctx, dir: String, batches: Seq[Long]): DataFrame = {
    val spark = ctx.spark
    val io = new TableIO(dir)
    val base = DocIds.resolve(spark.read.parquet(io.tablePath("docs")))
      .select("doc_id", "text")
    batches.foldLeft(base) { (docs, b) =>
      val next = docs.agg(max("doc_id")).head().getLong(0) + 1
      docs.unionByName(
        DocIds.resolve(spark.read.parquet(io.tablePath(s"stream_docs/batch=$b")))
          .select((col("doc_id") + lit(next)).as("doc_id"), col("text")))
    }
  }

  /** Served top-k equals the exact Catalyst scorer's top-k over `docs`:
    * same doc ids, same micro-rounded scores, ties by ascending doc id. One
    * gate per query. */
  def servedTopK(ctx: Ctx, h: Searcher.Handle, docs: DataFrame, qs: Seq[Gen.Query],
      label: String): Unit = {
    val spark = ctx.spark
    val terms = qs.flatMap(q => Analyzer.analyzeStop(q.text).toSeq.map(q.qid -> _))
    def rows(df: DataFrame): Map[Long, Seq[(Long, Long)]] =
      df.select("qid", "rnk", "doc_id", "score_x6").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(r => (r._3, r._4)) }
    val want = rows(TextIndex.topK(TextIndex.scoreQueries(spark, docs, terms), K))
    val got = rows(Searcher.search(h, qs.map(q => q.qid -> q.text), K))
    qs.foreach { q =>
      val w = want.getOrElse(q.qid.toLong, Nil)
      val g = got.getOrElse(q.qid.toLong, Nil)
      ctx.gate(s"$label.topk.q${q.qid}", w == g,
        s"query '${q.text}': served ${g.take(3)} vs exact ${w.take(3)}")
    }
  }
}
