package perfbench

import org.apache.spark.sql.functions._

import graft.index.IndexTables
import graft.io.TableIO
import graft.model.PostingBlock
import graft.query.{BlockMaxWand, Bm25}
import graft.query.BlockMaxWand.{QueryTerm, WandQuery}

/** The WAND kernel alone: `BlockMaxWand.scoreShard` on one thread over the
  * blocks of a seeded sample of shards, with no Spark on the timed path. */
object Kernel {
  val SampleShards = 4

  def metrics(ctx: Ctx, dir: String, qs: Seq[Gen.Query]): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val io = new TableIO(dir)
    val stats = IndexTables.corpusStats(spark, io)
    val shards = spark.read.parquet(io.tablePath("lineage"))
      .select("doc_shard").as[Int].collect().sorted
    val pick = shards.sortBy(s => Gen.mix(ctx.seed ^ s)).take(SampleShards)
    val blocks = IndexTables.postings(spark, io)
      .where(col("doc_shard").isin(pick.toIndexedSeq: _*))
      .as[PostingBlock].collect()
    val byShard: Map[Int, Map[String, IndexedSeq[PostingBlock]]] =
      blocks.groupBy(_.doc_shard).map { case (s, bs) =>
        s -> bs.groupBy(_.term).map { case (t, tb) =>
          t -> tb.sortBy(_.first_doc_id).toIndexedSeq
        }
      }
    val terms = qs.flatMap(_.terms).distinct
    val dfs = IndexTables.termStats(spark, io).where(col("term").isin(terms: _*))
      .select("term", "df").as[(String, Long)].collect().toMap
    val wqs = qs.map { q =>
      WandQuery(q.qid, q.terms.groupBy(identity).toSeq.sortBy(_._1).collect {
        case (t, occ) if dfs.contains(t) => QueryTerm(t, Bm25.idf(stats.n_docs, dfs(t)), occ.length)
      }.toArray)
    }
    def runAll(): Seq[Double] = for {
      q <- wqs
      s <- pick.toSeq
      bt <- byShard.get(s)
    } yield {
      val t0 = System.nanoTime()
      BlockMaxWand.scoreShard(q, bt, stats.avgdl, IngestServeWorkload.K)
      (System.nanoTime() - t0) / 1e3
    }
    runAll() // warm the JIT
    val us = runAll()
    Map("query.kernel_us_per_shard.p50" -> Stats.median(us),
      "query.kernel_us_per_shard.p95" -> Stats.tail(us))
  }
}
