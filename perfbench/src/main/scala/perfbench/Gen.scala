package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A row of the engine's `input_hint` webtext schema. */
final case class InputDoc(url: String, warc_ts: Timestamp, html: Array[Byte],
    text: String, lang: String)

/** Seeded inputs. Every value is a pure function of (seed, stream, index),
  * so the same seed gives byte-identical corpora, micro-batches and query
  * streams on any machine, and different seeds give different ones.
  *
  * Vocabulary: `VocabSize` synthetic words whose spelling depends on the
  * seed; document and query terms are drawn from one Zipf(s≈1) rank
  * distribution. Words are lower-case letters with one digit separator, so
  * the engine's analyzer keeps each as a single non-stopword token. */
object Gen {
  val VocabSize = 20000
  /** Ranks below this are head terms (posting lists near corpus size). */
  val HeadRanks = 64
  /** Ranks from here on are tail terms (a handful of postings each). */
  val TailRanks = 4000
  /** Share of the second half of a corpus that re-crawls an earlier url. */
  val RecrawlShare = 0.1

  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform [0, 1) from (seed, stream, i). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(mix(seed * 0x632BE59BD9B4E019L + stream) + i) >>> 11).toDouble /
      (1L << 53).toDouble

  private def letters(n0: Int): String = {
    val sb = new StringBuilder
    var n = n0
    do { sb.append(('a' + n % 26).toChar); n = n / 26 } while (n > 0)
    sb.toString
  }

  def word(seed: Long, rank: Int): String =
    letters(rank) + "0" + letters((mix(seed ^ (rank.toLong << 20)) >>> 40).toInt % 676)

  def zipfRank(u: Double): Int =
    math.min(VocabSize - 1, math.exp(u * math.log(VocabSize.toDouble)).toInt)

  /** Body text of document `i` in stream `stream`: 40-160 Zipf terms. */
  def text(seed: Long, stream: Long, i: Long): String = {
    val n = 40 + (unit(seed, stream, i * 4096) * 121).toInt
    val sb = new StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(word(seed, zipfRank(unit(seed, stream, i * 4096 + 1 + j))))
      j += 1
    }
    sb.toString
  }

  def html(title: String, text: String): Array[Byte] = {
    val sb = new StringBuilder(text.length + 200)
    sb.append("<html><head><title>").append(title).append("</title>")
      .append("<script>var n = 1 < 2;</script></head><body>")
    text.split(' ').grouped(12).foreach { ws =>
      sb.append("<p>").append(ws.mkString(" ")).append("</p>")
    }
    sb.append("</body></html>").toString.getBytes("UTF-8")
  }

  private val Langs = Array("en", "en", "en", "de", "fr", "es")

  /** Url of corpus document `i` of `n`: the second half re-crawls an earlier
    * url with probability [[RecrawlShare]] (at a later warc_ts, with new
    * content), so the build's last-write-wins dedup has work to do. */
  def corpusUrl(seed: Long, stream: Long, i: Long, n: Long): String = {
    val recrawl = i >= n / 2 && unit(seed, stream + 1, i) < RecrawlShare
    val target = if (recrawl) (mix(seed ^ i) >>> 1) % (n / 2) else i
    s"https://h${target % 97}.example/s$stream/p$target"
  }

  def corpusRow(seed: Long, stream: Long, i: Long, n: Long): InputDoc = {
    val t = text(seed, stream, i)
    InputDoc(corpusUrl(seed, stream, i, n),
      new Timestamp(1704067200000L + i * 1000L), html(s"d$i", t), t,
      Langs((i % Langs.length).toInt))
  }

  /** A seeded corpus of `n` documents (stream ids separate corpora drawn
    * from the same seed). */
  def corpus(spark: SparkSession, seed: Long, stream: Long, n: Long,
      partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, partitions).as[Long]
      .mapPartitions(_.map(i => corpusRow(seed, stream, i, n))).toDF()
  }

  /** Micro-batch `b` appended to a base corpus of `baseN` docs: a share
    * re-crawls base urls (collapsed by compaction) and a share repeats a url
    * earlier in the same batch (collapsed by the batch's own dedup). */
  def batchRow(seed: Long, stream: Long, b: Int, i: Long, size: Long,
      baseN: Long, recrawlShare: Double): InputDoc = {
    val s = stream + 1000 + b
    val u = unit(seed, s + 1, i)
    val url =
      if (u < recrawlShare) corpusUrl(seed, stream, (mix(seed ^ i ^ b) >>> 1) % baseN, baseN)
      else if (u < recrawlShare + 0.05 && i > 0) s"https://h${b % 97}.example/s$s/p${i / 2}"
      else s"https://h${b % 97}.example/s$s/p$i"
    val t = text(seed, s, i)
    InputDoc(url, new Timestamp(1804067200000L + b * 1000000L + i * 1000L),
      html(s"b$b-$i", t), t, Langs((i % Langs.length).toInt))
  }

  def batch(spark: SparkSession, seed: Long, stream: Long, b: Int, size: Long,
      baseN: Long, recrawlShare: Double, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, size, 1L, partitions).as[Long]
      .mapPartitions(_.map(i => batchRow(seed, stream, b, i, size, baseN, recrawlShare)))
      .toDF()
  }

  /** One query of the stream. The stream's composition is fixed so that
    * runs with different seeds ask equally hard questions: query `q` has
    * 1 + q % 5 terms, term slots cycle through head / mid / tail ranks in
    * the ratio 3 / 4 / 3, and every other slot (once the stream has terms)
    * repeats a term used before, a df-cache hit on a live handle. The seed
    * picks the words. */
  final case class Query(qid: Int, text: String, terms: Array[String])

  private val Buckets = Array(0, 1, 2, 1, 0, 1, 2, 0, 1, 2)

  def queries(seed: Long, n: Int): Array[Query] = {
    val used = scala.collection.mutable.ArrayBuffer.empty[String]
    val stream = 77L
    var slot = 0
    (0 until n).map { q =>
      val terms = (0 until 1 + q % 5).map { _ =>
        val u = unit(seed, stream, slot)
        val w =
          if (used.nonEmpty && slot % 2 == 1) used((u * used.length).toInt)
          else {
            val rank = Buckets(slot / 2 % Buckets.length) match {
              case 0 => (u * HeadRanks).toInt
              case 1 => HeadRanks + (u * (TailRanks - HeadRanks)).toInt
              case _ => TailRanks + (u * (VocabSize - TailRanks)).toInt
            }
            val fresh = word(seed, rank)
            used += fresh
            fresh
          }
        slot += 1
        w
      }.toArray
      Query(q + 1, terms.mkString(" "), terms)
    }.toArray
  }

  /** Input properties a later gain may depend on, for the run report. */
  def queryProperties(seed: Long, qs: Array[Query]): Map[String, Double] = {
    val head = (0 until HeadRanks).map(word(seed, _)).toSet
    val seen = scala.collection.mutable.HashSet.empty[String]
    var fresh = 0; var heads = 0; var total = 0
    qs.foreach { q =>
      q.terms.foreach { t =>
        total += 1
        if (seen.add(t)) fresh += 1
        if (head.contains(t)) heads += 1
      }
    }
    Map(
      "load.fresh_term_share" -> fresh.toDouble / total,
      "load.head_term_share" -> heads.toDouble / total,
      "load.terms_per_query" -> total.toDouble / qs.length)
  }
}
