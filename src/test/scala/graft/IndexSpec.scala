package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.{Codec, PostingsBuilder, TextIndex}
import graft.io.TableIO
import graft.model.PostingBlock
import graft.query.Searcher
import graft.harness.{QuerySet, TextQueries}

/** End-to-end index engine tests at sf0.001: postings round-trip vs the
  * Catalyst tf relation, WAND rank-identity vs the naive scorer, snapshot
  * idempotence, and kill/resume (FIXTURES.md §4). */
class IndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def freshDir(tag: String): String = {
    val d = s"${sys.props("user.dir")}/target/test-idx/$tag"
    new TableIO(d).deleteAll()
    d
  }

  private def buildCfg = PostingsBuilder.Config(shardSize = 128, shardGroups = 2)

  test("decoded postings reproduce the exact tf/dl relation") {
    import spark.implicits._
    val dir = freshDir("roundtrip")
    val docs = TextQueries.docs(spark, sf)
    PostingsBuilder.build(spark, docs, dir, buildCfg)

    val decoded = spark.read.parquet(s"$dir/postings").as[PostingBlock]
      .flatMap { b =>
        val ids = Codec.decodeDocIds(b.doc_ids, b.n)
        val tfs = Codec.decodeTfs(b.tfs, b.n)
        ids.zip(tfs).map { case (d, t) => (b.term, d, t.toLong) }
      }.collect().toSet

    val expected = TextIndex.termFreqs(TextIndex.tokens(docs))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(decoded === expected)
  }

  test("stepsPar commits every concurrent step (no lost updates)") {
    val io = new TableIO(freshDir("stepspar"))
    val names = (0 until 16).map(i => s"s$i")
    io.stepsPar(names.map(n => n -> (() => Thread.sleep(2))): _*)
    assert(io.committedSteps() === names.toSet)
  }

  test("row-local docTermFreqs equals the groupBy tf relation and docLens") {
    val docs = TextQueries.docs(spark, sf)
    val local = TextIndex.docTermFreqs(docs)
      .select(col("doc_id"), explode(col("tfs")).as("t"))
      .select(col("t.term"), col("doc_id"), col("t.tf").cast("long").as("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val shuffled = TextIndex.termFreqs(TextIndex.tokens(docs))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(local === shuffled)

    val dlLocal = TextIndex.docTermFreqs(docs).select("doc_id", "dl")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dlRef = TextIndex.docLens(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dlLocal === dlRef)
  }

  test("WAND search is rank- and score-identical to the naive Catalyst scorer") {
    val dir = freshDir("wand")
    PostingsBuilder.build(spark, TextQueries.docs(spark, sf), dir, buildCfg)
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val wand = rows(Searcher.search(spark, dir, QuerySet.queries, QuerySet.K))
    val naive = rows(TextQueries.bm25QuerySet(spark, sf))
    assert(wand === naive)
    // the FORCED tree fan-in (the >threshold path a 10^6-shard cluster
    // takes) merges losslessly too — identical frame through the extra
    // combine stage
    val prev = Searcher.treeFanInThreshold
    try {
      Searcher.treeFanInThreshold = 0
      val tree = rows(Searcher.search(spark, dir, QuerySet.queries, QuerySet.K))
      assert(tree === naive)
    } finally Searcher.treeFanInThreshold = prev

    // serving shape on a resident handle: a search is one kernel job plus
    // one df lookup job on a miss; its frame is a LocalRelation already in
    // (qid, rnk) order, so collecting it plans no sort and runs no job
    val sc = spark.sparkContext
    val group = "index-spec-serving"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    def jobsOf[T](body: => T): (T, Int) = {
      Bridge.drainListenerBus(sc)
      jobs.set(0)
      val r = body
      Bridge.drainListenerBus(sc)
      (r, jobs.get)
    }
    val h = Searcher.open(spark, dir)
    val mh = Searcher.openMulti(spark, Seq("body" -> dir))
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "serving job count")
    try {
      val (cold, coldJobs) = jobsOf(
        rows(Searcher.search(h, QuerySet.queries, QuerySet.K)))
      assert(coldJobs === 2, "df miss: one lookup job + one kernel job")
      val frame = Searcher.search(h, QuerySet.queries, QuerySet.K)
      val plan = frame.queryExecution
      assert(plan.optimizedPlan.collectFirst { case s: Sort => s }.isEmpty)
      assert(plan.executedPlan.isInstanceOf[LocalTableScanExec])
      val (warm, warmJobs) = jobsOf(rows(frame))
      assert(warmJobs === 0, "collecting the frame runs no job")
      assert(jobsOf(rows(Searcher.search(h, QuerySet.queries, QuerySet.K)))._2
        === 1, "df cached: the kernel job only")
      assert(warm === naive && cold === naive)
      assert(warm === warm.sortBy(r => (r._1, r._2)))

      val (qid, text) = QuerySet.queries.head
      val leg = Searcher.MultiLeg("body", Analyzer.analyzeStop(text)
        .groupBy(identity).view.mapValues(_.length).toMap)
      Searcher.multiSearch(mh, Seq(leg), QuerySet.K).collect() // df warm-up
      val (multi, multiJobs) = jobsOf {
        val f = Searcher.multiSearch(mh, Seq(leg), QuerySet.K)
        assert(f.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
        f.collect().toSeq
          .map(r => (qid.toLong, r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      assert(multiJobs === 1)
      assert(multi === naive.filter(_._1 == qid))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      mh.close()
      h.close()
    }
  }

  test("re-running a completed build is a no-op (snapshot idempotence)") {
    val dir = freshDir("idem")
    PostingsBuilder.build(spark, TextQueries.docs(spark, sf), dir, buildCfg)
    val io = new TableIO(dir)
    val snap1 = io.currentSnapshotId()
    PostingsBuilder.build(spark, TextQueries.docs(spark, sf), dir, buildCfg)
    assert(io.currentSnapshotId() === snap1)
  }

  test("kill mid-build, resume completes an identical index") {
    val full = freshDir("resume-full")
    PostingsBuilder.build(spark, TextQueries.docs(spark, sf), full, buildCfg)

    val dir = freshDir("resume")
    intercept[RuntimeException] {
      PostingsBuilder.build(spark, TextQueries.docs(spark, sf), dir,
        buildCfg.copy(failAfterGroup = Some(0)))
    }
    // only group 0 committed; resume finishes groups 1 + lineage
    PostingsBuilder.build(spark, TextQueries.docs(spark, sf), dir, buildCfg)
    assert(PostingsBuilder.isComplete(dir))

    val a = Searcher.search(spark, dir, QuerySet.queries, QuerySet.K).collect().toSeq
    val b = Searcher.search(spark, full, QuerySet.queries, QuerySet.K).collect().toSeq
    assert(a === b)
  }

  test("progress cadence: interval rows every N docs during the stage") {
    val dir = freshDir("progress")
    // 500 docs at a 100-doc cadence → marks 100..500 (switchAt = 10× is
    // never reached at this scale); every mark gets exactly one row
    PostingsBuilder.build(spark, TextQueries.docs(spark, sf), dir,
      buildCfg.copy(progressEvery = 100))
    val rows = spark.read.parquet(s"$dir/progress").orderBy("mark").collect()
    assert(rows.map(_.getAs[Long]("mark")).toSeq === Seq(100L, 200L, 300L, 400L, 500L))
    for (r <- rows) {
      assert(r.getAs[Long]("docs") >= r.getAs[Long]("mark"))
      assert(r.getAs[Long]("elapsed_ms") >= 1L)
      assert(r.getAs[Double]("docs_per_sec") > 0.0)
    }
    // cumulative counts are monotone in mark order
    val ds = rows.map(_.getAs[Long]("docs")).toSeq
    assert(ds === ds.sorted)
  }

  test("lineage rows carry doc ranges, bytes and wall time per shard") {
    val dir = freshDir("lineage")
    PostingsBuilder.build(spark, TextQueries.docs(spark, sf), dir, buildCfg)
    val rows = spark.read.parquet(s"$dir/lineage")
      .orderBy("doc_shard").collect()
    assert(rows.length === 4) // 500 docs / shardSize 128
    for (r <- rows) {
      val shard = r.getAs[Int]("doc_shard")
      assert(r.getAs[Long]("doc_lo") >= shard.toLong * 128)
      assert(r.getAs[Long]("doc_hi") < (shard + 1).toLong * 128)
      assert(r.getAs[Long]("postings_bytes") > 0)
      assert(r.getAs[Long]("build_wall_ms") >= 0)
      assert(r.getAs[String]("snapshot_id").nonEmpty)
    }
  }
}
