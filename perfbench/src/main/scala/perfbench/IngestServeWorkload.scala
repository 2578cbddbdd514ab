package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.analysis.Analyzer
import graft.query.Searcher
import graft.streaming.{Compactor, IncrementalIndexer}

/** Independent searchers in an open loop against a resident handle: first
  * on an idle index (the read phase, which sets the end-to-end latencies),
  * then at a lower rate while one writer appends a seeded micro-batch,
  * reopens the handle, checks it, compacts and reopens again (the write
  * phase, which with the base build sets the throughput; its query
  * latencies, split by writer state, are per-layer numbers). A short
  * closed loop at the end measures capacity.
  *
  * The write phase keeps reads light because on a small local cluster a
  * busier reader makes the writer's wall vary twofold from run to run
  * (measured), which no bound could absorb. */
object IngestServeWorkload {
  val K = 10
  /** Base corpus, micro-batch, and the share of batch docs that re-crawl
    * a base url (collapsed by compaction). */
  val BaseDocs = 3000L
  val Batches = 1
  val BatchDocs = 1000L
  val BatchRecrawl = 0.2
  /** Open-loop rates: about a third of the closed-loop capacity this index
    * measured on 4 cores (10-17 queries/s) while reading, and a light probe
    * while writing. Of the read rates tried, 4 queries/s gave the steadiest
    * latencies from seed to seed: at 5 queries/s host stalls queued more
    * queries (tail spread 0.30), and at 3 queries/s (60 queries) the p50
    * and tail spread 0.24 and 0.32. */
  val ReadRate = 4.0
  val WriteRate = 2.0
  /** Timed queries of the read phase (ten beyond p87.5). */
  val ReadQueries = 80
  val CapacitySeconds = 2.0
  val Opens = 3
  val Searchers = 16
  val GateQueries = 8
  /** Untimed closed loop that warms the query path before timing. */
  val WarmSeconds = 4.0

  /** What the writer is doing when a query is due. While it checks the
    * post-batch handle ("checking") it is in no state of its own. */
  val States = Seq("idle", "ingesting", "compacting")

  /** One timed query: latency from when it was due; infinite if it failed. */
  final case class Sample(req: Long, dueMs: Double, latMs: Double, state: String,
      lagMs: Double, loose: Boolean)

  /** One query through the public API. Traced: four layer calls in
    * sequence (analyze, df lookup, search with dfs now cached, collect). */
  def query(ctx: Ctx, h: Searcher.Handle, q: Gen.Query, req: Long): Unit =
    if (!ctx.tracer.enabled)
      Searcher.search(h, Seq(q.qid -> q.text), K).collect()
    else ctx.tracer.span("query", req) {
      val terms = ctx.tracer.span("analysis.query_analyze", req) {
        Analyzer.analyzeStop(q.text)
      }
      ctx.tracer.span("query.df", req) { Searcher.termDfs(h, terms.distinct) }
      val res = ctx.tracer.span("query.search", req) {
        Searcher.search(h, Seq(q.qid -> q.text), K)
      }
      ctx.tracer.span("query.result", req) { res.collect() }
    }

  /** Open loop: a query every 1/`rate` seconds, each handed to a pool of
    * independent searchers when due. Runs until `done(issued)`. */
  def openLoop(ctx: Ctx, handle: () => Searcher.Handle, qs: Iterator[Gen.Query],
      rate: Double, state: () => String, done: Int => Boolean): Seq[Sample] = {
    val pool = Executors.newFixedThreadPool(Searchers)
    val out = new ConcurrentLinkedQueue[Sample]()
    val t0 = System.nanoTime()
    def nowMs = (System.nanoTime() - t0) / 1e6
    var due = 0.0
    var i = 0
    try {
      while (!done(i) && qs.hasNext) {
        due += 1000.0 / rate
        val wait = due - nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
        val lag = nowMs - due
        val (q, h, st, myDue, req) = (qs.next(), handle(), state(), due, ctx.nextReq())
        ctx.attempt()
        pool.execute { () =>
          val lat =
            try { query(ctx, h, q, req); nowMs - myDue }
            catch { case e: Throwable =>
              ctx.fail(s"query '${q.text}': $e"); Double.PositiveInfinity
            }
          out.add(Sample(req, myDue, lat, st, lag, !h.tightBounds))
        }
        i += 1
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    }
    out.asScala.toSeq.sortBy(_.dueMs)
  }

  /** Closed loop, one caller per core, for `seconds`: completed queries/s. */
  def closedLoop(ctx: Ctx, h: Searcher.Handle, qs: Iterator[Gen.Query],
      seconds: Double): Double = {
    val completed = new AtomicInteger()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until ctx.cores).map { _ =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val q = qs.synchronized(qs.next())
          ctx.attempt()
          try { query(ctx, h, q, ctx.nextReq()); completed.incrementAndGet() }
          catch { case e: Throwable => ctx.fail(s"query '${q.text}': $e") }
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    completed.get / ((System.nanoTime() - t0) / 1e9)
  }

  /** Cached storage of every RDD; measured while the serving handle is the
    * only one open. */
  def residentMb(ctx: Ctx): Double =
    ctx.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / JobRecorder.MB

  def latencies(s: Seq[Sample]): Seq[Double] = s.map(_.latMs)

  /** Per-query phase times and per-query job numbers of traced queries. */
  def phaseMetrics(ctx: Ctx, samples: Seq[Sample]): Map[String, Double] = {
    val reqs = samples.map(_.req).toSet
    val spans = ctx.tracer.all.filter(s => reqs.contains(s.req)).groupBy(_.req)
    def phase(name: String) = spans.values.flatMap(_.find(_.name == name).map(_.ms)).toSeq
    val walls = phase("query")
    if (walls.isEmpty) return Map.empty
    val sums = spans.values.flatMap { ss =>
      ss.find(_.name == "query").map(q => ss.filter(_.parent == q.id).map(_.ms).sum / q.ms)
    }.toSeq
    ctx.drain()
    val qjobs = ctx.jobs.all.filter(j => j.req.toLongOption.exists(reqs.contains))
    val n = walls.length.toDouble
    // job wall minus its busy wall (task time spread over its parallel tasks)
    val busy = qjobs.map(j => j.runMs.toDouble / math.max(1, math.min(j.tasks, ctx.cores))).sum
    Map(
      "analysis.query_analyze_us" -> Stats.median(phase("analysis.query_analyze")) * 1000,
      "query.df_ms.p50" -> Stats.median(phase("query.df")),
      "query.df_ms.tail" -> Stats.tail(phase("query.df")),
      "query.df_jobs_per_query" -> qjobs.count(_.span == "query.df") / n,
      "query.search_ms.p50" -> Stats.median(phase("query.search")),
      "query.search_ms.tail" -> Stats.tail(phase("query.search")),
      "query.result_ms" -> Stats.median(phase("query.result")),
      "query.phase_sum_frac" -> Stats.median(sums),
      "query.jobs_per_query" -> qjobs.length / n,
      "query.task_ms_per_query" -> qjobs.map(_.runMs).sum / n,
      "query.sched_ms_per_query" -> (qjobs.map(_.wallMs).sum - busy) / n)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val st = Builds.stage(ctx, 20, BaseDocs, ctx.path("ingest/input"))
    val dir = ctx.path("ingest/index")
    ctx.mark("staged")
    val base = Builds.build(ctx, st, dir)
    ctx.mark("base built")
    if (ctx.traced)
      Builds.stepMetrics(ctx, dir, dir, base.req, base.t0, base.t1)
        .foreach { case (k, v) => ctx.layer(k) = v }
    Gates.indexCounts(ctx, dir, st.distinctUrls, "ingest.base")
    ctx.mark("base gates")
    val opened = (0 until Opens).map(_ => Main.timed(Searcher.open(spark, dir)))
    opened.init.foreach(_._1.close())
    val h0 = opened.last._1
    val openS = Stats.median(opened.map(_._2))
    ctx.e2e("setup_s") = openS
    ctx.mark("built and opened")
    // warm the query path (JIT, scheduler) with another seed's stream, then
    // collect the build's garbage, so the read phase starts in steady state
    closedLoop(ctx, h0, Gen.queries(ctx.seed + 1000003L, 1000).iterator, WarmSeconds)
    System.gc()

    // expected counts straight from the generator, not from the engine
    val batchRows = (0 until Batches).map(b => (0L until BatchDocs).map(i =>
      Gen.batchRow(ctx.seed, 20, b, i, BatchDocs, BaseDocs, BatchRecrawl)))
    val baseUrls = (0L until BaseDocs).map(i => Gen.corpusUrl(ctx.seed, 20, i, BaseDocs)).toSet
    val allUrls = baseUrls ++ batchRows.flatten.map(_.url)
    val batchText = batchRows.flatten.map(_.text.length.toLong).sum
    ctx.report("load.recrawl_share") = 1.0 - st.distinctUrls.toDouble / st.docs
    ctx.report("load.batch_recrawl_share") =
      batchRows.flatten.count(r => baseUrls.contains(r.url)).toDouble / (Batches * BatchDocs)
    ctx.report("load.read_qps") = ReadRate
    ctx.report("load.write_phase_qps") = WriteRate

    val handle = new AtomicReference(h0)
    val handles = mutable.ArrayBuffer(h0)
    val state = new AtomicReference("idle")
    @volatile var writerDone = false
    val ingestS = mutable.ArrayBuffer.empty[Double]
    val reopenS = mutable.ArrayBuffer.empty[Double]
    val visibleS = mutable.ArrayBuffer.empty[Double]
    var compactS = Double.NaN
    var appended = 0L
    val compactReq = ctx.nextReq()
    val all = Gen.queries(ctx.seed, 20000)

    def reopen(): Double = {
      val (h, s) = Main.timed(Searcher.open(spark, dir))
      handles.synchronized(handles += h)
      handle.set(h)
      s
    }
    val writer = new Thread(() => {
      try {
        (0 until Batches).foreach { b =>
          state.set("ingesting")
          ctx.attempt()
          val before = handle.get.stats.n_docs
          val t0 = System.nanoTime()
          // a failed batch still counts its wall (and no docs)
          try ctx.tracer.span("streaming.ingest_batch", ctx.nextReq()) {
            IncrementalIndexer.ingestBatch(spark,
              Gen.batch(spark, ctx.seed, 20, b, BatchDocs, BaseDocs, BatchRecrawl, ctx.cores),
              dir, b.toLong, Builds.cfg)
          } finally ingestS += (System.nanoTime() - t0) / 1e9
          val in = ingestS.last
          appended += BatchDocs
          val re = reopen()
          ctx.mark(f"batch $b ingest ${in}%.2fs reopen ${re}%.2fs")
          reopenS += re; visibleS += in + re
          val grew = handle.get.stats.n_docs - before
          val want = batchRows(b).map(_.url).distinct.size.toLong
          if (grew != want) ctx.fail(s"batch $b: n_docs grew by $grew for $want distinct urls")
          state.set("idle")
          Thread.sleep(300)
          // the loose-bound, multi-segment path, checked before compaction
          // replaces the segments it serves
          state.set("checking")
          Gates.servedTopK(ctx, handle.get, Gates.servedDocs(ctx, dir, 0L to b),
            all.take(GateQueries).toSeq, s"ingest.batch$b")
          ctx.mark(s"batch $b checked")
        }
        state.set("compacting")
        ctx.attempt()
        compactS = Main.timed(ctx.tracer.span("streaming.compact", compactReq) {
          Compactor.compact(spark, dir, Builds.cfg)
        })._2
        reopen()
        ctx.mark(f"compacted ${compactS}%.2fs")
        state.set("idle")
        Thread.sleep(500)
      } catch { case e: Throwable => ctx.fail(s"writer: $e") }
      finally writerDone = true
    })

    val qs = all.iterator
    val read = openLoop(ctx, () => handle.get, qs, ReadRate, () => "idle",
      _ >= ReadQueries)
    ctx.mark("read phase")
    writer.start()
    val t0 = System.nanoTime()
    val busy = openLoop(ctx, () => handle.get, qs, WriteRate, () => state.get,
      _ => writerDone && (System.nanoTime() - t0) / 1e9 >= ctx.seconds)
    writer.join()
    ctx.mark("writer done")
    val samples = read ++ busy
    val hEnd = handle.get
    // every query on a superseded handle has finished
    handles.filterNot(_ eq hEnd).foreach(_.close())
    val capacity = closedLoop(ctx, hEnd, qs, CapacitySeconds)
    // traced runs repeat the capacity phase untraced: tracing overhead as
    // untraced over traced capacity, both on the same warm handle
    val untracedCapacity =
      if (!ctx.traced) capacity
      else {
        ctx.setTracing(false)
        try closedLoop(ctx, hEnd, qs, CapacitySeconds) finally ctx.setTracing(true)
      }
    Gen.queryProperties(ctx.seed, all.take(samples.length).toArray)
      .foreach { case (k, v) => ctx.report(k) = v }

    Gates.indexCounts(ctx, dir, allUrls.size.toLong, "ingest.compacted")
    Gates.servedTopK(ctx, hEnd, Gates.servedDocs(ctx, dir, Nil),
      all.take(GateQueries).toSeq, "ingest.compacted")
    val resident = residentMb(ctx)
    hEnd.close()
    ctx.mark("gates")

    // documents indexed per second of indexing wall: the base build, the
    // writer's batches and the compaction that rebuilds every distinct url.
    // The base build, a minute before the writer, adds work measured at
    // another moment of the host.
    ctx.e2e("throughput_per_s") =
      (st.docs + appended + allUrls.size) / (base.wallS + ingestS.sum + compactS)
    ctx.report("index.build_s") = base.wallS
    ctx.e2e("latency_p50_ms") = Stats.median(latencies(read))
    ctx.e2e("latency_tail_ms") = Stats.tail(latencies(read))
    ctx.report("streaming.ingest_docs_per_s") = appended / ingestS.sum
    val storedRatio = Gates.dirBytes(dir).toDouble / (st.textBytes + batchText)
    ctx.report("index.stored_bytes_per_input_byte") = storedRatio
    ctx.report("query.capacity_qps") = capacity
    ctx.report("streaming.visible_s") = Stats.median(visibleS.toSeq)
    ctx.report("load.generator_lag_ms") = Stats.tail(samples.map(_.lagMs))
    if (ctx.traced) {
      ctx.drain()
      val cj = ctx.jobs.all.filter(_.req == compactReq.toString)
      val layer = mutable.LinkedHashMap(
        "query.open_s" -> openS,
        "index.stored_bytes_per_input_byte" -> storedRatio,
        "query.capacity_qps" -> capacity,
        "query.handle_resident_mb" -> resident,
        "streaming.ingest_batch_s" -> Stats.median(ingestS.toSeq),
        "streaming.ingest_docs_per_s" -> appended / ingestS.sum,
        "streaming.reopen_s" -> Stats.median(reopenS.toSeq),
        "streaming.visible_s" -> Stats.median(visibleS.toSeq),
        "streaming.compact_s" -> compactS,
        "streaming.compact_exec_s" -> cj.map(_.runMs).sum / 1000.0,
        "streaming.compact_shuffle_mb" -> cj.map(_.shuffleWriteBytes).sum / JobRecorder.MB,
        "load.generator_lag_ms" -> Stats.tail(samples.map(_.lagMs)))
      States.foreach { s =>
        val xs = latencies(samples.filter(_.state == s))
        layer(s"query.tail_ms.$s") = if (xs.isEmpty) Double.NaN else Stats.tail(xs)
      }
      layer("query.loose_bound_search_ms") =
        phaseMetrics(ctx, busy.filter(s => s.loose && s.state != "checking"))
          .getOrElse("query.search_ms.p50", Double.NaN)
      val phases = phaseMetrics(ctx, samples.filter(_.state == "idle"))
      layer ++= phases
      val phaseSum = phases.getOrElse("query.phase_sum_frac", Double.NaN)
      ctx.gate("query.phase_sum", phaseSum >= 0.95,
        s"median query's four phases cover $phaseSum of its wall (< 0.95)")
      layer ++= Kernel.metrics(ctx, dir, all.take(100).toSeq)
      layer("tracing.overhead_frac") = untracedCapacity / capacity
      layer.foreach { case (k, v) => ctx.layer(k) = v }
    }
  }
}
