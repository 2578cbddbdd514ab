package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the seed, the tracer and
  * listener (traced runs only), the metrics and the failure count. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: String, val data: String) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(traced, spark.sparkContext)
  val jobs: JobRecorder = new JobRecorder
  setTracing(traced)

  /** Traced runs switch tracing off for the untraced reference behind
    * `tracing.overhead_frac`. */
  def setTracing(on: Boolean): Unit = {
    tracer.enabled = on
    if (on) spark.sparkContext.addSparkListener(jobs)
    else spark.sparkContext.removeSparkListener(jobs)
  }

  /** End-to-end metrics (reported untraced), per-layer metrics (traced) and
    * the named details every run prints (input properties, gates). */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private val reqIds = new java.util.concurrent.atomic.AtomicLong()

  def nextReq(): Long = reqIds.incrementAndGet()

  private val started = System.nanoTime()

  /** Progress line in the run log: seconds since the session started. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2fs $what")

  def fail(what: String): Unit = synchronized {
    failed += 1
    if (failures.length < 50) failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  def attempt(n: Long = 1): Unit = synchronized { attempted += n }

  /** A correctness gate: counts as one attempted operation, failed if
    * `ok` is false. */
  def gate(name: String, ok: Boolean, detail: => String): Unit = {
    attempt()
    if (!ok) fail(s"gate $name: $detail")
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit =
    if (traced) org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)

  def path(rel: String): String = Paths.get(work, rel).toAbsolutePath.toString
}

object Main {
  /** Same session settings as the engine's own `graft.Bench`. */
  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (16 << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixed single-thread spin (2^27 xorshift steps): identical work every
    * call, so its wall time moves only with host contention. */
  def calibMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 27)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 42L) print("")
    dt
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  val Workloads: Map[String, Ctx => Unit] = Map(
    "ingest_serve" -> IngestServeWorkload.run,
    "oracle_suite" -> SuiteWorkload.run)

  /** Failed operations are timed as infinitely slow; JSON has no infinity,
    * so it is written as 1e300. A NaN (a metric that was never measured)
    * is written as null. */
  private def json(m: collection.Map[String, Double]): String =
    m.map { case (k, v) =>
      val x = if (v.isNaN) "null" else if (v.isInfinite) "1e300" else v.toString
      s""""$k":$x"""
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = opts("work")
    Files.createDirectories(Paths.get(work))
    val calibBefore = calibMs()
    val gc0 = gcSeconds()
    val spark = session(Runtime.getRuntime.availableProcessors(),
      Paths.get(work, "spark-local").toAbsolutePath.toString)
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt,
      opts.getOrElse("trace", "0") == "1", work, opts.getOrElse("data", ""))
    try body(ctx)
    catch { case e: Throwable =>
      e.printStackTrace()
      ctx.attempt()
      ctx.fail(s"workload aborted: $e")
    }
    val calibAfter = calibMs()
    ctx.layer("host.calib_ms_before") = calibBefore
    ctx.layer("host.calib_ms_after") = calibAfter
    ctx.layer("host.gc_s") = gcSeconds() - gc0
    if (ctx.traced) {
      ctx.drain()
      Files.writeString(Paths.get(work, "spans.json"), ctx.tracer.toJson)
      Files.writeString(Paths.get(work, "jobs.json"), ctx.jobs.toJson)
    }
    val out =
      s"""{"workload":"$workload","attempted":${ctx.attempted},"failed":${ctx.failed},""" +
        s""""failures":[${ctx.failures.map(f => "\"" + f.replace("\\", "/").replace("\"", "'") + "\"").mkString(",")}],""" +
        s""""e2e":${json(ctx.e2e)},"layer":${json(ctx.layer)},"report":${json(ctx.report)}}"""
    Files.writeString(Paths.get(opts("out")), out)
    spark.stop()
  }
}
