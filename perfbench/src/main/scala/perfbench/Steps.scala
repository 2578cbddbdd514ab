package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The index build's step timeline, read from its manifest: every commit
  * writes `_snapshot/snap-<id>.json` listing the committed steps, so the
  * step a snapshot adds and the file's modification time give each step's
  * commit time. Windows follow the build's shape: `docs`, `doc_terms` and
  * `stats` run in sequence; `postings` runs while `term_stats` and
  * `doc_map` overlap it; `lineage` follows the last of the three. */
object Steps {
  val Sequential = Seq("docs", "doc_terms", "stats")
  val Overlapped = Seq("postings", "term_stats", "doc_map")
  val All: Seq[String] = Sequential ++ Overlapped :+ "lineage"

  /** step → commit time (epoch ms); `postings_g<n>` groups fold into
    * `postings` at the last group's commit. */
  def commits(indexDir: String): Map[String, Double] = {
    val dir = Paths.get(indexDir, "_snapshot")
    if (!Files.isDirectory(dir)) return Map.empty
    val snaps: Seq[(Long, Path)] = Files.list(dir).iterator().asScala.toSeq
      .flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("snap-") && n.endsWith(".json"))
          n.stripPrefix("snap-").stripSuffix(".json").toLongOption.map(_ -> p)
        else None
      }.sortBy(_._1)
    var prev = Set.empty[String]
    val out = scala.collection.mutable.Map.empty[String, Double]
    snaps.foreach { case (_, p) =>
      val steps = Files.readAllLines(p).asScala.drop(1).map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("prop ")).toSet
      val t = Files.getLastModifiedTime(p).toMillis.toDouble
      (steps -- prev).foreach { s =>
        val name = if (s.startsWith("postings_g")) "postings" else s
        out(name) = math.max(out.getOrElse(name, 0.0), t)
      }
      prev = steps
    }
    out.toMap
  }

  /** Step windows (start, end) in epoch ms plus the critical-path cover of
    * the wall [t0, t1]: (sequential chain + longest overlapped member +
    * lineage) / wall. */
  final case class Timeline(windows: Map[String, (Double, Double)], cover: Double) {
    def seconds(step: String): Double =
      windows.get(step).map { case (a, b) => (b - a) / 1000.0 }.getOrElse(0.0)
  }

  def timeline(indexDir: String, t0: Double, t1: Double): Timeline = {
    val c = commits(indexDir)
    val w = scala.collection.mutable.Map.empty[String, (Double, Double)]
    var at = c.getOrElse("format_pfor4", t0)
    Sequential.foreach { s =>
      c.get(s).foreach { e => w(s) = (at, e); at = e }
    }
    val overlapEnd = Overlapped.flatMap(s => c.get(s).map { e => w(s) = (at, e); e })
    val lineStart = if (overlapEnd.isEmpty) at else overlapEnd.max
    c.get("lineage").foreach(e => w("lineage") = (lineStart, e))
    def dur(s: String) = w.get(s).map { case (a, b) => b - a }.getOrElse(0.0)
    val critical = Sequential.map(dur).sum +
      (0.0 +: Overlapped.map(dur)).max + dur("lineage")
    Timeline(w.toMap, if (t1 > t0) critical / (t1 - t0) else 0.0)
  }

  /** Step a job belongs to: the table its SQL execution writes when it
    * writes one under `indexDir`; otherwise the sequential window holding
    * its start (the overlap window goes to `postings`, whose calling thread
    * runs the non-write jobs there). */
  def attribute(rec: JobRecorder, j: JobRecord, indexDir: String,
      tl: Timeline): Option[String] = {
    val root = Paths.get(indexDir).toAbsolutePath.normalize.toString
    val byPath = rec.outputOf(j).flatMap { p =>
      val local = p.stripPrefix("file:")
      if (!local.startsWith(root + "/")) None
      else Some(local.stripPrefix(root + "/").takeWhile(_ != '/'))
    }.filter(All.contains)
    byPath.orElse {
      val t = j.startMs.toDouble
      (Sequential :+ "postings" :+ "lineage").find { s =>
        tl.windows.get(s).exists { case (a, b) => t >= a && t <= b }
      }
    }
  }
}
