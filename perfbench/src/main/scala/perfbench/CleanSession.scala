package perfbench

import java.nio.file.{Files, Path}

import graft.clean.CleaningAction._
import graft.io.{HtmlReport, Sinks, Sources}
import graft.model.Mission
import graft.pipeline.CleaningPipeline

/** The interactive cleaning loop played by one scripted user: open the
  * uploaded table, see the missions, click five fixes (each click is
  * apply + missions + quality score), read the insights, export parquet
  * and the HTML report. The user also saves their progress (the same two
  * writes) after the third fix, so a session times four writes. */
final class CleanSession(ctx: Ctx) extends Workload {
  import ctx._
  import CleanSession._

  private var manifest: CleanManifest = _
  private var input: String = _

  def setUp(): Unit = {
    val dir = freshDir("clean")
    manifest = CleanGen.generate(spark, seed, dir, BaseRows)
    input = dir.resolve("table").toString
    val n = Sources.parquet(spark, input).count()
    rec.check(n == manifest.rows, s"read $n rows, generated ${manifest.rows}")
  }

  def pass(): Unit = {
    val out = freshDir("clean-out")
    val t0 = System.nanoTime()
    val opened = rec.op("open") {
      val df = tracer.span("io.read") { Sources.parquet(spark, input) }
      tracer.span("pipeline.open") { CleaningPipeline(df) }
    }
    opened.foreach { p0 =>
      var p = p0
      rec.op("missions") { tracer.span("profile.detect_missions") { p.missions } }
        .foreach(ms => rec.check(ms.toSet == initialMissions(manifest),
          s"initial missions $ms differ from the manifest"))
      Actions.zipWithIndex.foreach { case (a, k) =>
        rec.timedOp(Workload.StepS, a.describe) {
          p = tracer.span("pipeline.apply") { p(a) }
          val ms = tracer.span("profile.detect_missions") { p.missions }
          (ms, tracer.span("score.quality_score") { p.qualityScore })
        }.foreach { case (ms, score) =>
          if (k == SaveAfter) export(p, out.resolve("progress"), Nil)
          val want = expectedScore(manifest, k)
          rec.check(score == want, s"${a.describe}: score $score, expected $want")
          if (k == Actions.length - 1)
            rec.check(ms.toSet == finalMissions(manifest),
              s"final missions $ms differ from the manifest")
        }
      }
      val insights = rec.op("insights") { tracer.span("score.insights") { p.insights } }
      insights.foreach { ins =>
        rec.check(ins.rowsBefore == manifest.rows &&
          ins.rowsAfter == manifest.rows - manifest.duplicate_rows &&
          ins.nullsAfter == manifest.bad_dates, s"insights $ins differ from the manifest")
      }
      export(p, out.resolve("final"), insights.map(_.lines).getOrElse(Nil))
      val sessionS = (System.nanoTime() - t0) / 1e9
      rec.add(Workload.PassS, sessionS)
      rec.add(Workload.Items, manifest.rows)
      rec.add(Workload.ItemsS, sessionS)
      if (tracer.enabled)
        rec.add(CachedMb, spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
      heapProbe()
      checkExport(out.resolve("progress"), manifest.rows)
      checkExport(out.resolve("final"), manifest.rows - manifest.duplicate_rows)
      p.work.unpersist()
      p.orig.unpersist()
    }
  }

  /** Writes the working version as parquet and the HTML report, each
    * timed as one write. */
  private def export(p: CleaningPipeline, dir: Path, insightLines: Seq[String]): Unit = {
    rec.timedOp(Workload.WriteS, "write parquet") {
      tracer.span("io.write_parquet") {
        Sinks.parquet(p.work, dir.resolve("cleaned").toString)
      }
    }
    rec.timedOp(Workload.WriteS, "write report") {
      tracer.span("io.html_report") {
        HtmlReport.write(dir.resolve("report.html").toString,
          HtmlReport.render(p.orig, p.work, p.missionsLog, insightLines))
      }
    }
  }

  private def checkExport(dir: Path, rows: Long): Unit = {
    val report = dir.resolve("report.html")
    rec.check(Files.exists(report) && Files.readString(report).contains("Cleaning Report"),
      s"HTML report missing under $dir")
    val exported = spark.read.parquet(dir.resolve("cleaned").toString).count()
    rec.check(exported == rows, s"exported $exported rows under $dir, expected $rows")
  }

  override def ratios: Map[String, Double] =
    Map("pipeline.cached_mb" -> Stats.median(rec.values(CachedMb)))
}

object CleanSession {
  /** Rows before the duplicate copies are added. */
  val BaseRows = 5000
  /** The click after which the user saves their progress. */
  val SaveAfter = 2
  val CachedMb = "cached_mb"

  val Actions: Seq[graft.clean.CleaningAction] = Seq(
    NullImputeMedian("qty"), OutlierReplaceMedian("price"),
    DateAutoParse("ship_str"), NullFillConstant("flag"), DropDuplicates())

  def initialMissions(m: CleanManifest): Set[Mission] = Set(
    Mission.Outlier("price", m.price_outliers), Mission.Nulls("qty", m.qty_nulls),
    Mission.Nulls("flag", m.flag_nulls), Mission.Duplicates(m.duplicate_rows),
    Mission.DateMixed("ship_str", m.bad_dates))

  /** After the five fixes only the unparseable dates remain, now nulls. */
  def finalMissions(m: CleanManifest): Set[Mission] = Set(
    Mission.Nulls("ship_str", m.bad_dates), Mission.DateMixed("ship_str", m.bad_dates))

  /** The reference app's quality score (app.py:83-92): 50 plus half a
    * point per null removed plus a point per duplicate removed, clamped
    * to [0, 100] and rounded to 2 decimals. */
  def referenceScore(nullsBefore: Long, nullsAfter: Long, dupsBefore: Long,
      dupsAfter: Long): Double = {
    val s = 50.0 + math.max(0L, nullsBefore - nullsAfter) * 0.5 +
      math.max(0L, dupsBefore - dupsAfter) * 1.0
    math.round(math.max(0.0, math.min(100.0, s)) * 100.0) / 100.0
  }

  /** The score after the first `k + 1` actions, from the manifest alone:
    * imputing qty clears its nulls, parsing dates turns the bad ones into
    * nulls, filling flag clears its nulls, dropping duplicates clears
    * them. */
  def expectedScore(m: CleanManifest, k: Int): Double = {
    val before = m.qty_nulls + m.flag_nulls
    val after = Seq(m.flag_nulls, m.flag_nulls, m.flag_nulls + m.bad_dates,
      m.bad_dates, m.bad_dates)(k)
    val dupsAfter = if (k == 4) 0 else m.duplicate_rows
    referenceScore(before, after, m.duplicate_rows, dupsAfter)
  }
}
