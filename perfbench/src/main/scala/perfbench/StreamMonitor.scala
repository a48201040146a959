package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.StreamProfile

/** A data-quality monitor over a file stream: the event files replay one
  * per trigger through the windowed quality monitor (update mode) and
  * then through the watermarked dedup (append mode). */
final class StreamMonitor(ctx: Ctx) extends Workload {
  import ctx._
  import StreamMonitor._

  private var manifest: StreamManifest = _
  private var eventsDir: String = _

  def setUp(): Unit = {
    val dir = freshDir("stream")
    manifest = StreamGen.generate(spark, seed, dir, Files, PerFile)
    eventsDir = dir.resolve("events").toString
    val n = spark.read.parquet(eventsDir).count()
    rec.check(n == manifest.events, s"read $n events, generated ${manifest.events}")
  }

  private def events: DataFrame =
    spark.readStream.schema(StreamGen.schema)
      .option("maxFilesPerTrigger", 1).parquet(eventsDir)

  /** Runs `df` to the end of the files into `sink`; returns the progress
    * of every trigger that read input. */
  private def run(name: String, df: DataFrame, mode: String)
      (sink: (DataFrame, Long) => Unit): Seq[StreamingQueryProgress] = {
    val ckpt = freshDir(s"checkpoint-$name")
    val q = df.writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch(sink).start()
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  /** The monitor's final row per window: each window's last update wins. */
  private def monitor(): (Map[java.sql.Timestamp, Row], Seq[StreamingQueryProgress]) = {
    val latest = mutable.HashMap.empty[java.sql.Timestamp, Row]
    val sink: (DataFrame, Long) => Unit = (b, _) =>
      b.collect().foreach(r => latest(r.getAs[java.sql.Timestamp]("hour")) = r)
    val progress = run("monitor", StreamProfile.qualityMonitor(events), "update")(sink)
    (latest.toMap, progress)
  }

  private def checkMonitor(windows: Map[java.sql.Timestamp, Row]): Unit = {
    val n = windows.values.map(_.getAs[Long]("n_events")).sum
    rec.check(n == manifest.on_time,
      s"monitor windows count $n events, expected ${manifest.on_time} on time")
  }

  def pass(): Unit = {
    val t0 = System.nanoTime()
    val mon = rec.timedOp(Workload.StepS, "quality monitor") {
      tracer.span("streaming.quality_monitor") { monitor() }
    }
    var unique = 0L
    val dedup = rec.timedOp(Workload.StepS, "dedup events") {
      tracer.span("streaming.dedup_events") {
        val sink: (DataFrame, Long) => Unit = (b, _) => unique += b.count()
        run("dedup", StreamProfile.dedupEvents(events, Seq("event_id")), "append")(sink)
      }
    }
    val passS = (System.nanoTime() - t0) / 1e9
    rec.add(Workload.PassS, passS)
    rec.add(Workload.Items, manifest.events)
    rec.add(Workload.ItemsS, passS)
    val progress = mon.map(_._2).getOrElse(Nil) ++ dedup.getOrElse(Nil)
    progress.foreach { p =>
      val d = p.durationMs
      rec.add(TriggerMs, d.get("triggerExecution").toDouble)
      rec.add(AddBatchMs, d.getOrDefault("addBatch", 0L).toDouble)
    }
    heapProbe()
    mon.foreach { case (windows, p) =>
      checkMonitor(windows)
      rec.check(p.size == Files, s"monitor ran ${p.size} triggers with input, expected $Files")
    }
    dedup.foreach { _ =>
      val want = manifest.on_time - manifest.duplicate_events
      rec.check(unique == want, s"dedup emitted $unique events, expected $want")
    }
  }

  override def ratios: Map[String, Double] = {
    val t = rec.total(TriggerMs)
    Map("streaming.trigger_overhead_frac" ->
      (if (t > 0) (t - rec.total(AddBatchMs)) / t else Double.NaN))
  }
}

object StreamMonitor {
  val Files = 4
  val PerFile = 3000
  val TriggerMs = "trigger_ms"
  val AddBatchMs = "add_batch_ms"
}
