package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and prints one JSON result line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * Set-up (input generation plus one read of the inputs) runs three times;
  * then one untimed warm-up pass runs. `setup_s` is the session start
  * plus the median set-up plus the warm-up pass. Then whole user passes
  * run back to back until `--seconds` have passed. With `--trace 0` the
  * line carries the end-to-end metrics; with `--trace 1` every other pass
  * is traced and the line carries the per-layer metrics. The last line of
  * stdout is the result; logs go to stderr. */
object Main {
  val SetUpReps = 3

  /** End-to-end metrics: name -> unit. */
  val EndToEnd: ListMap[String, String] = ListMap(
    "setup_s" -> "s", "pass_s" -> "s", "step_p50_s" -> "s",
    "write_p50_s" -> "s", "items_per_s" -> "1/s", "peak_heap_mb" -> "MB")

  /** Spans, one per public call the workloads make. */
  val Spans: Seq[String] = Seq(
    "io.read", "io.write_parquet", "io.html_report",
    "pipeline.open", "pipeline.apply",
    "profile.detect_missions",
    "score.quality_score", "score.insights",
    "corpus.clean", "corpus.curate",
    "simsearch.brute_topk", "simsearch.ivf_topk", "simsearch.ivf_append",
    "streaming.quality_monitor", "streaming.dedup_events")

  /** Statistics per span: name -> unit. */
  val SpanStats: ListMap[String, String] = ListMap(
    "self_s" -> "s", "jobs" -> "count", "build_jobs" -> "count",
    "tasks" -> "count", "cpu_util" -> "frac", "shuffle_mb" -> "MB",
    "spill_mb" -> "MB", "gc_ms" -> "ms")

  /** Per-layer ratios: name -> unit. */
  val Ratios: ListMap[String, String] = ListMap(
    "dedup.injected_recall" -> "frac", "simsearch.ivf_recall_at_10" -> "frac",
    "pipeline.cached_mb" -> "MB", "streaming.trigger_overhead_frac" -> "frac",
    "spark.ms_per_job" -> "ms", "trace_overhead_frac" -> "frac")

  val PerLayer: ListMap[String, String] =
    ListMap.from(for (s <- Spans; (k, u) <- SpanStats) yield s"$s.$k" -> u) ++ Ratios

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      kv.getOrElse("--trace", "0") == "1")
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.codegen.cache.maxEntries", 1000L)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Workload.names.contains(args.workload),
      s"unknown workload '${args.workload}'; expected one of ${Workload.names.mkString(", ")}")
    val work = Paths.get(".bench_build", "work", args.workload).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = Stats.seconds(session(cores, work))
    val code =
      try run(args, spark, work, sessionS)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ${args.workload} aborted: $e")
          e.printStackTrace(System.err)
          1
      }
      finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  private def run(args: Args, spark: SparkSession, work: Path, sessionS: Double): Int = {
    val rec = new Recorder
    val tracer = new Tracer(spark.sparkContext)
    val wl = Workload(args.workload, Ctx(spark, args.seed, work, tracer, rec))
    val setUps = Seq.fill(SetUpReps)(Stats.seconds(wl.setUp())._2)
    // one untimed pass warms the JIT and Spark's code cache; its
    // operations and checks count, its samples do not
    val warmS = Stats.seconds(wl.pass())._2
    rec.clearSamples()
    val setupS = sessionS + Stats.median(setUps) + warmS
    System.err.println(f"[perfbench] session $sessionS%.2fs, set-ups " +
      f"${setUps.map(x => f"$x%.2f").mkString(" ")}s, warm-up $warmS%.2fs")

    val untraced = collection.mutable.ArrayBuffer.empty[Double]
    val traced = collection.mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    var passes = 0
    // a traced run alternates untraced and traced passes, at least
    // U, T, U, and ends on an untraced one, so the untraced passes
    // bracket the traced ones
    while (System.nanoTime() < deadline || passes < 1 ||
        (args.trace && (passes < 3 || passes % 2 == 0))) {
      val traceThis = args.trace && passes % 2 == 1
      val recorded = rec.values(Workload.PassS).size
      if (traceThis) tracer.start()
      try wl.pass() finally if (traceThis) tracer.stop()
      rec.values(Workload.PassS).drop(recorded).headOption.foreach { s =>
        if (traceThis) traced += s else untraced += s
        val tag = if (traceThis) " (traced)" else ""
        System.err.println(f"[perfbench] pass $passes%d$tag: $s%.3fs")
      }
      passes += 1
    }
    System.err.println(s"[perfbench] ${args.workload}: $passes passes, " +
      s"${rec.attempted} operations, ${rec.failed} failed, correct=${rec.correct}")

    val metrics =
      if (!args.trace) endToEnd(rec, setupS)
      else perLayer(tracer, wl, spark.sparkContext.defaultParallelism,
        traced.toSeq, untraced.toSeq)
    metrics.foreach { case (k, v) =>
      if (v.isNaN || v.isInfinite) rec.check(ok = false, s"metric $k has no value")
    }
    val out = ListMap(
      "correct" -> rec.correct,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "metrics" -> ListMap.from(metrics.map { case (k, v) =>
        val unit = EndToEnd.getOrElse(k, PerLayer(k))
        k -> ListMap("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> unit)
      }))
    println(Io.json.writeValueAsString(out))
    0
  }

  def endToEnd(rec: Recorder, setupS: Double): Seq[(String, Double)] = {
    import Workload._
    Seq(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(rec.values(PassS)),
      "step_p50_s" -> Stats.median(rec.values(StepS)),
      "write_p50_s" -> Stats.median(rec.values(WriteS)),
      "items_per_s" -> rec.total(Items) / rec.total(ItemsS),
      "peak_heap_mb" -> rec.values(HeapMb).maxOption.getOrElse(Double.NaN))
  }

  /** Per-span medians over calls (cpu_util pools all calls), then the
    * ratios. A span the workload never calls reports zeros. */
  def perLayer(tracer: Tracer, wl: Workload, cores: Int, traced: Seq[Double],
      untraced: Seq[Double]): Seq[(String, Double)] = {
    val byName = tracer.spans.groupBy(_.name)
    val spanMetrics = Spans.flatMap { name =>
      val ss = byName.getOrElse(name, Nil)
      def med(f: Span => Double) = if (ss.isEmpty) 0.0 else Stats.median(ss.map(f))
      val selfTotal = ss.map(_.selfS).sum
      Seq(
        "self_s" -> med(_.selfS),
        "jobs" -> med(_.jobs.toDouble),
        "build_jobs" -> med(_.buildJobs.toDouble),
        "tasks" -> med(_.tasks.toDouble),
        "cpu_util" -> (if (selfTotal > 0) ss.map(_.cpuNs).sum / 1e9 / (selfTotal * cores) else 0.0),
        "shuffle_mb" -> med(_.shuffleBytes / 1048576.0),
        "spill_mb" -> med(_.spillBytes / 1048576.0),
        "gc_ms" -> med(_.selfGcMs)).map { case (k, v) => s"$name.$k" -> v }
    }
    val jobs = tracer.spans.map(_.jobs).sum
    val ratios = Ratios.keys.toSeq.map {
      case "spark.ms_per_job" =>
        "spark.ms_per_job" -> (if (jobs > 0) traced.sum * 1000 / jobs else 0.0)
      case "trace_overhead_frac" =>
        "trace_overhead_frac" -> (Stats.median(traced) / Stats.median(untraced) - 1)
      case k => k -> wl.ratios.getOrElse(k, 0.0)
    }
    spanMetrics ++ ratios
  }
}
