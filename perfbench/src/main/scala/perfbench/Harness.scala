package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Median and friends over measured samples. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Operation counts, correctness verdict and timing samples of one run.
  * A failed operation or a failed output check marks the run incorrect
  * and counts as a failed operation; the run itself carries on. */
final class Recorder {
  var attempted = 0L
  var failed = 0L
  var correct = true
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  def values(key: String): Seq[Double] =
    samples.get(key).map(_.toSeq).getOrElse(Nil)
  def total(key: String): Double = values(key).sum

  /** Replaces the samples of `key` recorded from index `from` on by
    * their sum. */
  def collapse(key: String, from: Int): Unit =
    samples.get(key).filter(_.length > from).foreach { b =>
      val sum = b.drop(from).sum
      b.dropRightInPlace(b.length - from)
      b += sum
    }

  /** Drops every timing sample; operation counts and the verdict stay. */
  def clearSamples(): Unit = samples.clear()

  /** Runs one user operation; an exception fails it and yields None. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        correct = false
        System.err.println(s"[perfbench] operation failed: $what: $e")
        e.printStackTrace(System.err)
        None
    }
  }

  /** Runs one user operation and records its seconds under `key`. */
  def timedOp[T](key: String, what: String)(body: => T): Option[T] =
    op(what) {
      val (r, s) = Stats.seconds(body)
      add(key, s)
      r
    }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failed += 1
      correct = false
      System.err.println(s"[perfbench] check failed: $what")
    }
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path,
    tracer: Tracer, rec: Recorder) {
  def cores: Int = spark.sparkContext.defaultParallelism

  /** A fresh, empty directory under the work directory. */
  def freshDir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(work)
    Io.deleteTree(d)
    Files.createDirectories(d)
    d
  }

  /** Records the live heap: a full collection, a pause for Spark's
    * cleaner to drop the blocks of frames that collection found
    * unreachable, and a second collection. Workloads call it at the point
    * of a pass where their working set is largest. */
  def heapProbe(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    rec.add(Workload.HeapMb, (rt.totalMemory() - rt.freeMemory()) / 1048576.0)
  }
}

/** A closed-loop, single-client workload. `setUp` writes fresh seeded
  * inputs and runs one warm-up step on them; `pass` is one complete user
  * pass, recorded into the context's recorder. */
trait Workload {
  def setUp(): Unit
  def pass(): Unit
  /** Ratios of this workload for the traced run, by metric name. */
  def ratios: Map[String, Double] = Map.empty
}

object Workload {
  // sample keys shared by every workload
  val PassS = "pass_s"
  val StepS = "step_s"
  val WriteS = "write_s"
  /** Items completed, and the seconds they took, for items_per_s. */
  val Items = "items"
  val ItemsS = "items_s"
  val HeapMb = "heap_mb"

  val names: Seq[String] = Seq("clean_session", "llm_data")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "clean_session" => new CleanSession(ctx)
    case "llm_data" => new LlmData(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
  }
}
