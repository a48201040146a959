package perfbench

import org.apache.spark.sql.DataFrame

import graft.ext.{CorpusDoc, CorpusPipeline}
import graft.io.{Sinks, Sources}

/** LLM-data curation: read the corpus, run the cleaning funnel (exact
  * dedup, MinHash near-dup removal, quality and language screens), save
  * the survivors, then run the curation funnel (quality classifier, exact
  * dedup, benchmark decontamination, per-source token budget) and read
  * its per-source report. */
final class CorpusCurate(ctx: Ctx) extends Workload {
  import ctx._
  import CorpusCurate._

  private var data: CorpusData = _
  private var docsDir: String = _
  private var benchDir: String = _

  def setUp(): Unit = {
    val dir = freshDir("corpus")
    data = CorpusGen.generate(spark, seed, dir, Docs, math.max(4, cores))
    docsDir = dir.resolve("docs").toString
    benchDir = dir.resolve("bench").toString
    val n = Sources.parquet(spark, docsDir).count()
    rec.check(n == data.docs.length, s"read $n documents, generated ${data.docs.length}")
  }

  private def clean(df: DataFrame) = {
    import spark.implicits._
    CorpusPipeline.clean(df.as[CorpusDoc])
  }

  def pass(): Unit = {
    val out = freshDir("corpus-out").resolve("clean").toString
    val t0 = System.nanoTime()
    val inputs = rec.op("read") {
      tracer.span("io.read") {
        (Sources.parquet(spark, docsDir), Sources.parquet(spark, benchDir))
      }
    }
    inputs.foreach { case (docs, bench) =>
      rec.op("clean") { tracer.span("corpus.clean") { clean(docs) } }.foreach { kept =>
        rec.timedOp(Workload.WriteS, "save survivors") {
          tracer.span("io.write_parquet") { Sinks.parquet(kept.toDF(), out) }
        }
      }
      val funnel = rec.timedOp(Workload.StepS, "curate") {
        tracer.span("corpus.curate") {
          CorpusPipeline.curate(docs, "doc_id", "text", "source", bench,
            "bench_text", data.manifest.budget_tokens).collect()
        }
      }
      val passS = (System.nanoTime() - t0) / 1e9
      rec.add(Workload.PassS, passS)
      rec.add(Workload.Items, data.docs.length)
      rec.add(Workload.ItemsS, passS)
      heapProbe()
      checkSurvivors(out)
      funnel.foreach { rows =>
        val got = rows.map(r => r.getAs[String]("source") -> Seq("n_in", "n_quality",
          "n_unique", "n_clean", "n_kept", "tokens_kept").map(c => r.getAs[Long](c))).toMap
        val want = recount(data)
        rec.check(got == want, s"curate funnel $got, plain-Scala recount $want")
      }
    }
  }

  /** The survivors must hold every original and cipher copy and no exact
    * copy; the near copies they drop give the recall. */
  private def checkSurvivors(out: String): Unit = {
    val ids = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0))
    val survivors = ids.toSet
    rec.check(survivors.size == ids.length, "survivors repeat an id")
    val byKind = data.docs.groupBy(_.kind).map { case (k, ds) => k -> ds.map(_.id).toSet }
    def of(k: Int) = byKind.getOrElse(k, Set.empty[Long])
    val required = of(DocKind.Original) ++ of(DocKind.Contaminated) ++ of(DocKind.CipherCopy)
    rec.check(idHash(survivors.intersect(required)) == idHash(required),
      s"${(required -- survivors).size} originals or cipher copies were dropped")
    rec.check(survivors.intersect(of(DocKind.ExactCopy)).isEmpty, "an exact copy survived")
    rec.check(survivors.subsetOf(required ++ of(DocKind.NearCopy)), "unknown survivor id")
    val near = of(DocKind.NearCopy)
    if (near.nonEmpty)
      rec.add(Recall, (near -- survivors).size.toDouble / near.size)
  }

  override def ratios: Map[String, Double] =
    Map("dedup.injected_recall" -> Stats.median(rec.values(Recall)))
}

object CorpusCurate {
  val Docs = 2000
  val Recall = "near_recall"

  /** Order-free hash of an id set. */
  def idHash(ids: Set[Long]): Long =
    ids.iterator.map(i => scala.util.hashing.MurmurHash3.mix(0x5EED, i.hashCode ^ (i >>> 32).toInt)
      .toLong).sum

  /** The curation funnel per source, recounted in plain Scala from what the
    * generator planted: every document passes the classifier, exact
    * dedup drops the exact copies, decontamination drops the planted
    * documents, and the budget keeps each source's id-ordered prefix
    * whose running token count stays within budget. */
  def recount(d: CorpusData): Map[String, Seq[Long]] =
    d.docs.groupBy(_.source).map { case (src, ds) =>
      val unique = ds.filter(_.kind != DocKind.ExactCopy)
      val clean = unique.filter(_.kind != DocKind.Contaminated).sortBy(_.id)
      val running = clean.scanLeft(0L)(_ + _.tokens).tail
      val kept = running.takeWhile(_ <= d.manifest.budget_tokens)
      src -> Seq(ds.size.toLong, ds.size.toLong, unique.size.toLong,
        clean.size.toLong, kept.size.toLong, kept.lastOption.getOrElse(0L))
    }
}
