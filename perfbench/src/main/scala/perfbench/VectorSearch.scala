package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.ext.SimSearch

/** One client sends query batches against an embedding index: per round
  * an exact (brute-force) batch, an IVF batch, then an IVF append of new
  * vectors that enter the index. The index is a sliding window: each
  * append evicts as many of the oldest vectors, so its size stays fixed. */
final class VectorSearch(ctx: Ctx) extends Workload {
  import ctx._
  import VectorSearch._

  private var data: VectorData = _
  private var base: DataFrame = _
  private var baseUnit: Array[Array[Double]] = _
  private var lo = 0L
  private val appended = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  private var round = 0

  def setUp(): Unit = {
    if (base != null) base.unpersist()
    val dir = freshDir("vectors")
    data = VectorGen.generate(spark, seed, dir, Corpus, Dims, Clusters,
      QueryBatches, BatchQueries, AppendBatches, AppendSize, math.max(4, cores))
    baseUnit = data.corpus.map(unit)
    lo = 0L
    appended.clear()
    round = 0
    base = spark.read.parquet(dir.resolve("corpus").toString)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = base.count()
    rec.check(n == Corpus, s"loaded $n vectors, generated $Corpus")
  }

  /** The live index: the newest `Corpus` ids, i.e. every id >= `lo`. */
  private def index: DataFrame = {
    val live = base.filter(col("id") >= lo)
    if (appended.isEmpty) live
    else live.unionByName(spark.createDataFrame(
      appended.map { case (id, v) => Row(id, v.toSeq) }.asJava, VectorGen.schema))
  }

  private def queryFrame(b: Int): DataFrame = {
    val qs = data.queries(b % data.queries.length)
    spark.createDataFrame(qs.indices.map(i =>
      Row(queryId(b, i), qs(i).toSeq)).asJava, VectorGen.schema)
  }

  private def queryId(b: Int, i: Int): Long =
    VectorGen.QueryIdBase + b.toLong * BatchQueries + i

  /** Runs one batch; returns the neighbour ids per query id in rank order. */
  private def search(b: Int, exact: Boolean): Map[Long, Seq[(Long, Double)]] = {
    val rows =
      if (exact) tracer.span("simsearch.brute_topk") {
        SimSearch.bruteTopK(index, queryFrame(b), "id", "vec", K).collect()
      } else tracer.span("simsearch.ivf_topk") {
        SimSearch.ivfTopK(index, queryFrame(b), "id", "vec", K).collect()
      }
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(2)).map(r => (r.getLong(1), r.getDouble(3))).toSeq
    }
  }

  def pass(): Unit = {
    val b = 2 * round
    val brute = rec.timedOp(SearchS, "brute batch") { search(b, exact = true) }
    val ivf = rec.timedOp(SearchS, "ivf batch") { search(b + 1, exact = false) }
    val batch = data.appends(round % data.appends.length)
    val ids = batch.indices.map(i => Corpus.toLong + round.toLong * AppendSize + i)
    // the searches ran on the index as it was before this round's append
    val before = liveVectors()
    val report = rec.timedOp(Workload.WriteS, "ivf append") {
      val r = tracer.span("simsearch.ivf_append") {
        SimSearch.ivfAppend(index, spark.createDataFrame(ids.indices.map(i =>
          Row(ids(i), batch(i).toSeq)).asJava, VectorGen.schema), "id", "vec").collect()
      }
      appended ++= ids.zip(batch)
      lo += AppendSize
      appended.filterInPlace(_._1 >= lo)
      r
    }
    round += 1
    val s = rec.values(SearchS).takeRight(2)
    if (brute.nonEmpty && ivf.nonEmpty) {
      s.foreach(rec.add(Workload.StepS, _))
      rec.add(Workload.Items, 2 * BatchQueries)
      rec.add(Workload.ItemsS, s.sum)
      rec.add(Workload.PassS, s.sum + rec.values(Workload.WriteS).lastOption.getOrElse(0.0))
    }
    heapProbe()
    // the append report counts the index before the append and the batch
    report.foreach { rs =>
      val nIndex = rs.map(_.getAs[Long]("n_index")).sum
      val nBatch = rs.map(_.getAs[Long]("n_batch")).sum
      rec.check(nIndex == Corpus && nBatch == AppendSize,
        s"append report counts $nIndex index and $nBatch batch vectors")
    }
    brute.foreach(res => checkExact(b, res, before))
    ivf.foreach { res =>
      val qs = data.queries((b + 1) % data.queries.length)
      val hits = (0 until RecallSample).map { i =>
        val want = exactTopK(unit(qs(i)), before).map(_._1).toSet
        res.getOrElse(queryId(b + 1, i), Nil).count(n => want(n._1))
      }.sum
      rec.add(Recall, hits.toDouble / (RecallSample * K))
    }
  }

  /** The live index as (id, unit vector), computed in plain Scala. */
  private def liveVectors(): IndexedSeq[(Long, Array[Double])] =
    (lo.toInt until Corpus).map(i => (i.toLong, baseUnit(i))) ++
      appended.map { case (id, v) => (id, unit(v)) }

  /** Brute force must return the exact top-k: same length, every cosine
    * equal to the plain-Scala one, and no neighbour below the exact k-th
    * cosine (ties within 1e-9 may order either way). */
  private def checkExact(b: Int, res: Map[Long, Seq[(Long, Double)]],
      live: IndexedSeq[(Long, Array[Double])]): Unit = {
    val qs = data.queries(b % data.queries.length)
    val byId = live.toMap
    (0 until ExactSample).foreach { i =>
      val q = unit(qs(i))
      val want = exactTopK(q, live)
      val got = res.getOrElse(queryId(b, i), Nil)
      val ok = got.length == K && got.map(_._1).distinct.length == K &&
        got.forall { case (id, c) =>
          byId.get(id).exists(v => math.abs(dot(q, v) - c) < 1e-9) && c >= want.last._2 - 1e-9
        }
      rec.check(ok, s"brute top-$K of query ${queryId(b, i)}: got $got, exact $want")
    }
  }

  override def ratios: Map[String, Double] =
    Map("simsearch.ivf_recall_at_10" -> Stats.median(rec.values(Recall)))
}

object VectorSearch {
  val Corpus = 4000
  val Dims = 64
  val Clusters = 32
  val BatchQueries = 200
  val QueryBatches = 8
  val AppendBatches = 4
  val AppendSize = 500
  val K = 10
  /** Queries per batch checked against plain-Scala search. */
  val ExactSample = 8
  val RecallSample = 20
  val SearchS = "search_s"
  val Recall = "ivf_recall"

  def unit(v: Array[Float]): Array[Double] = {
    val d = v.map(_.toDouble)
    val n = math.sqrt(d.map(x => x * x).sum)
    if (n > 0) d.map(_ / n) else d
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Exact top-k by cosine, ties broken by the smaller id. */
  def exactTopK(q: Array[Double], live: IndexedSeq[(Long, Array[Double])])
      : Seq[(Long, Double)] =
    live.map { case (id, v) => (id, dot(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(K)
}
