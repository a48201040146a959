package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Each writes parquet plus a `manifest.json`
  * holding every injected count and the file layout; the same seed gives
  * the same bytes. The engine only ever sees the parquet; the returned
  * truth stays with the benchmark's output checks. */
object Gen {
  /** One generator per (seed, workload). The seed is scrambled first:
    * SplittableRandom seeds that differ by its own increment give
    * shifted copies of one sequence. */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(new java.util.Random(seed * 1000003L + salt).nextLong())

  /** `k` distinct indices from [0, n), in random order. */
  def pick(r: SplittableRandom, n: Int, k: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = 0
    while (i < k) {
      val j = i + r.nextInt(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    a.take(k)
  }

  def shuffle[T](r: SplittableRandom, xs: mutable.IndexedSeq[T]): Unit = {
    var i = xs.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
  }

  def round2(x: Double): Double = math.round(x * 100) / 100.0
}

// ---------------------------------------------------------------- clean

final case class CleanManifest(rows: Int, base_rows: Int, qty_nulls: Int,
    flag_nulls: Int, price_outliers: Int, bad_dates: Int, duplicate_rows: Int,
    layout: Map[String, Any])

/** A dirty lineitem-shaped table: seeded nulls in `qty` and `flag`,
  * z-outliers in `price`, mixed date formats and unparseable dates in
  * `ship_str`, and exact duplicate rows. Every defect sits in its own
  * row and duplicates copy only clean rows, so each detector's count is
  * exactly the injected count. Written as one file with one row group,
  * like an uploaded table. */
object CleanGen {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("orderkey", LongType),
    StructField("partkey", LongType), StructField("qty", DoubleType),
    StructField("price", DoubleType), StructField("discount", DoubleType),
    StructField("ship_str", StringType), StructField("flag", StringType),
    StructField("mode", StringType)))

  private val modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val flags = Array("A", "N", "R")
  private val badDates = Array("n/a", "TBD", "2023-02-30", "00/00/0000", "31.12.2024")

  private def dateString(r: SplittableRandom): String = {
    val d = java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(2500).toLong)
    val (y, m, dd) = (d.getYear, d.getMonthValue, d.getDayOfMonth)
    r.nextInt(5) match {
      case 0 | 1 => f"$y%04d-$m%02d-$dd%02d"
      case 2 => s"$dd/$m/$y"
      case 3 => f"$y%04d/$m%02d/$dd%02d"
      case _ => f"$y%04d$m%02d$dd%02d"
    }
  }

  def generate(spark: SparkSession, seed: Long, dir: Path, baseRows: Int)
      : CleanManifest = {
    val r = Gen.rng(seed, 1)
    val qn = 20 + r.nextInt(21)
    val fn = 10 + r.nextInt(11)
    val bad = 5 + r.nextInt(11)
    val dups = 5 + r.nextInt(11)
    val outl = baseRows / 500 + r.nextInt(baseRows / 500 + 1)
    val defect = Gen.pick(r, baseRows, qn + fn + bad + outl + dups)
    val qtyNull = defect.slice(0, qn).toSet
    val flagNull = defect.slice(qn, qn + fn).toSet
    val badDate = defect.slice(qn + fn, qn + fn + bad).toSet
    val outlier = defect.slice(qn + fn + bad, qn + fn + bad + outl).toSet
    val dupSrc = defect.slice(qn + fn + bad + outl, defect.length)
    val base = Array.tabulate(baseRows) { i =>
      Row(i.toLong, 1L + r.nextInt(600000), 1L + r.nextInt(20000),
        if (qtyNull(i)) null else (1 + r.nextInt(50)).toDouble,
        if (outlier(i)) Gen.round2(5e6 + r.nextDouble() * 5e6)
        else Gen.round2(900 + r.nextDouble() * 104100),
        r.nextInt(11) / 100.0,
        if (badDate(i)) badDates(r.nextInt(badDates.length)) else dateString(r),
        if (flagNull(i)) null else flags(r.nextInt(flags.length)),
        modes(r.nextInt(modes.length)))
    }
    val all = mutable.ArrayBuffer.from(base) ++= dupSrc.map(base(_))
    Gen.shuffle(r, all)
    val data = dir.resolve("table")
    Io.writeParquet(spark, data, schema, Seq(all.toSeq))
    val m = CleanManifest(all.length, baseRows, qn, fn, outl, bad, dups, Io.layout(data))
    Io.writeJson(dir.resolve("manifest.json"), m)
    m
  }
}

// --------------------------------------------------------------- corpus

/** One generated document and what the generator did to it. */
final case class GenDoc(id: Long, source: String, text: String, kind: Int,
    tokens: Int)

object DocKind {
  val Original = 0
  val ExactCopy = 1
  val NearCopy = 2
  val CipherCopy = 3
  val Contaminated = 4
}

final case class CorpusManifest(docs: Int, originals: Int, exact_copies: Int,
    near_copies: Int, cipher_copies: Int, contaminated: Int,
    bench_passages: Int, budget_tokens: Long, layout: Map[String, Any])

final case class CorpusData(manifest: CorpusManifest, docs: IndexedSeq[GenDoc])

/** A training-text corpus: English-like documents over a Zipf vocabulary
  * of made-up content words plus English function words (so every
  * document passes the quality and language screens), and copies the
  * seed picks: exact copies, near copies (one or two words changed) and
  * letter-cipher copies (content words enciphered, so the text is
  * distinct but shaped alike). A separate set of benchmark passages is
  * planted verbatim in some originals. Copies always get higher ids than
  * their source, so every dedup keeps the original. Written as one file
  * per core. */
object CorpusGen {
  val schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("text", StringType)))
  val benchSchema: StructType = StructType(Seq(
    StructField("bench_id", LongType), StructField("bench_text", StringType)))

  val sources: Seq[String] = Seq("books", "code", "forum", "news", "web")
  /** English function words that are no other language's stopword. */
  val function: Array[String] = graft.ext.TextStats.langStopwords("en").toArray
  private val reserved: Set[String] =
    graft.ext.TextStats.langStopwords.values.flatten.toSet ++
      graft.ext.TextStats.stopwords

  /** A fixed vocabulary (not seed-dependent) of made-up words. */
  val vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s",
      "t", "v", "br", "st", "tr", "pl", "gr", "sh")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ea", "ou")
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 4000) {
      val w = (0 until 1 + r.nextInt(3)).map(_ =>
        on(r.nextInt(on.length)) + nu(r.nextInt(nu.length))).mkString +
        (if (r.nextBoolean()) on(r.nextInt(12)) else "")
      if (w.length >= 3 && !reserved(w)) seen += w
    }
    seen.toArray
  }
  private val zipfCdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / (i + 1)).toArray
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }
  private def content(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
  }

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(if (r.nextInt(10) < 3) function(r.nextInt(function.length)) else content(r))

  /** Sentence-final periods every 8-15 words. */
  private def render(ws: Array[String], r: SplittableRandom): String = {
    val sb = new StringBuilder
    var next = 8 + r.nextInt(8)
    ws.indices.foreach { i =>
      if (i > 0) sb += ' '
      sb ++= ws(i)
      if (i == next || i == ws.length - 1) { sb += '.'; next = i + 8 + r.nextInt(8) }
    }
    sb.toString
  }

  /** Makes sure at least five distinct function words appear, so the
    * language screen has a clear English vote. */
  private def withFunctionWords(ws: Array[String], r: SplittableRandom): Array[String] = {
    val missing = function.filterNot(ws.contains).toBuffer
    var have = function.length - missing.length
    while (have < 5) {
      val i = r.nextInt(ws.length)
      if (!function.contains(ws(i))) {
        ws(i) = missing.remove(r.nextInt(missing.length)); have += 1
      }
    }
    ws
  }

  private def cipher(text: String, key: Array[Char]): String =
    text.split(' ').map { t =>
      val w = t.stripSuffix(".")
      val c = if (function.contains(w)) w else {
        val e = w.map(ch => key(ch - 'a'))
        if (reserved(e)) e + "x" else e
      }
      if (t.endsWith(".")) c + "." else c
    }.mkString(" ")

  def generate(spark: SparkSession, seed: Long, dir: Path, nDocs: Int,
      nFiles: Int): CorpusData = {
    val r = Gen.rng(seed, 2)
    val nExact = nDocs * 4 / 100
    val nNear = nDocs * 4 / 100
    val nCipher = nDocs * 2 / 100
    val nOrig = nDocs - nExact - nNear - nCipher
    val nCont = nDocs / 100
    val passages = IndexedSeq.fill(50)(words(r, 20 + r.nextInt(9)).mkString(" "))
    val contaminated = Gen.pick(r, nOrig, nCont).toSet
    val origWords = Array.tabulate(nOrig)(_ =>
      withFunctionWords(words(r, 40 + r.nextInt(120)), r))
    val origText = Array.tabulate(nOrig) { i =>
      val t = render(origWords(i), r)
      if (!contaminated(i)) t
      else {
        // plant a passage between two words, keeping its words contiguous
        val ts = t.split(' ')
        val at = 1 + r.nextInt(ts.length - 1)
        (ts.take(at) ++ Seq(passages(r.nextInt(passages.length))) ++ ts.drop(at))
          .mkString(" ")
      }
    }
    val clean = (0 until nOrig).filterNot(contaminated).toArray
    val key = {
      val k = ('a' to 'z').toArray
      Gen.shuffle(r, mutable.ArraySeq.make(k))
      k
    }
    val kinds = mutable.ArrayBuffer.fill(nExact)(DocKind.ExactCopy) ++=
      Seq.fill(nNear)(DocKind.NearCopy) ++= Seq.fill(nCipher)(DocKind.CipherCopy)
    Gen.shuffle(r, kinds)
    def src(): String = sources(r.nextInt(sources.length))
    def ntok(t: String) = t.split(' ').length
    val origDocs = (0 until nOrig).map { i =>
      GenDoc(i.toLong, src(), origText(i),
        if (contaminated(i)) DocKind.Contaminated else DocKind.Original,
        ntok(origText(i)))
    }
    // each copy has its own source, so no two copies share a text
    val srcOf = Gen.pick(r, clean.length, kinds.length)
    val copies = kinds.zipWithIndex.map { case (kind, j) =>
      val s = clean(srcOf(j))
      val text = kind match {
        case DocKind.ExactCopy => origText(s)
        case DocKind.CipherCopy => cipher(origText(s), key)
        case _ =>
          var t = origText(s)
          while (t == origText(s)) {
            val ws = t.split(' ')
            (0 until 1 + r.nextInt(2)).foreach { _ =>
              val i = r.nextInt(ws.length)
              val w = ws(i).stripSuffix(".")
              if (!function.contains(w)) ws(i) = content(r) + (if (ws(i).endsWith(".")) "." else "")
            }
            t = ws.mkString(" ")
          }
          t
      }
      GenDoc((nOrig + j).toLong, src(), text, kind, ntok(text))
    }
    val docs = (origDocs ++ copies).toIndexedSeq
    val data = dir.resolve("docs")
    val per = (docs.length + nFiles - 1) / nFiles
    Io.writeParquet(spark, data, schema,
      docs.grouped(per).map(_.map(d => Row(d.id, d.source, d.text))).toSeq)
    val bench = dir.resolve("bench")
    Io.writeParquet(spark, bench, benchSchema,
      Seq(passages.zipWithIndex.map { case (p, i) => Row(i.toLong, p) }))
    // the budget cuts every source roughly in half
    val cleanTokens = docs.filter(d => d.kind != DocKind.ExactCopy &&
      d.kind != DocKind.Contaminated).map(_.tokens.toLong).sum
    val budget = cleanTokens / (2 * sources.size)
    val m = CorpusManifest(docs.length, nOrig, nExact, nNear, nCipher, nCont,
      passages.length, budget, Io.layout(data))
    Io.writeJson(dir.resolve("manifest.json"), m)
    CorpusData(m, docs)
  }
}

// --------------------------------------------------------------- vectors

final case class VectorManifest(corpus: Int, dims: Int, clusters: Int,
    query_batches: Int, batch_queries: Int, append_batches: Int,
    append_size: Int, layout: Map[String, Any])

final case class VectorData(corpus: Array[Array[Float]],
    queries: Array[Array[Array[Float]]], appends: Array[Array[Array[Float]]])

/** Embeddings drawn around seeded cluster centres, so an IVF index has
  * structure to find; query and append batches come from the same
  * mixture. Corpus ids are 0..n-1; query ids start at `QueryIdBase`. */
object VectorGen {
  val QueryIdBase = 1000000000L
  val schema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))
  val batchSchema: StructType = StructType(Seq(StructField("batch", IntegerType),
    StructField("id", LongType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  def generate(spark: SparkSession, seed: Long, dir: Path, n: Int, dims: Int,
      clusters: Int, queryBatches: Int, batchQueries: Int, appendBatches: Int,
      appendSize: Int, nFiles: Int): VectorData = {
    val r = Gen.rng(seed, 3)
    val centres = Array.fill(clusters) {
      val g = Array.fill(dims)(gauss(r))
      val s = math.sqrt(g.map(x => x * x).sum)
      g.map(_ / s)
    }
    def draw(): Array[Float] = {
      val c = centres(r.nextInt(clusters))
      Array.tabulate(dims)(i => (c(i) + 0.08 * gauss(r)).toFloat)
    }
    val corpus = Array.fill(n)(draw())
    val queries = Array.fill(queryBatches, batchQueries)(draw())
    val appends = Array.fill(appendBatches, appendSize)(draw())
    val cdir = dir.resolve("corpus")
    val per = (n + nFiles - 1) / nFiles
    Io.writeParquet(spark, cdir, schema, corpus.indices.grouped(per)
      .map(_.map(i => Row(i.toLong, corpus(i).toSeq))).toSeq)
    Io.writeParquet(spark, dir.resolve("queries"), batchSchema, Seq(
      for (b <- queries.indices; (q, i) <- queries(b).zipWithIndex)
        yield Row(b, QueryIdBase + b.toLong * batchQueries + i, q.toSeq)))
    Io.writeParquet(spark, dir.resolve("appends"), batchSchema, Seq(
      for (b <- appends.indices; (v, i) <- appends(b).zipWithIndex)
        yield Row(b, i.toLong, v.toSeq)))
    val m = VectorManifest(n, dims, clusters, queryBatches, batchQueries,
      appendBatches, appendSize, Io.layout(cdir))
    Io.writeJson(dir.resolve("manifest.json"), m)
    VectorData(corpus, queries, appends)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}

// ---------------------------------------------------------------- events

final case class StreamManifest(files: Int, events: Long, on_time: Long,
    late_rows: Long, duplicate_events: Long, layout: Map[String, Any])

/** Event files for a file stream, one per trigger. File i holds events of
  * event-time hour i; from the fourth file on, some rows fall in the first
  * half of hour i - 5, far older than the two-hour watermark (which trails
  * the input by a trigger), so the dedup drops them; some on-time events
  * are repeated verbatim in the same file. Modification times follow the
  * file order. */
object StreamGen {
  val T0Ms: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val HourMs: Long = 3600000L
  val schema: StructType = StructType(Seq(StructField("event_id", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("ts", TimestampType), StructField("value", DoubleType)))
  private val types = Array("view", "click", "cart", "buy", "share", "rate")

  def generate(spark: SparkSession, seed: Long, dir: Path, files: Int,
      perFile: Int): StreamManifest = {
    val r = Gen.rng(seed, 4)
    var nextId = 0L
    var late = 0L
    var dups = 0L
    def lateEvent(hourStart: Long): Row = event(hourStart, HourMs / 2)
    def event(hourStart: Long, spanMs: Long = HourMs): Row = {
      nextId += 1
      val v = r.nextInt(100) match {
        case 0 => null
        case 1 => Double.NaN
        case _ => Gen.round2(r.nextDouble() * 500)
      }
      Row(nextId, r.nextInt(5000).toLong, types(r.nextInt(types.length)),
        new java.sql.Timestamp(hourStart + r.nextLong(spanMs)), v)
    }
    val chunks = (0 until files).map { f =>
      val rows = mutable.ArrayBuffer.fill(perFile)(event(T0Ms + f * HourMs))
      val nDup = perFile / 100 + r.nextInt(perFile / 100 + 1)
      rows ++= Gen.pick(r, perFile, nDup).map(rows(_))
      dups += nDup
      if (f >= 3) {
        val nLate = perFile / 50 + r.nextInt(perFile / 50 + 1)
        rows ++= Seq.fill(nLate)(lateEvent(T0Ms + (f - 5) * HourMs))
        late += nLate
      }
      Gen.shuffle(r, rows)
      rows.toSeq
    }
    val data = dir.resolve("events")
    Io.writeParquet(spark, data, schema, chunks, i => 1700000000000L + i * 60000L)
    val total = chunks.map(_.size.toLong).sum
    val m = StreamManifest(files, total, total - late, late, dups, Io.layout(data))
    Io.writeJson(dir.resolve("manifest.json"), m)
    m
  }
}
