package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  private lazy val tmp = Files.createTempDirectory("perfbench-gen")

  override def afterAll(): Unit = {
    spark.stop()
    Io.deleteTree(tmp)
  }

  /** Relative path -> bytes of every file under `dir`. */
  private def contents(dir: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).map(p =>
      dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def generateAll(seed: Long, name: String): Path = {
    val dir = tmp.resolve(name)
    CleanGen.generate(spark, seed, dir.resolve("clean"), 2000)
    CorpusGen.generate(spark, seed, dir.resolve("corpus"), 400, 3)
    VectorGen.generate(spark, seed, dir.resolve("vectors"), 300, 8, 4, 2, 5, 2, 7, 2)
    StreamGen.generate(spark, seed, dir.resolve("stream"), 5, 300)
    dir
  }

  test("the same seed gives the same files and manifests; another seed does not") {
    val a = contents(generateAll(42, "a"))
    val b = contents(generateAll(42, "b"))
    val c = contents(generateAll(43, "c"))
    assert(a.keySet.count(_.endsWith("manifest.json")) == 4)
    assert(a.keySet == b.keySet)
    a.keys.foreach(k => assert(a(k) == b(k), s"$k differs under the same seed"))
    Seq("clean", "corpus", "vectors", "stream").foreach { w =>
      assert(a.keys.exists(k => k.startsWith(w + "/") && a.get(k) != c.get(k)),
        s"$w inputs are the same under another seed")
    }
  }

  test("the manifests record the planted counts and the file layout") {
    val dir = tmp.resolve("m")
    val clean = CleanGen.generate(spark, 7, dir.resolve("clean"), 2000)
    assert(clean.rows == clean.base_rows + clean.duplicate_rows)
    assert(clean.layout == Map("files" -> 1, "row_groups" -> Seq(1)))
    val corpus = CorpusGen.generate(spark, 7, dir.resolve("corpus"), 400, 3)
    assert(corpus.manifest.layout("files") == 3)
    assert(corpus.docs.count(_.kind == DocKind.ExactCopy) == corpus.manifest.exact_copies)
    assert(corpus.docs.map(_.text).distinct.size ==
      corpus.docs.size - corpus.manifest.exact_copies)
    val stream = StreamGen.generate(spark, 7, dir.resolve("stream"), 5, 300)
    assert(stream.layout("files") == 5)
    assert(stream.events == stream.on_time + stream.late_rows)
    assert(stream.late_rows > 0 && stream.duplicate_events > 0)
  }
}
