package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** File helpers for the generator: deterministic parquet layout and the
  * JSON manifest. */
object Io {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => { Files.deleteIfExists(x); () })
      finally walk.close()
    }

  private def listFiles(dir: Path): Seq[Path] = {
    val ls = Files.list(dir)
    try ls.iterator.asScala.toList.sortBy(_.getFileName.toString)
    finally ls.close()
  }

  /** Writes `chunks` as parquet files `part-<i>.parquet` in `dir`, one
    * file per chunk and one row group per file (the chunks here are far
    * below the row-group size). Spark names its part files with a random
    * id, so each chunk goes through a staging directory and is renamed;
    * the same rows give the same bytes. `mtimeMs` fixes each file's
    * modification time, which orders a file stream. */
  def writeParquet(spark: SparkSession, dir: Path, schema: StructType,
      chunks: Seq[Seq[Row]], mtimeMs: Int => Long = _ => 1700000000000L): Seq[Path] = {
    Files.createDirectories(dir)
    chunks.zipWithIndex.map { case (rows, i) =>
      val stage = dir.resolve(s".stage-$i")
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = listFiles(stage).find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written under $stage"))
      val dst = dir.resolve(f"part-$i%03d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      deleteTree(stage)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs(i)))
      dst
    }
  }

  /** File count and row groups per file of a parquet directory. */
  def layout(dir: Path): Map[String, Any] = {
    val files = listFiles(dir).filter(_.getFileName.toString.endsWith(".parquet"))
    val conf = new Configuration()
    val groups = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRowGroups.size finally r.close()
    }
    Map("files" -> files.size, "row_groups" -> groups)
  }

  def writeJson(p: Path, value: Any): Unit =
    Files.writeString(p, json.writerWithDefaultPrettyPrinter().writeValueAsString(value))
}
