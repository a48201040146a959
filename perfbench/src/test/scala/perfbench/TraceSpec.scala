package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    // without adaptive execution an aggregate is exactly one job
    .config("spark.sql.adaptive.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("self time is the duration minus the union of child intervals") {
    // parent [0, 100]; children overlap, one sticks out past the end
    assert(Trace.selfNs(0, 100, Nil) == 100)
    assert(Trace.selfNs(0, 100, Seq((10, 20), (30, 40))) == 80)
    assert(Trace.selfNs(0, 100, Seq((10, 30), (20, 40))) == 70)
    assert(Trace.selfNs(0, 100, Seq((90, 150), (-5, 5))) == 85)
    assert(Trace.selfNs(0, 100, Seq((10, 20), (10, 20), (12, 18))) == 90)
  }

  test("a span tree reports self time per span") {
    val root = new Span(1, "root", None, 0L, 0L, 0L)
    val a = new Span(2, "a", Some(root), 10L, 0L, 0L)
    val b = new Span(3, "b", Some(root), 50L, 0L, 0L)
    val a1 = new Span(4, "a1", Some(a), 15L, 0L, 0L)
    root.children ++= Seq(a, b); a.children += a1
    root.endNs = 100L; a.endNs = 40L; b.endNs = 70L; a1.endNs = 25L
    assert(root.selfS * 1e9 == 100 - 30 - 20)
    assert(a.selfS * 1e9 == 30 - 10)
    assert(b.selfS * 1e9 == 20)
    assert(a1.selfS * 1e9 == 10)
  }

  test("the first user frame of a call site decides a build job") {
    val engine = "org.apache.spark.sql.Dataset.head(Dataset.scala:1)\n" +
      "graft.score.Quality$.stats(Quality.scala:20)\nperfbench.X.run(X.scala:3)"
    val bench = "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\nperfbench.X.run(X.scala:3)"
    val pool = "org.apache.spark.sql.execution.SQLExecution$.x(SQLExecution.scala:1)\n" +
      "java.base/java.lang.Thread.run(Thread.java:840)"
    assert(Trace.isBuildJob(JobRec(1, 0, None, engine, None), _ => None))
    assert(!Trace.isBuildJob(JobRec(2, 0, None, bench, None), _ => None))
    // a stage submitted from a pool thread takes its SQL execution's call site
    assert(Trace.isBuildJob(JobRec(3, 0, None, pool, Some(7L)), Map(7L -> engine).get))
    assert(!Trace.isBuildJob(JobRec(4, 0, None, pool, Some(7L)), Map(7L -> bench).get))
  }

  test("a job whose group names a closed span goes to the span open at its start") {
    val old = new Span(1, "old", None, 0L, 0L, 0L)
    old.endMs = 10L
    val cur = new Span(2, "cur", None, 0L, 20L, 0L)
    cur.endMs = 30L
    val owner = Trace.attribute(Seq(old, cur),
      Seq(JobRec(1, 5L, Some(old.group), "", None),
        JobRec(2, 25L, Some(old.group), "", None),
        JobRec(3, 25L, None, "", None),
        JobRec(4, 15L, None, "", None)))
    assert(owner(1) eq old)
    assert(owner(2) eq cur)
    assert(owner(3) eq cur)
    assert(!owner.contains(4))
  }

  test("an engine call with one eager job counts one build job") {
    import spark.implicits._
    val df = (1 to 100).map(_.toDouble).toDF("x")
    val tracer = new Tracer(spark.sparkContext)
    tracer.start()
    tracer.span("s") {
      graft.profile.Profiler.zScoreModel(df, "x") // one eager job in the engine
      df.filter(col("x") > 50).count() // one job started here
    }
    tracer.stop()
    val s = tracer.spans.find(_.name == "s").get
    assert(s.jobs == 2)
    assert(s.buildJobs == 1)
    assert(s.tasks >= 2)
  }
}
