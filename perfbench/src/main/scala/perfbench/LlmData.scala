package perfbench

/** The north star's LLM-data operators as one user's pass: curate a
  * document corpus, run one round of similarity search against an
  * embedding index (with an index append), then replay an event feed
  * through the stream quality monitor and the stream dedup. The parts
  * share the session, the recorder and the tracer; a pass's time is the
  * sum of its parts' times, so the heap probes between parts stay out. */
final class LlmData(ctx: Ctx) extends Workload {
  private val parts: Seq[Workload] =
    Seq(new CorpusCurate(ctx), new VectorSearch(ctx), new StreamMonitor(ctx))

  def setUp(): Unit = parts.foreach(_.setUp())

  def pass(): Unit = {
    val from = ctx.rec.values(Workload.PassS).size
    parts.foreach(_.pass())
    ctx.rec.collapse(Workload.PassS, from)
  }

  override def ratios: Map[String, Double] = parts.flatMap(_.ratios).toMap
}
