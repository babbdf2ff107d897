package perfbench

/** `corpus_vector`: the corpus side of the system in one workload. A
  * round is the dedup part's round (curate, dedup store, batches,
  * compact), then the vector part's (IVF build, queries, batches, append,
  * compact).
  */
final class CorpusVector(ctx: Ctx) extends Workload {
  val name = "corpus_vector"
  val opSample = "query_s"
  val ingestSample = "dedup_batch_s"
  private val parts = Seq(new CorpusDedup(ctx), new VectorSearch(ctx))

  def setup(): Unit = parts.foreach(_.setup())
  def round(i: Int): Unit = {
    val t0 = ctx.now()
    parts.foreach(_.round(i))
    ctx.rec.sample("round_s", ctx.secs(t0))
  }
  def tracedRound(i: Int): Unit = {
    val t0 = ctx.now()
    parts.foreach(_.tracedRound(i))
    ctx.rec.sample("round_s", ctx.secs(t0))
  }
  def check(): Unit = parts.foreach(_.check())
  def storeBytes(): Long = parts.map(_.storeBytes()).sum
  override def mutate(): Seq[(String, Boolean)] = parts.flatMap(_.mutate())
}
