package perfbench

import graft.PipelineCli
import graft.operators.{DedupOps, DedupStore, TextOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Generated corpus: clean documents plus planted exact duplicates (whole
  * copies, and copies with a repeated line that line dedup removes),
  * distinct documents with an internal repeated line, low-quality
  * documents (stopwords only) and documents carrying a 6-token span of a
  * benchmark document. Words are random letter strings, so two generated
  * documents share no 3-token shingle unless one was planted.
  */
object CorpusGen {
  val Stop = Seq("the", "a", "of", "to")
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  final case class Doc(id: Long, text: String, kind: String)

  def word(r: scala.util.Random): String =
    Iterator.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString

  def line(r: scala.util.Random): String =
    Seq.fill(12 + r.nextInt(9))(
      if (r.nextDouble() < 0.08) Stop(r.nextInt(Stop.size)) else word(r)).mkString(" ")

  def lines(r: scala.util.Random): Seq[String] = Seq.fill(3 + r.nextInt(3))(line(r))

  /** (corpus, benchmark texts). Kinds: clean, exact_dup, line_dup_equal,
    * self_line_dup, low_quality, contaminated.
    */
  def corpus(seed: Long, n: Int, nBench: Int): (Seq[Doc], Seq[String]) = {
    val r = Rng(seed, 10)
    val bench = Seq.fill(nBench)(Seq.fill(30)(word(r)).mkString(" "))
    val docs = ArrayBuffer[Doc]()
    val cleanLines = ArrayBuffer[Seq[String]]()
    for (id <- 0 until n) {
      val u = r.nextDouble()
      val kind =
        if (cleanLines.size < 20 || u < 0.78) "clean"
        else if (u < 0.83) "exact_dup"
        else if (u < 0.85) "line_dup_equal"
        else if (u < 0.89) "self_line_dup"
        else if (u < 0.95) "low_quality"
        else "contaminated"
      val text = kind match {
        case "clean" =>
          val ls = lines(r); cleanLines += ls; ls.mkString("\n")
        case "exact_dup" => cleanLines(r.nextInt(cleanLines.size)).mkString("\n")
        case "line_dup_equal" =>
          // a copy with one line repeated later: equal after line dedup
          val ls = cleanLines(r.nextInt(cleanLines.size))
          val i = r.nextInt(ls.size)
          (ls :+ ls(i)).mkString("\n")
        case "self_line_dup" =>
          val ls = lines(r); (ls :+ ls.head).mkString("\n")
        case "low_quality" =>
          Seq.fill(20 + r.nextInt(10))(Stop(r.nextInt(Stop.size))).mkString(" ")
        case _ =>
          val ls = lines(r)
          val b = bench(r.nextInt(bench.size)).split(" ")
          val at = r.nextInt(b.length - 6)
          val span = b.slice(at, at + 6).mkString(" ")
          (ls.updated(0, ls.head + " " + span)).mkString("\n")
      }
      docs += Doc(id.toLong, text, kind)
    }
    (docs.toSeq, bench)
  }

  /** `m` tokens of `text` replaced by fresh words. */
  def nearDup(r: scala.util.Random, text: String, m: Int): String = {
    val toks = text.split(" ", -1)
    val at = r.shuffle(toks.indices.toList).take(m)
    at.foldLeft(toks)((t, i) => t.updated(i, word(r))).mkString(" ")
  }

  /** Word 3-shingles (tokens split on single spaces). */
  def shingles3(s: String): Set[String] =
    s.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** Jaccard of the word 3-shingle sets. */
  def jaccard3(a: String, b: String): Double = {
    val x = shingles3(a)
    val y = shingles3(b)
    if (x.isEmpty && y.isEmpty) 1.0
    else x.intersect(y).size.toDouble / x.union(y).size
  }

  /** P(flagged) for a pair of Jaccard `j` under MinHash LSH with `bands`
    * bands of `rows` components and estimator threshold `tau`: at least one
    * band fully equal AND at least ceil(tau * n) equal components, with
    * each component equal independently with probability j.
    */
  def flagProbability(j: Double, bands: Int, rows: Int, tau: Double): Double = {
    val n = bands * rows
    val need = math.ceil(tau * n - 1e-9).toInt
    def binom(k: Int, m: Int): Double = {
      var c = 1.0
      for (i <- 0 until k) c = c * (m - i) / (i + 1)
      c * math.pow(j, k) * math.pow(1 - j, m - k)
    }
    // dp(full)(matches) after each band
    var dp = Array.fill(2, n + 1)(0.0)
    dp(0)(0) = 1.0
    for (_ <- 0 until bands) {
      val nx = Array.fill(2, n + 1)(0.0)
      for (f <- 0 to 1; c <- 0 to n if dp(f)(c) > 0; k <- 0 to rows if c + k <= n) {
        val nf = if (k == rows) 1 else f
        nx(nf)(c + k) += dp(f)(c) * binom(k, rows)
      }
      dp = nx
    }
    (need to n).map(dp(1)(_)).sum
  }
}

/** The dedup part of `corpus_vector`: one curation run over the generated
  * corpus, its survivors indexed into a dedup store, a series of arriving
  * batches (`dedupNewBatch` + `append`), then `compact`. A round is that
  * sequence.
  */
final class CorpusDedup(ctx: Ctx) extends Part {
  val nDocs: Int = if (ctx.tiny) 300 else 800
  val nBench: Int = if (ctx.tiny) 10 else 40
  val nBatches: Int = if (ctx.tiny) 2 else 3
  val batchNew: Int = if (ctx.tiny) 30 else 100
  val batchNear: Int = if (ctx.tiny) 10 else 40
  val NumPerm = 16
  val Bands = 4
  val Tau = 0.5
  val in: String = ctx.path("in")
  val cur: String = ctx.path("store/curate")
  val store: String = ctx.path("store/dedup")
  private var docs: Seq[CorpusGen.Doc] = Nil
  private var bench: Seq[String] = Nil
  private lazy val text: Map[Long, String] = docs.map(d => d.id -> d.text).toMap
  /** per batch: (id, kind, source Jaccard or NaN) */
  private var batchDocs: Seq[Seq[(Long, String, Double)]] = Nil
  /** flags of the last round's batches: id -> is_dup */
  val flags = scala.collection.mutable.Map[Long, Boolean]()

  private def curateConfig = PipelineCli.Config(input = in, output = cur,
    mode = "curate", benchmark = Some(s"$in/bench"))

  def setup(): Unit = {
    val (corpus, b) = CorpusGen.corpus(ctx.seed, nDocs, nBench)
    docs = corpus
    bench = b
    ctx.writeTable(corpus.map(d => Row(d.id, d.text)), CorpusGen.docSchema,
      "in/documents", 4)
    ctx.writeTable(bench.zipWithIndex.map { case (t, i) => Row(i.toLong, t) },
      CorpusGen.docSchema, "in/bench")
    // batches: fresh distinct docs plus near-duplicates of stored docs
    val r = Rng(ctx.seed, 11)
    val pool = ArrayBuffer[String]() ++ corpus.filter(_.kind == "clean").map(_.text)
    var next = nDocs.toLong
    batchDocs = (0 until nBatches).map { b =>
      val fresh = Seq.fill(batchNew)(CorpusGen.lines(r).mkString("\n"))
      val sources = r.shuffle(pool.indices.toList).take(batchNear).map(pool)
      val near = sources.map { s =>
        val t = CorpusGen.nearDup(r, s, 1 + r.nextInt(4))
        (t, CorpusGen.jaccard3(s, t))
      }
      val all = r.shuffle(fresh.map(t => (t, "distinct", Double.NaN)) ++
        near.map { case (t, j) => (t, "near_dup", j) })
      val rows = all.map { case (t, k, j) => next += 1; (next - 1, t, k, j) }
      ctx.writeTable(rows.map { case (id, t, _, _) => Row(id, t) }, CorpusGen.docSchema,
        s"in/batch_$b")
      pool ++= fresh
      rows.map { case (id, _, k, j) => (id, k, j) }
    }
    runRound(warmUp = true)
  }

  private def batch(b: Int): DataFrame = ctx.spark.read.parquet(s"$in/batch_$b")

  /** One batch through the store; returns the flagged ids. */
  private def serveBatch(b: Int): Seq[(Long, Boolean)] = {
    val spark = ctx.spark
    val f = flagBatch(b)
    DedupStore.append(spark, store, batch(b), keepFrame(f))
    f
  }

  /** `dedupNewBatch` on batch `b`, collected: (id, is_dup). */
  private def flagBatch(b: Int): Seq[(Long, Boolean)] =
    DedupStore.dedupNewBatch(ctx.spark, store, batch(b), Tau)
      .select(col("doc_id"), col("is_dup")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSeq

  /** The ids `append` admits: the batch's unflagged docs. */
  private def keepFrame(f: Seq[(Long, Boolean)]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      f.filterNot(_._2).map(x => Row(x._1)), 1),
      StructType(Seq(StructField("doc_id", LongType))))

  private def writeStore(): Unit =
    DedupStore.write(ctx.spark.read.parquet(s"$cur/curated"), "doc_id", "text",
      store, numPerm = NumPerm, bands = Bands)

  /** One round; the untimed warm-up stops after the first batch. */
  private def runRound(warmUp: Boolean): Unit = {
    val rec = ctx.rec
    val t0 = ctx.now()
    val (_, cs, _) = ctx.timed(PipelineCli.run(ctx.spark, curateConfig))
    val (_, ws, _) = ctx.timed(writeStore())
    flags.clear()
    val batchTimes = (0 until (if (warmUp) 1 else nBatches)).map { b =>
      val (f, s, _) = ctx.timed(serveBatch(b))
      flags ++= f
      s
    }
    if (!warmUp) {
      val (_, ks, _) = ctx.timed(DedupStore.compact(ctx.spark, store))
      rec.sample("dedup_round_s", ctx.secs(t0))
      rec.sample("curate_s", cs)
      rec.sample("store_write_s", ws)
      batchTimes.foreach(rec.sample("dedup_batch_s", _))
      rec.sample("dedup_compact_s", ks)
      rec.attempted += 3 + 2 * nBatches
    }
  }

  def round(i: Int): Unit = runRound(warmUp = false)

  def tracedRound(i: Int): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val t0 = ctx.now()
    val documents = spark.read.parquet(s"$in/documents")
    val sep = java.util.regex.Pattern.quote("\n")
    def layer(name: String, metric: String)(f: => Unit): Unit = {
      val (_, s, iv) = ctx.timed(f)
      rec.layerSample(s"$name.$metric", s)
      rec.layerJobs(name, iv)
    }
    layer("DedupOps.lineDedup", "self_s")(
      ctx.force(DedupOps.lineDedup(documents, "doc_id", "text", sep, "\n")))
    val q = TextOps.qualityScore(col("text"), TextOps.tokens(col("text")),
      Seq("the", "a", "of", "to"))("quality")
    layer("TextOps.qualityScore", "self_s")(
      ctx.force(documents.select(col("doc_id"), q.as("quality"))))
    layer("DedupOps.flagContaminated", "self_s")(ctx.force(DedupOps.flagContaminated(
      documents, spark.read.parquet(s"$in/bench"), "doc_id", "text")))
    layer("PipelineCli.runCurate", "s")(PipelineCli.run(spark, curateConfig))
    layer("DedupStore.write", "s")(writeStore())
    flags.clear()
    for (b <- 0 until nBatches) {
      val pairs = candidatePairs(b)
      val (f, ds, di) = ctx.timed(flagBatch(b))
      flags ++= f
      rec.layerSample("DedupStore.dedupNewBatch.s", ds)
      rec.layerJobs("DedupStore.dedupNewBatch", di)
      layer("DedupStore.append", "s")(DedupStore.append(spark, store, batch(b), keepFrame(f)))
      rec.layerSample("DedupStore.dedupNewBatch.pairs_per_dup",
        pairs.toDouble / math.max(1, f.count(_._2)))
    }
    layer("DedupStore.compact", "s")(DedupStore.compact(spark, store))
    rec.layerSample("DedupStore.rows", spark.read.parquet(s"$store/rows").count().toDouble)
    rec.layerSample("DedupStore.files", Files.parquetFiles(s"$store/rows"))
    rec.sample("dedup_round_s", ctx.secs(t0))
    rec.attempted += 3 + 2 * nBatches
  }

  /** The pairs `dedupNewBatch` scores for batch `b`: distinct (stored or
    * earlier batch row, batch row) pairs sharing a band bucket.
    */
  private def candidatePairs(b: Int): Long = {
    val batchRows = DedupOps.bandRows(batch(b), "doc_id", "text", 3, NumPerm, Bands,
      1000, withSig = false).withColumnRenamed("doc_id", "id")
    val all = ctx.spark.read.parquet(s"$store/rows")
      .select("id", "band_idx", "band_key").unionByName(batchRows)
    all.as("x").join(batchRows.as("y"), col("x.band_idx") === col("y.band_idx") &&
      col("x.band_key") === col("y.band_key") && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().count()
  }

  /** Curation verdicts vs. the planted kinds; batch flags vs. the S-curve. */
  def checkOutputs(decisions: Seq[(Long, Boolean, Boolean, Boolean)],
      batchFlags: collection.Map[Long, Boolean]): Unit = {
    val rec = ctx.rec
    val kind = docs.map(d => d.id -> d.kind).toMap
    def ids(p: String => Boolean) = docs.filter(d => p(d.kind)).map(_.id).toSet
    val lowQ = decisions.filterNot(_._2).map(_._1).toSet
    val dup = decisions.filter(_._3).map(_._1).toSet
    val con = decisions.filter(_._4).map(_._1).toSet
    val wantDup = ids(k => k == "exact_dup" || k == "line_dup_equal")
    rec.check("curate: low-quality verdicts equal the planted low-quality docs",
      lowQ == ids(_ == "low_quality"), s"${lowQ.size} flagged, ${ids(_ == "low_quality").size} planted")
    rec.check("curate: exact-duplicate verdicts equal the planted duplicates",
      dup == wantDup, s"${dup.size} flagged, ${wantDup.size} planted")
    // A flag on a doc that shares no 3-token shingle with the benchmark is
    // a collision of the program's shingle hash: counted, not failed, as
    // it comes and goes with the seed.
    val plantedCon = ids(_ == "contaminated")
    val benchShingles = bench.flatMap(CorpusGen.shingles3).toSet
    val collisions = (con -- plantedCon).filter { id =>
      CorpusGen.shingles3(text(id)).intersect(benchShingles).isEmpty
    }
    rec.check("curate: every planted contaminated doc is flagged, and no other doc " +
      "sharing a 3-token shingle with the benchmark",
      con -- collisions == plantedCon,
      s"${con.size} flagged, ${plantedCon.size} planted, ${collisions.size} hash collisions")
    rec.note("curate.contamination_hash_collisions", collisions.size)
    rec.check("curate: every input doc has one verdict",
      decisions.map(_._1).toSet == kind.keySet && decisions.size == kind.size)
    val all = batchDocs.flatten
    val near = all.filter(_._2 == "near_dup")
    val ps = near.map(x => CorpusGen.flagProbability(x._3, Bands, NumPerm / Bands, Tau))
    val mean = ps.sum
    val sd = math.sqrt(ps.map(p => p * (1 - p)).sum)
    val floor = mean - 4 * sd
    val caught = near.count(x => batchFlags.getOrElse(x._1, false))
    rec.check("dedup store: flagged planted near-duplicates >= the S-curve floor",
      caught >= floor, f"$caught of ${near.size} flagged; S-curve expects $mean%.1f, floor $floor%.1f")
    val falsePos = all.filter(_._2 == "distinct").count(x => batchFlags.getOrElse(x._1, true))
    rec.check("dedup store: no generated distinct document is flagged", falsePos == 0,
      s"$falsePos of ${all.count(_._2 == "distinct")} distinct docs flagged or missing")
    rec.note("planted.near_dup_share_flagged", caught.toDouble / math.max(1, near.size))
    rec.note("planted.near_dup_expected_share", mean / math.max(1, near.size))
  }

  def decisions(): Seq[(Long, Boolean, Boolean, Boolean)] =
    ctx.spark.read.parquet(s"$cur/decisions")
      .select("doc_id", "passed_quality", "is_exact_dup", "is_contaminated").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toSeq

  def check(): Unit = checkOutputs(decisions(), flags)

  override def mutate(): Seq[(String, Boolean)] = {
    val dup = docs.find(_.kind == "exact_dup").map(_.id)
    val unflagged = decisions().map { case (id, q, d, c) => (id, q, d && !dup.contains(id), c) }
    Seq("an unflagged planted duplicate" -> caught(ctx)(checkOutputs(unflagged, flags)))
  }

  def storeBytes(): Long = Files.bytes(cur) + Files.bytes(store)
}
