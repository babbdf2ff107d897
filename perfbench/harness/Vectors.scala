package perfbench

import graft.operators.IvfIndex
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Clustered embeddings: unit-scale Gaussian cluster centres plus noise. */
object VectorGen {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(DoubleType, false))))

  def centres(seed: Long, c: Int, dims: Int): IndexedSeq[Array[Double]] = {
    val r = Rng(seed, 20)
    IndexedSeq.fill(c)(Array.fill(dims)(r.nextGaussian()))
  }

  def vectors(seed: Long, stream: Int, n: Int, firstId: Long,
      centres: IndexedSeq[Array[Double]], noise: Double): IndexedSeq[(Long, Array[Double])] = {
    val r = Rng(seed, 21, stream)
    (0 until n).map { i =>
      val c = centres(r.nextInt(centres.size))
      (firstId + i, c.map(x => x + noise * r.nextGaussian()))
    }
  }

  /** The program's cosine, restated: index-order folds, then HALF_UP
    * rounding to 6 places as Spark's `round` does on a double.
    */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    def dot(x: Array[Double], y: Array[Double]) = {
      var acc = 0.0
      var i = 0
      while (i < math.min(x.length, y.length)) { acc += x(i) * y(i); i += 1 }
      acc
    }
    val v = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Brute-force top-k ids: similarity descending, id ascending. */
  def topK(q: Array[Double], data: Iterable[(Long, Array[Double])], k: Int): Seq[Long] =
    data.iterator.map { case (id, v) => (id, cosine(q, v)) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
}

/** The vector part of `corpus_vector`: an IVF index built over clustered
  * embeddings, then a stream of single queries, query batches, an append
  * and a compact. A round is that sequence, on a fresh index.
  */
final class VectorSearch(ctx: Ctx) extends Part {
  val n: Int = if (ctx.tiny) 2000 else 4000
  val dims: Int = if (ctx.tiny) 16 else 32
  val clusters: Int = if (ctx.tiny) 10 else 40
  val kCells: Int = if (ctx.tiny) 8 else 32
  val nprobe: Int = if (ctx.tiny) 3 else 4
  val nSingle: Int = if (ctx.tiny) 5 else 12
  val nBatches: Int = if (ctx.tiny) 1 else 2
  val batchSize: Int = if (ctx.tiny) 20 else 60
  val nAppend: Int = if (ctx.tiny) 20 else 100
  val K = 10
  val RecallFloor = 0.85
  val Noise = 0.35
  val index: String = ctx.path("store/ivf")
  private var built: IndexedSeq[(Long, Array[Double])] = IndexedSeq()
  private var appended: IndexedSeq[(Long, Array[Double])] = IndexedSeq()
  private var singles: IndexedSeq[Array[Double]] = IndexedSeq()
  private var batches: IndexedSeq[IndexedSeq[(Long, Array[Double])]] = IndexedSeq()
  /** last round's single-query results, in query order */
  private val singleResults = scala.collection.mutable.ArrayBuffer[Seq[Long]]()

  private def frame(rows: Seq[(Long, Array[Double])]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, v.toSeq) }, 4), VectorGen.schema)

  def setup(): Unit = {
    val cs = VectorGen.centres(ctx.seed, clusters, dims)
    built = VectorGen.vectors(ctx.seed, 1, n, 0L, cs, Noise)
    appended = VectorGen.vectors(ctx.seed, 2, nAppend, n.toLong, cs, Noise)
    singles = VectorGen.vectors(ctx.seed, 3, nSingle, 0L, cs, Noise).map(_._2)
    // batch queries get negative ids: queryBatch skips rows with the query's id
    batches = (0 until nBatches).map { b =>
      VectorGen.vectors(ctx.seed, 4 + b, batchSize, 0L, cs, Noise)
        .map { case (i, v) => (-1L - i, v) }
    }
    ctx.writeTable(built.map { case (id, v) => Row(id, v.toSeq) }, VectorGen.schema,
      "in/embeddings", 4)
    ctx.writeTable(appended.map { case (id, v) => Row(id, v.toSeq) }, VectorGen.schema,
      "in/appended")
    batches.zipWithIndex.foreach { case (b, i) =>
      ctx.writeTable(b.map { case (id, v) => Row(id, v.toSeq) }, VectorGen.schema,
        s"in/queries_$i")
    }
    runRound(warmUp = true)
  }

  private def build(): Unit = IvfIndex.write(ctx.spark.read.parquet(ctx.path("in/embeddings")),
    "id", "vec", kCells = kCells, path = index)

  private def single(q: Array[Double], probe: Int = nprobe): Seq[Long] =
    IvfIndex.query(ctx.spark, index, q, None, probe, K)
      .select("id").collect().map(_.getLong(0)).toSeq

  private def batch(b: Int): Array[Row] =
    IvfIndex.queryBatch(ctx.spark, index, ctx.spark.read.parquet(ctx.path(s"in/queries_$b")),
      nprobe, K).select("qid", "id", "rank").collect()

  private def appendAndCompact(): (Double, Double) = {
    val (_, a, ai) = ctx.timed(IvfIndex.append(ctx.spark, index,
      ctx.spark.read.parquet(ctx.path("in/appended"))))
    val (_, c, ci) = ctx.timed(IvfIndex.compact(ctx.spark, index))
    ctx.rec.layerJobs("IvfIndex.append", ai)
    ctx.rec.layerJobs("IvfIndex.compact", ci)
    (a, c)
  }

  /** One round; the untimed warm-up makes one call of each kind. */
  private def runRound(warmUp: Boolean): Unit = {
    val rec = ctx.rec
    val t0 = ctx.now()
    val (_, bs, _) = ctx.timed(build())
    singleResults.clear()
    val qs = singles.take(if (warmUp) 1 else nSingle).map { q =>
      val (r, s, _) = ctx.timed(single(q))
      singleResults += r
      s
    }
    val bt = (0 until (if (warmUp) 1 else nBatches)).map(b => ctx.timed(batch(b))._2)
    val (as, cs) = appendAndCompact()
    if (!warmUp) {
      rec.sample("ann_round_s", ctx.secs(t0))
      rec.sample("build_s", bs)
      qs.foreach(rec.sample("query_s", _))
      bt.foreach(rec.sample("ann_batch_s", _))
      rec.sample("batch_queries_per_s", nBatches * batchSize / bt.sum)
      rec.sample("ann_append_s", as)
      rec.sample("ann_compact_s", cs)
      rec.attempted += 3 + nSingle + nBatches
    }
  }

  def round(i: Int): Unit = runRound(warmUp = false)

  def tracedRound(i: Int): Unit = {
    val rec = ctx.rec
    val t0 = ctx.now()
    val (_, bs, bi) = ctx.timed(build())
    rec.layerSample("IvfIndex.write.s", bs)
    bi.foreach(x => rec.layerSample("IvfIndex.write.jobs", x.delta.jobs.toDouble))
    rec.layerJobs("IvfIndex.write", bi)
    singleResults.clear()
    singles.foreach { q =>
      val (r, s, si) = ctx.timed(single(q))
      singleResults += r
      rec.layerSample("IvfIndex.query.s", s)
      si.foreach(x => rec.layerSample("IvfIndex.query.jobs_per_call", x.delta.jobs.toDouble))
      rec.layerJobs("IvfIndex.query", si)
    }
    val centroids = ctx.spark.read.parquet(s"$index/codebook").collect()
      .groupBy(_.getInt(0)).map { case (c, rs) =>
        c -> rs.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
    (0 until nBatches).foreach { b =>
      val (_, s, bi2) = ctx.timed(batch(b))
      rec.layerSample("IvfIndex.queryBatch.s", s)
      rec.layerJobs("IvfIndex.queryBatch", bi2)
      bi2.foreach(x => rec.layerSample("IvfIndex.queryBatch.rows_scanned_per_query",
        x.delta.inputRecords.toDouble / batchSize))
      val probed = batches(b).flatMap { case (_, q) =>
        centroids.toSeq.map { case (c, v) => (c, VectorGen.cosine(q, v)) }
          .sortBy { case (c, s2) => (-s2, c) }.take(nprobe).map(_._1)
      }.toSet
      rec.layerSample("IvfIndex.queryBatch.cells_probed", probed.size)
    }
    val (as, cs) = appendAndCompact()
    rec.layerSample("IvfIndex.append.s", as)
    rec.layerSample("IvfIndex.compact.s", cs)
    rec.layerSample("IvfIndex.recall_at_10", recall())
    rec.sample("ann_round_s", ctx.secs(t0))
    rec.attempted += 3 + nSingle + nBatches
  }

  /** recall@10 of the last round's single queries (those whose index is
    * in `only`) against brute force over the built vectors (the queries
    * ran before the append).
    */
  def recall(only: Set[Int] = singles.indices.toSet): Double = {
    val hits = singles.indices.filter(only).map { i =>
      VectorGen.topK(singles(i), built, K).toSet.intersect(singleResults(i).toSet).size
    }.sum
    hits.toDouble / (K * only.size)
  }

  /** The single queries whose own cell goes unprobed: the cell the index
    * assigns a vector to (nearest centroid by euclidean distance) is not
    * among the `nprobe` cells a query probes (nearest by cosine). Their
    * neighbours sit in that cell, so recall drops for a reason the
    * README names under "Found faults"; it happens on some seeds only.
    */
  def unprobedOwnCell(): Set[Int] = {
    val centroids = ctx.spark.read.parquet(s"$index/codebook").collect()
      .groupBy(_.getInt(0)).toSeq.map { case (c, rs) =>
        c -> rs.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
    def dist(a: Array[Double], b: Array[Double]) =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    singles.indices.filter { i =>
      val q = singles(i)
      val own = centroids.minBy { case (c, v) => (dist(q, v), c) }._1
      !centroids.sortBy { case (c, v) => (-VectorGen.cosine(q, v), c) }
        .take(nprobe).exists(_._1 == own)
    }.toSet
  }

  /** The index's stored rows vs. the generated vectors; exhaustive-probe
    * queries vs. brute force; recall; every appended vector finds itself.
    */
  def checkOutputs(stored: Map[Long, Array[Double]], fullProbe: Seq[Seq[Long]],
      selfTop: Map[Long, Long], unprobed: Set[Int]): Unit = {
    val rec = ctx.rec
    val want = (built ++ appended).toMap
    val same = stored.size == want.size && want.forall { case (id, v) =>
      stored.get(id).exists(_.sameElements(v))
    }
    rec.check("index rows equal the built plus appended vectors after compact", same,
      s"${stored.size} stored, ${want.size} expected")
    val exact = fullProbe.zipWithIndex.forall { case (got, i) =>
      got == VectorGen.topK(singles(i), want, K)
    }
    rec.check("query with every cell probed equals brute-force top-k", exact,
      s"${fullProbe.size} queries")
    val rc = recall()
    val probed = singles.indices.toSet -- unprobed
    val rcProbed = if (probed.isEmpty) 1.0 else recall(probed)
    rec.check(s"recall@$K at nprobe=$nprobe >= $RecallFloor over the queries whose own " +
      "cell is probed", rcProbed >= RecallFloor,
      f"$rcProbed%.4f over ${probed.size} queries; ${unprobed.size} queries' own cell " +
        f"unprobed; $rc%.4f over all")
    rec.note("ivf.queries_own_cell_unprobed", unprobed.size)
    val selfOk = appended.forall { case (id, _) => selfTop.get(-1L - id).contains(id) }
    rec.check("with every cell probed, every appended vector returns itself at rank 1",
      selfOk, s"${selfTop.size} of ${appended.size} answered")
    rec.note("recall_at_10", rc)
  }

  private var outputs: (Map[Long, Array[Double]], Seq[Seq[Long]], Map[Long, Long],
    Set[Int]) = (Map(), Nil, Map(), Set())

  def check(): Unit = {
    val spark = ctx.spark
    val stored = spark.read.parquet(s"$index/vectors").select("id", "vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val fullProbe = singles.map(single(_, kCells))
    // every cell probed: cells are assigned by euclidean distance but
    // probed by cosine, so at a small nprobe a vector's own cell can go
    // unprobed, on some seeds and not others
    val selfTop = IvfIndex.queryBatch(spark, index,
      frame(appended.map { case (id, v) => (-1L - id, v) }), kCells, 1)
      .select("qid", "id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    outputs = (stored, fullProbe, selfTop, unprobedOwnCell())
    checkOutputs(outputs._1, outputs._2, outputs._3, outputs._4)
  }

  override def mutate(): Seq[(String, Boolean)] = {
    val (stored, fullProbe, selfTop, unprobed) = outputs
    val id = appended.head._1
    val perturbed = stored.updated(id, stored(id).updated(0, stored(id)(0) + 1e-3))
    Seq("a perturbed vector" -> caught(ctx)(checkOutputs(perturbed, fullProbe, selfTop, unprobed)))
  }

  def storeBytes(): Long = Files.bytes(index)
}
