package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One named correctness check and its verdict. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Everything a run measures and checks; serialized as the run record. */
final class Record {
  /** end-to-end samples: round wall times, operation latencies, ... */
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  /** per-layer samples (traced runs); reported as medians */
  val layer = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  /** Spark jobs per layer call (traced runs); reported as medians */
  val jobs = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val checks = ArrayBuffer[Check]()
  val info = mutable.LinkedHashMap[String, String]() // name -> JSON value
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer()) += v
  def layerSample(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, ArrayBuffer()) += v
  def layerJobs(layer: String, iv: Option[Interval]): Unit =
    iv.foreach(i => jobs.getOrElseUpdate(layer, ArrayBuffer()) += i.delta.jobs.toDouble)
  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += Check(name, ok, detail)
    ok
  }
  def note(name: String, v: Double): Unit = info(name) = Json.num(v)
  def noteStr(name: String, v: String): Unit = info(name) = Json.str(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p90/p95/p99/p99.9 with at least ten samples beyond
    * it, as (label, value); None below forty samples (no tail to speak of).
    */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    if (xs.size < 40) None
    else Seq(0.999 -> "p99.9", 0.99 -> "p99", 0.95 -> "p95", 0.9 -> "p90")
      .find { case (q, _) => (1 - q) * xs.size >= 10 }
      .map { case (q, label) => label -> quantile(xs, q) }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

object Files {
  def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else Iterator(f)

  /** Bytes of regular files under `path` (0 when absent). */
  def bytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L else walk(f).filter(_.isFile).map(_.length).sum
  }

  def parquetFiles(path: String): Int = {
    val f = new File(path)
    if (!f.exists()) 0
    else walk(f).count(x => x.isFile && x.getName.endsWith(".parquet"))
  }

  /** Leaf directories holding at least one parquet file. */
  def partitions(path: String): Int = {
    val f = new File(path)
    if (!f.exists()) 0
    else walk(f).filter(x => x.isFile && x.getName.endsWith(".parquet"))
      .map(_.getParentFile.getPath).toSet.size
  }
}

object Host {
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal [guest guest_nice]
        val steal = if (f.length > 7) f(7) else 0L
        (steal, f.take(8).sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  /** High-water resident memory of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    } catch { case _: Throwable => Double.NaN }
}

/** Run-wide context shared by the workloads. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val tiny: Boolean,
    val work: String,
    val tracer: Option[Tracer],
    var rec: Record) {

  def path(rel: String): String = s"$work/$rel"

  def now(): Long = System.nanoTime()
  def secs(fromNanos: Long): Double = (System.nanoTime() - fromNanos) / 1e9

  /** Time a call; in traced runs also return the scheduler interval. */
  def timed[T](f: => T): (T, Double, Option[Interval]) = tracer match {
    case None =>
      val t0 = now()
      val r = f
      (r, secs(t0), None)
    case Some(tr) =>
      val a = tr.mark()
      val t0 = now()
      val r = f
      val s = secs(t0)
      val b = tr.mark()
      (r, s, Some(tr.between(a, b)))
  }

  /** Materialize every column of a frame without collecting it. */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def writeTable(rows: Seq[Row], schema: StructType, rel: String,
      files: Int = 1): String = {
    val p = path(rel)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(p)
    p
  }
}

/** A part of a workload: set-up (untimed), timed rounds, traced rounds,
  * checks. Each part records its own samples.
  */
trait Part {
  def setup(): Unit
  /** one timed round */
  def round(i: Int): Unit
  /** the traced form of a round: each layer forced and timed apart */
  def tracedRound(i: Int): Unit
  def check(): Unit
  /** bytes the part's stores hold at the end */
  def storeBytes(): Long
  /** Self-test: damage one output the checks read, re-check it, and
    * return (what was damaged, whether a check caught it).
    */
  def mutate(): Seq[(String, Boolean)] = Nil

  /** Run `f` against a scratch record; true when any check it made failed. */
  protected def caught(ctx: Ctx)(f: => Unit): Boolean = {
    val keep = ctx.rec
    ctx.rec = new Record
    try { f; ctx.rec.checks.exists(!_.ok) } finally ctx.rec = keep
  }
}

/** A workload: a part that records `round_s`, plus the sample names its
  * two latency metrics report.
  */
trait Workload extends Part {
  def name: String
  /** may rounds continue (input span not exhausted)? */
  def canRun(i: Int): Boolean = true
  /** the sample `op_p50_ms` reports: the workload's main repeated call */
  def opSample: String
  /** the sample `ingest_p50_ms` reports: the call that takes in new data */
  def ingestSample: String
}
