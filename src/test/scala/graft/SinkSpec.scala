package graft

import java.util.concurrent.ConcurrentLinkedQueue

import graft.operators.{BatchingRowSink, IncrementalRunner, MeteredSink,
  ParquetDaySink, RowBatchWriter, Sink}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** In-memory collector standing in for an external DB writer. Static so
  * executor-side writes land somewhere the test can see (local mode
  * shares the JVM — the standard Structured-Streaming-test trick).
  */
object CollectorSink {
  val batches = new ConcurrentLinkedQueue[Seq[Row]]()
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
  val closes = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { batches.clear(); opens.set(0); closes.set(0) }
  def writer(): RowBatchWriter = {
    opens.incrementAndGet()
    new RowBatchWriter {
      override def writeBatch(rows: Seq[Row]): Unit = batches.add(rows)
      override def close(): Unit = { closes.incrementAndGet(); () }
    }
  }
}

/** A writer whose FIRST writeBatch call (JVM-wide) fails — exercises the
  * retry-once path. Static like [[CollectorSink]] so the executor-side
  * failure count survives the closure round-trip in local mode.
  */
object FlakyCollectorSink {
  val batches = new ConcurrentLinkedQueue[Seq[Row]]()
  val failuresLeft = new java.util.concurrent.atomic.AtomicInteger(0)
  val sleeps = new ConcurrentLinkedQueue[java.lang.Long]()
  def reset(failures: Int): Unit = {
    batches.clear(); sleeps.clear(); failuresLeft.set(failures)
  }
  def writer(): RowBatchWriter = new RowBatchWriter {
    override def writeBatch(rows: Seq[Row]): Unit = {
      if (failuresLeft.getAndDecrement() > 0)
        throw new java.io.IOException("transient write timeout")
      batches.add(rows)
    }
    override def close(): Unit = ()
  }
}

class SinkSpec extends SparkSpec {
  import spark.implicits._

  private def T(s: String) = java.sql.Timestamp.valueOf(s)

  test("level pipeline writes through the Sink seam (external-DB shape)") {
    CollectorSink.reset()
    val raw = (0 until 48).map { h =>
      (1, T(f"2024-01-0${1 + h / 24}%d ${h % 24}%02d:00:00"),
        100L, 12.0, 1000.0, 1005.0, 20.0, 50.0, 0.0,
        20.0, 30.0, 21.0, 31.0, 0.1, 0.2, 0.3, 0)
    }.toDF("site_no", "time", "count", "battery", "pressure1", "pressure2",
      "external_temperature", "external_humidity", "rain",
      "internal_temperature", "internal_humidity", "tube_temperature",
      "tube_humidity", "vwc1", "vwc2", "vwc3", "flag")
    val stations = Seq(graft.operators.LevelPipeline.Station(
      1, 0.01, 1000.0, 100.0, 1.0, 1.0, 100.0, 1.0, 0.05, 0.05)).toDF()
    val silo = Seq((1, T("2024-01-01 08:00:00"), 10.0, 60.0))
      .toDF("site_no", "time", "average_temperature", "average_humidity")
    val intensity = (0 until 48).map(h =>
      (1, T(f"2024-01-0${1 + h / 24}%d ${h % 24}%02d:00:00"), 130.0))
      .toDF("site_no", "time", "intensity")

    val sink = new BatchingRowSink(() => CollectorSink.writer(), batchSize = 7)
    IncrementalRunner.processLevelsIncremental(
      raw, stations, silo, intensity, sink,
      now = T("2024-01-03 00:00:00"), backprocessDays = 1, padSeconds = 6 * 3600)

    val rows = {
      var out = List.empty[Row]
      CollectorSink.batches.forEach(b => out = out ++ b)
      out
    }
    // same window as the parquet path: only day-2 rows, all delivered
    assert(rows.nonEmpty)
    assert(rows.forall(
      !_.getAs[java.sql.Timestamp]("time").before(T("2024-01-02 00:00:00"))))
    // the window covers its first day whole: day 2's midnight row included
    assert(rows.exists(_.getAs[java.sql.Timestamp]("time") ==
      T("2024-01-02 00:00:00")))
    var maxBatch = 0
    CollectorSink.batches.forEach(b => maxBatch = math.max(maxBatch, b.size))
    assert(maxBatch <= 7)
    // every opened writer was closed; empty partitions opened none
    assert(CollectorSink.opens.get() === CollectorSink.closes.get())
    assert(CollectorSink.opens.get() > 0)
  }

  test("ParquetDaySink is the same seam: upsert keeps untouched partitions") {
    val d = tempDirFile("graft_sink_")
    d.deleteOnExit()
    val path = d.getAbsolutePath + "/table"
    val sink: Sink = new ParquetDaySink(path)
    sink.upsert(Seq(
      (1, T("2024-01-01 10:00:00"), 1.0),
      (1, T("2024-01-02 10:00:00"), 2.0)).toDF("site_no", "time", "v"))
    sink.upsert(Seq(
      (1, T("2024-01-02 10:00:00"), 20.0)).toDF("site_no", "time", "v"))
    val out = IncrementalRunner.readLevel(spark, path)
      .select("site_no", "time", "v").as[(Int, java.sql.Timestamp, Double)]
      .collect().toSet
    assert(out === Set(
      (1, T("2024-01-01 10:00:00"), 1.0),
      (1, T("2024-01-02 10:00:00"), 20.0)))
  }

  test("BatchingRowSink retries a failed batch once after backoff " +
    "(reference: sleep 5s, retry once)") {
    FlakyCollectorSink.reset(failures = 1)
    val sink = new BatchingRowSink(
      () => FlakyCollectorSink.writer(), batchSize = 2,
      maxRetries = 1, backoffMillis = 5000L,
      sleep = ms => { FlakyCollectorSink.sleeps.add(ms); () })
    val df = (1 to 5).map(i => (1, T(f"2024-01-01 0$i%d:00:00"), i.toDouble))
      .toDF("site_no", "time", "v").coalesce(1)
    sink.upsert(df)
    // all 5 rows land exactly once despite the first batch's failure
    var rows = List.empty[Row]
    FlakyCollectorSink.batches.forEach(b => rows = rows ++ b)
    assert(rows.map(_.getAs[Double]("v")).sorted === List(1.0, 2.0, 3.0, 4.0, 5.0))
    // exactly one backoff sleep of the configured duration happened
    assert(FlakyCollectorSink.sleeps.size() === 1)
    assert(FlakyCollectorSink.sleeps.peek() === 5000L)
  }

  test("BatchingRowSink propagates the failure once retries are exhausted") {
    FlakyCollectorSink.reset(failures = 2) // fails first attempt AND its retry
    val sink = new BatchingRowSink(
      () => FlakyCollectorSink.writer(), batchSize = 10,
      maxRetries = 1, backoffMillis = 1L, sleep = _ => ())
    val df = Seq((1, T("2024-01-01 01:00:00"), 1.0))
      .toDF("site_no", "time", "v").coalesce(1)
    val e = intercept[org.apache.spark.SparkException] { sink.upsert(df) }
    assert(e.getMessage != null)
  }

  test("replaying a micro-batch through Sink.foreachBatch(ParquetDaySink) " +
    "is idempotent (restart/replay exactly-once)") {
    val d = tempDirFile("graft_replay_")
    d.deleteOnExit()
    val path = d.getAbsolutePath + "/table"
    val fn = Sink.foreachBatch(new ParquetDaySink(path))
    val batch = Seq(
      (1, T("2024-01-01 10:00:00"), 1.0),
      (1, T("2024-01-02 10:00:00"), 2.0),
      (2, T("2024-01-01 10:00:00"), 3.0)).toDF("site_no", "time", "v")
    fn(batch, 7L)
    val first = IncrementalRunner.readLevel(spark, path)
      .select("site_no", "time", "v").as[(Int, java.sql.Timestamp, Double)]
      .collect().toSet
    // a restart re-delivers the SAME micro-batch (same epoch): state must
    // be bit-identical, not doubled — the §2.7 point-overwrite guarantee
    fn(batch, 7L)
    val second = IncrementalRunner.readLevel(spark, path)
      .select("site_no", "time", "v").as[(Int, java.sql.Timestamp, Double)]
      .collect().toSet
    assert(second === first)
    assert(second.size === 3)
  }

  test("MeteredSink: write metrics ride the write job itself — rows, " +
    "null timestamps, and the written span, updated per upsert") {
    val d = tempDirFile("graft_metered_")
    d.deleteOnExit()
    val sink = new MeteredSink(new ParquetDaySink(d.getAbsolutePath + "/t"))
    assert(sink.lastMetrics.isEmpty)
    sink.upsert(Seq(
      (1, T("2024-01-01 10:00:00"), 1.0),
      (1, T("2024-01-01 12:00:00"), 2.0),
      (1, null.asInstanceOf[java.sql.Timestamp], 3.0))
      .toDF("site_no", "time", "v")
      .filter($"time".isNotNull), "time")
    val m1 = sink.lastMetrics.get
    assert(m1("rows") === 2L)
    assert(m1("null_ts") === 0L)
    assert(m1("min_ts").toString === "2024-01-01 10:00:00.0")
    assert(m1("max_ts").toString === "2024-01-01 12:00:00.0")
    // second upsert replaces the snapshot
    sink.upsert(Seq((1, T("2024-01-02 09:00:00"), 9.0))
      .toDF("site_no", "time", "v"), "time")
    assert(sink.lastMetrics.get("rows") === 1L)
    assert(sink.lastMetrics.get("min_ts").toString === "2024-01-02 09:00:00.0")
    // null_ts must actually COUNT nulls, not just read 0 on clean data —
    // pair with a null-tolerant inner sink and feed one through
    CollectorSink.reset()
    val metered = new MeteredSink(
      new BatchingRowSink(() => CollectorSink.writer(), batchSize = 10))
    metered.upsert(Seq(
      (1, T("2024-01-01 10:00:00"), 1.0),
      (1, null.asInstanceOf[java.sql.Timestamp], 2.0))
      .toDF("site_no", "time", "v"), "time")
    assert(metered.lastMetrics.get("rows") === 2L)
    assert(metered.lastMetrics.get("null_ts") === 1L)
  }

  test("Sink.foreachBatch adapts the seam to streaming micro-batches") {
    CollectorSink.reset()
    val sink = new BatchingRowSink(() => CollectorSink.writer(), batchSize = 10)
    val fn = Sink.foreachBatch(sink)
    fn(Seq((1, T("2024-01-01 10:00:00"), 1.0)).toDF("site_no", "time", "v"), 0L)
    var n = 0
    CollectorSink.batches.forEach(b => n += b.size)
    assert(n === 1)
  }
}
