package perfbench

import graft.PipelineCli
import graft.operators.{IncrementalRunner, LevelPipeline, NmdbCatchup}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import LevelsGen.{DayMs, HourMs, T0}

/** Pieces of the levels workload that do not depend on its state. */
object LevelsCommon {
  /** the pad a `PipelineCli` levels run reads before its window */
  val PadSeconds: Long = PipelineCli.Config().padSeconds

  def levelsConfig(in: String, out: String, nowMs: Long, days: Int) =
    PipelineCli.Config(input = in, output = out, mode = "levels",
      backprocessDays = Some(days), now = Some(new Timestamp(nowMs)))

  /** Traced form of one levels run: each level's prefix forced in turn
    * (level1, 1..2, 1..3, 1..4), the write timed on a materialized level4,
    * then the same run through `PipelineCli.run` for its wall time, job
    * count and construction time. Writes `store` twice (the second is
    * idempotent).
    *
    * The level and write figures time a chain built here from the public
    * `LevelPipeline` functions, the way `processLevelsIncremental` builds
    * it (raw padded to the window, level4 filtered to it). A change inside
    * `processLevelsIncremental` or `processLevels` shows only in
    * `PipelineCli.run.s`, which is reported beside them.
    */
  def tracedLevels(ctx: Ctx, in: String, nowMs: Long, days: Int, store: String,
      cliStore: String): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val raw = spark.read.parquet(s"$in/raw_values")
    val stations = spark.read.parquet(s"$in/stations")
    val silo = spark.read.parquet(s"$in/silo_data")
    val intensity = spark.read.parquet(s"$in/intensity")
    val now = lit(new Timestamp(nowMs))
    val windowStart = now - expr(s"INTERVAL $days DAYS")
    val padded = raw.filter(col("time") > windowStart -
      expr(s"INTERVAL $PadSeconds SECOND") && col("time") <= now)
    val l1 = LevelPipeline.level1(padded)
    val l2 = LevelPipeline.level2(l1, stations, silo, intensity)
    val l3 = LevelPipeline.level3(l2, stations)
    val l4 = LevelPipeline.level4(l3)
    // level k's self time: its prefix minus the prefix before it
    val prefix = Seq(l1, l2, l3, l4).map { df =>
      val (_, t, iv) = ctx.timed(ctx.force(df))
      (t, iv.map(_.delta.jobs).getOrElse(0L))
    }
    prefix.zipWithIndex.foreach { case ((t, j), i) =>
      val (pt, pj) = if (i == 0) (0.0, 0L) else prefix(i - 1)
      rec.layerSample(s"LevelPipeline.level${i + 1}.self_s", math.max(0.0, t - pt))
      rec.jobs.getOrElseUpdate(s"LevelPipeline.level${i + 1}",
        scala.collection.mutable.ArrayBuffer()) += (j - pj).toDouble
    }
    // work counts (untimed)
    val c = l1.agg(count(lit(1)), sum(when(col("flag") === 1, 1L).otherwise(0L)),
      sum(when(col("flag") === 4, 1L).otherwise(0L))).head()
    val kept = padded.filter(!(col("count").isNull && col("battery").isNull))
    val keptRows = kept.count()
    val sites = kept.select("site_no").distinct().count()
    rec.layerSample("LevelPipeline.level1.rows_out", c.getLong(0).toDouble)
    rec.layerSample("LevelPipeline.level1.flag1_rows", c.getLong(1).toDouble)
    rec.layerSample("LevelPipeline.level1.flag4_rows", c.getLong(2).toDouble)
    rec.layerSample("LevelPipeline.level1.dedup_dropped",
      (keptRows - sites - c.getLong(0)).toDouble)
    rec.layerSample("LevelPipeline.level3.flag_rows",
      l3.filter(col("flag") =!= 0).count().toDouble)
    // the write alone, fed from a materialized level4
    val l4m = l4.filter(col("time") > windowStart).localCheckpoint(true)
    val (_, ws, wi) = ctx.timed(IncrementalRunner.upsertByDay(l4m, store))
    rec.layerSample("IncrementalRunner.upsertByDay.s", ws)
    rec.layerJobs("IncrementalRunner.upsertByDay", wi)
    wi.foreach(i => rec.layerSample("IncrementalRunner.upsertByDay.commit_s", i.tailS))
    rec.layerSample("IncrementalRunner.upsertByDay.files", Files.parquetFiles(store))
    rec.layerSample("IncrementalRunner.upsertByDay.partitions", Files.partitions(store))
    rec.layerSample("IncrementalRunner.upsertByDay.bytes", Files.bytes(store))
    // the whole run through the CLI entry point
    val (_, cs, ci) = ctx.timed(PipelineCli.run(spark,
      levelsConfig(in, cliStore, nowMs, days)))
    rec.layerSample("PipelineCli.run.s", cs)
    rec.layerJobs("PipelineCli.run", ci)
    ci.foreach { i =>
      rec.layerSample("PipelineCli.run.construct_s", i.constructS)
      rec.layerSample("PipelineCli.run.jobs", i.delta.jobs.toDouble)
      if (i.delta.outputRecords > 0)
        rec.layerSample("IncrementalRunner.processLevelsIncremental.in_rows_per_out_row",
          i.delta.inputRecords.toDouble / i.delta.outputRecords)
    }
  }

  /** (site, time ms) -> level4 values, for a store restricted to [fromMs, toMs). */
  def level4Rows(df: DataFrame, fromMs: Long, toMs: Long): Map[(Int, Long), Seq[Double]] = {
    def day(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString.take(10)
    // the day filter prunes partitions; the time filter is exact
    df.filter(col("day") >= day(fromMs) && col("day") <= day(toMs))
      .filter(col("time") >= lit(new Timestamp(fromMs)) && col("time") < lit(new Timestamp(toMs)))
      .select(col("site_no").cast("int"), col("time"), col("soil_moist"),
        col("effective_depth"), col("rainfall"), col("soil_moist_filtered"),
        col("depth_filtered"))
      .collect().map { r =>
        (r.getInt(0), r.getTimestamp(1).getTime) ->
          (2 until 7).map(i => if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
      }.toMap
  }

  def sameValues(a: Seq[Double], b: Seq[Double]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    }

  /** Order-independent row hash of a table: (rows, sum of xxhash64). */
  def rowHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }
}

/** `levels_cron`: the twice-daily schedule over a store that already holds
  * 180 days of history. Each cycle advances `now` by 12 h and runs the
  * NMDB catch-up and then a 31-day levels run, which reads the whole raw,
  * SILO and intensity history. A round is the noon cycle, the midnight
  * cycle, and the midnight levels run replayed. Set-up builds the history
  * with one backfill levels run, the untimed warm-up call; the check makes
  * a second, fresh backfill over the touched days that the DuckDB checks
  * of `run.py` read.
  */
final class LevelsCron(ctx: Ctx) extends Workload {
  import LevelsCommon._
  val name = "levels_cron"
  val opSample = "cycle_s"
  val ingestSample = "nmdb_s"
  val stations: Int = 1
  /** the reference's 31-day window; the self-test shrinks it to 3 */
  val WindowDays: Int = if (ctx.tiny) 3 else 31
  /** days of stored history before the first cycle; only the window is
    * recomputed, but level2 and the catch-up read all of it */
  val histDays: Int = if (ctx.tiny) WindowDays + 2 else 180
  val futureDays: Int = if (ctx.tiny) 3 else 10
  val in: String = ctx.path("in")
  val store: String = ctx.path("store/level4")
  val feed: String = ctx.path("feed")
  val now0: Long = T0 + histDays * DayMs
  private val totalHours = (histDays + futureDays) * 24
  /** every `now` a timed levels run ran at, in order */
  private val cycles = scala.collection.mutable.ArrayBuffer[Long]()
  private val timedNoon = scala.collection.mutable.ArrayBuffer[Long]()
  /** per round: did the replayed levels run leave the store unchanged? */
  private val replays = scala.collection.mutable.ArrayBuffer[Boolean]()
  private val catchups = scala.collection.mutable.ArrayBuffer[Long]()
  private var gaps: Map[Int, Set[Int]] = Map()
  private var storedInit: Map[Int, Int] = Map() // site -> last stored hour index
  private var planted: LevelsGen.Planted = _

  def setup(): Unit = {
    val g0 = ctx.now()
    val days = histDays + futureDays
    val (raw, p) = LevelsGen.raw(ctx.seed, stations, days * 24)
    planted = p
    ctx.writeTable(raw, LevelsGen.rawSchema, "in/raw_values", 2)
    ctx.writeTable(LevelsGen.stations(stations), LevelsGen.stationSchema, "in/stations")
    ctx.writeTable(LevelsGen.silo(ctx.seed, stations, days), LevelsGen.siloSchema,
      "in/silo_data")
    // a planted feed gap of 1-3 hours, 6 h after now0: the first cycles stop
    // at it, a later one clamps past it. Its place is fixed so that every
    // seed asks the same walk of the catch-ups.
    gaps = (1 to stations).map { s =>
      val start = histDays * 24 + 6
      s -> (start until start + 1 + Rng(ctx.seed, 5, s).nextInt(3)).toSet
    }.toMap
    val feedRows = for {
      s <- 1 to stations
      h <- 0 until totalHours
      if !gaps(s).contains(h)
    } yield LevelsGen.feedRow(ctx.seed, s, h)
    ctx.writeTable(feedRows, LevelsGen.feedSchema, "feed")
    // stored intensity ends (5 + 13 site) mod 41 hours before now0 (18 h
    // for station 1), so the first catch-up, 30 h after it, clamps to 24 h
    storedInit = (1 to stations).map(s => s -> (histDays * 24 - (5 + 13 * s) % 41)).toMap
    val stored = for {
      s <- 1 to stations
      h <- 0 to storedInit(s)
    } yield LevelsGen.intensityRow(ctx.seed, s, h)
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(stored, 1),
        LevelsGen.intensitySchema)
      .withColumn("day", date_format(col("time"), "yyyy-MM-dd"))
      .repartition(4, col("site_no"), col("day"))
      .write.partitionBy("site_no", "day").parquet(s"$in/intensity")
    ctx.rec.note("inputs_s", ctx.secs(g0))
    // the history: the warm-up call. A warm-up catch-up would cost as much
    // as a timed one (it reads the whole intensity store), so the first
    // timed catch-up is the first of its kind in the JVM.
    ctx.rec.note("history_backfill_s",
      ctx.timed(PipelineCli.run(ctx.spark, levelsConfig(in, store, now0, histDays + 1)))._2)
  }

  private def catchup(nowMs: Long): Double = {
    catchups += nowMs
    ctx.timed(PipelineCli.run(ctx.spark, catchupConfig(nowMs)))._2
  }

  private def catchupConfig(nowMs: Long) =
    PipelineCli.Config(input = in, output = s"$in/intensity", mode = "nmdb-catchup",
      feed = feed, now = Some(new Timestamp(nowMs)))

  /** One schedule cycle; returns its wall time. */
  private def cycle(nowMs: Long): Double = {
    val ns = catchup(nowMs)
    ctx.rec.sample("nmdb_s", ns)
    ns + levelsRun(opSample)(nowMs)
  }

  private def roundNows(i: Int) = Seq(now0 + (2 * i + 1) * 12 * HourMs,
    now0 + (2 * i + 2) * 12 * HourMs)

  override def canRun(i: Int): Boolean =
    roundNows(i).last <= T0 + (totalHours - 48) * HourMs

  /** Round i: the noon cycle, the midnight cycle, then the midnight levels
    * run again, as a retried cron job would; the replay must leave the
    * level4 store unchanged (see [[storeState]]). Hashing is not timed.
    */
  private def schedule(i: Int)(runCycle: Long => Double, levels: Long => Double): Double = {
    val Seq(noon, midnight) = roundNows(i)
    timedNoon += noon
    val s = runCycle(noon) + runCycle(midnight)
    val before = storeState(midnight)
    val r = levels(midnight)
    replays += (before == storeState(midnight))
    ctx.rec.attempted += 5
    s + r
  }

  /** The level4 store as a levels run at `nowMs` could change it: the row
    * hash of the day partitions from its window's first day on, and the
    * (path, length, mtime) of every file in the older partitions, which a
    * windowed run must leave alone. Cheaper than hashing the whole history.
    */
  private def storeState(nowMs: Long) = {
    val first = java.time.Instant.ofEpochMilli(nowMs - WindowDays * DayMs).toString.take(10)
    val older = Files.walk(new java.io.File(store))
      .filter(f => f.isFile && f.getParentFile.getName.startsWith("day=") &&
        f.getParentFile.getName.drop(4) < first)
      .map(f => (f.getPath, f.length, f.lastModified)).toSet
    (rowHash(ctx.spark.read.parquet(store).filter(col("day") >= first)), older)
  }

  /** A 31-day levels run into the store, its time recorded under `sample`. */
  private def levelsRun(sample: String)(nowMs: Long): Double = {
    cycles += nowMs
    val s = ctx.timed(PipelineCli.run(ctx.spark, levelsConfig(in, store, nowMs, WindowDays)))._2
    ctx.rec.sample(sample, s)
    s
  }

  // the replay reuses the plans of the run before it, so it is timed apart
  // from the runs that `op_p50_ms` reports
  def round(i: Int): Unit =
    ctx.rec.sample("round_s", schedule(i)(cycle, levelsRun("replay_s")))

  def tracedRound(i: Int): Unit = {
    def traced(nowMs: Long) = {
      cycles += nowMs
      ctx.timed(tracedLevels(ctx, in, nowMs, WindowDays, store, store))._2
    }
    ctx.rec.sample("round_s", schedule(i)({ nowMs =>
      val t0 = ctx.now()
      catchups += nowMs
      tracedCatchup(nowMs)
      traced(nowMs)
      ctx.secs(t0)
    }, levelsRun("replay_s")))
  }

  /** The catch-up's two layers apart: the validated append, materialized,
    * then the point upsert of it.
    */
  private def tracedCatchup(nowMs: Long): Unit = {
    val spark = ctx.spark
    val intensity = spark.read.parquet(s"$in/intensity")
    val raw = spark.read.parquet(s"$in/raw_values")
    val plan = NmdbCatchup.fetchPlan(intensity, raw,
      date_trunc("hour", lit(new Timestamp(nowMs))))
    val appended = NmdbCatchup.catchupAppend(intensity, spark.read.parquet(feed), plan)
    val (cp, cs, ci) = ctx.timed(appended.localCheckpoint(true))
    ctx.rec.layerSample("NmdbCatchup.catchupAppend.s", cs)
    ctx.rec.layerJobs("NmdbCatchup.catchupAppend", ci)
    ctx.rec.layerSample("NmdbCatchup.catchupAppend.rows_appended", cp.count().toDouble)
    val (_, us, ui) = ctx.timed(IncrementalRunner.upsertByKey(cp, s"$in/intensity"))
    ctx.rec.layerSample("IncrementalRunner.upsertByKey.s", us)
    ctx.rec.layerJobs("IncrementalRunner.upsertByKey", ui)
  }

  /** The hours the reference's walk stores: per cycle and site, resume at
    * the last stored hour, clamp to 24 h back, stop at the first hour the
    * feed lacks.
    */
  private def expectedHours(nows: Seq[Long]): Map[Int, Set[Int]] =
    (1 to stations).map { s =>
      var stored = (0 to storedInit(s)).toSet
      nows.foreach { nowMs =>
        val nowHour = ((nowMs - T0) / HourMs).toInt
        val resume = stored.max
        if (resume <= nowHour) {
          val start = if (nowHour - resume >= 24) nowHour - 24 else resume
          var h = start
          while (h <= nowHour && !gaps(s).contains(h)) { stored += h; h += 1 }
        }
      }
      s -> stored
    }.toMap

  /** Store vs. a fresh backfill on the days the cycles touched. A noon
    * cycle's window starts at 12:00 of its first day, and the day-partition
    * overwrite keeps only that day's afternoon. Such a day must equal
    * either the whole backfill day or the backfill's rows after 12:00; the
    * second is the known truncation and marks that cycle failed when the
    * backfill has morning rows there. Returns (ok, truncated noon cycles,
    * detail).
    */
  def compareStore(got: Map[(Int, Long), Seq[Double]],
      fresh: Map[(Int, Long), Seq[Double]], noonNows: Seq[Long]): (Boolean, Set[Long], String) = {
    def dayOf(t: Long) = t - t % DayMs
    // noon cycle -> (first day, window start)
    val starts = noonNows.map { n => val w = n - WindowDays * DayMs; n -> (dayOf(w), w) }
    val truncated = starts.filter { case (_, (d, w)) =>
      val morning = fresh.keys.filter { case (_, t) => t >= d && t <= w }.toSet
      morning.nonEmpty && morning.forall(k => !got.contains(k))
    }
    val cutAt = truncated.map(_._2).toMap
    val expected = fresh.filter { case ((_, t), _) => cutAt.get(dayOf(t)).forall(w => t > w) }
    val missing = expected.keySet -- got.keySet
    val extra = got.keySet -- expected.keySet
    val differ = expected.keySet.intersect(got.keySet)
      .filterNot(k => sameValues(expected(k), got(k)))
    val ok = missing.isEmpty && extra.isEmpty && differ.isEmpty
    (ok, truncated.map(_._1).toSet, s"${got.size} rows vs ${expected.size} expected " +
      s"(${fresh.size} in the backfill); missing ${missing.size}, extra ${extra.size}, " +
      s"different ${differ.size}; ${truncated.size} of ${starts.size} noon-start days " +
      "lost their morning rows")
  }

  def check(): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    // 1. the NMDB walk
    val want = expectedHours(catchups.toSeq)
    val got = spark.read.parquet(s"$in/intensity")
      .select(col("site_no").cast("int"), col("time"), col("intensity")).collect()
    val gotHours = got.groupBy(_.getInt(0)).map { case (s, rs) =>
      s -> rs.map(r => ((r.getTimestamp(1).getTime - T0) / HourMs).toInt).toSet
    }
    val badValues = got.count { r =>
      val h = ((r.getTimestamp(1).getTime - T0) / HourMs).toInt
      r.getDouble(2) != LevelsGen.intensityAt(ctx.seed, r.getInt(0), h)
    }
    // every catch-up re-fetches its resume hour: a point upsert that is not
    // idempotent shows here as a duplicate hour
    val walkOk = got.length == want.values.map(_.size).sum &&
      (1 to stations).forall(s => gotHours.getOrElse(s, Set()) == want(s))
    val appended = (1 to stations).map(s => want(s).size - storedInit(s) - 1).sum
    rec.check("NMDB hours stored equal the stop-at-first-gap walk under the 24 h clamp, " +
      "each once",
      walkOk && badValues == 0,
      s"$appended hours appended over ${catchups.size} catch-ups; $badValues values differ from the feed")
    // 2. store == a fresh backfill over the touched days (and one more)
    val last = cycles.last
    val fresh = ctx.path("check/backfill")
    val from = { val w = cycles.head - WindowDays * DayMs; w - w % DayMs }
    val to = last - last % DayMs + DayMs
    PipelineCli.run(spark, levelsConfig(in, fresh, last, ((last - from) / DayMs).toInt + 2))
    compared = (level4Rows(spark.read.parquet(store), from, to),
      level4Rows(spark.read.parquet(fresh), from, to), cycles.filter(_ % DayMs != 0).toSeq)
    val (ok, truncated, detail) = compareStore(compared._1, compared._2, compared._3)
    rec.check("store equals a fresh backfill on the touched days", ok, detail)
    rec.failed += timedNoon.count(truncated.contains)
    // 3. the program's level1 over the backfill's span, for the DuckDB checks
    val raw = spark.read.parquet(s"$in/raw_values")
      .filter(col("time") <= lit(new Timestamp(last)))
    LevelPipeline.level1(raw).select("site_no", "time", "flag")
      .coalesce(1).write.mode("overwrite").parquet(ctx.path("check/level1_program"))
    rec.noteStr("duck.raw", s"$in/raw_values")
    rec.note("duck.raw_until_us", last * 1000.0)
    rec.noteStr("duck.level1_program", ctx.path("check/level1_program"))
    rec.noteStr("duck.level4_store", fresh)
    rec.note("planted.rows", planted.rows)
    rec.note("planted.jumps", planted.jumps)
    rec.note("planted.low_battery", planted.lowBattery)
    rec.note("planted.corrupt", planted.corrupt)
    rec.note("planted.near_dups", planted.nearDups)
    rec.check("a replayed levels run leaves the store unchanged",
      replays.nonEmpty && replays.forall(identity),
      s"${replays.count(identity)} of ${replays.size} replays")
    rec.note("cycles", cycles.size)
    rec.note("nmdb.hours_appended", appended)
  }

  /** the last store-vs-backfill comparison's inputs, for the self-test */
  private var compared: (Map[(Int, Long), Seq[Double]], Map[(Int, Long), Seq[Double]],
    Seq[Long]) = (Map(), Map(), Nil)

  override def mutate(): Seq[(String, Boolean)] = {
    val (got, fresh, noons) = compared
    val dropped = got - got.keys.maxBy(_._2)
    Seq("a dropped store row" -> !compareStore(dropped, fresh, noons)._1)
  }

  def storeBytes(): Long = Files.bytes(store)
}
