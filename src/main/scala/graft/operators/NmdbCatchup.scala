package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.time.ZoneId
import java.time.temporal.ChronoUnit

/** NMDB incremental catch-up: resume each site's intensity series from its
  * last stored hour, walk forward hour-by-hour to `now`, stop at the first
  * missing source hour, validate each point against the previous VALID
  * point, and append. Reference semantics:
  * `nmdb/entrypoint.py:68-99` (resume walk, 24h lookback clamp,
  * stop-on-gap), `nmdb/influx_db.py:150-252` (resume = last intensity
  * timestamp, else first raw timestamp truncated to the hour, else skip
  * the site), `nmdb/entrypoint.py:122-134` (±20% drift validation).
  *
  * The reference walks one site at a time with one HTTP+DB round-trip per
  * hour; here the whole fleet's walk is a single plan — per-site resume
  * states are one aggregation, the hour grids one `sequence` explode, the
  * gap-stop one running-count window, and validation the existing
  * secondary-sort fold ([[IntensityOps.flagDrift]]). Nothing is per-row on
  * the driver, so 10^4 sites x 24 hours and 10 sites x 10 years are the
  * same plan.
  *
  * Site filtering (the reference's ignore-list, `config.py:9-10`) is the
  * caller's concern: pass pre-filtered inputs.
  */
object NmdbCatchup {

  /** MAXIMUM_LOOKBACK_TIME_DIFF (`nmdb/config.py:11-12`): 24 hours. */
  val DefaultMaxLookbackHours: Int = 24

  /** The validation's reach: a previous valid point more than this
    * before a point is ignored (`nmdb/entrypoint.py:122-134`). */
  val DefaultMaxGapSeconds: Long = 24 * 3600

  private val HourMs = 3600L * 1000L

  /** Pure per-site planner (driver-side twin of the DataFrame plan, for
    * callers orchestrating external fetches one site at a time).
    *
    * @param lastStoredMillis  epoch millis of the site's max intensity
    *                          timestamp, if any
    * @param firstRawMillis    epoch millis of the site's first raw row, if
    *                          any (fallback resume; truncated to the hour
    *                          here, as the reference's query does)
    * @param nowHourMillis     "now" truncated to the hour
    * @return inclusive [startMillis, nowHourMillis] hour walk, or None when
    *         the site has no resume point or nothing to fetch. The start is
    *         clamped to nowHour - maxLookback when the site is further
    *         behind than that (`entrypoint.py:82-87`, a `>=` comparison).
    */
  def planWindow(
      lastStoredMillis: Option[Long],
      firstRawMillis: Option[Long],
      nowHourMillis: Long,
      maxLookbackHours: Int = DefaultMaxLookbackHours): Option[(Long, Long)] = {
    val lookbackMs = maxLookbackHours.toLong * HourMs
    val resume = lastStoredMillis.orElse(firstRawMillis.map(m => m - m % HourMs))
    resume.filter(_ <= nowHourMillis).map { r =>
      val start =
        if (nowHourMillis - r >= lookbackMs) nowHourMillis - lookbackMs else r
      (start, nowHourMillis)
    }
  }

  /** The hours `planWindow` would fetch, oldest first (inclusive of both
    * the resume hour — the reference re-fetches/upserts it — and now).
    */
  def planHours(
      lastStoredMillis: Option[Long],
      firstRawMillis: Option[Long],
      nowHourMillis: Long,
      maxLookbackHours: Int = DefaultMaxLookbackHours): Seq[Long] =
    planWindow(lastStoredMillis, firstRawMillis, nowHourMillis,
      maxLookbackHours) match {
      case Some((start, end)) => start.to(end, HourMs)
      case None => Seq.empty
    }

  /** Fleet-wide fetch plan: one row per (site_no, fetch_hour) to request.
    *
    * @param intensity stored intensity rows: (site_no, time, ...)
    * @param raw       raw source rows (site_no, time, ...) — only the
    *                  per-site min matters (the resume fallback)
    * @param nowHour   "now" truncated to the hour (a literal timestamp)
    */
  def fetchPlan(
      intensity: DataFrame,
      raw: DataFrame,
      nowHour: Column,
      maxLookbackHours: Int = DefaultMaxLookbackHours): DataFrame = {
    val last = intensity.groupBy(col("site_no"))
      .agg(max(col("time")).as("last_stored"))
    val first = raw.groupBy(col("site_no"))
      .agg(date_trunc("hour", min(col("time"))).as("first_raw"))
    val lookback = expr(s"INTERVAL $maxLookbackHours HOURS")
    // now - resume >= lookback  <=>  resume <= now - lookback (the clamp)
    last.join(first, Seq("site_no"), "full")
      .withColumn("resume", coalesce(col("last_stored"), col("first_raw")))
      .filter(col("resume").isNotNull && col("resume") <= nowHour)
      .withColumn("start_hour",
        when(col("resume") <= nowHour - lookback, nowHour - lookback)
          .otherwise(col("resume")))
      .select(col("site_no"),
        explode(sequence(col("start_hour"), nowHour,
          expr("INTERVAL 1 HOUR"))).as("fetch_hour"))
  }

  /** Execute a fetch plan against an hourly source feed: per site, keep
    * only the contiguous prefix of planned hours present in the feed (the
    * reference breaks its walk at the first hour NMDB has no data for),
    * validate the survivors sequentially against the previous VALID point,
    * and return the rows to append as (site_no, time, intensity,
    * bad_data_flag).
    *
    * The validation chain is seeded with each site's last valid stored row
    * strictly before the walk start. (The reference's previous-valid query
    * is `time <= current`, which for the re-fetched resume hour can see
    * the stored copy of that same hour; with an identical re-fetch — the
    * normal case — both formulations agree.)
    */
  def catchupAppend(
      intensity: DataFrame,
      feed: DataFrame,
      plan: DataFrame,
      tolerance: Double = 0.2,
      maxGapSeconds: Long = DefaultMaxGapSeconds): DataFrame = {
    val w = Window.partitionBy(col("site_no")).orderBy(col("fetch_hour"))
    val contiguous = plan
      .join(
        feed.select(col("site_no"), col("time").as("fetch_hour"),
          col("intensity")),
        Seq("site_no", "fetch_hour"), "left")
      .withColumn("__miss",
        sum(when(col("intensity").isNull, 1).otherwise(0)).over(w))
      .filter(col("__miss") === 0)
      .drop("__miss")
    val starts = plan.groupBy(col("site_no"))
      .agg(min(col("fetch_hour")).as("start_hour"))
    val seeds = intensity.filter(col("bad_data_flag") === 0)
      .join(starts, Seq("site_no"))
      .filter(col("time") < col("start_hour"))
      .groupBy(col("site_no"))
      .agg(max_by(struct(col("time"), col("intensity")), col("time")).as("__m"))
      .select(col("site_no"), col("__m.time").as("time"),
        col("__m.intensity").as("intensity"))
    val batch = seeds.unionByName(contiguous.select(col("site_no"),
      col("fetch_hour").as("time"), col("intensity")))
    IntensityOps.flagDrift(batch, tolerance, maxGapSeconds)
      .toDF()
      .join(starts, Seq("site_no"))
      .filter(col("time") >= col("start_hour"))
      .drop("start_hour")
  }

  /** Oldest stored time a catch-up at `now` can use:
    * `nowHour - maxLookbackHours - DefaultMaxGapSeconds`. The walk never
    * starts before `nowHour - maxLookbackHours` (the clamp), and the
    * validation ([[catchupAppend]] at its default gap) ignores a previous
    * valid point more than the gap before the first walked hour, so no
    * older row changes a resume hour, a seed or a flag. `nowHour` is `now`
    * truncated to the hour in `zone`, as `date_trunc` does in the session
    * time zone.
    */
  private def readBound(
      now: java.sql.Timestamp,
      zone: ZoneId,
      maxLookbackHours: Int): java.sql.Timestamp = {
    val nowHour = now.toInstant.atZone(zone).truncatedTo(ChronoUnit.HOURS)
    java.sql.Timestamp.from(nowHour.toInstant
      .minusSeconds(maxLookbackHours * 3600L + DefaultMaxGapSeconds))
  }

  /** [[fetchPlan]] plus [[catchupAppend]] over the intensity store at
    * `storePath`, reading only the stored days from [[readBound]] on.
    *
    * A (site_no, day)-partitioned store is listed on the driver and read
    * from the day before the bound's day (the extra day covers a store
    * written in another time zone), then filtered exactly to
    * `time >= bound`. A site with stored rows but none that recent resumes
    * from the bound, which the clamp moves to `nowHour - lookback` as the
    * site's true last stored hour would; only a site with no stored row at
    * all falls back to its first raw hour. A flat store is read whole.
    *
    * `raw` and `feed` are pre-filtered by the caller; `site`, when given,
    * restricts the stored rows the same way.
    */
  def catchupFromStore(
      storePath: String,
      raw: DataFrame,
      feed: DataFrame,
      now: java.sql.Timestamp,
      maxLookbackHours: Int = DefaultMaxLookbackHours,
      site: Option[Int] = None): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val zone = IncrementalRunner.sessionZone(spark)
    val bound = readBound(now, zone, maxLookbackHours)
    val firstDay = bound.toInstant.atZone(zone).toLocalDate.minusDays(1).toString
    val slice = IncrementalRunner.readPartitions(spark, storePath,
      (_, day) => day >= firstDay, StoredSchema)
    val rows = slice.rows.getOrElse(spark.createDataFrame(
      java.util.Collections.emptyList[Row](), StoredSchema))
    val (stored, floors) = slice.sites match {
      case Some(sites) => (rows.filter(col("time") >= lit(bound)),
        sites.toSeq.map(s => (s.toInt, bound)))
      case None => (rows, Nil) // flat: every stored row is here
    }
    def ofSite(df: DataFrame) = site.fold(df)(s => df.filter(col("site_no") === s))
    val resumeFrom = stored.select(col("site_no"), col("time"))
      .unionByName(floors.toDF("site_no", "time"))
    val plan = fetchPlan(ofSite(resumeFrom), raw,
      date_trunc("hour", lit(now)), maxLookbackHours)
    catchupAppend(ofSite(stored), feed, plan)
  }

  private val StoredSchema = StructType.fromDDL(
    "site_no INT, time TIMESTAMP, intensity DOUBLE, bad_data_flag INT")
}
