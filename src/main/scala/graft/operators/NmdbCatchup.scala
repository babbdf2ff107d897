package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
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
  * hour; here the whole fleet's walk is a single plan. [[fetchPlan]] and
  * [[catchupAppend]] state it with joins: per-site resume states are one
  * aggregation, the hour grids one `sequence` explode, the gap-stop one
  * running-count window, and validation the secondary-sort fold
  * ([[IntensityOps.flagDrift]]). The cron's path, [[catchupObserved]]
  * (and [[catchupFromStore]]), computes the same rows in one keyed
  * secondary-sort fold over the store slice, the raw fallback and the
  * feed, so a small catch-up costs a few Spark jobs rather than one per
  * join and aggregation. Nothing is per-row on the driver, so 10^4 sites
  * x 24 hours and 10 sites x 10 years are the same plan.
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
    * `storePath`, computed in one keyed pass that reads only the stored
    * days from [[readBound]] on. The same rows as
    * [[catchupObserved]], without its run record.
    */
  def catchupFromStore(
      storePath: String,
      raw: DataFrame,
      feed: DataFrame,
      now: java.sql.Timestamp,
      maxLookbackHours: Int = DefaultMaxLookbackHours,
      site: Option[Int] = None): DataFrame =
    catchupObserved(storePath, raw, feed, now, maxLookbackHours, site)._1

  /** The rows to append, as [[catchupFromStore]] returns them, and an
    * observation that holds the run's record once they have been
    * computed: `rows_appended`, `sites_walked` (sites with hours to
    * fetch), `sites_clamped` (walks moved forward by the lookback clamp)
    * and `sites_stopped_at_gap` (walks that ended before `now` at a feed
    * hour that is missing or has a null intensity). The record is counted
    * in the pass itself, so it adds no Spark job.
    *
    * One keyed pass: the stored rows since the bound, a floor row per
    * stored site, the raw rows of sites with no stored partition and the
    * feed rows of the walk's reach (`nowHour - lookback` to `nowHour`) are
    * unioned as events, repartitioned by site and sorted by (site, kind,
    * time), and one fold per site derives what [[fetchPlan]] and
    * [[catchupAppend]] derive with joins, windows and aggregations: the
    * resume point, the walk ([[planWindow]]), the contiguous prefix of
    * walked hours whose feed intensity is not null, the seed (the last
    * stored row with `bad_data_flag = 0` before the walk) and the flags
    * ([[IntensityOps.validateOrdered]]).
    *
    * A (site_no, day)-partitioned store is listed on the driver and read
    * from the day before the bound's day (the extra day covers a store
    * written in another time zone), then filtered exactly to
    * `time >= bound`. A site with stored rows but none that recent resumes
    * from the bound, which the clamp moves to `nowHour - lookback` as the
    * site's true last stored hour would; only a site with no stored row at
    * all falls back to its first raw hour, so `raw` is read only for sites
    * without a stored partition. A flat store is read whole.
    *
    * `site`, when given, restricts the stored, raw and feed rows alike.
    * Two feed rows for one (site_no, time) in the walk's reach fail the
    * pass with a [[MalformedFeedException]]: a join would append that hour
    * twice.
    */
  def catchupObserved(
      storePath: String,
      raw: DataFrame,
      feed: DataFrame,
      now: java.sql.Timestamp,
      maxLookbackHours: Int = DefaultMaxLookbackHours,
      site: Option[Int] = None): (DataFrame, Observation) = {
    val spark = raw.sparkSession
    import spark.implicits._
    val zone = IncrementalRunner.sessionZone(spark)
    val bound = readBound(now, zone, maxLookbackHours)
    val nowHour = java.sql.Timestamp.from(
      now.toInstant.atZone(zone).truncatedTo(ChronoUnit.HOURS).toInstant)
    val reach = new java.sql.Timestamp(nowHour.getTime - maxLookbackHours * HourMs)
    val firstDay = bound.toInstant.atZone(zone).toLocalDate.minusDays(1).toString
    val slice = IncrementalRunner.readPartitions(spark, storePath,
      (_, day) => day >= firstDay, StoredSchema)
    val rows = slice.rows.getOrElse(spark.createDataFrame(
      java.util.Collections.emptyList[Row](), StoredSchema))
    def ofSite(df: DataFrame) = site.fold(df)(s => df.filter(col("site_no") === s))
    def events(df: DataFrame, kind: Int, intensity: Column = lit(null),
        flag: Column = lit(null)) =
      ofSite(df).select(col("site_no").cast("int").as("site_no"), lit(kind).as("kind"),
        col("time"), intensity.cast("double").as("intensity"),
        flag.cast("int").as("bad_data_flag"))
    val (stored, floors, rawSites) = slice.sites match {
      case Some(sites) =>
        // site_no in raw's own type, so that row-group stats can skip it
        val siteType = raw.schema("site_no").dataType
        val unstored = if (sites.isEmpty) raw
          else raw.filter(!col("site_no").isin(sites.toSeq.map(lit(_).cast(siteType)): _*))
        (rows.filter(col("time") >= lit(bound)),
          sites.toSeq.map(s => (s.toInt, bound)).toDF("site_no", "time"), unstored)
      case None => (rows, Seq.empty[(Int, java.sql.Timestamp)].toDF("site_no", "time"), raw)
    }
    val nowHourMillis = nowHour.getTime
    val record = Observation("nmdb_catchup")
    val appended = Seq(
      events(stored, Stored, col("intensity"), col("bad_data_flag")),
      events(floors, Floor),
      events(rawSites, Raw),
      events(feed.filter(col("time") >= lit(reach) && col("time") <= lit(nowHour)),
        Feed, col("intensity")))
      .reduce(_ unionByName _)
      .filter(col("site_no").isNotNull && col("time").isNotNull)
      .as[Event]
      .repartition(col("site_no"))
      .sortWithinPartitions(col("site_no"), col("kind"), col("time"))
      .mapPartitions { it =>
        val events = it.buffered
        Iterator.continually(events).takeWhile(_.hasNext).flatMap { es =>
          val s = es.head.site_no
          walkSite(s, Iterator.continually(es).takeWhile(e => e.hasNext && e.head.site_no == s)
            .map(_.next()), nowHourMillis, maxLookbackHours)
        }
      }
      .observe(record,
        count(when(!col("site_end"), 1)).as("rows_appended"),
        count(when(col("site_end"), 1)).as("sites_walked"),
        count(when(col("clamped"), 1)).as("sites_clamped"),
        count(when(col("stopped_at_gap"), 1)).as("sites_stopped_at_gap"))
      .where(!col("site_end"))
      .select(col("site_no"), col("time"), col("intensity"), col("bad_data_flag"))
    (appended, record)
  }

  /** Two feed rows for one (site_no, time): the catch-up cannot tell which
    * one the hour holds.
    */
  final class MalformedFeedException(message: String)
      extends IllegalArgumentException(message)

  /** Event kinds of the keyed pass, in the order a site's events are
    * sorted: everything that fixes the walk comes before the feed.
    */
  private val Stored = 0
  private val Floor = 1
  private val Raw = 2
  private val Feed = 3

  private[operators] final case class Event(site_no: Int, kind: Int, time: java.sql.Timestamp,
      intensity: Option[Double], bad_data_flag: Option[Int])

  /** A fold's output row: a validated hour, or (`site_end`) the site's
    * summary for the run record.
    */
  private[operators] final case class Walked(site_no: Int, time: java.sql.Timestamp,
      intensity: Double, bad_data_flag: Int, site_end: Boolean, clamped: Boolean,
      stopped_at_gap: Boolean)

  /** The per-site fold of [[catchupObserved]], at the defaults of
    * [[catchupAppend]] (tolerance 0.2, gap [[DefaultMaxGapSeconds]]): one
    * site's events, sorted by (kind, time), to its appended rows and its
    * summary row; nothing when the site has no hour to fetch.
    */
  private def walkSite(
      siteNo: Int,
      events: Iterator[Event],
      nowHourMillis: Long,
      maxLookbackHours: Int): Iterator[Walked] = {
    val es = events.buffered
    var newest = Option.empty[Long] // newest stored time, floors included
    var firstRaw = Option.empty[Long]
    // the last valid stored row, and the last one before the newest time
    var valid = Option.empty[(Long, Double)]
    var validBeforeNewest = Option.empty[(Long, Double)]
    while (es.hasNext && es.head.kind != Feed) {
      val e = es.next()
      val t = e.time.getTime
      e.kind match {
        case Stored =>
          if (newest.forall(_ < t)) { validBeforeNewest = valid; newest = Some(t) }
          if (e.bad_data_flag.contains(0)) e.intensity.foreach(v => valid = Some((t, v)))
        case Floor => newest = Some(newest.fold(t)(math.max(_, t)))
        case _ => if (firstRaw.isEmpty) firstRaw = Some(t)
      }
    }
    val window = planWindow(newest, firstRaw, nowHourMillis, maxLookbackHours)
    var next = window.fold(Long.MaxValue)(_._1)
    var stopped = false
    var last = Long.MinValue
    val hours = Vector.newBuilder[IntensityOps.IntensityPoint]
    // every feed row is read, so that a duplicate anywhere fails the pass
    es.foreach { e =>
      val t = e.time.getTime
      if (t == last) throw new MalformedFeedException(
        s"feed holds two rows for site_no $siteNo at ${e.time}")
      last = t
      if (!stopped && next <= nowHourMillis) {
        if (t > next || (t == next && e.intensity.isEmpty)) stopped = true
        else if (t == next) {
          hours += IntensityOps.IntensityPoint(siteNo, e.time, e.intensity.get)
          next += HourMs
        }
      }
    }
    window.fold(Iterator.empty[Walked]) { case (start, _) =>
      // rows strictly before the walk: start >= newest (planWindow)
      val seed = if (newest.exists(_ >= start)) validBeforeNewest else valid
      val (flagged, _) = IntensityOps.validateOrdered(hours.result().iterator, seed,
        0.2, DefaultMaxGapSeconds)
      flagged.iterator.map(p => Walked(p.site_no, p.time, p.intensity, p.bad_data_flag,
        site_end = false, clamped = false, stopped_at_gap = false)) ++
        Iterator.single(Walked(siteNo, null, 0.0, 0, site_end = true,
          clamped = newest.orElse(firstRaw.map(m => m - m % HourMs)).exists(_ < start),
          stopped_at_gap = next <= nowHourMillis))
    }
  }

  private val StoredSchema = StructType.fromDDL(
    "site_no INT, time TIMESTAMP, intensity DOUBLE, bad_data_flag INT")
}
