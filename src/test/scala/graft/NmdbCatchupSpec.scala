package graft

import graft.operators.NmdbCatchup
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** NMDB incremental catch-up (nmdb/entrypoint.py:68-99): resume, 24h
  * clamp, stop-on-gap, seeded sequential validation.
  */
class NmdbCatchupSpec extends SparkSpec {

  private val H = 3600L * 1000L
  private val base = 1704067200L * 1000L // 2024-01-01 00:00:00 UTC millis

  test("planWindow resumes from last stored hour when within lookback") {
    val now = base + 60 * H
    assert(NmdbCatchup.planWindow(Some(now - 10 * H), None, now)
      === Some((now - 10 * H, now)))
  }

  test("planWindow clamps to now - 24h when further behind (>= comparison)") {
    val now = base + 60 * H
    assert(NmdbCatchup.planWindow(Some(now - 53 * H), None, now)
      === Some((now - 24 * H, now)))
    // exactly 24h behind: the reference's >= fires the clamp (a no-op here)
    assert(NmdbCatchup.planWindow(Some(now - 24 * H), None, now)
      === Some((now - 24 * H, now)))
  }

  test("planWindow falls back to the first raw timestamp, hour-truncated") {
    val now = base + 60 * H
    val raw = now - 5 * H + 23 * 60L * 1000L // 23 minutes past the hour
    assert(NmdbCatchup.planWindow(None, Some(raw), now)
      === Some((now - 5 * H, now)))
  }

  test("planWindow skips sites with no resume point or a future resume") {
    val now = base + 60 * H
    assert(NmdbCatchup.planWindow(None, None, now).isEmpty)
    assert(NmdbCatchup.planWindow(Some(now + H), None, now).isEmpty)
  }

  test("planHours is inclusive of both the resume hour and now") {
    val now = base + 3 * H
    assert(NmdbCatchup.planHours(Some(now - 2 * H), None, now)
      === Seq(now - 2 * H, now - H, now))
  }

  test("catchup walk stops at the first missing feed hour and flags drift") {
    import spark.implicits._
    def hourTs(h: Column) =
      timestamp_seconds(lit(1704067200L) + h.cast("long") * 3600L)
    val nowHour = timestamp_seconds(lit(1704067200L + 60L * 3600L))
    val store = Seq((0, 2), (1, 7), (2, 50)).toDF("site_no", "last_h")
      .select(col("site_no"), explode(sequence(lit(0), col("last_h"))).as("h"))
      .select(col("site_no"), hourTs(col("h")).as("time"),
        (lit(100.0) + col("site_no") + col("h") * lit(0.5)).as("intensity"),
        when(col("h") % 4 === 3, lit(1)).otherwise(lit(0)).as("bad_data_flag"))
    val raw = Seq((3, 1704067200L + 41L * 3600L + 23L * 60L))
      .toDF("site_no", "sec")
      .select(col("site_no"), timestamp_seconds(col("sec")).as("time"))
    val feed = Seq(0, 1, 2, 3).toDF("site_no")
      .select(col("site_no"), explode(sequence(lit(0), lit(60))).as("idx"))
      .filter(!(col("site_no") === 1 && col("idx") === 39))
      .select(col("site_no"), hourTs(col("idx")).as("time"),
        (lit(100.0) + col("site_no") +
          when(col("idx") % 9 === 7, lit(60.0))
            .otherwise((col("idx") % 3).cast("double"))).as("intensity"))

    val plan = NmdbCatchup.fetchPlan(store, raw, nowHour)
    val planRows = plan.groupBy("site_no")
      .agg(min("fetch_hour").as("lo"), max("fetch_hour").as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) ->
        (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3)))
      .toMap
    val now = base + 60 * H
    // sites 0 and 1 clamped to now-24h; site 2 resumes unclamped at its
    // last stored hour (Jan 3 02:00); site 3 from its first raw hour 17:00
    assert(planRows(0) === (now - 24 * H, now, 25L))
    assert(planRows(1) === (now - 24 * H, now, 25L))
    assert(planRows(2) === (base + 50 * H, now, 11L))
    assert(planRows(3) === (base + 41 * H, now, 20L))

    val out = NmdbCatchup.catchupAppend(store, feed, plan)
    val bySite = out.collect()
      .groupBy(_.getAs[Int]("site_no"))
      .view.mapValues(_.map(r =>
        (r.getAs[java.sql.Timestamp]("time").getTime,
          r.getAs[Double]("intensity"),
          r.getAs[Int]("bad_data_flag"))).sortBy(_._1)).toMap
    // site 1 stops at the gap: planned hours 36..60 but hour 39 missing
    // from the feed -> only 36, 37, 38 fetched
    assert(bySite(1).map(_._1) === Seq(base + 36 * H, base + 37 * H, base + 38 * H))
    // site 0 walks the full clamped window
    assert(bySite(0).size === 25)
    // spike hours (idx % 9 == 7: 43, 52) drift > 1.2x -> flagged, and the
    // following normal hour is valid again (the spike never becomes state)
    val s0 = bySite(0).map { case (t, _, f) => (t, f) }.toMap
    assert(s0(base + 43 * H) === 1 && s0(base + 52 * H) === 1)
    assert(s0(base + 44 * H) === 0)
    // site 2's first re-fetched hour is ratio-checked against its seed
    // (last valid stored row, 1h earlier) and passes
    assert(bySite(2).head === ((base + 50 * H, 104.0, 0)))
    // site 3 (no store, raw fallback) starts at 17:00 with no seed
    assert(bySite(3).head._1 === base + 41 * H)
    assert(bySite(3).size === 20)
  }

  test("catchupFromStore equals the whole-store fetchPlan + catchupAppend " +
    "over random day-partitioned stores") {
    import spark.implicits._
    def ts(h: Int, minute: Int = 0) = new java.sql.Timestamp(base + h * H + minute * 60000L)
    val gapH = (NmdbCatchup.DefaultMaxGapSeconds / 3600).toInt
    for ((lookback, trial) <- Seq(24, 6, 48).zipWithIndex) {
      val rnd = new scala.util.Random(7 + trial)
      val nowH = 24 * (62 + rnd.nextInt(10)) + rnd.nextInt(24)
      val now = ts(nowH, rnd.nextInt(60))
      val start = nowH - lookback // the clamped walk start
      def v() = 100.0 + rnd.nextInt(40)
      // sites 1-4: months of hourly history with feed-outage holes, ending
      // anywhere from 1 hour to 60 days before now; 1 in 10 rows flagged
      val histories = (1 to 4).flatMap { s =>
        val end = nowH - 1 - rnd.nextInt(if (s % 2 == 0) 72 else 60 * 24)
        (rnd.nextInt(48) to end).filter(_ => rnd.nextDouble() > 0.2)
          .map(h => (s, ts(h), v(), if (rnd.nextDouble() < 0.1) 1 else 0))
      }
      val special: Seq[(Int, java.sql.Timestamp, Double, Int)] =
        // 5: only rows far older than the lookback, plus a recent first
        //    raw row: it must clamp, not fall back to that raw hour
        (0 until 48).map(h => (5, ts(h), v(), 0)) ++
          // (6 and 10 have no stored row: they fall back to their first
          //  raw hour)
          // 7: a stored row in the future: the site is skipped
          Seq((7, ts(nowH - 30), v(), 0), (7, ts(nowH + 3), v(), 0)) ++
          // 8: its seed sits exactly maxGap before the walk start (it
          //    flags the 1.5x first hour); 9: one hour further (ignored)
          Seq((8, ts(10), v(), 0), (8, ts(start - gapH), 100.0, 0),
            (9, ts(10), v(), 0), (9, ts(start - gapH - 1), 100.0, 0))
      val d = tempDir("graft_nmdb_bound_")
      val stored = (histories ++ special).toDF("site_no", "time", "intensity", "bad_data_flag")
      graft.operators.IncrementalRunner.upsertByDay(stored, s"$d/intensity")
      stored.write.parquet(s"$d/flat")
      // raw from a parquet file, its rows of stored and unstored sites mixed
      val firstRaw = Map(5 -> ts(nowH - 2, 13), 6 -> ts(nowH - 5, 17), 10 -> ts(nowH - 3, 40))
      (1 to 10).flatMap(s => Seq(firstRaw.getOrElse(s, ts(0, 5)), ts(nowH - 1, 7)).map(s -> _))
        .toDF("site_no", "time").coalesce(1).write.parquet(s"$d/raw")
      val raw = spark.read.parquet(s"$d/raw")
      // 5 and 8 walk at least 3 hours; 5's fourth hour has a null intensity
      val walkStart = Map(6 -> (nowH - 5), 10 -> (nowH - 3)) ++
        Seq(5, 8, 9).map(_ -> start)
      def planted(s: Int, h: Int) =
        walkStart.get(s).contains(h) || (Seq(5, 8).contains(s) && h > start && h <= start + 3)
      val feed = ((for {
        s <- 1 to 10
        h <- nowH - lookback - 30 to nowH + 5
        if planted(s, h) || rnd.nextDouble() > 0.04
      } yield (s, ts(h),
        if (s >= 8 && h == start) Some(150.0)
        else if (s == 5 && h == start + 3) None
        else if (!planted(s, h) && rnd.nextDouble() < 0.03) None
        else if (rnd.nextDouble() < 0.08) Some(2 * v()) else Some(v()))) ++
        // rows off the hour: never walked, and never a gap
        Seq(5, 8).map(s => (s, ts(start + 1, 30), Some(999.0))) ++
        (1 to 4).map(s => (s, ts(nowH - rnd.nextInt(lookback), 1 + rnd.nextInt(59)), Some(v()))))
        .toDF("site_no", "time", "intensity")

      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("site_no").cast("int"), col("time"), col("intensity"),
          col("bad_data_flag"))
        .as[(Int, java.sql.Timestamp, Double, Int)].collect().toSet
      def reference(site: Option[Int]) = {
        def of(df: org.apache.spark.sql.DataFrame) =
          site.fold(df)(s => df.filter(col("site_no") === s))
        val whole = of(spark.read.parquet(s"$d/flat"))
        rows(NmdbCatchup.catchupAppend(whole, of(feed), NmdbCatchup.fetchPlan(whole,
          of(raw), date_trunc("hour", lit(now)), lookback)))
      }
      val want = reference(None)
      for (store <- Seq("intensity", "flat"))
        assert(rows(NmdbCatchup.catchupFromStore(s"$d/$store", raw, feed, now, lookback)) ===
          want, s"$store store: lookback $lookback, now $now")
      // `site` restricts the stored, raw and feed rows alike
      for (s <- Seq(5, 6, 1 + trial))
        assert(rows(NmdbCatchup.catchupFromStore(s"$d/intensity", raw, feed, now, lookback,
          Some(s))) === reference(Some(s)), s"site $s: lookback $lookback, now $now")
      // the planted cases took the path they were planted for
      def of(s: Int) = want.toSeq.filter(_._1 == s).sortBy(_._2.getTime)
      assert(of(5).map(_._2) === (start to start + 2).map(ts(_)))
      assert(of(6).headOption.map(_._2) === Some(ts(nowH - 5)))
      assert(of(10).headOption.map(_._2) === Some(ts(nowH - 3)))
      assert(of(7).isEmpty)
      assert(of(8).headOption.map(r => (r._2, r._4)) === Some((ts(start), 1)))
      assert(of(8).map(_._2).take(3) === (start to start + 2).map(ts(_)))
      assert(of(9).headOption.map(r => (r._2, r._4)) === Some((ts(start), 0)))
      assert(want.forall(_._2.getTime % H == 0))
    }
  }

  test("a feed with two rows for one (site_no, hour) fails the catch-up " +
    "by name") {
    import spark.implicits._
    val path = tempDir("graft_nmdb_dup_") + "/intensity"
    val last = new java.sql.Timestamp(base + 10 * H)
    graft.operators.IncrementalRunner.upsertByDay(
      Seq((1, last, 100.0, 0)).toDF("site_no", "time", "intensity", "bad_data_flag"), path)
    val raw = Seq((1, last)).toDF("site_no", "time")
    val feed = (10 to 14).map(h => (1, new java.sql.Timestamp(base + h * H), 100.0 + h))
      .:+((1, new java.sql.Timestamp(base + 12 * H), 90.0))
      .toDF("site_no", "time", "intensity")
    val now = new java.sql.Timestamp(base + 14 * H)
    // the join reference accepts it and returns hour 12 twice
    val whole = spark.read.parquet(path)
    assert(NmdbCatchup.catchupAppend(whole, feed, NmdbCatchup.fetchPlan(whole, raw,
      lit(now))).filter(col("time") === new java.sql.Timestamp(base + 12 * H)).count() === 2)
    val e = intercept[Exception](
      NmdbCatchup.catchupFromStore(path, raw, feed, now).collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[NmdbCatchup.MalformedFeedException] &&
      c.getMessage.contains("two rows for site_no 1")), causes.map(_.toString).mkString("\n"))
  }
}
