package graft

class PipelineCliSpec extends SparkSpec {

  private def T(s: String) = java.sql.Timestamp.valueOf(s)

  test("parse: reference semantics (-d xor -t, typed errors)") {
    assert(PipelineCli.parse(Seq("--input", "i", "--output", "o", "-d", "31"))
      .exists(_.backprocessDays === Some(31)))
    assert(PipelineCli.parse(Seq("--input", "i", "--output", "o",
      "-t", "2024-01-01T00:00:00")).exists(_.fromDatetime === Some(T("2024-01-01 00:00:00"))))
    assert(PipelineCli.parse(Seq("--input", "i", "--output", "o",
      "-d", "5", "-t", "2024-01-01T00:00:00"))
      .left.exists(_.contains("Cannot use -d and -t")))
    assert(PipelineCli.parse(Seq("--input", "i", "--output", "o", "-d", "x"))
      .left.exists(_.contains("-d must be an integer")))
    assert(PipelineCli.parse(Seq("--input", "i", "--output", "o", "-d", "-3"))
      .left.exists(_.contains("negative")))
    assert(PipelineCli.parse(Seq("--output", "o"))
      .left.exists(_.contains("required")))
    assert(PipelineCli.parse(Seq("--input", "i", "--output", "o", "--bogus"))
      .left.exists(_.contains("unknown argument")))
  }

  test("resolveBackprocessDays: default 365, -t derives from now") {
    val now = T("2024-02-01 00:00:00")
    assert(PipelineCli.resolveBackprocessDays(
      PipelineCli.Config(input = "i", output = "o"), now) === Right(365))
    assert(PipelineCli.resolveBackprocessDays(
      PipelineCli.Config(input = "i", output = "o",
        fromDatetime = Some(T("2024-01-01 00:00:00"))), now) === Right(32))
  }

  test("parse: nmdb-catchup mode requires --feed, validates lookback") {
    assert(PipelineCli.parse(Seq("--mode", "nmdb-catchup", "--input", "i",
      "--output", "o", "--feed", "f")).exists(c =>
      c.mode == "nmdb-catchup" && c.feed == "f" && c.maxLookbackHours == 24))
    assert(PipelineCli.parse(Seq("--mode", "nmdb-catchup", "--input", "i",
      "--output", "o")).left.exists(_.contains("--feed is required")))
    assert(PipelineCli.parse(Seq("--mode", "bogus", "--input", "i",
      "--output", "o")).left.exists(_.contains("--mode must be")))
    assert(PipelineCli.parse(Seq("--mode", "nmdb-catchup", "--input", "i",
      "--output", "o", "--feed", "f", "--max-lookback-hours", "0"))
      .left.exists(_.contains("positive")))
  }

  test("nmdb-catchup mode: resumes, validates, appends to the store") {
    import spark.implicits._
    val d = tempDirFile("graft_cli_nmdb_")
    d.deleteOnExit()
    val in = d.getAbsolutePath + "/in"
    val out = d.getAbsolutePath + "/out"
    val feedPath = d.getAbsolutePath + "/feed"
    // store: site 1 up to 10:00; raw: irrelevant here but must exist
    Seq((1, T("2024-01-05 09:00:00"), 100.0, 0),
      (1, T("2024-01-05 10:00:00"), 101.0, 0))
      .toDF("site_no", "time", "intensity", "bad_data_flag")
      .write.parquet(s"$in/intensity")
    Seq((1, T("2024-01-05 00:00:00"), 1.0))
      .toDF("site_no", "time", "v").write.parquet(s"$in/raw_values")
    // feed: hours 10..13 present, 12:00 spikes 2x (flagged), 14:00 missing
    Seq((1, T("2024-01-05 10:00:00"), 101.0),
      (1, T("2024-01-05 11:00:00"), 102.0),
      (1, T("2024-01-05 12:00:00"), 210.0),
      (1, T("2024-01-05 13:00:00"), 103.0))
      .toDF("site_no", "time", "intensity").write.parquet(feedPath)
    val printed = new java.io.ByteArrayOutputStream()
    Console.withOut(printed)(PipelineCli.runNmdbCatchup(spark, PipelineCli.Config(
      input = in, output = out, mode = "nmdb-catchup", feed = feedPath,
      now = Some(T("2024-01-05 15:30:00")))))
    assert(printed.toString("UTF-8").trim === """{"mode":"nmdb-catchup",""" +
      """"now":"2024-01-05 15:30:00.0","lookback_hours":24,"rows_appended":4,""" +
      """"sites_walked":1,"sites_clamped":0,"sites_stopped_at_gap":1}""")
    val got = graft.operators.IncrementalRunner.readLevel(spark, out)
      .select("time", "intensity", "bad_data_flag")
      .as[(java.sql.Timestamp, Double, Int)].collect().sortBy(_._1.getTime)
    // walk = 10:00..15:00 inclusive, stops at missing 14:00 -> 10..13
    assert(got.map(_._1) === Seq(T("2024-01-05 10:00:00"),
      T("2024-01-05 11:00:00"), T("2024-01-05 12:00:00"),
      T("2024-01-05 13:00:00")).toArray)
    // the 2x spike is flagged and does not poison the chain
    assert(got.map(r => (r._2, r._3)) ===
      Array((101.0, 0), (102.0, 0), (210.0, 1), (103.0, 0)))
  }

  test("nmdb-catchup run twice: earlier same-day hours survive the append") {
    import spark.implicits._
    val d = tempDirFile("graft_cli_nmdb2_")
    d.deleteOnExit()
    val in1 = d.getAbsolutePath + "/in1"
    val in2 = d.getAbsolutePath + "/in2"
    val out = d.getAbsolutePath + "/out"
    val feed1 = d.getAbsolutePath + "/feed1"
    val feed2 = d.getAbsolutePath + "/feed2"
    Seq((1, T("2024-01-05 09:00:00"), 100.0, 0),
      (1, T("2024-01-05 10:00:00"), 101.0, 0))
      .toDF("site_no", "time", "intensity", "bad_data_flag")
      .write.parquet(s"$in1/intensity")
    Seq((1, T("2024-01-05 00:00:00"), 1.0))
      .toDF("site_no", "time", "v").write.parquet(s"$in1/raw_values")
    Seq((1, T("2024-01-05 10:00:00"), 101.0),
      (1, T("2024-01-05 11:00:00"), 102.0),
      (1, T("2024-01-05 12:00:00"), 103.0),
      (1, T("2024-01-05 13:00:00"), 104.0))
      .toDF("site_no", "time", "intensity").write.parquet(feed1)
    PipelineCli.runNmdbCatchup(spark, PipelineCli.Config(
      input = in1, output = out, mode = "nmdb-catchup", feed = feed1,
      now = Some(T("2024-01-05 15:30:00"))))
    // second run resumes FROM THE STORE the first run wrote (13:00), so its
    // append holds only hours >= 13:00 of a day that already has 10..12
    graft.operators.IncrementalRunner.readLevel(spark, out)
      .write.parquet(s"$in2/intensity")
    Seq((1, T("2024-01-05 00:00:00"), 1.0))
      .toDF("site_no", "time", "v").write.parquet(s"$in2/raw_values")
    Seq((1, T("2024-01-05 13:00:00"), 104.0),
      (1, T("2024-01-05 14:00:00"), 105.0),
      (1, T("2024-01-05 15:00:00"), 106.0))
      .toDF("site_no", "time", "intensity").write.parquet(feed2)
    PipelineCli.runNmdbCatchup(spark, PipelineCli.Config(
      input = in2, output = out, mode = "nmdb-catchup", feed = feed2,
      now = Some(T("2024-01-05 17:30:00"))))
    val got = graft.operators.IncrementalRunner.readLevel(spark, out)
      .select("time", "intensity", "bad_data_flag")
      .as[(java.sql.Timestamp, Double, Int)].collect().sortBy(_._1.getTime)
    // hours 10..12 from run 1 MUST survive run 2's partial-day append
    assert(got.map(_._1) === (10 to 15).map(h =>
      T(f"2024-01-05 $h%02d:00:00")).toArray)
    assert(got.map(_._2) === Array(101.0, 102.0, 103.0, 104.0, 105.0, 106.0))
    assert(got.forall(_._3 == 0))
  }

  test("parse: curate mode flags (--benchmark, --min-quality bounds, " +
    "--sep non-empty)") {
    assert(PipelineCli.parse(Seq("--mode", "curate", "--input", "i",
      "--output", "o", "--benchmark", "b", "--min-quality", "0.5",
      "--sep", "|")).exists(c =>
      c.mode == "curate" && c.benchmark == Some("b") &&
        c.minQuality == 0.5 && c.sep == "|"))
    assert(PipelineCli.parse(Seq("--mode", "curate", "--input", "i",
      "--output", "o", "--min-quality", "1.5"))
      .left.exists(_.contains("min-quality")))
    assert(PipelineCli.parse(Seq("--mode", "curate", "--input", "i",
      "--output", "o", "--sep", ""))
      .left.exists(_.contains("non-empty")))
  }

  test("curate mode: decision log covers every input doc, gates compose, " +
    "curated output carries deduped text") {
    import spark.implicits._
    val d = tempDirFile("graft_cur_")
    d.deleteOnExit()
    val in = d.getAbsolutePath + "/in"
    val out = d.getAbsolutePath + "/out"
    Seq(
      (1L, "alpha beta gamma delta"),       // clean, unique -> kept
      (2L, "alpha beta gamma delta"),       // exact dup of 1 -> dropped
      (3L, "a a a a a"),                    // degenerate -> fails quality
      (4L, "foo bar\nfoo bar\nbaz qux"),    // internal repeat -> dedups, kept
      (5L, "evalmark secret tokens here words")) // hits the benchmark
      .toDF("doc_id", "text")
      .write.parquet(s"$in/documents")
    val bench = d.getAbsolutePath + "/bench"
    Seq((100L, "evalmark secret tokens overlap"))
      .toDF("doc_id", "text").write.parquet(bench)

    PipelineCli.run(spark, PipelineCli.Config(
      input = in, output = out, mode = "curate",
      benchmark = Some(bench), sep = "\n"))

    val dec = spark.read.parquet(s"$out/decisions")
      .select($"doc_id", $"passed_quality", $"is_exact_dup",
        $"is_contaminated", $"keep", $"text_dedup")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(dec.size === 5) // one decision row PER input doc
    assert(dec(1L)._5 === true)
    assert(dec(2L)._3 === true && dec(2L)._5 === false) // dup of 1
    assert(dec(3L)._2 === false && dec(3L)._5 === false) // quality gate
    assert(dec(4L)._5 === true &&
      dec(4L)._6 === "foo bar\nbaz qux") // internal repeat removed
    assert(dec(5L)._4 === true && dec(5L)._5 === false) // decontaminated

    val curated = spark.read.parquet(s"$out/curated")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(curated === Seq(
      (1L, "alpha beta gamma delta"), (4L, "foo bar\nbaz qux")))

    // re-run is idempotent (overwrite semantics)
    PipelineCli.run(spark, PipelineCli.Config(
      input = in, output = out, mode = "curate",
      benchmark = Some(bench), sep = "\n"))
    assert(spark.read.parquet(s"$out/curated").count() === 2)
  }

  test("parse: compact mode needs only --input, validates " +
    "--target-file-bytes") {
    val ok = PipelineCli.parse(Seq(
      "--mode", "compact", "--input", "/x/t",
      "--target-file-bytes", "1048576"))
    assert(ok === Right(PipelineCli.Config(
      input = "/x/t", mode = "compact", targetFileBytes = 1048576L)))
    assert(PipelineCli.parse(Seq("--mode", "compact")).isLeft)
    assert(PipelineCli.parse(Seq(
      "--mode", "compact", "--input", "/x/t",
      "--target-file-bytes", "0")).isLeft)
    assert(PipelineCli.parse(Seq(
      "--mode", "compact", "--input", "/x/t",
      "--target-file-bytes", "lots")).isLeft)
  }

  test("compact mode: advisor-driven rewrite collapses a small-file " +
    "table, a second run is a no-op, rows survive") {
    val dir = tempDirFile("graft_clicompact_").getAbsolutePath + "/t"
    spark.range(0, 5000).toDF("id").repartition(16).write.parquet(dir)
    def files(): Seq[String] = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted.toSeq
    assert(files().size === 16)
    PipelineCli.run(spark, PipelineCli.Config(
      input = dir, mode = "compact", targetFileBytes = 1L << 30))
    assert(files().size === 1, "16 small files must collapse to 1")
    assert(spark.read.parquet(dir).count() === 5000)
    val once = files()
    PipelineCli.run(spark, PipelineCli.Config(
      input = dir, mode = "compact", targetFileBytes = 1L << 30))
    assert(files() === once,
      "a healthy table must not be rewritten (same inodes survive)")
  }

  private val H = 3600L * 1000L
  private val base = T("2024-03-01 00:00:00").getTime
  private def at(h: Int, minute: Int = 0) =
    new java.sql.Timestamp(base + h * H + minute * 60000L)

  /** Writes raw, stations and SILO for `sites` over `hours` hourly rows
    * from `base`, plus `intensity` (site, time, intensity or null), under
    * `in` with a (site_no, day)-partitioned intensity store, and the same
    * tables under `flat` with a flat one, which [[wholeRun]] reads whole.
    */
  private def writeLevelInputs(in: String, flat: String, rnd: scala.util.Random,
      sites: Seq[Int], hours: Int,
      intensity: Seq[(Int, java.sql.Timestamp, Option[Double])]): Unit = {
    import spark.implicits._
    // externals missing on some rows, so SILO decides their wv_corr
    val raw = for (s <- sites; h <- 0 until hours) yield {
      val ext = if (rnd.nextDouble() < 0.3) 0.0 else 1.0
      (s, at(h), 70L + rnd.nextInt(3), 12.0, 1000.0, 1005.0, 20.0 * ext,
        50.0 * ext, 0.0, 20.0, 30.0, 21.0, 31.0, 0.1, 0.2, 0.3, 0)
    }
    // a morning row each day (level2 picks the last before noon), and
    // some afternoon ones
    val silo = for {
      s <- sites
      d <- 0 until hours / 24
      h <- Seq(rnd.nextInt(12)) ++ Seq(12 + rnd.nextInt(12)).filter(_ => rnd.nextBoolean())
    } yield (s, at(24 * d + h, rnd.nextInt(60)),
      10.0 + rnd.nextInt(20), 30.0 + rnd.nextInt(60))
    val tables = Seq(
      "raw_values" -> raw.toDF("site_no", "time", "count", "battery",
        "pressure1", "pressure2", "external_temperature",
        "external_humidity", "rain", "internal_temperature",
        "internal_humidity", "tube_temperature", "tube_humidity", "vwc1",
        "vwc2", "vwc3", "flag"),
      "stations" -> sites.map(s => graft.operators.LevelPipeline.Station(
        s, 0.01, 1000.0, 100.0, 1.0, 1.0, 100.0, 1.0, 0.05, 0.05)).toDF(),
      "silo_data" -> silo.toDF("site_no", "time", "average_temperature",
        "average_humidity"))
    for ((name, df) <- tables; dir <- Seq(in, flat))
      df.write.parquet(s"$dir/$name")
    val stored = intensity.map { case (s, t, v) => (s, t, v, 0) }
      .toDF("site_no", "time", "intensity", "bad_data_flag")
    graft.operators.IncrementalRunner.upsertByDay(stored, s"$in/intensity")
    stored.write.parquet(s"$flat/intensity")
  }

  private def levelsOutput(out: String) = {
    val df = graft.operators.IncrementalRunner.readLevel(spark, out)
    df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col)
      .toIndexedSeq: _*).collect().toSet
  }

  private def levelsRun(in: String, out: String, now: java.sql.Timestamp,
      days: Int, pad: Long, site: Option[Int]) = {
    PipelineCli.run(spark, PipelineCli.Config(input = in, output = out,
      backprocessDays = Some(days), now = Some(now), padSeconds = pad,
      site = site))
    levelsOutput(out)
  }

  /** The same levels run over the flat copy's whole tables. */
  private def wholeRun(flat: String, out: String, now: java.sql.Timestamp,
      days: Int, pad: Long, site: Option[Int]) = {
    import org.apache.spark.sql.functions.col
    def table(name: String) = {
      val df = spark.read.parquet(s"$flat/$name")
      site.fold(df)(s => df.filter(col("site_no") === s))
    }
    graft.operators.IncrementalRunner.processLevelsIncremental(
      table("raw_values"), spark.read.parquet(s"$flat/stations"),
      table("silo_data"), table("intensity"), out, now, days, pad)
    levelsOutput(out)
  }

  test("a levels run over a day-partitioned intensity store writes what " +
    "the same run writes from a flat copy read whole, over random stores") {
    val hours = 40 * 24
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(11 + trial)
      val nowH = 24 * (28 + rnd.nextInt(5)) + 1 + rnd.nextInt(23)
      val now = at(nowH, rnd.nextInt(60))
      val days = 2 + rnd.nextInt(4)
      val pad = Seq(6 * 3600L, 30 * 3600L, 0L)(trial)
      val site = if (trial == 1) Some(3) else None
      // the window's first hour, the padded one, and the first hour the
      // bounded read takes: the start of the day before padStart's day
      val startH = (nowH - 24 * days) / 24 * 24
      val padH = startH - (pad / 3600).toInt
      val firstH = (padH / 24 - 1) * 24
      def v() = Some(80.0 + rnd.nextInt(40))
      def rows(s: Int, from: Int, until: Int, p: Double,
          value: () => Option[Double] = () => v()) =
        (from until until).filter(_ => rnd.nextDouble() < p)
          .map(h => (s, at(h, 15 * rnd.nextInt(4)), value()))
      val intensity =
        // 1: hourly with holes and nulls
        rows(1, 0, hours, 0.8, () => if (rnd.nextDouble() < 0.1) None else v()) ++
          // 2: a gap longer than the window, then rows after now
          rows(2, 0, firstH - 24 * (3 + rnd.nextInt(6)), 0.5) ++
          rows(2, nowH + 30, hours, 0.5) ++
          // 3: the three days before the bounded read hold only nulls, so
          //    the seek steps back over them; rows again late in the window
          rows(3, 0, firstH - 72, 0.3) ++ rows(3, firstH - 72, firstH, 1.0, () => None) ++
          rows(3, nowH - 24, hours, 0.5) ++
          // 4: nothing before the window
          rows(4, startH + 12, hours, 0.6) ++
          // 5: only rows dated days after now (6 has no intensity at all)
          rows(5, nowH + 24 * 6, hours, 0.5)
      val d = tempDir("graft_cli_bounded_")
      writeLevelInputs(s"$d/in", s"$d/flat", rnd, 1 to 6, hours, intensity)
      val want = wholeRun(s"$d/flat", s"$d/out_flat", now, days, pad, site)
      val got = levelsRun(s"$d/in", s"$d/out", now, days, pad, site)
      assert(want.map(_.getAs[Int]("site_no")) === site.fold((1 to 6).toSet)(Set(_)))
      assert(got === want, s"trial $trial: now $now, $days days, pad $pad s")
    }
  }

  test("job budget: a cron catch-up and a levels run stay within their " +
    "Spark job counts and start no job from a table read") {
    import spark.implicits._
    val d = tempDir("graft_cli_jobs_")
    val rnd = new scala.util.Random(3)
    val hours = 8 * 24
    // sites 1-2 stored up to a few hours before the first catch-up; site 3
    // has only raw rows, so it resumes from its first raw hour
    val stored = for (s <- 1 to 2; h <- 0 until hours - 20 - 5 * s)
      yield (s, at(h), Option(80.0 + rnd.nextInt(40)))
    writeLevelInputs(s"$d/in", s"$d/flat", rnd, 1 to 3, hours, stored)
    (for (s <- 1 to 3; h <- 0 until hours) yield (s, at(h), 80.0 + rnd.nextInt(40)))
      .toDF("site_no", "time", "intensity").write.parquet(s"$d/feed")
    def catchup(h: Int) = jobsOf(PipelineCli.run(spark, PipelineCli.Config(
      input = s"$d/in", output = s"$d/in/intensity", mode = "nmdb-catchup",
      feed = s"$d/feed", now = Some(at(h, 30)))))
    // two cron cycles: the first clamps site 3's walk, the second resumes
    // every site from the store the first one wrote
    val catchups = Seq(catchup(hours - 12), catchup(hours - 1))
    // every hour up to the last now: site 3's walk began clamped 24 h
    // before the first now
    assert(spark.read.parquet(s"$d/in/intensity").count() === 2 * hours + 36)
    val levels = jobsOf(PipelineCli.run(spark, PipelineCli.Config(input = s"$d/in",
      output = s"$d/out", backprocessDays = Some(3), now = Some(at(hours - 1, 30)))))
    assert(levelsOutput(s"$d/out").nonEmpty)
    def shown(jobs: Seq[SparkSpec.Job]) = jobs.map(_.stageNames.mkString(" | ")).mkString("\n")
    for (jobs <- catchups) {
      assert(jobs.size <= CatchupJobs, shown(jobs))
      assert(!jobs.exists(_.startedByReader), shown(jobs))
    }
    assert(levels.size <= LevelsJobs, shown(levels))
    assert(!levels.exists(_.startedByReader), shown(levels))
  }

  /** Spark jobs of one catch-up and of one levels run on the fixtures of
    * the job-budget test: 6 and 10 (both at most the cron budget of 10).
    */
  private val CatchupJobs = 6
  private val LevelsJobs = 10

  test("a levels run never opens a day older than its seek day") {
    val d = tempDir("graft_cli_seek_")
    val rnd = new scala.util.Random(5)
    // intensity on days 0-12 and 17-20; the run's bounded read starts on
    // day 13, so day 12 is its seek day and day 5 is never needed
    val intensity = ((0 until 13 * 24) ++ (17 * 24 until 21 * 24))
      .map(h => (1, at(h), Some(80.0 + rnd.nextInt(40))))
    writeLevelInputs(s"$d/in", s"$d/flat", rnd, Seq(1), 21 * 24, intensity)
    val junk = java.nio.file.Paths.get(s"$d/in/intensity", "site_no=1",
      "day=2024-03-06", "part-99999-junk.snappy.parquet")
    java.nio.file.Files.write(junk, "not a parquet file".getBytes("UTF-8"))
    intercept[Exception](spark.read.parquet(s"$d/in/intensity").count())
    val now = at(18 * 24 + 7, 30)
    val got = levelsRun(s"$d/in", s"$d/out", now, 3, 6 * 3600L, None)
    assert(got.nonEmpty)
    assert(got === wholeRun(s"$d/flat", s"$d/out_flat", now, 3, 6 * 3600L, None))
  }
}
