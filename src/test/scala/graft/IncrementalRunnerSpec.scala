package graft

import graft.operators.IncrementalRunner
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

class IncrementalRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def T(s: String) = java.sql.Timestamp.valueOf(s)

  private def tmpDir(): String = {
    val d = tempDirFile("graft_incr_")
    d.deleteOnExit()
    d.getAbsolutePath + "/table"
  }

  test("upsertByDay replaces only the partitions present in the update") {
    val path = tmpDir()
    val initial = Seq(
      (1, T("2024-01-01 10:00:00"), 1.0),
      (1, T("2024-01-02 10:00:00"), 2.0),
      (2, T("2024-01-01 10:00:00"), 3.0))
      .toDF("site_no", "time", "v")
    IncrementalRunner.upsertByDay(initial, path)

    // recompute ONLY (site 1, Jan 2): one changed + one new row
    val update = Seq(
      (1, T("2024-01-02 10:00:00"), 20.0),
      (1, T("2024-01-02 11:00:00"), 21.0))
      .toDF("site_no", "time", "v")
    IncrementalRunner.upsertByDay(update, path)

    val out = IncrementalRunner.readLevel(spark, path)
      .select("site_no", "time", "v").as[(Int, java.sql.Timestamp, Double)]
      .collect().toSet
    assert(out === Set(
      (1, T("2024-01-01 10:00:00"), 1.0),   // untouched day
      (1, T("2024-01-02 10:00:00"), 20.0),  // replaced
      (1, T("2024-01-02 11:00:00"), 21.0),  // added
      (2, T("2024-01-01 10:00:00"), 3.0)))  // untouched site
  }

  test("upsertByDay re-run with identical input is idempotent") {
    val path = tmpDir()
    val df = Seq((1, T("2024-01-01 10:00:00"), 1.0))
      .toDF("site_no", "time", "v")
    IncrementalRunner.upsertByDay(df, path)
    IncrementalRunner.upsertByDay(df, path)
    assert(IncrementalRunner.readLevel(spark, path).count() === 1)
  }

  test("upsertByKey keeps non-colliding rows of touched partitions") {
    val path = tmpDir()
    val initial = Seq(
      (1, T("2024-01-01 10:00:00"), 1.0),
      (1, T("2024-01-01 11:00:00"), 2.0),
      (1, T("2024-01-02 10:00:00"), 3.0),
      (2, T("2024-01-01 10:00:00"), 4.0))
      .toDF("site_no", "time", "v")
    IncrementalRunner.upsertByDay(initial, path)

    // PARTIAL-day update for (site 1, Jan 1): replaces 11:00, adds 12:00.
    // 10:00 must survive; (1, Jan 2) and site 2 are untouched partitions.
    val update = Seq(
      (1, T("2024-01-01 11:00:00"), 20.0),
      (1, T("2024-01-01 12:00:00"), 21.0))
      .toDF("site_no", "time", "v")
    IncrementalRunner.upsertByKey(update, path)

    val out = IncrementalRunner.readLevel(spark, path)
      .select("site_no", "time", "v").as[(Int, java.sql.Timestamp, Double)]
      .collect().toSet
    assert(out === Set(
      (1, T("2024-01-01 10:00:00"), 1.0),   // earlier hour survives
      (1, T("2024-01-01 11:00:00"), 20.0),  // point-replaced
      (1, T("2024-01-01 12:00:00"), 21.0),  // appended
      (1, T("2024-01-02 10:00:00"), 3.0),   // untouched day
      (2, T("2024-01-01 10:00:00"), 4.0)))  // untouched site

    // re-run with identical input is idempotent
    IncrementalRunner.upsertByKey(update, path)
    assert(IncrementalRunner.readLevel(spark, path).count() === 5)
  }

  test("upsertByKey couples the default key to a custom tsCol") {
    val path = tmpDir()
    IncrementalRunner.upsertByKey(
      Seq((1, T("2024-01-01 10:00:00"), 1.0)).toDF("site_no", "ts", "v"),
      path, tsCol = "ts")
    IncrementalRunner.upsertByKey(
      Seq((1, T("2024-01-01 10:00:00"), 9.0), // point-replaces
        (1, T("2024-01-01 11:00:00"), 2.0)).toDF("site_no", "ts", "v"),
      path, tsCol = "ts")
    val out = IncrementalRunner.readLevel(spark, path)
      .select("ts", "v").as[(java.sql.Timestamp, Double)].collect().toSet
    assert(out === Set(
      (T("2024-01-01 10:00:00"), 9.0), (T("2024-01-01 11:00:00"), 2.0)))
    // a key that misses the tsCol is rejected loudly
    val e = intercept[IllegalArgumentException] {
      IncrementalRunner.upsertByKey(
        Seq((1, T("2024-01-01 10:00:00"), 1.0)).toDF("site_no", "ts", "v"),
        path, keyCols = Seq("site_no", "time"), tsCol = "ts")
    }
    assert(e.getMessage.contains("must include"))
  }

  test("upsertByKey agrees with a map model over random partial frames") {
    // model-based check of the point-upsert semantics: after any
    // sequence of partial-day appends, the store must equal a plain
    // Map upsert keyed by (site, time) — nothing deleted, last write
    // wins per key. Seeded, so the sequence is reproducible.
    val path = tmpDir()
    val rnd = new scala.util.Random(42)
    var model = Map.empty[(Int, java.sql.Timestamp), Double]
    for (step <- 1 to 5) {
      val frame = (0 until (1 + rnd.nextInt(6))).map { _ =>
        val site = 1 + rnd.nextInt(2)
        val day = 1 + rnd.nextInt(2)
        val hour = rnd.nextInt(24)
        val ts = T(f"2024-01-0$day%d $hour%02d:00:00")
        val v = step * 100.0 + rnd.nextInt(100)
        ((site, ts), v)
      }.toMap // dedup within the frame: one value per key
      model = model ++ frame
      val df = frame.toSeq.map { case ((s, ts), v) => (s, ts, v) }
        .toDF("site_no", "time", "v")
      IncrementalRunner.upsertByKey(df, path)
      val stored = IncrementalRunner.readLevel(spark, path)
        .select("site_no", "time", "v")
        .as[(Int, java.sql.Timestamp, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(stored === model, s"diverged at step $step")
    }
  }

  test("upsertByKey on a fresh path is a plain write") {
    val path = tmpDir()
    val df = Seq((1, T("2024-01-01 10:00:00"), 1.0))
      .toDF("site_no", "time", "v")
    IncrementalRunner.upsertByKey(df, path)
    assert(IncrementalRunner.readLevel(spark, path).count() === 1)
  }

  test("upsertByKey never reads an untouched partition") {
    val path = tmpDir()
    IncrementalRunner.upsertByDay(Seq(
      (1, T("2024-01-01 10:00:00"), 1.0),
      (2, T("2024-01-01 10:00:00"), 2.0))
      .toDF("site_no", "time", "v"), path)
    // an unreadable file in the untouched (site 2, Jan 1) partition: any
    // read of that partition fails on it
    val junk = java.nio.file.Paths.get(path, "site_no=2", "day=2024-01-01",
      "part-99999-junk.snappy.parquet")
    java.nio.file.Files.write(junk, "not a parquet file".getBytes("UTF-8"))
    intercept[Exception](spark.read.parquet(path).count())
    IncrementalRunner.upsertByKey(
      Seq((1, T("2024-01-01 11:00:00"), 3.0)).toDF("site_no", "time", "v"),
      path)
    val site1 = spark.read.parquet(s"$path/site_no=1")
      .select("time", "v").as[(java.sql.Timestamp, Double)].collect().toSet
    assert(site1 === Set(
      (T("2024-01-01 10:00:00"), 1.0), (T("2024-01-01 11:00:00"), 3.0)))
    assert(java.nio.file.Files.exists(junk))
  }

  test("an upsertByKey that fails in a task leaves every touched " +
    "partition as it was and no staging directory behind") {
    val path = tmpDir()
    IncrementalRunner.upsertByDay(Seq(
      (1, T("2024-01-01 10:00:00"), 1.0),
      (1, T("2024-01-02 10:00:00"), 2.0),
      (2, T("2024-01-01 10:00:00"), 3.0))
      .toDF("site_no", "time", "v"), path)
    def rows() = IncrementalRunner.readLevel(spark, path).select("site_no", "time", "v")
      .as[(Int, java.sql.Timestamp, Double)].collect().toSet
    def files() = java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator.asScala
      .map(p => (p.toString, p.toFile.length, p.toFile.lastModified)).toSet
    val (before, beforeFiles) = (rows(), files())
    def failing(update: org.apache.spark.sql.DataFrame, cause: String) = {
      val e = intercept[Exception](IncrementalRunner.upsertByKey(update, path))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => String.valueOf(c.getMessage).contains(cause)), e)
      assert(files() === beforeFiles)
    }
    // a partial update of all three partitions, one of whose rows throws
    // (not a local relation, so the error is raised in a task)
    failing(Seq((1, T("2024-01-01 11:00:00"), 10.0), (1, T("2024-01-02 11:00:00"), 20.0),
      (2, T("2024-01-01 11:00:00"), -1.0)).toDF("site_no", "time", "v").repartition(2)
      .withColumn("v", when(col("v") < 0, raise_error(lit("planted failure")))
        .otherwise(col("v"))), "planted failure")
    assert(rows() === before)
    // a stored file of a touched partition that the write's own plan
    // cannot decode: the failure comes after the write has begun
    val bad = java.nio.file.Paths.get(path, "site_no=1", "day=2024-01-02",
      "part-99999-bad.snappy.parquet")
    val other = tempDir("graft_incr_bad_")
    Seq(("x", T("2024-01-02 12:00:00"))).toDF("v", "time").coalesce(1).write
      .mode("overwrite").parquet(other)
    java.nio.file.Files.copy(new java.io.File(other).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath, bad)
    def readable() = spark.read.option("basePath", path)
      .parquet(s"$path/site_no=1/day=2024-01-01", s"$path/site_no=2").count()
    val (withBad, withBadFiles) = (readable(), files())
    val e = intercept[Exception](IncrementalRunner.upsertByKey(Seq(
      (1, T("2024-01-01 11:00:00"), 10.0), (1, T("2024-01-02 11:00:00"), 20.0),
      (2, T("2024-01-01 11:00:00"), 30.0)).toDF("site_no", "time", "v"), path))
    // raised inside the partitioned write, not before it
    assert(e.getStackTrace.exists(_.getMethodName == "upsertByDay"), e)
    assert(files() === withBadFiles, e)
    assert(readable() === withBad)
    assert(!files().exists(f => f._1.contains(".spark-staging") || f._1.contains("_temporary")))
  }

  test("readTable reads a flat table with the schema Spark infers, and " +
    "starts no job") {
    val d = tempDir("graft_readtable_")
    Seq((1, T("2024-01-01 10:00:00"), 1.5, "a", Option.empty[Long]))
      .toDF("site_no", "time", "v", "s", "n").write.parquet(s"$d/flat")
    Seq((1, T("2024-01-01 10:00:00"), 1.5)).toDF("site_no", "time", "v")
      .write.partitionBy("site_no").parquet(s"$d/partitioned")
    for (t <- Seq("flat", "partitioned")) {
      val inferred = spark.read.parquet(s"$d/$t")
      var read: org.apache.spark.sql.DataFrame = null
      val jobs = jobsOf { read = IncrementalRunner.readTable(spark, s"$d/$t") }
      assert(read.schema === inferred.schema, t)
      assert(read.collect().toSeq === inferred.collect().toSeq, t)
      if (t == "flat") assert(jobs.isEmpty)
    }
    // a directory without data files fails as spark.read.parquet does
    new java.io.File(s"$d/empty").mkdirs()
    val want = intercept[Exception](spark.read.parquet(s"$d/empty")).getMessage
    assert(intercept[Exception](IncrementalRunner.readTable(spark, s"$d/empty"))
      .getMessage === want)
  }

  test("readPartitions' seek reads a day whose footers lack null counts") {
    val path = tmpDir()
    def day(site: Int, d: String, stats: Boolean, vs: Option[Double]*): Unit =
      vs.zipWithIndex.map { case (v, i) => (T(s"$d 0$i:00:00"), v) }
        .toDF("time", "intensity").coalesce(1).write
        .option("parquet.column.statistics.enabled", stats.toString)
        .parquet(s"$path/site_no=$site/day=$d")
    // site 1: a null-only day without null counts above a counted day
    day(1, "2024-01-01", stats = true, Some(1.0), None)
    day(1, "2024-01-02", stats = false, None, None)
    // site 2: a non-null day without null counts above a counted day
    day(2, "2024-01-01", stats = true, Some(2.0))
    day(2, "2024-01-03", stats = false, None, Some(3.0))
    day(2, "2024-01-05", stats = true, Some(5.0))
    // the uncounted footers really lack a null count
    val uncounted = new java.io.File(s"$path/site_no=1/day=2024-01-02")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(uncounted.getPath),
        spark.sessionState.newHadoopConf()))
    try assert(footer.getFooter.getBlocks.get(0).getColumns.asScala
      .forall(c => c.getStatistics == null || !c.getStatistics.isNumNullsSet))
    finally footer.close()
    val slice = IncrementalRunner.readPartitions(spark, path,
      (_, d) => d >= "2024-01-04",
      org.apache.spark.sql.types.StructType.fromDDL(
        "site_no INT, time TIMESTAMP, intensity DOUBLE"),
      Some(IncrementalRunner.LastNonNull("2024-01-04", "intensity")))
    val got = slice.rows.get.select("site_no", "time")
      .as[(Int, java.sql.Timestamp)].collect().toSet
    assert(got === Set(
      (1, T("2024-01-01 00:00:00")), (1, T("2024-01-01 01:00:00")),
      (2, T("2024-01-03 00:00:00")), (2, T("2024-01-03 01:00:00")),
      (2, T("2024-01-05 00:00:00"))))
    assert(slice.sites === Some(Set("1", "2")))
  }

  /** Level-chain inputs for one site: `hours` hourly raw rows from Jan 1
    * 00:00, ON the hour, all fields constant-ish (count varies with
    * `countCycle` > 1), plus stations, silo and intensity.
    */
  private def levelInputs(hours: Int, countCycle: Int = 1) = {
    val raw = (0 until hours).map { h =>
      (1, T(f"2024-01-0${1 + h / 24}%d ${h % 24}%02d:00:00"),
        100L + h % countCycle, 12.0, 1000.0, 1005.0, 20.0, 50.0, 0.0,
        20.0, 30.0, 21.0, 31.0, 0.1, 0.2, 0.3, 0)
    }.toDF("site_no", "time", "count", "battery", "pressure1", "pressure2",
      "external_temperature", "external_humidity", "rain",
      "internal_temperature", "internal_humidity", "tube_temperature",
      "tube_humidity", "vwc1", "vwc2", "vwc3", "flag")
    val stations = Seq(graft.operators.LevelPipeline.Station(
      1, 0.01, 1000.0, 100.0, 1.0, 1.0, 100.0, 1.0, 0.05, 0.05)).toDF()
    val silo = Seq((1, T("2024-01-01 08:00:00"), 10.0, 60.0))
      .toDF("site_no", "time", "average_temperature", "average_humidity")
    val intensity = (0 until hours).map(h =>
      (1, T(f"2024-01-0${1 + h / 24}%d ${h % 24}%02d:00:00"), 130.0))
      .toDF("site_no", "time", "intensity")
    (raw, stations, silo, intensity)
  }

  test("processLevelsIncremental writes only the window, pads history") {
    val path = tmpDir()
    val (raw, stations, silo, intensity) = levelInputs(48)

    IncrementalRunner.processLevelsIncremental(
      raw, stations, silo, intensity, path,
      now = T("2024-01-03 00:00:00"), backprocessDays = 1)

    val out = IncrementalRunner.readLevel(spark, path)
    // only day-2 rows written (window = last 1 day)
    assert(out.filter(col("time") < T("2024-01-02 00:00:00")).count() === 0)
    val n = out.count()
    assert(n > 0)
    // rerun: same result (idempotent)
    IncrementalRunner.processLevelsIncremental(
      raw, stations, silo, intensity, path,
      now = T("2024-01-03 00:00:00"), backprocessDays = 1)
    assert(IncrementalRunner.readLevel(spark, path).count() === n)
  }

  test("diffSnapshots: added/removed/changed with column attribution, " +
    "null transitions count as changes, unchanged keys dropped") {
    val oldG = Seq(
      (1L, Some(10.0), "a"), // unchanged
      (2L, Some(20.0), "b"), // price changes
      (3L, None, "c"),       // null -> value: changed
      (4L, Some(40.0), "d")) // removed
      .toDF("k", "price", "status")
    val newG = Seq(
      (1L, Some(10.0), "a"),
      (2L, Some(21.0), "b"),
      (3L, Some(30.0), "c"),
      (5L, Some(50.0), "e")) // added
      .toDF("k", "price", "status")
    val got = IncrementalRunner.diffSnapshots(
      oldG, newG, Seq("k"), Seq("price", "status"))
      .as[(Long, String, Seq[String])].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (2L, "changed", Seq("price")),
      (3L, "changed", Seq("price")),
      (4L, "removed", Seq.empty),
      (5L, "added", Seq.empty)))
    intercept[IllegalArgumentException] {
      IncrementalRunner.diffSnapshots(oldG, newG, Seq.empty, Seq("price"))
    }
    intercept[IllegalArgumentException] {
      IncrementalRunner.diffSnapshots(oldG, newG, Seq("k"), Seq.empty)
    }
  }

  test("scd2History: versions chain valid_from->valid_to, deletes close " +
    "without emitting, delete-then-reinsert reopens, last version is " +
    "current, reserved columns guarded") {
    val ch = Seq(
      // k1: two versions, still live — v1 closed by v2, v2 current
      (1L, 10.0, "I", 1L), (1L, 11.0, "U", 4L),
      // k2: insert then delete — one row, closed, NOT current
      (2L, 20.0, "I", 1L), (2L, 0.0, "D", 2L),
      // k3: delete then REINSERT — v1 closed at the delete seq,
      // v3 reopens and is current
      (3L, 30.0, "I", 1L), (3L, 0.0, "D", 2L), (3L, 31.0, "I", 3L))
      .toDF("k", "price", "op", "seq")
    val out = IncrementalRunner.scd2History(ch, Seq("k"))
      .select($"k", $"price", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, Double, Long, Option[Long], Boolean)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    assert(out === Seq(
      (1L, 10.0, 1L, Some(4L), false),
      (1L, 11.0, 4L, None, true),
      (2L, 20.0, 1L, Some(2L), false),
      (3L, 30.0, 1L, Some(2L), false),
      (3L, 31.0, 3L, None, true)))
    // single window pass: one exchange, no join anywhere in the plan
    val plan = IncrementalRunner.scd2History(ch, Seq("k"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("Join"), plan)
    intercept[IllegalArgumentException] {
      IncrementalRunner.scd2History(
        ch.withColumn("valid_to", lit(1)), Seq("k"))
    }
  }

  test("scd2History: a duplicate (keys, seq) raises instead of leaving " +
    "a same-seq-deleted key flagged current (ADVICE r13 — version order " +
    "is undefined, so silence would be a wrong history)") {
    // same key, same seq: an update AND a delete — under (seq, op) the
    // 'D' sorts first and could never close the 'U'
    val dup = Seq(
      (1L, 10.0, "I", 1L), (1L, 11.0, "U", 2L), (1L, 0.0, "D", 2L))
      .toDF("k", "price", "op", "seq")
    val e = intercept[Exception] {
      IncrementalRunner.scd2History(dup, Seq("k")).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(rootMessages(e).exists(_.contains("duplicate (keys, seq)")), e)
    // clean changelogs are untouched by the guard (same fixture as above)
    val ch = Seq((1L, 10.0, "I", 1L), (1L, 11.0, "U", 4L))
      .toDF("k", "price", "op", "seq")
    assert(IncrementalRunner.scd2History(ch, Seq("k")).count() === 2)
  }

  test("applyChangelog: latest op per key wins, deletes remove, upserts " +
    "replace, untouched rows pass through, guards fire") {
    val snap = Seq(
      (1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("k", "price")
    val changes = Seq(
      (2L, 21.0, "U", 1L),  // plain upsert
      (3L, 31.0, "U", 1L),  // upsert...
      (3L, 0.0, "D", 2L),   // ...overridden by a LATER delete
      (5L, 50.0, "I", 1L),  // brand-new key
      (4L, 0.0, "D", 1L),   // delete
      (4L, 41.0, "U", 2L))  // ...revived by a LATER upsert
      .toDF("k", "price", "op", "seq")
    val got = IncrementalRunner.applyChangelog(
      snap, changes, Seq("k"))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 10.0), (2L, 21.0), (4L, 41.0), (5L, 50.0)))
    intercept[IllegalArgumentException] {
      IncrementalRunner.applyChangelog(snap, changes, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      IncrementalRunner.applyChangelog(
        snap.withColumn("op", lit("x")), changes, Seq("k"))
    }
  }

  test("a noon levels run over a backfilled store keeps its first day whole") {
    val (raw, stations, silo, intensity) = levelInputs(72, countCycle = 5)
    def day2(path: String) = {
      val df = IncrementalRunner.readLevel(spark, path)
        .filter(col("time") >= T("2024-01-02 00:00:00") &&
          col("time") < T("2024-01-03 00:00:00"))
      df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().toSet
    }
    val backfill = tmpDir()
    IncrementalRunner.processLevelsIncremental(raw, stations, silo, intensity,
      backfill, now = T("2024-01-04 00:00:00"), backprocessDays = 3)
    val store = tmpDir()
    IncrementalRunner.processLevelsIncremental(raw, stations, silo, intensity,
      store, now = T("2024-01-04 00:00:00"), backprocessDays = 3)
    // the noon run's window starts on Jan 2; its partition is replaced
    // whole, so it must be recomputed whole, midnight row included
    IncrementalRunner.processLevelsIncremental(raw, stations, silo, intensity,
      store, now = T("2024-01-03 12:00:00"), backprocessDays = 1)
    val want = day2(backfill)
    assert(want.size === 24)
    assert(day2(store) === want)
  }
}

