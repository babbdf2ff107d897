package graft

import graft.operators.{IncrementalRunner, LevelPipeline, NmdbCatchup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI runner mirroring the reference's two cron entry points.
  *
  * Levels (`pipeline/cosmoz_process_levels.py:677-716`, via
  * `process_levels.sh`):
  * {{{
  * runMain graft.PipelineCli --input <dir> --output <dir>
  *   [-s SITE] [-d DAYS | -t ISO_DATETIME] [--now ISO_DATETIME]
  *   [--emulate-old-version] [--pad-seconds N]
  * }}}
  *
  * NMDB intensity catch-up (`nmdb/entrypoint.py:68-99`, via
  * `get_nmdb_intensities.sh`, cron 2x/day):
  * {{{
  * runMain graft.PipelineCli --mode nmdb-catchup --input <dir>
  *   --feed <parquet> --output <dir> [--now ISO] [--max-lookback-hours N]
  * }}}
  * `--feed` is the hourly intensity source table (the stand-in for the
  * NMDB NEST HTTP endpoint — in production a fetcher lands those rows;
  * parsing is S5). Resume/clamp/gap-stop/validation per [[NmdbCatchup]].
  *
  * `<input dir>` must hold raw_values/ silo_data/ intensity/ stations/
  * parquet tables (SURVEY §1.2 schemas). `-d` and `-t` are mutually
  * exclusive; default backprocess is 365 days (the reference's ONE_YEAR).
  * The reference's `-xx` drop-old is implicit: the day-bucketed dynamic
  * partition overwrite only ever replaces recomputed partitions.
  */
object PipelineCli {

  final case class Config(
      input: String = "",
      output: String = "",
      mode: String = "levels",
      feed: String = "",
      maxLookbackHours: Int = NmdbCatchup.DefaultMaxLookbackHours,
      site: Option[Int] = None,
      backprocessDays: Option[Int] = None,
      fromDatetime: Option[java.sql.Timestamp] = None,
      now: Option[java.sql.Timestamp] = None,
      emulateOldVersion: Boolean = false,
      padSeconds: Long = 6 * 3600,
      benchmark: Option[String] = None,
      minQuality: Double = 0.3,
      sep: String = "\n",
      targetFileBytes: Long = graft.operators.Layouts.DefaultTargetFileBytes)

  /** Pure argument parser (reference semantics: -d xor -t, ints checked,
    * negative windows rejected). Returns Left(error) on bad usage.
    */
  def parse(args: Seq[String]): Either[String, Config] = {
    def loop(rest: List[String], c: Config): Either[String, Config] = rest match {
      case Nil => Right(c)
      case "--input" :: v :: t => loop(t, c.copy(input = v))
      case "--output" :: v :: t => loop(t, c.copy(output = v))
      case ("-s" | "--site-number") :: v :: t =>
        v.toIntOption.toRight(s"-s must be an integer, got '$v'")
          .flatMap(i => loop(t, c.copy(site = Some(i))))
      case ("-d" | "--process-days") :: v :: t =>
        v.toIntOption.toRight(s"-d must be an integer, got '$v'")
          .flatMap(d => loop(t, c.copy(backprocessDays = Some(d))))
      case ("-t" | "--from-datetime") :: v :: t =>
        scala.util.Try(java.sql.Timestamp.valueOf(v.replace("T", " ")))
          .toOption.toRight(s"-t must be an ISO datetime, got '$v'")
          .flatMap(ts => loop(t, c.copy(fromDatetime = Some(ts))))
      case "--now" :: v :: t =>
        scala.util.Try(java.sql.Timestamp.valueOf(v.replace("T", " ")))
          .toOption.toRight(s"--now must be an ISO datetime, got '$v'")
          .flatMap(ts => loop(t, c.copy(now = Some(ts))))
      case "--emulate-old-version" :: t =>
        loop(t, c.copy(emulateOldVersion = true))
      case "--pad-seconds" :: v :: t =>
        v.toLongOption.toRight(s"--pad-seconds must be an integer, got '$v'")
          .flatMap(p => loop(t, c.copy(padSeconds = p)))
      case "--mode" :: v :: t =>
        if (v == "levels" || v == "nmdb-catchup" || v == "curate" ||
          v == "compact")
          loop(t, c.copy(mode = v))
        else Left(
          s"--mode must be levels, nmdb-catchup, curate or compact, got '$v'")
      case "--feed" :: v :: t => loop(t, c.copy(feed = v))
      case "--benchmark" :: v :: t => loop(t, c.copy(benchmark = Some(v)))
      case "--min-quality" :: v :: t =>
        v.toDoubleOption.filter(q => q >= 0.0 && q <= 1.0)
          .toRight(s"--min-quality must be a number in [0, 1], got '$v'")
          .flatMap(q => loop(t, c.copy(minQuality = q)))
      case "--sep" :: v :: t =>
        if (v.isEmpty) Left("--sep must be a non-empty literal separator")
        else loop(t, c.copy(sep = v))
      case "--target-file-bytes" :: v :: t =>
        v.toLongOption match {
          case Some(n) if n > 0 => loop(t, c.copy(targetFileBytes = n))
          case _ => Left(s"--target-file-bytes needs a positive long, got '$v'")
        }
      case "--max-lookback-hours" :: v :: t =>
        v.toIntOption.filter(_ > 0)
          .toRight(s"--max-lookback-hours must be a positive integer, got '$v'")
          .flatMap(h => loop(t, c.copy(maxLookbackHours = h)))
      case other :: _ => Left(s"unknown argument '$other'")
    }
    loop(args.toList, Config()).flatMap { c =>
      if (c.input.isEmpty || (c.output.isEmpty && c.mode != "compact"))
        Left(if (c.mode == "compact") "--input is required"
        else "--input and --output are required")
      else if (c.mode == "nmdb-catchup" && c.feed.isEmpty)
        Left("--feed is required in nmdb-catchup mode")
      else if (c.backprocessDays.isDefined && c.fromDatetime.isDefined)
        Left("Cannot use -d and -t at the same time. Pick one.")
      else if (c.backprocessDays.exists(_ < 0))
        Left("Cannot backprocess negative time. Ensure it is positive.")
      else Right(c)
    }
  }

  /** Resolved backprocess window in days (reference default: 365). */
  def resolveBackprocessDays(c: Config, now: java.sql.Timestamp): Either[String, Int] =
    (c.backprocessDays, c.fromDatetime) match {
      case (Some(d), _) => Right(d)
      case (_, Some(from)) =>
        val days = ((now.getTime - from.getTime) / 86400000L).toInt + 1
        if (days < 0) Left("Cannot backprocess negative time.") else Right(days)
      case _ => Right(365)
    }

  def main(args: Array[String]): Unit = {
    parse(args.toIndexedSeq) match {
      case Left(err) =>
        System.err.println(s"error: $err")
        sys.exit(2)
      case Right(c) =>
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
        val spark = SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.extensions", "graft.GraftExtensions")
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        try run(spark, c)
        finally spark.stop()
    }
  }

  def run(spark: SparkSession, c: Config): Unit =
    c.mode match {
      case "nmdb-catchup" => runNmdbCatchup(spark, c)
      case "curate" => runCurate(spark, c)
      case "compact" => runCompact(spark, c)
      case _ => runLevels(spark, c)
    }

  /** Maintenance entry point — the small-file repair a scheduled job
    * runs over any append-accumulated table directory:
    * {{{
    * runMain graft.PipelineCli --mode compact --input <tableDir>
    *   [--target-file-bytes N]    (default 128 MiB)
    * }}}
    * Advisor-driven ([[graft.operators.Layouts.compactTableAdvised]]):
    * one namenode listing decides; a table already at target geometry
    * is NOT rewritten (the rewrite is the expensive part, the read is
    * free). Prints one JSON line with the pre-decision stats and
    * whether the rewrite ran — the auditable record the cron keeps.
    */
  def runCompact(spark: SparkSession, c: Config): Unit = {
    import graft.operators.Layouts
    // ONE listing, made inside the operator; `rewrote` is the
    // operator's own decision, never a before/after inference (a
    // rewrite reproducing identical geometry must still log
    // rewrote:true — ADVICE r17). files_after costs a second listing
    // only when a rewrite actually ran.
    val outcome = Layouts.compactTableAdvised(spark, c.input,
      c.targetFileBytes)
    val filesAfter =
      if (outcome.rewrote)
        Layouts.layoutStats(spark, c.input, c.targetFileBytes).files
      else outcome.stats.files
    println(s"""{"mode":"compact","path":${jstr(c.input)},""" +
      s""""target_file_bytes":${c.targetFileBytes},""" +
      s""""bytes":${outcome.stats.bytes},""" +
      s""""files_before":${outcome.stats.files},""" +
      s""""files_after":$filesAfter,""" +
      s""""est_files_at_target":${outcome.stats.estFilesAtTarget},""" +
      s""""rewrote":${outcome.rewrote}}""")
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Corpus curation entry point — the LLM-pipeline twin of the levels
    * cron: quality-gate, within-doc line dedup, corpus exact dedup, and
    * (with `--benchmark`) eval decontamination over
    * `<input>/documents`, writing
    *
    *   - `<output>/decisions` — one row PER INPUT DOC with its quality
    *     score and every gate verdict (the auditable decision log a
    *     production curation run must leave behind: "why did doc X
    *     disappear" has a queryable answer);
    *   - `<output>/curated`   — the surviving docs with deduped text.
    *
    * Shape: ONE corpus-wide lazy plan computes all verdicts and writes
    * the decision log (the only full-width pass); the curated split and
    * the one-line JSON report re-read the decisions parquet, which is
    * flag-columns-plus-text — never recomputed. Exact-dup winners are
    * chosen among quality-passing docs only (min doc_id per md5 of the
    * line-deduped text), so a gated doc can't shadow a clean one.
    */
  def runCurate(spark: SparkSession, c: Config): Unit = {
    import graft.operators.{DedupOps, TextOps}
    val docs = spark.read.parquet(s"${c.input}/documents")
    val sepRegex = java.util.regex.Pattern.quote(c.sep)
    val stop = Seq("the", "a", "of", "to")
    val deduped = DedupOps.lineDedup(docs, "doc_id", "text", sepRegex, c.sep)
      .select(col("doc_id"), col("n_segments"), col("n_kept"),
        col("text_dedup"))
    val quality = TextOps.qualityScore(
      col("text"), TextOps.tokens(col("text")), stop)("quality")
    val base = docs.join(deduped, "doc_id")
      .withColumn("quality", quality)
      .withColumn("passed_quality", col("quality") >= c.minQuality)
    val winners = base.filter(col("passed_quality"))
      .groupBy(md5(col("text_dedup")).as("__k"))
      .agg(min(col("doc_id")).as("__win"))
    val withDup = base
      .withColumn("__k", md5(col("text_dedup")))
      .join(winners, Seq("__k"), "left")
      .withColumn("is_exact_dup",
        col("passed_quality") && col("doc_id") =!= col("__win"))
    val withCon = c.benchmark match {
      case Some(bp) =>
        val bench = spark.read.parquet(bp)
        val flags = DedupOps.flagContaminated(
          withDup.select(col("doc_id"), col("text_dedup").as("text")),
          bench, "doc_id", "text")
        withDup.join(flags, "doc_id")
      case None => withDup.withColumn("is_contaminated", lit(false))
    }
    withCon
      .withColumn("keep",
        col("passed_quality") && !col("is_exact_dup") &&
          !col("is_contaminated"))
      .select(col("doc_id"), col("quality"), col("passed_quality"),
        col("n_segments"), col("n_kept"), col("is_exact_dup"),
        col("is_contaminated"), col("keep"), col("text_dedup"))
      .write.mode("overwrite").parquet(s"${c.output}/decisions")
    val dec = spark.read.parquet(s"${c.output}/decisions")
    dec.filter(col("keep"))
      .select(col("doc_id"), col("text_dedup").as("text"))
      .write.mode("overwrite").parquet(s"${c.output}/curated")
    val r = dec.agg(
      count(lit(1)).as("n_in"),
      sum(when(col("passed_quality"), 1L).otherwise(0L)).as("n_quality"),
      sum(when(col("is_exact_dup"), 1L).otherwise(0L)).as("n_dup"),
      sum(when(col("is_contaminated"), 1L).otherwise(0L)).as("n_contam"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept")).head()
    println(s"""{"mode":"curate","docs_in":${r.getLong(0)},""" +
      s""""passed_quality":${r.getLong(1)},"exact_dups":${r.getLong(2)},""" +
      s""""contaminated":${r.getLong(3)},"kept":${r.getLong(4)}}""")
  }

  /** The reference's resume-from-last-stored walk, fleet-wide: plan the
    * missing hours per site, execute against the feed table with
    * gap-stop + validation, append to the day-partitioned store. Only the
    * stored days the walk can touch are read, in one keyed pass
    * ([[NmdbCatchup.catchupObserved]]). Prints one JSON line: the rows
    * appended and the sites walked, clamped and stopped at a feed gap,
    * counted in that pass.
    */
  def runNmdbCatchup(spark: SparkSession, c: Config): Unit = {
    val now = c.now.getOrElse(
      new java.sql.Timestamp(System.currentTimeMillis()))
    val (appended, record) = NmdbCatchup.catchupObserved(s"${c.input}/intensity",
      inputTable(spark, c, s"${c.input}/raw_values"), inputTable(spark, c, c.feed), now,
      c.maxLookbackHours, c.site)
    // Point upsert, NOT partition overwrite: the appended frame holds only
    // hours >= each site's resume point, so a whole-partition replace would
    // delete previously stored earlier hours of the same day (the reference
    // point-upserts, never deletes — nmdb/influx_db.py:76-147).
    IncrementalRunner.upsertByKey(appended, c.output)
    val counts = Seq("rows_appended", "sites_walked", "sites_clamped",
      "sites_stopped_at_gap").map(k => s""""$k":${record.get(k)}""")
    println(s"""{"mode":"nmdb-catchup","now":${jstr(now.toString)},""" +
      s""""lookback_hours":${c.maxLookbackHours},${counts.mkString(",")}}""")
  }

  /** An input table, read by [[IncrementalRunner.readTable]] (no
    * schema-inference job for a flat one) and restricted to
    * `--site-number` when given.
    */
  private def inputTable(spark: SparkSession, c: Config, path: String) = {
    val df = IncrementalRunner.readTable(spark, path)
    c.site.fold(df)(s => df.filter(col("site_no") === s))
  }

  /** A levels run over the window [[IncrementalRunner.windowStart]] to
    * `now`, padded by `--pad-seconds`. It reads only the SILO days and the
    * intensity rows that window can use ([[IncrementalRunner.siloDays]],
    * [[IncrementalRunner.readLevelsIntensity]]). `--emulate-old-version`
    * reads both whole: its backward as-of picks each site's FIRST
    * intensity over all earlier history.
    */
  def runLevels(spark: SparkSession, c: Config): Unit = {
    val now = c.now.getOrElse(
      new java.sql.Timestamp(System.currentTimeMillis()))
    val days = resolveBackprocessDays(c, now) match {
      case Left(err) => throw new IllegalArgumentException(err)
      case Right(d) => d
    }
    def table(name: String) = inputTable(spark, c, s"${c.input}/$name")
    val raw = table("raw_values")
    val stations = IncrementalRunner.readTable(spark, s"${c.input}/stations")
    val start = IncrementalRunner.windowStart(now, days,
      IncrementalRunner.sessionZone(spark))
    val padStart = IncrementalRunner.padStart(start, c.padSeconds)
    if (c.emulateOldVersion) {
      val padded = raw.filter(col("time") > lit(padStart) && col("time") <= lit(now))
      val l1 = LevelPipeline.level1(padded)
      val l2 = LevelPipeline.level2(l1, stations, table("silo_data"),
        table("intensity"), emulateOldVersion = true)
      val l4 = LevelPipeline.level4(LevelPipeline.level3(l2, stations))
      IncrementalRunner.upsertByDay(l4.filter(col("time") >= lit(start)), c.output)
    } else {
      val silo = IncrementalRunner.siloDays(table("silo_data"), padStart, now)
      val intensity = IncrementalRunner.readLevelsIntensity(spark,
        s"${c.input}/intensity", padStart, c.site)
      IncrementalRunner.processLevelsIncremental(
        raw, stations, silo, intensity, c.output, now, days, c.padSeconds)
    }
    println(s"[pipeline] wrote level4 window ($days days back from $now) " +
      s"to ${c.output}")
  }
}
