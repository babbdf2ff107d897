package perfbench

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}

/** The benchmark's JVM: one session, one or more workloads, one record.
  *
  * {{{
  * perfbench.Main --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --record <file> --launch-ms <epoch ms> [--selftest]
  * }}}
  *
  * The record (JSON) is written and printed before the session stops; the
  * stop is bounded so a hang in shutdown cannot lose it.
  */
object Main {
  val Workloads = Seq("levels_cron", "corpus_vector")

  def make(name: String, ctx: Ctx): Workload = name match {
    case "levels_cron" => new LevelsCron(ctx)
    case "corpus_vector" => new CorpusVector(ctx)
  }

  /** The session `PipelineCli.main` builds, on at most 4 cores; only the
    * scratch locations differ (kept inside the run's work directory).
    */
  def session(work: String): (SparkSession, Int) = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (spark, cpus)
  }

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val work = o("work")
    val launchMs = o("launch-ms").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val selftest = flags("selftest")
    val names = if (o("workload") == "all") Workloads else Seq(o("workload"))
    val (spark, cpus) = session(work)
    val tracer = if (trace) Some(Tracer.attach(spark)) else None
    val records = names.map { name =>
      val rec = new Record
      val ctx = new Ctx(spark, o("seed").toLong, selftest, s"$work/$name",
        tracer, rec)
      val res = try runOne(name, ctx, seconds, launchMs, selftest) catch {
        case t: Throwable =>
          val sw = new java.io.StringWriter
          t.printStackTrace(new PrintWriter(sw))
          System.err.println(sw)
          Json.obj(Seq("workload" -> Json.str(name),
            "error" -> Json.str(s"${t.getClass.getName}: ${t.getMessage}")))
      }
      res
    }
    val json = Json.obj(Seq("cpus" -> cpus.toString, "records" -> Json.arr(records)))
    val pw = new PrintWriter(new File(o("record")))
    try pw.println(json) finally pw.close()
    println(s"PERFBENCH_RECORD $json")
    System.out.flush()
    // bounded stop; then exit, with a halt if a shutdown hook hangs
    val stopper = new Thread(() => try spark.stop() catch { case _: Throwable => () })
    stopper.setDaemon(true)
    stopper.start()
    stopper.join(10000)
    val watchdog = new Thread(() => { Thread.sleep(5000); Runtime.getRuntime.halt(0) })
    watchdog.setDaemon(true)
    watchdog.start()
    System.exit(0)
  }

  def runOne(name: String, ctx: Ctx, seconds: Double, launchMs: Long,
      selftest: Boolean): String = {
    val rec = ctx.rec
    val w = make(name, ctx)
    new File(ctx.work).mkdirs()
    rec.note("jvm_to_setup_s", (System.currentTimeMillis() - launchMs) / 1000.0)
    w.setup()
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
    val (steal0, total0) = Host.cpuJiffies()
    val mark0 = ctx.tracer.map(_.mark())
    val t0 = ctx.now()
    var i = 0
    while ((i == 0 || ctx.secs(t0) < seconds) && w.canRun(i)) {
      if (ctx.tracer.isDefined) w.tracedRound(i) else w.round(i)
      i += 1
    }
    val timedS = ctx.secs(t0)
    val interval = for (a <- mark0; tr <- ctx.tracer) yield tr.between(a, tr.mark())
    val (steal1, total1) = Host.cpuJiffies()
    val stealPct = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
    val storeMb = w.storeBytes() / 1e6
    val c0 = ctx.now()
    w.check()
    rec.note("check_s", ctx.secs(c0))
    val mutations = if (selftest) w.mutate() else Nil
    val peakRss = Host.peakRssMb()

    def med(k: String) = Stats.median(rec.samples.getOrElse(k, Nil).toSeq)
    val e2e = Seq(
      "setup_s" -> setupS,
      "run_s" -> med("round_s"),
      "op_p50_ms" -> med(w.opSample) * 1000,
      "ingest_p50_ms" -> med(w.ingestSample) * 1000,
      "peak_rss_mb" -> peakRss,
      "store_mb" -> storeMb)
    val layer = rec.layer.toSeq.map { case (k, v) => k -> Stats.median(v.toSeq) } ++
      interval.toSeq.flatMap { iv =>
        val d = iv.delta
        val r = i.toDouble
        Seq(
          "spark.jobs" -> d.jobs / r,
          "spark.stages" -> d.stages / r,
          "spark.tasks" -> d.tasks / r,
          "spark.driver_gap_s" -> iv.driverGapS / r,
          "spark.scheduler_delay_s" -> d.schedDelayMs / 1000.0 / r,
          "spark.executor_run_s" -> d.runMs / 1000.0 / r,
          "spark.executor_cpu_s" -> d.cpuNs / 1e9 / r,
          "spark.shuffle_write_mb" -> d.shuffleWriteBytes / 1e6 / r,
          "spark.shuffle_read_mb" -> d.shuffleReadBytes / 1e6 / r,
          "spark.spill_mb" -> d.spillBytes / 1e6 / r,
          "spark.input_mb" -> d.inputBytes / 1e6 / r,
          "spark.gc_s" -> d.gcMs / 1000.0 / r)
      } :+ ("host.steal_pct" -> stealPct)
    // every sample series: median, tail and count
    val series = rec.samples.toSeq.map { case (k, v) =>
      k -> Json.obj(Seq("n" -> v.size.toString, "p50" -> Json.num(Stats.median(v.toSeq))) ++
        Stats.tail(v.toSeq).toSeq.map { case (l, x) => l -> Json.num(x) })
    }
    val named = Seq(
      "cron_cycle_p50_s" -> med("cycle_s"), "nmdb_p50_s" -> med("nmdb_s"),
      "dedup_batch_p50_s" -> med("dedup_batch_s"),
      "ann_build_s" -> med("build_s"), "ann_query_p50_ms" -> med("query_s") * 1000,
      "ann_batch_queries_per_s" -> med("batch_queries_per_s"))
      .filterNot(_._2.isNaN)
    Json.obj(Seq(
      "workload" -> Json.str(name),
      "rounds" -> i.toString,
      "timed_s" -> Json.num(timedS),
      "correct" -> rec.checks.forall(_.ok).toString,
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "checks" -> Json.arr(rec.checks.toSeq.map(c => Json.obj(Seq(
        "name" -> Json.str(c.name), "ok" -> c.ok.toString, "detail" -> Json.str(c.detail))))),
      "mutations" -> Json.arr(mutations.map { case (m, ok) =>
        Json.obj(Seq("name" -> Json.str(m), "caught" -> ok.toString)) }),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "layer_jobs" -> Json.obj(rec.jobs.toSeq.map { case (k, v) =>
        k -> Json.num(Stats.median(v.toSeq)) }),
      "named" -> Json.obj(named.map { case (k, v) => k -> Json.num(v) }),
      "series" -> Json.obj(series),
      "info" -> Json.obj(rec.info.toSeq)))
  }
}
