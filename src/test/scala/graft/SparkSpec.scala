package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Temp directory that is ACTUALLY removed at JVM exit.
    * `File.deleteOnExit` silently no-ops on non-empty directories, so
    * parquet-filled test dirs accumulated across runs (ADVICE r13) —
    * this registers one shutdown-hook recursive walk instead.
    */
  def tempDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(tag)
    SparkSpec.registerForCleanup(d)
    d.toString
  }

  /** [[tempDir]] as a File — the shape most specs consume. */
  def tempDirFile(tag: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(tag)
    SparkSpec.registerForCleanup(d)
    d.toFile
  }

  /** The Spark jobs `body` runs, in the order they started. */
  def jobsOf(body: => Unit): Seq[SparkSpec.Job] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkSpec.Job]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(SparkSpec.Job(js.stageInfos.map(_.name), js.stageInfos.map(_.details)))
        ()
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  /** One Spark job: its stages' short call sites ("parquet at X.scala:12")
    * and their long forms (the driver's stack at submission).
    */
  final case class Job(stageNames: Seq[String], details: Seq[String]) {
    /** A job that a `DataFrameReader` call starts by itself, before any
      * action: a schema inference (or a parallel file listing).
      */
    def startedByReader: Boolean =
      details.exists(_.linesIterator.nextOption().exists(_.contains(".DataFrameReader.")))
  }

  private val cleanupDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val cleanupHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      cleanupDirs.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
            .foreach(p => try java.nio.file.Files.deleteIfExists(p)
            catch { case _: Throwable => () })
        } catch { case _: Throwable => () }
      }))
  }
  def registerForCleanup(p: java.nio.file.Path): Unit = {
    cleanupHook
    cleanupDirs.add(p)
    ()
  }

  // One session per JVM: sbt forks a single test JVM, so specs share it.
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // match Verify/Bench: the events test table stores TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
