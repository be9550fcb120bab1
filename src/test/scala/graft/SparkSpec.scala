package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.GraftSession

/** Shared session for all suites (one per JVM; sbt forks a single test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Crash injection for streaming specs: drop the newest checkpoint commit
    * marker, so Spark replays the last micro-batch on restart even though
    * every sink effect already landed — the standard exactly-once probe.
    */
  def injectCrash(checkpoint: String): Unit = {
    val commits = new java.io.File(checkpoint, "commits")
    val latest = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .sortBy(_.getName.toInt).lastOption
    assert(latest.isDefined, s"no commits to crash at $checkpoint")
    assert(latest.get.delete())
    val crc = new java.io.File(commits, s".${latest.get.getName}.crc")
    if (crc.exists()) assert(crc.delete())
  }

  /** Runs `f` with the sink's driver-local keyed diff turned off
    * ([[graft.sink.SnapshotParquetSink.localDiffMaxBytes]] at −1), so every
    * refresh and change feed takes the distributed arm; then restores it.
    */
  def withLocalDiffOff[A](f: => A): A = {
    val prior = graft.sink.SnapshotParquetSink.localDiffMaxBytes
    graft.sink.SnapshotParquetSink.localDiffMaxBytes = -1L
    try f
    finally graft.sink.SnapshotParquetSink.localDiffMaxBytes = prior
  }

  /** Job descriptions ([[graft.engine.JobTag]]) observed while `f` runs —
    * pins probe-skip/job-count claims against the scheduler rather than
    * the code's own accounting. Listener delivery is async: spins until
    * the observed count quiesces.
    */
  def jobDescriptionsDuring(f: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(j.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse(""))
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      var last = -1; var spins = 0
      while (seen.size != last && spins < 25) {
        last = seen.size; Thread.sleep(100L); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** Persistent RDDs that a managed-scope operator leaked. localCheckpoint
    * blocks (e.g. Bpe.learn's periodic lineage truncation) are excluded:
    * they are ContextCleaner-managed and released on GC, so their presence
    * depends on JVM timing, not on any operator's cache discipline.
    */
  def leakedCaches: Map[Int, org.apache.spark.rdd.RDD[_]] =
    spark.sparkContext.getPersistentRDDs.toMap
      .filterNot(_._2.toString.contains("localCheckpoint"))
}
