package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.GraftSession
import graft.llm.Dedup
import graft.sink.{MaterializedAgg, SnapshotParquetSink}

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

  /** Runs `f` with a package-private tuning hook set to `value`, then
    * restores the prior value.
    */
  private def withHook[T, A](get: => T, value: T)(set: T => Unit)(f: => A): A = {
    val prior = get
    set(value)
    try f
    finally set(prior)
  }

  /** Runs `f` with the sink's driver-local keyed diff turned off
    * ([[graft.sink.SnapshotParquetSink.localDiffMaxBytes]] at −1), so every
    * refresh and change feed takes the distributed arm.
    */
  def withLocalDiffOff[A](f: => A): A =
    withHook(SnapshotParquetSink.localDiffMaxBytes, -1L)(
      SnapshotParquetSink.localDiffMaxBytes = _)(f)

  /** Runs `f` with connected components' driver-local arm capped at `n`
    * edges ([[graft.llm.Dedup.localComponentsMaxEdges]]; −1 = off).
    */
  def withLocalComponentsMaxEdges[A](n: Int)(f: => A): A =
    withHook(Dedup.localComponentsMaxEdges, n)(Dedup.localComponentsMaxEdges = _)(f)

  /** Runs `f` with connected components' driver-local arm turned off, so
    * every graph takes the distributed (BSP/star) arm.
    */
  def withLocalComponentsOff[A](f: => A): A = withLocalComponentsMaxEdges(-1)(f)

  /** Runs `f` with the IVM bulk gate unreachable
    * ([[graft.sink.MaterializedAgg.rebuildDirtyFraction]] at 2), so a
    * refresh of a small table stays incremental however many buckets
    * changed.
    */
  def withBulkGateOff[A](f: => A): A =
    withHook(MaterializedAgg.rebuildDirtyFraction, 2.0)(
      MaterializedAgg.rebuildDirtyFraction = _)(f)

  /** Runs `f` with the refreshes' driver collect cap
    * ([[graft.sink.MaterializedAgg.collectCap]]) at `n` rows.
    */
  def withCollectCap[A](n: Int)(f: => A): A =
    withHook(MaterializedAgg.collectCap, n)(MaterializedAgg.collectCap = _)(f)

  /** Runs `f` with the extremum-view regime pick
    * ([[graft.sink.MaterializedAgg.forcedRegime]]) pinned to `regime`
    * ("fold" or "recompute"; None = the cost model).
    */
  def withRegime[A](regime: Option[String])(f: => A): A =
    withHook(MaterializedAgg.forcedRegime, regime)(MaterializedAgg.forcedRegime = _)(f)

  /** Runs `f` with the commit's fused-shape skew threshold
    * ([[graft.sink.SnapshotParquetSink.fusedMaxBucketBytes]]) at `n` bytes.
    */
  def withFusedMaxBucketBytes[A](n: Long)(f: => A): A =
    withHook(SnapshotParquetSink.fusedMaxBucketBytes, n)(
      SnapshotParquetSink.fusedMaxBucketBytes = _)(f)

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
