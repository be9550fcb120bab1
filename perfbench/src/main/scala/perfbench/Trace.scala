package perfbench

import scala.collection.mutable

import org.apache.spark.graftbridge.Listeners
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One traced call: wall time, the Spark jobs that started inside it, the
  * part of its wall time no job covered (driver gap), executor CPU of its
  * tasks, and shuffle bytes written.
  */
final case class Sample(wallS: Double, jobs: Double, driverGapS: Double, taskCpuS: Double,
    shuffleMb: Double, inputMb: Double) {
  def minus(o: Sample): Sample = Sample(wallS - o.wallS, jobs - o.jobs,
    driverGapS - o.driverGapS, taskCpuS - o.taskCpuS, shuffleMb - o.shuffleMb, inputMb - o.inputMb)
}

/** Spans around the benchmark's calls into each layer, with Spark jobs
  * attributed through the public listener API. Calls are issued one at a
  * time from one thread, so a job belongs to the span whose time window
  * holds its start. The listener bus is drained after every span, so all
  * task events of the span's jobs have arrived before attribution.
  */
final class Tracer(spark: SparkSession) {
  private final class Job(val start: Long) {
    var end: Long = -1L
    var cpuNs: Long = 0L
    var shuffleBytes: Long = 0L
    var inputBytes: Long = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = new Job(e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
        j.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Sample]] =
    mutable.LinkedHashMap.empty

  def record(name: String, s: Sample): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s

  /** Runs `f` as span `name` and records its sample. */
  def span[A](name: String)(f: => A): A = {
    val (a, s) = measure(f)
    record(name, s)
    a
  }

  /** Runs `f` and returns its sample without recording it. */
  def measure[A](f: => A): (A, Sample) = {
    Listeners.drain(spark.sparkContext)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val a = f
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    Listeners.drain(spark.sparkContext)
    (a, attribute(startMs, endMs, wall))
  }

  /** Cost of computing `df` in full, through a `noop` write: for a
    * lazy stage the prefix cost is the only observable time. Recorded as
    * `name` after subtracting `input`, the prefix cost of the stage's input.
    */
  def stage(name: String, df: DataFrame, input: Option[Sample]): Sample = {
    val (_, prefix) = measure(df.write.format("noop").mode("overwrite").save())
    record(name, input.fold(prefix)(prefix.minus))
    prefix
  }

  private def attribute(startMs: Long, endMs: Long, wallS: Double): Sample = synchronized {
    val mine = jobs.valuesIterator.filter(j => j.start >= startMs && j.start <= endMs).toSeq
    // union of the jobs' intervals, clipped to the span
    val iv = mine.map(j => (j.start, math.min(if (j.end < 0) endMs else j.end, endMs))).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val gap = math.max(0.0, wallS - covered / 1000.0)
    // jobs are attributed once; forget them (and their stages)
    val ids = jobs.collect { case (id, j) if j.start <= endMs => id }.toSeq
    ids.foreach(jobs.remove)
    val idSet = ids.toSet
    stageJob.filterInPlace((_, j) => !idSet(j))
    Sample(wallS, mine.size.toDouble, gap, mine.map(_.cpuNs).sum / 1e9,
      mine.map(_.shuffleBytes).sum / 1048576.0, mine.map(_.inputBytes).sum / 1048576.0)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

/** The tracer seen by workload code: a no-op in untraced runs, so the
  * end-to-end loop carries no listener and no drain.
  */
final class Spans(val tracer: Option[Tracer]) {
  def apply[A](name: String)(f: => A): A = tracer match {
    case Some(t) => t.span(name)(f)
    case None => f
  }
  def traced: Boolean = tracer.isDefined
}
