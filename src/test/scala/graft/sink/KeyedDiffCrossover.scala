package graft.sink

import org.apache.spark.sql.functions._

/** Times [[SnapshotParquetSink#keyedDiff]]'s two arms, each forced, per
  * table size — the measurement behind
  * [[SnapshotParquetSink.localDiffMaxBytes]]. The fact table has 16
  * buckets and each commit updates every 100th key, so every bucket
  * changes and a diff reads both versions' whole table (the bulk gates are
  * lifted so the refreshes stay incremental). Per size it prints the rows,
  * the changed megabytes (both versions' files), and per arm the seconds
  * of a collected diff, of a join-view refresh and of a rollup refresh
  * (recompute regime), each the minimum over `runs` commits with the arms
  * alternating which goes first:
  *
  * {{{
  *   sbt "Test/runMain graft.sink.KeyedDiffCrossover 25000,100000,400000 3"
  * }}}
  */
object KeyedDiffCrossover {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sizes = args.headOption.map(_.split(',').toSeq.map(_.toLong))
      .getOrElse(Seq(25000L, 100000L, 400000L))
    val runs = if (args.length > 1) args(1).toInt else 3
    val root = java.nio.file.Files.createTempDirectory("keyeddiff").toString
    def facts(from: Long, n: Long, step: Long, seq: Long) =
      spark.range(from, n, step).select(col("id"), lit(seq).as("seq"),
        (col("id") % 7 + seq % 2).cast("string").as("status"),
        (col("id") * 31 % 100000).cast("decimal(12,2)").as("amount"),
        (col("id") % 2000).cast("string").as("ck"),
        lit(false).as("is_del"))
    val dims = spark.range(2000).select(col("id").cast("string").as("ck"),
      concat(lit("customer-"), col("id").cast("string")).as("cname"),
      lit(1L).as("seq"), lit(false).as("is_del"))
    val prior = SnapshotParquetSink.localDiffMaxBytes
    sys.props("graft.ivm.rebuildDirtyFraction") = "2.0"
    sys.props("graft.ivm.forceRegime") = "recompute"
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    try for (n <- sizes) {
      val f = new SnapshotParquetSink(s"$root/f$n", 16)
      val d = new SnapshotParquetSink(s"$root/d$n", 16)
      f.merge(facts(0, n, 1, 1), Seq("id"), "seq", "is_del")
      d.merge(dims, Seq("ck"), "seq", "is_del")
      // one join view and one rollup per arm
      val views = Seq(true, false).map { local =>
        def sink(name: String, b: Int) = new SnapshotParquetSink(s"$root/${name}_${n}_$local", b)
        val j = new MaterializedJoin(f, d, sink("j", 16), Seq("ck"), Seq("cname"))
        val a = new MaterializedAgg(f, sink("a", 8), Seq("status"),
          Seq(count(lit(1)).as("n"), sum(col("amount")).as("s"), min(col("amount")).as("mn")))
        j.refresh(spark)
        a.refresh(spark)
        local -> (j, a)
      }.toMap
      def arm(local: Boolean)(f: => Unit): Double = {
        SnapshotParquetSink.localDiffMaxBytes = if (local) Long.MaxValue else -1L
        timed(f)
      }
      val samples = (0 until runs).map { r =>
        f.merge(facts(r + 1, n, 100, r + 2), Seq("id"), "seq", "is_del")
        val v = f.currentVersion.get
        Seq(r % 2 == 0, r % 2 != 0).map { local =>
          val (j, a) = views(local)
          local -> Seq(
            arm(local)(f.keyedDiff(spark, v - 1, v, Seq("id"), "seq", Seq(col("status")))
              .collect()),
            arm(local)(j.refresh(spark)),
            arm(local)(a.refresh(spark)))
        }.toMap
      }
      val bytes = {
        val v = f.currentVersion.get
        def size(p: java.io.File): Long =
          if (p.isDirectory) p.listFiles().map(size).sum else p.length
        (f.changedEntriesAt(v - 1, v) ++ f.changedEntriesAt(v, v - 1))
          .map(p => size(new java.io.File(p))).sum
      }
      def best(local: Boolean, i: Int) = samples.map(_(local)(i)).min
      println(f"rows $n%8d changed_mb ${bytes / 1048576.0}%7.2f" +
        Seq("diff", "join", "agg").zipWithIndex.map { case (k, i) =>
          f" $k%s_local_s ${best(true, i)}%6.3f $k%s_distributed_s ${best(false, i)}%6.3f"
        }.mkString)
    } finally {
      SnapshotParquetSink.localDiffMaxBytes = prior
      sys.props.remove("graft.ivm.rebuildDirtyFraction")
      sys.props.remove("graft.ivm.forceRegime")
    }
    spark.stop()
  }
}
