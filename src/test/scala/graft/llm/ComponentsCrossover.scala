package graft.llm

/** Times [[Dedup.connectedComponentsStats]]'s two arms, each forced, per
  * edge count — the measurement behind [[Dedup.localComponentsMaxEdges]].
  * The graph has the shape of a near-dup candidate graph: 2.5 nodes per
  * edge (a 3,000-doc shard yields ~1,200 LSH candidates), the edges
  * planted as clusters of 2–8 random nodes wired as a star, a chain or a
  * clique. The edges are a driver-local frame (a collected candidate
  * list); the nodes are `spark.range`, not local, as a shard read from
  * files is. Per size it prints the edges, the nodes, the clusters found
  * and per arm the seconds of a components call whose `consume` counts
  * the distinct clusters, each the minimum over `runs` calls with the arms
  * alternating which goes first (each call is also printed as it ends):
  *
  * {{{
  *   SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.llm.ComponentsCrossover 1000,10000,100000,1000000 3"
  * }}}
  */
object ComponentsCrossover {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val sizes = args.headOption.map(_.split(',').toSeq.map(_.toInt))
      .getOrElse(Seq(1000, 10000, 100000, 1000000))
    val runs = if (args.length > 1) args(1).toInt else 3
    val prior = Dedup.localComponentsMaxEdges
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    try for (m <- sizes) {
      val rnd = new scala.util.Random(m)
      val n = m * 5L / 2
      val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      while (edges.size < m) {
        val members = Seq.fill(2 + rnd.nextInt(7))((rnd.nextDouble() * n).toLong)
        rnd.nextInt(3) match {
          case 0 => members.tail.foreach(v => edges += ((members.head, v)))
          case 1 => members.zip(members.tail).foreach(edges += _)
          case _ => members.combinations(2).foreach(p => edges += ((p(0), p(1))))
        }
      }
      val pairs = edges.take(m).toSeq.toDF("i", "j")
      val nodes = spark.range(n).toDF("doc_id")
      def arm(local: Boolean): (Double, Long) = {
        Dedup.localComponentsMaxEdges = if (local) Int.MaxValue else -1
        var clusters = 0L
        val s = timed(Dedup.connectedComponentsStats(pairs, nodes) { (labels, _) =>
          clusters = labels.select("cluster").distinct().count() })
        println(f"  edges $m%8d ${if (local) "local" else "bsp"}%-5s $s%7.3f s")
        (s, clusters)
      }
      val samples = (0 until runs).map { r =>
        Seq(r % 2 == 0, r % 2 != 0).map(local => local -> arm(local)).toMap
      }
      val clusters = samples.flatMap(_.values.map(_._2)).distinct
      require(clusters.size == 1, s"the arms disagree on the cluster count: $clusters")
      def best(local: Boolean) = samples.map(_(local)._1).min
      println(f"edges $m%8d nodes $n%8d clusters ${clusters.head}%8d " +
        f"local_s ${best(true)}%7.3f bsp_s ${best(false)}%7.3f")
    } finally Dedup.localComponentsMaxEdges = prior
    spark.stop()
  }
}
