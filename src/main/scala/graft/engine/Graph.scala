package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over pair frames (the same (i, j) edges the
  * dedup candidate generators emit). Companions to the distributed arm of
  * [[graft.llm.Dedup.connectedComponents]] (whose driver-local arm resolves
  * small collected edge lists in one union-find instead): BSP rounds of
  * join + aggregate, one shuffle per round, every frame partitioned by
  * node id.
  */
object Graph {

  /** Fixed-point PageRank over an UNDIRECTED pair graph — "which document
    * is most central in its near-dup neighbourhood" (canonical-doc scoring
    * beyond q96b's length rule). All arithmetic is scaled-integer with
    * floor division at every step:
    *
    *   r0      = scale DIV n
    *   tele    = (r0 * 15) DIV 100
    *   contrib = ((r_src DIV deg_src) * 85) DIV 100
    *   r'      = tele + Σ contribs
    *
    * so ranks are EXACTLY reproducible on any engine (doubles would drift
    * across summation orders). Per iteration: one join of ranks onto the
    * cached edge+degree frame, one grouped sum — the contribution shuffle
    * partitions by dst. Nodes are the edge endpoints (an isolated doc has
    * no rank to spread). `n` (node count) and the iteration count are the
    * only driver-side scalars.
    *
    * Lineage cut (same rule as `Dedup.connectedComponentsStats`): each
    * iteration's frame is rebased on its RDD, so the Catalyst plan handed to
    * the next iteration is constant-size — plan complexity is O(1) in
    * `iters`, not O(iters). The RDD lineage stays a linear shared DAG that
    * evaluates in one pass when `consume` acts on the final frame.
    */
  def pageRank[T](pairs: DataFrame, iters: Int, scale: Long = 1000000000000L)(
      consume: DataFrame => T): T = {
    require(iters >= 0, "iters must be non-negative")
    val edges = pairs.select(col("i").as("src"), col("j").as("dst"))
      .union(pairs.select(col("j").as("src"), col("i").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = edges.select(col("dst").as("node")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = nodes.count()
        require(n > 0, "pageRank needs a non-empty graph")
        val r0 = scale / n
        val tele = r0 * 15L / 100L
        val spark = pairs.sparkSession
        var ranks = nodes.select(col("node"), lit(r0).as("r"))
        for (_ <- 0 until iters) {
          val contrib = withDeg
            .join(ranks.select(col("node").as("src"), col("r")), "src")
            .select(col("dst").as("node"),
              expr("((r DIV deg) * 85) DIV 100").as("c"))
          val step = nodes
            .join(contrib.groupBy("node").agg(sum("c").as("s")), Seq("node"), "left")
            .select(col("node"),
              (lit(tele) + coalesce(col("s"), lit(0L))).cast("long").as("r"))
          ranks = spark.createDataFrame(step.rdd, step.schema)
        }
        consume(ranks)
      } finally {
        nodes.unpersist()
        ()
      }
    } finally {
      withDeg.unpersist()
      ()
    }
  }
}
