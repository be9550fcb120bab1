package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.engine.{CommitLock, Dfs, HadoopRenameCommitLock}
import graft.sink.{DeleteMode, SnapshotParquetSink}

/** Concurrent-writer commits on one snapshot table: the loser of the
  * manifest race REBASES when the winner touched only DISJOINT buckets —
  * republishing its already-written data files under the next version with
  * carry-forward from the winner's manifest, no recompute, no rewrite —
  * and falls back to the full recompute only when buckets genuinely
  * overlap. This is what lets N writers on disjoint key ranges commit in
  * parallel at a cost of one data write each (the Delta-style conflict
  * detection, at bucket granularity).
  *
  * Determinism: a gate [[CommitLock]] sequences the race — writer A blocks
  * at its publish until writer B's publish completes, so A always computes
  * against the base version and always loses the first slot.
  */
class ConcurrentMergeSpec extends SparkSpec {
  import spark.implicits._

  private val N = 8

  private def bucketOf(id: Long): Int =
    SnapshotParquetSink.bucketFor(Seq(id), Seq(LongType), N)

  /** `count` key values all routing to buckets satisfying `pick`. */
  private def keysWhere(pick: Int => Boolean, count: Int, from: Long = 10000L): Seq[Long] =
    Iterator.iterate(from)(_ + 1L).filter(id => pick(bucketOf(id))).take(count).toSeq

  private def df(ids: Seq[Long], seq: Long, tag: String): DataFrame =
    ids.map(i => (i, seq, s"$tag$i", false)).toDF("id", "seq", "ext", "is_delete")

  /** A's publish waits for B's publish to complete; B's publish waits until
    * A has reached its own publish point (so A's computation provably reads
    * the PRE-B state). Unnamed threads pass straight through.
    */
  private final class GateLock extends CommitLock {
    val aAtPublish = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    override def publishOntoAbsent(src: Path, dst: Path): Boolean = {
      Thread.currentThread().getName match {
        case "writerA" =>
          aAtPublish.countDown()
          assert(bDone.await(60, TimeUnit.SECONDS), "gate timed out waiting for B")
        case "writerB" =>
          assert(aAtPublish.await(60, TimeUnit.SECONDS), "gate timed out waiting for A")
        case _ => ()
      }
      val won = HadoopRenameCommitLock.publishOntoAbsent(src, dst)
      if (Thread.currentThread().getName == "writerB") bDone.countDown()
      won
    }
  }

  /** Runs `a` and `b` as writerA/writerB under a fresh gate; rethrows
    * either side's failure.
    */
  private def race(a: => Unit, b: => Unit): Unit = {
    val gate = new GateLock
    CommitLock.withLock(gate) {
      @volatile var errA: Option[Throwable] = None
      @volatile var errB: Option[Throwable] = None
      val ta = new Thread(() => try a catch { case t: Throwable => errA = Some(t) }, "writerA")
      val tb = new Thread(() => try b catch { case t: Throwable => errB = Some(t) }, "writerB")
      ta.start(); tb.start()
      ta.join(120000); tb.join(120000)
      assert(!ta.isAlive && !tb.isAlive, "racing writers deadlocked")
      errA.foreach(throw _)
      errB.foreach(throw _)
    }
  }

  private def sortedState(dir: String): Seq[(Long, Long, String)] =
    SnapshotParquetSink.forTable(dir).read(spark, DeleteMode.Hard)
      .select("id", "seq", "ext").as[(Long, Long, String)].collect().sorted.toSeq

  test("disjoint-bucket race: the loser rebases — same files, no recompute") {
    val dir = tmpDir("occ") + "/t"
    val seqDir = tmpDir("occseq") + "/t"
    val base = df(0L until 64L, seq = 0L, tag = "v")
    val evens = keysWhere(b => b % 2 == 0, 6)
    val odds = keysWhere(b => b % 2 == 1, 6)
    assert(evens.map(bucketOf).toSet.intersect(odds.map(bucketOf).toSet).isEmpty)

    val setup = new SnapshotParquetSink(dir, nBuckets = N, statsCols = Seq("seq"))
    setup.merge(base, Seq("id"), "seq", "is_delete")

    val sinkA = SnapshotParquetSink.forTable(dir)
    val sinkB = SnapshotParquetSink.forTable(dir)
    race(
      a = sinkA.merge(df(evens, seq = 1L, tag = "a"), Seq("id"), "seq", "is_delete"),
      b = sinkB.merge(df(odds, seq = 1L, tag = "b"), Seq("id"), "seq", "is_delete"))

    // B won v1 cleanly; A lost the race and REBASED onto v2: one data
    // write, at least one rebase, zero recomputes
    val infoB = sinkB.lastCommit.get
    assert(infoB.version == 1L && infoB.rebases == 0 && infoB.dataWrites == 1, s"$infoB")
    val infoA = sinkA.lastCommit.get
    assert(infoA.version == 2L, s"$infoA")
    assert(infoA.rebases >= 1, s"loser must take the rebase path: $infoA")
    assert(infoA.dataWrites == 1, s"rebase must not rewrite data: $infoA")

    // v2 carries B's bucket entries verbatim and A's on top of the base
    val v1e = SnapshotParquetSink.manifest(dir, 1L)._2
    val v2e = SnapshotParquetSink.manifest(dir, 2L)._2
    odds.map(bucketOf).distinct.foreach(b => assert(v2e(b) == v1e(b),
      s"bucket $b: B's entry must carry through A's rebase"))

    // final state equals the same three merges applied sequentially
    val twin = new SnapshotParquetSink(seqDir, nBuckets = N, statsCols = Seq("seq"))
    twin.merge(base, Seq("id"), "seq", "is_delete")
    twin.merge(df(evens, seq = 1L, tag = "a"), Seq("id"), "seq", "is_delete")
    twin.merge(df(odds, seq = 1L, tag = "b"), Seq("id"), "seq", "is_delete")
    assert(sortedState(dir) == sortedState(seqDir))

    // the rebased manifest's maxseq reflects BOTH writers (catalog cuts
    // read this) and stats cover both writers' buckets
    assert(SnapshotParquetSink.manifestMaxSeq(dir, 2L).contains(1L))
    val stats = SnapshotParquetSink.manifestStats(dir, 2L)
    (evens ++ odds).map(bucketOf).distinct.foreach(b =>
      assert(stats.get(b).exists(_.contains("seq")), s"stats missing for bucket $b"))
  }

  test("overlapping-bucket race: the loser recomputes against the winner's state") {
    val dir = tmpDir("occov") + "/t"
    val seqDir = tmpDir("occovseq") + "/t"
    val base = df(0L until 64L, seq = 0L, tag = "v")
    val ka = keysWhere(_ => true, 4)
    // force overlap: B writes a key in one of A's buckets (and the SAME key
    // with a higher seq — the recompute must land B's value, not A's)
    val shared = ka.head
    val kb = keysWhere(b => b == bucketOf(shared), 2, from = 20000L)

    val setup = new SnapshotParquetSink(dir, nBuckets = N)
    setup.merge(base, Seq("id"), "seq", "is_delete")
    val sinkA = SnapshotParquetSink.forTable(dir)
    val sinkB = SnapshotParquetSink.forTable(dir)
    race(
      a = sinkA.merge(df(ka, seq = 1L, tag = "a"), Seq("id"), "seq", "is_delete"),
      b = sinkB.merge(df(kb :+ shared, seq = 2L, tag = "b"), Seq("id"), "seq", "is_delete"))

    val infoA = sinkA.lastCommit.get
    assert(infoA.version == 2L && infoA.rebases == 0, s"$infoA")
    assert(infoA.dataWrites == 2, s"overlap must force a recompute: $infoA")

    val twin = new SnapshotParquetSink(seqDir, nBuckets = N)
    twin.merge(base, Seq("id"), "seq", "is_delete")
    twin.merge(df(kb :+ shared, seq = 2L, tag = "b"), Seq("id"), "seq", "is_delete")
    twin.merge(df(ka, seq = 1L, tag = "a"), Seq("id"), "seq", "is_delete")
    assert(sortedState(dir) == sortedState(seqDir))
    // the shared key holds B's higher-seq value
    assert(sortedState(dir).find(_._1 == shared).get._3 == s"b$shared")
  }

  test("rebase carries bloom sidecars from both writers") {
    val dir = tmpDir("occbl") + "/t"
    val base = df(0L until 64L, seq = 0L, tag = "v")
    val evens = keysWhere(b => b % 2 == 0, 4)
    val odds = keysWhere(b => b % 2 == 1, 4)
    val setup = new SnapshotParquetSink(dir, nBuckets = N, bloomCols = Seq("ext"))
    setup.merge(base, Seq("id"), "seq", "is_delete")
    val sinkA = SnapshotParquetSink.forTable(dir)
    val sinkB = SnapshotParquetSink.forTable(dir)
    race(
      a = sinkA.merge(df(evens, seq = 1L, tag = "a"), Seq("id"), "seq", "is_delete"),
      b = sinkB.merge(df(odds, seq = 1L, tag = "b"), Seq("id"), "seq", "is_delete"))
    assert(sinkA.lastCommit.get.rebases >= 1)
    val t = spark.read.format("graft-snapshot").load(dir)
    // values written by both racers stay findable through bloom pruning
    assert(t.filter($"ext" === s"a${evens.head}").count() == 1L)
    assert(t.filter($"ext" === s"b${odds.head}").count() == 1L)
    assert(t.filter($"ext" === s"v3").count() == 1L)
    val blooms = SnapshotParquetSink.manifestBlooms(dir, 2L)
    assert(blooms.size == N, s"all buckets keep filters after a rebase: ${blooms.keys}")
  }

  test("maintenance rewrites that lose the publish to a merge recompute at the next version") {
    val base = df(0L until 64L, seq = 0L, tag = "v")
    val dead = Seq(3L, 17L, 40L)
    val tombstones = dead.map(i => (i, 1L, s"x$i", true)).toDF("id", "seq", "ext", "is_delete")
    val winner = keysWhere(_ => true, 4, from = 30000L)
    val reload = df(Seq(1L, 2L), seq = 9L, tag = "r")
    // each op runs as writerA and reaches its publish on the base version;
    // the merge (writerB) takes that version first
    val ops: Seq[(String, SnapshotParquetSink => Unit)] = Seq(
      "compact" -> (s => assert(s.compact(spark) == 2L)),
      "rebucket" -> (s => assert(s.rebucket(spark, 4) == 2L)),
      "purge" -> (s => assert(s.purgeTombstones(spark, horizonSeq = 1L) == 2L)),
      "replaceAll" -> (s => s.replaceAll(reload, Seq("id"), "seq", "is_delete")))
    for ((name, op) <- ops) {
      val dir = tmpDir(s"lose-$name") + "/t"
      val setup = new SnapshotParquetSink(dir, nBuckets = N)
      setup.merge(base.unionByName(tombstones), Seq("id"), "seq", "is_delete")
      val sinkA = SnapshotParquetSink.forTable(dir)
      val sinkB = SnapshotParquetSink.forTable(dir)
      race(
        a = op(sinkA),
        b = sinkB.merge(df(winner, seq = 2L, tag = "w"), Seq("id"), "seq", "is_delete"))
      assert(sinkB.lastCommit.exists(_.version == 1L), s"$name: ${sinkB.lastCommit}")
      assert(sinkA.versions == Seq(0L, 1L, 2L), s"$name: ${sinkA.versions}")
      val ids = sortedState(dir).map(_._1).toSet
      if (name == "replaceAll") assert(ids == Set(1L, 2L), s"$name: $ids")
      else assert(winner.toSet.subsetOf(ids) && ids.size == 64 - dead.size + winner.size,
        s"$name lost the winner's rows: $ids")
      if (name == "purge")
        assert(SnapshotParquetSink.forTable(dir).read(spark, DeleteMode.Logical)
          .filter($"is_deleted").count() == 0L, "horizon-old tombstones survive the purge")
      // the losing attempt cleaned up: no stage beside the manifests, no
      // data root that no published manifest references
      val staged = Dfs.list(SnapshotParquetSink.manifestsDir(dir))
        .map(_.getPath.getName).filter(_.startsWith(".tmp-"))
      assert(staged.isEmpty, s"$name left stages: $staged")
      val referenced = (0L to 2L).flatMap(v => SnapshotParquetSink.manifest(dir, v)._2.values)
        .map(_.split("/__bucket=")(0)).toSet
      val roots = Dfs.list(new Path(dir, "data")).map(st => s"data/${st.getPath.getName}").toSet
      assert(roots == referenced, s"$name left unpublished data roots: ${roots -- referenced}")
    }
  }
}
