package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import graft.engine.{CommitLock, Dfs, HadoopRenameCommitLock, ObjectStoreCommitLock}
import graft.sink.{DeleteMode, SnapshotCatalog, SnapshotParquetSink}

/** The commit-coordination seam (LogStore pattern): every protocol
  * guarantee the snapshot/catalog layer claims must hold under BOTH lock
  * implementations — the default HDFS-style rename-onto-absent AND the
  * object-store put-if-absent that never relies on rename atomicity
  * (s3a's rename is copy-then-delete without fail-if-exists; the
  * protocol must survive a store where that is all rename gives you).
  */
class CommitLockSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, Long, String, Boolean)*): DataFrame =
    rows.toSeq.toDF("primary_key", "seq", "val", "is_delete")

  private val locks: Seq[(String, CommitLock)] = Seq(
    "rename" -> HadoopRenameCommitLock,
    "objectstore" -> new ObjectStoreCommitLock())

  for ((name, lock) <- locks) {

    test(s"[$name] winner/loser contract: first publish wins, loser never clobbers") {
      CommitLock.withLock(lock) {
        val base = tmpDir(s"lock-$name")
        val dst = new HPath(base, "v0.manifest")
        val a = new HPath(base, ".tmp-a"); Dfs.writeUtf8(a, "writer-a\n")
        val b = new HPath(base, ".tmp-b"); Dfs.writeUtf8(b, "writer-b\n")
        assert(lock.publishOntoAbsent(a, dst))
        assert(!lock.publishOntoAbsent(b, dst))
        assert(Dfs.readUtf8(dst) == "writer-a\n")
        assert(!Dfs.exists(a), "winner's scratch is consumed")
        assert(Dfs.exists(b), "loser's scratch is left for its caller")
        // the shared publish step under a real race: both committers stage
        // before either publishes (a shared stage name would let the winner
        // publish the loser's body — in about half the rounds, hence
        // several); the slot holds exactly the winner's body and no stage
        // survives beside it
        val bodies = Seq("version=0\nwriter-a\n", "version=0\nwriter-b\n")
        for (round <- 0 until 8) {
          val slot = new HPath(base, s"race$round/v0.manifest")
          val bothStaged = new java.util.concurrent.CyclicBarrier(2)
          val gated = new CommitLock {
            override def publishOntoAbsent(src: HPath, dst: HPath): Boolean = {
              bothStaged.await(30, java.util.concurrent.TimeUnit.SECONDS)
              lock.publishOntoAbsent(src, dst)
            }
          }
          val won = new Array[Boolean](bodies.size)
          CommitLock.withLock(gated) {
            val ts = bodies.indices.map(i =>
              new Thread(() => won(i) = CommitLock.publishFile(slot, bodies(i))))
            ts.foreach(_.start()); ts.foreach(_.join(60000))
          }
          assert(won.count(identity) == 1, s"round $round: ${won.toSeq}")
          assert(Dfs.readUtf8(slot) == bodies(won.indexOf(true)), s"round $round")
          assert(Dfs.list(slot.getParent).map(_.getPath.getName) == Seq("v0.manifest"))
        }
      }
    }

    test(s"[$name] concurrent sink writers: no lost commit, gap-free versions") {
      CommitLock.withLock(lock) {
        val dir = tmpDir(s"race-$name") + "/t"
        val rows = 4
        import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
        val pool = Executors.newFixedThreadPool(2)
        val start = new CountDownLatch(1)
        def writer(tag: String) =
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              val sink = new SnapshotParquetSink(dir, nBuckets = 4)
              start.await(30, TimeUnit.SECONDS)
              for (i <- 0 until rows)
                sink.merge(batch((s"$tag$i", i.toLong, s"v$tag$i", false)),
                  Seq("primary_key"), "seq", "is_delete")
            }
          })
        val a = writer("a"); val b = writer("b")
        start.countDown()
        a.get(120, TimeUnit.SECONDS); b.get(120, TimeUnit.SECONDS)
        pool.shutdown()
        val sink = new SnapshotParquetSink(dir, nBuckets = 4)
        assert(sink.versions == (0L until 2L * rows), sink.versions.toString)
        val state = sink.read(spark, DeleteMode.Hard).collect()
          .map(r => r.getAs[String]("primary_key") -> r.getAs[String]("val")).toMap
        assert(state.size == 2 * rows, state.keys.toSeq.sorted.mkString(","))
        for (t <- Seq("a", "b"); i <- 0 until rows) assert(state(s"$t$i") == s"v$t$i")
      }
    }

    test(s"[$name] catalog transactions: crash invisibility and concurrent commits") {
      CommitLock.withLock(lock) {
        val dir = tmpDir(s"cat-$name") + "/c"
        val cat = new SnapshotCatalog(dir)
        val ta = cat.table("a", 2); val tb = cat.table("b", 2)
        ta.merge(batch(("a1", 0, "x", false)), Seq("primary_key"), "seq", "is_delete")
        tb.merge(batch(("b1", 1, "y", false)), Seq("primary_key"), "seq", "is_delete")
        val v0 = cat.commitCurrent(Seq("a", "b"))
        // crashed half-transaction: a advances, catalog does not — readers
        // of the cut must never see the unpinned commit
        ta.merge(batch(("a2", 2, "x2", false)), Seq("primary_key"), "seq", "is_delete")
        val view = cat.readAll(spark)
        assert(view("a").select("primary_key").collect().map(_.getString(0)).toSet
          == Set("a1"))
        // two independent handles race the next catalog version
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          val futs = (1 to 2).map { _ =>
            pool.submit(new java.util.concurrent.Callable[Long] {
              def call(): Long = new SnapshotCatalog(dir).commitCurrent(Seq("a", "b"))
            })
          }
          val got = futs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)).toSet
          assert(got == Set(v0 + 1, v0 + 2), s"both commits must land, got $got")
        } finally pool.shutdownNow()
      }
    }
  }

  test("FileLockCoordinator: OS-arbitrated exclusion; the full sink protocol runs on it") {
    val base = tmpDir("flc")
    val lock = new ObjectStoreCommitLock(
      new graft.engine.FileLockCoordinator(s"$base/locks"))
    CommitLock.withLock(lock) {
      // exclusion: 4 threads contend one counter under the lease — no lost
      // increments means the file lock + inner stripe serialize correctly
      val coord = new graft.engine.FileLockCoordinator(s"$base/locks2")
      var n = 0
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val futs = (1 to 4).map(_ => pool.submit(new java.lang.Runnable {
          def run(): Unit = (1 to 50).foreach(_ =>
            coord.withExclusive("ctr") { n += 1 })
        }))
        futs.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
      assert(n == 200)
      // the sink's commit protocol end-to-end on the file-lock coordinator
      val dir = s"$base/t"
      val sink = new SnapshotParquetSink(dir, nBuckets = 4)
      sink.merge(batch(("a", 0, "a0", false)), Seq("primary_key"), "seq", "is_delete")
      sink.merge(batch(("a", 1, "a1", false), ("b", 2, "b0", false)),
        Seq("primary_key"), "seq", "is_delete")
      val got = sink.read(spark, graft.sink.DeleteMode.Hard).collect()
        .map(r => r.getAs[String]("primary_key") -> r.getAs[String]("val")).toMap
      assert(got == Map("a" -> "a1", "b" -> "b0"))
    }
  }

  test("ObjectStoreCommitLock refuses a directory source loudly") {
    val base = tmpDir("oslock-dir")
    val srcDir = new HPath(base, "srcdir"); Dfs.mkdirs(srcDir)
    val dst = new HPath(base, "dst")
    val e = intercept[IllegalArgumentException](
      new ObjectStoreCommitLock().publishOntoAbsent(srcDir, dst))
    assert(e.getMessage.contains("FILE"))
  }

  test("ObjectStoreCommitLock never calls rename (works where rename is copy-then-delete)") {
    // a coordinator that records exclusion keys proves the publish path is
    // existence-check + PUT under the lease — no rename primitive at all,
    // the property that makes it safe on s3a
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val recording = new graft.engine.CommitCoordinator {
      def withExclusive[A](key: String)(f: => A): A = {
        seen.synchronized { seen += key; () }
        f
      }
    }
    val lock = new ObjectStoreCommitLock(recording)
    val base = tmpDir("oslock-put")
    val dst = new HPath(base, "v0.manifest")
    val s1 = new HPath(base, ".tmp-1"); Dfs.writeUtf8(s1, "one\n")
    val s2 = new HPath(base, ".tmp-2"); Dfs.writeUtf8(s2, "two\n")
    assert(lock.publishOntoAbsent(s1, dst))
    assert(!lock.publishOntoAbsent(s2, dst))
    assert(Dfs.readUtf8(dst) == "one\n")
    assert(seen.toSeq == Seq(dst.toString, dst.toString),
      "every publish must run under the coordinator's lease on the destination")
  }
}
