package graft.sink

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Dfs

/** Atomic MULTI-TABLE snapshots over a family of [[SnapshotParquetSink]]
  * tables — the cross-table transaction layer the per-table format can't
  * give by itself (and the widely-known gap in single-table lakehouse
  * formats): a catalog version is one atomically-published manifest
  * pinning `(table → table-version)` for every member table, so a reader
  * resolving THROUGH the catalog always sees a consistent cross-table cut
  * — never table A's new commit joined against table B's old one, no
  * matter how many per-table merges land between catalog commits.
  *
  * This is the WRITE-side twin of
  * [[graft.cdc.CdcPipeline.readAllAsOf]] (which replays a retained event
  * LOG to a common seq): here consistency is a property of the published
  * table versions themselves, so it works for any writer — not just CDC
  * replays — and readers need no log access.
  *
  * Protocol: writers merge into member tables as usual (each merge is its
  * own atomic per-table commit), then `commitCurrent` publishes a catalog
  * manifest pinning the versions it observed, through the SAME
  * rename-onto-absent optimistic lock as the table commits
  * ([[Dfs.renameOntoAbsent]] — HDFS/object-store-safe). Crash anywhere
  * between table merges and the catalog publish leaves member tables
  * advanced but UNPINNED: catalog readers keep seeing the previous
  * consistent cut, and the next successful commit pins a new one. Nothing
  * is ever rolled back — table history is immutable; the catalog is a
  * consistent-cut INDEX over it.
  *
  * Vacuum discipline: a pinned table version must outlive every catalog
  * version that pins it — [[retainedVersions]] reports, per table, the
  * versions the kept catalog history still references, and
  * [[SnapshotParquetSink.vacuum]]'s `keepLast` must cover them (checked by
  * the caller; the catalog cannot see through to every table's vacuum
  * policy).
  *
  * Layout: `dir/_catalog/v%08d.manifest` (text: one `t <name> <version>`
  * line per member), member tables at `dir/<name>`.
  */
/** Resolution rule when a [[SnapshotCatalog.commit]] pins a table the
  * current catalog version already pins at a NEWER table version — the
  * same-table multi-writer seam (see the [[SnapshotCatalog.commit]]
  * scaladoc for the semantics of each mode).
  */
sealed trait PinConflict
object PinConflict {
  /** Never regress: resolve to the newer of the two pins (default). */
  case object Advance extends PinConflict
  /** Throw [[ConcurrentPinException]]; the caller re-reads and retries. */
  case object Refuse extends PinConflict
  /** Raw override — pin exactly what was asked, even if it regresses. */
  case object LastWins extends PinConflict
}

/** A [[PinConflict.Refuse]] commit observed another writer's newer pin on
  * the same member table.
  */
final class ConcurrentPinException(msg: String) extends RuntimeException(msg)

/** @param epochCarryMinVersions floor (in catalog versions) below which a
  *   writer's epoch stamp is carried forward even after its stamping
  *   version leaves retained history. Decouples replay protection from the
  *   vacuum horizon: with `vacuum(keepLast = 1)` a slow-cadence streaming
  *   writer would otherwise lose its stamp after roughly one intervening
  *   commit + vacuum cycle, and a crash replay would publish a duplicate
  *   cut. The floor bounds stamp retention in CUTS, not wall time — a
  *   writer idle for more than `epochCarryMinVersions` catalog commits
  *   past the vacuum horizon is declared dead and its stamp GC'd (one
  *   manifest line per live writer is the entire carrying cost).
  */
final class SnapshotCatalog(dir: String, epochCarryMinVersions: Int = 64) {

  /** The catalog's root directory (member tables live at `root/<name>`). */
  def root: String = dir

  private def catalogDir: HPath = new HPath(dir, "_catalog")
  private def manifestPath(v: Long): HPath =
    new HPath(catalogDir, f"v$v%08d.manifest")

  /** Published catalog cuts are immutable, so their lines cache like table
    * manifests do ([[graft.engine.CommitLock.readPublished]]): every commit
    * re-reads the base cut for pin/epoch carry-forward, every seq-aligned
    * read re-reads its cut. Commit installs the fresh body; expiry evicts.
    */
  private def cutLines(v: Long): Seq[String] =
    graft.engine.CommitLock.readPublished(manifestPath(v))

  /** Member table handle — tables live under the catalog dir by name. */
  private def validName(name: String): Unit =
    require(name.nonEmpty && name != "." && name != ".." && !name.startsWith("_") &&
      name.forall(ch => ch.isLetterOrDigit || ch == '-' || ch == '.' || ch == '_'),
      s"table name '$name' must be a plain identifier (letters/digits/-/./_, " +
        "no '_' prefix) — whitespace or '/' would corrupt the manifest line format")

  def table(name: String, nBuckets: Int = 16): SnapshotParquetSink = {
    validName(name)
    new SnapshotParquetSink(s"$dir/$name", nBuckets)
  }

  /** [[table]] that SELF-ALIGNS to the member's committed layout when one
    * exists ([[SnapshotParquetSink.forTable]] — bucket count, stats
    * columns and cluster spec adopted from the latest manifest), falling
    * back to a fresh `nBucketsIfNew` declaration for a not-yet-created
    * member. This is the handle long-lived writers (streaming
    * transactions, orchestrator workers) should open per merge: a member
    * rebucketted mid-stream re-routes the next merge instead of wedging
    * the pipeline on the stale-count guard.
    */
  def openTable(name: String, nBucketsIfNew: Int = 16): SnapshotParquetSink = {
    validName(name)
    val d = s"$dir/$name"
    if (SnapshotParquetSink.versions(d).nonEmpty) SnapshotParquetSink.forTable(d)
    else new SnapshotParquetSink(d, nBucketsIfNew)
  }

  def versions: Seq[Long] =
    Dfs.list(catalogDir)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toLong }
      .sorted

  def currentVersion: Option[Long] = versions.lastOption

  /** table → pinned table-version at catalog version `v`. */
  def pins(v: Long): Map[String, Long] =
    cutLines(v)
      .filter(_.startsWith("t "))
      .map { line =>
        val Array(_, name, tv) = line.split(" ", 3)
        name -> tv.toLong
      }.toMap

  /** Publishes a catalog version pinning `pinned`, CARRYING FORWARD every
    * other table's (and writer's epoch) pin from the current catalog
    * version — the same rule table manifests apply to untouched buckets.
    * This is what makes the catalog MULTI-WRITER: two transactions over
    * disjoint member sets interleave cuts, and every committed cut still
    * describes the WHOLE warehouse (each table at its most recently
    * pinned version), so a reader of any cut never loses sight of tables
    * another writer owns. The carry is re-read per attempt inside the
    * optimistic-lock retry, so losing a race to the other writer picks up
    * their fresh pins before republishing. Returns the published catalog
    * version. Refuses to pin a table version that is not actually
    * published (a typo'd pin would brick every reader of the new catalog
    * version). `epoch` (writerId → batchId), when present, is recorded as
    * an `e <writer> <batch> <stampedAtVersion>` manifest line — the
    * idempotence token [[commitEpoch]] reads to absorb streaming batch
    * replays; carried epoch lines keep every writer's last stamp on the
    * HEAD manifest, so [[lastEpoch]]'s newest-first scan normally stops at
    * version one. Carried stamps whose stamping version has been vacuumed
    * out of catalog history are DROPPED (not re-carried) — the epoch GC
    * that keeps the head manifest bounded when writers come and go: a
    * writer idle longer than the catalog's vacuum horizon loses replay
    * protection, exactly like a follower lagging past a table's vacuum.
    *
    * SAME-TABLE conflict seam (`onConflict`): when the current catalog
    * version already pins a table at a NEWER version than this commit
    * wants, two writers are pinning the same member — last-pin-wins would
    * silently roll the catalog view backwards over the other writer's
    * update (a lost-update class). Per-table history is linear, so the
    * newer version already contains the older one's merges; the default
    * [[PinConflict.Advance]] therefore resolves by keeping the newer pin.
    * [[PinConflict.Refuse]] instead throws [[ConcurrentPinException]] for
    * transactions that need their exact observed cut or an explicit retry.
    * [[PinConflict.LastWins]] keeps the raw override for coordinator-owned
    * flows that pin OLDER versions deliberately ([[commitAligned]]'s
    * seq-cuts, admin re-pins for catalog-level time travel).
    */
  def commit(pinned: Map[String, Long], epoch: Map[String, Long] = Map.empty,
      onConflict: PinConflict = PinConflict.Advance): Long = synchronized {
    val dbg = new graft.engine.Dbg("graft.catalog.debug", "[catalog]")
    require(pinned.nonEmpty, "a catalog commit must pin at least one table")
    pinned.keys.foreach(validName)
    epoch.keys.foreach(validName)
    // one stat per pin (not a full manifests-dir listing per member — a
    // 100-member commit paid 100 listings here), stats issued in parallel
    dbg("validate")(SnapshotCatalog.inParallel(pinned.toSeq) { case (name, tv) =>
      require(Dfs.exists(SnapshotParquetSink.manifestPath(s"$dir/$name", tv)),
        s"cannot pin $name@v$tv — that table version is not published")
    })
    graft.engine.CommitLock.retry("catalog commit", dir) { _ =>
      val retained = dbg("versions")(versions)
      val base = retained.lastOption
      val version = base.map(_ + 1L).getOrElse(0L)
      // carry-forward: other tables/writers keep their current pins; this
      // commit's entries override its own — except where the base already
      // pins a NEWER version of the same table (see onConflict above).
      // Re-evaluated per attempt: the conflict answer changes when a racing
      // writer lands between attempts.
      val basePins = base.map(pins).getOrElse(Map.empty)
      val resolved = pinned.map { case (n, tv) =>
        basePins.get(n) match {
          case Some(cur) if cur > tv => onConflict match {
            case PinConflict.Advance  => n -> cur
            case PinConflict.LastWins => n -> tv
            case PinConflict.Refuse => throw new ConcurrentPinException(
              s"concurrent pin on table '$n' at $dir: this commit observed " +
                s"v$tv but the catalog already pins v$cur — another writer " +
                "advanced the same table; re-read and retry, or commit with " +
                "PinConflict.Advance/LastWins")
          }
          case _ => n -> tv
        }
      }
      val allPins = basePins ++ resolved
      // epoch GC: carry a stamp while the version that recorded it is
      // still retained catalog history OR within the epochCarryMinVersions
      // floor (replay protection must not ride the vacuum horizon — see
      // the class scaladoc); fresh stamps record THIS version
      val oldestRetained = retained.headOption.getOrElse(0L)
      val carriedEpochs = base.map(epochStamps).getOrElse(Map.empty)
        .filter { case (_, (_, at)) =>
          at >= oldestRetained || version - at <= epochCarryMinVersions.toLong }
      val allEpochs = carriedEpochs ++
        epoch.map { case (w, b) => w -> (b, version) }
      val body = (s"version=$version" +:
        (allPins.toSeq.sortBy(_._1).map { case (n, tv) => s"t $n $tv" } ++
          allEpochs.toSeq.sortBy(_._1).map { case (w, (b, at)) => s"e $w $b $at" }))
        .mkString("", "\n", "\n")
      // same pluggable commit seam as the table manifests (LogStore pattern)
      Option.when(graft.engine.CommitLock.publishFile(manifestPath(version), body,
        Some(dbg)))(version)
    }
  }

  /** Pins each listed table at its CURRENT published version — the normal
    * end-of-transaction call after a writer finished its per-table merges.
    * `onConflict` defaults to [[PinConflict.Advance]] (see [[commit]]).
    */
  def commitCurrent(tables: Seq[String],
      onConflict: PinConflict = PinConflict.Advance): Long =
    commit(currentPins(tables), onConflict = onConflict)

  private def currentPins(tables: Seq[String]): Map[String, Long] = {
    val dbg = new graft.engine.Dbg("graft.catalog.debug", "[catalog]")
    // one manifests-dir listing per member, issued CONCURRENTLY: the
    // listings are independent metadata ops against different directories
    // and serializing them made the steady commit listing-bound (the
    // 10-member steady_commit_sec was ~2/3 sequential member metadata)
    dbg("pins")(SnapshotCatalog.inParallel(tables) { name =>
      name -> SnapshotParquetSink.versions(s"$dir/$name").lastOption
        .getOrElse(sys.error(s"table $name has no published version to pin"))
    }.toMap)
  }

  /** writerId → batchId epoch tokens recorded at catalog version `v`. */
  def epochs(v: Long): Map[String, Long] =
    epochStamps(v).map { case (w, (b, _)) => w -> b }

  /** writerId → (batchId, catalog version that stamped it). Legacy 3-token
    * `e <w> <b>` lines (pre-GC format) read as stamped at `v` itself — a
    * carried legacy line therefore always looks fresh and is never GC'd,
    * which errs on the side of keeping replay protection.
    */
  def epochStamps(v: Long): Map[String, (Long, Long)] =
    cutLines(v)
      .filter(_.startsWith("e "))
      .map { line =>
        val toks = line.split(" ")
        toks(1) -> (toks(2).toLong, if (toks.length > 3) toks(3).toLong else v)
      }.toMap

  /** The newest batchId `writerId` has committed a cut for, scanning
    * manifests newest-first (a live writer stamps every cut, so the hit is
    * normally the head manifest or very near it; the worst case is bounded
    * by catalog retention/vacuum).
    */
  def lastEpoch(writerId: String): Option[Long] =
    versions.reverseIterator.map(v => epochs(v).get(writerId))
      .collectFirst { case Some(b) => b }

  /** Streaming micro-batch transaction commit — the foreachBatch pattern:
    * merge every member table, then publish ONE cut pinning their current
    * versions, stamped with (writerId, batchId). IDEMPOTENT under Spark's
    * crash replay: a batch whose id is ≤ the writer's last recorded epoch
    * already cut the catalog before the crash, so the replay returns None
    * and publishes nothing — no duplicate catalog versions, and readers
    * keep seeing exactly one consistent cut per source micro-batch.
    * (Replayed MERGES are absorbed by the tables' own seq idempotence;
    * the cut they re-publish under new table versions stays unpinned.)
    *
    * The epoch check is check-then-commit, serialized per writerId by the
    * streaming checkpoint's single-owner contract — TWO live drivers
    * sharing one writerId (a zombie plus its replacement) could each
    * publish the same epoch; both cuts pin consistent state, but readers
    * would see a duplicate version. One checkpoint = one writerId.
    */
  def commitEpoch(tables: Seq[String], writerId: String, batchId: Long): Option[Long] = {
    validName(writerId)
    lastEpoch(writerId) match {
      case Some(last) if last >= batchId => None // replayed epoch — already cut
      case _ => Some(commit(currentPins(tables), Map(writerId -> batchId)))
    }
  }

  /** SEQ-ALIGNED catalog commit for independently-streaming CDC replicas:
    * pins, per table, the newest version whose recorded applied-head seq
    * (`maxseq=` in the table manifest) is ≤ `cut` — a cross-table cut at a
    * common log position, built from MANIFEST METADATA ONLY (no data scan,
    * no retained-log replay — contrast
    * [[graft.cdc.CdcPipeline.readAllAsOf]], which replays the log).
    *
    * `cut` must be a SOURCE position every member stream has fully
    * consumed (a micro-batch boundary of the shared multiplexed feed — the
    * [[graft.streaming.CdcOrchestrator]] fan-out shape; the coordinator
    * knows it, the sinks cannot derive it: a table's own recorded maxes
    * are its FILTERED events' maxes, which differ per table for the same
    * boundary, so min-of-heads auto-alignment would misalign). Under that
    * contract the pinned version's state equals `stateAsOf(cut)` for every
    * table: the table's events in `(maxseq_pinned, cut]` would have to
    * arrive in a later batch, and later batches of a seq-ordered source
    * start above the consumed boundary. Returns the catalog version.
    */
  def commitAligned(tables: Seq[String], cut: Long): Long = {
    require(tables.nonEmpty, "commitAligned needs at least one table")
    // per-member history walk (listing + maxseq reads), members in parallel
    val pinned = SnapshotCatalog.inParallel(tables) { name =>
      val vs = SnapshotParquetSink.versions(s"$dir/$name")
      require(vs.nonEmpty, s"table $name has no published version")
      val withSeq = vs.flatMap(v =>
        SnapshotParquetSink.manifestMaxSeq(s"$dir/$name", v).map(v -> _))
      require(withSeq.nonEmpty,
        s"table $name records no maxseq in any manifest — aligned commits " +
          "need the applied-head metadata (merge again with a current build)")
      val ok = withSeq.filter(_._2 <= cut)
      require(ok.nonEmpty,
        s"table $name has no version at or below cut $cut (earliest recorded " +
          s"head is ${withSeq.head._2}) — retain more history or raise the cut")
      name -> ok.last._1
    }.toMap
    // coordinator-owned: a seq-cut legitimately pins BELOW another writer's
    // newer pin (the cut is a log position, not "latest") — raw override
    commit(pinned, onConflict = PinConflict.LastWins)
  }

  /** Every member table AS OF catalog version `v` — the consistent
    * cross-table read. Each frame is the table's pinned snapshot
    * ([[SnapshotParquetSink.readAt]] — manifest-pruned, lazily planned).
    */
  def readAllAt(spark: SparkSession, v: Long,
      mode: DeleteMode = DeleteMode.Hard): Map[String, DataFrame] =
    pins(v).map { case (name, tv) =>
      name -> new SnapshotParquetSink(s"$dir/$name").readAt(spark, tv, mode)
    }

  def readAll(spark: SparkSession,
      mode: DeleteMode = DeleteMode.Hard): Map[String, DataFrame] =
    readAllAt(spark,
      currentVersion.getOrElse(sys.error(s"no catalog version published at $dir")), mode)

  /** Per table, the table versions still referenced by the newest
    * `keepLast` catalog versions — the set a table vacuum must retain.
    */
  def retainedVersions(keepLast: Int = 1): Map[String, Set[Long]] = {
    require(keepLast >= 1, "must keep at least the current catalog version")
    val kept = versions.takeRight(keepLast)
    kept.flatMap(v => pins(v).toSeq)
      .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).toSet }
  }

  /** Warehouse-wide retention in ONE call — the ops loop a deployment
    * otherwise hand-assembles from [[vacuum]] + [[retainedVersions]] +
    * per-table [[SnapshotParquetSink.vacuumKeeping]]: expire catalog
    * history to the newest `keepLast` cuts, then vacuum EVERY member table
    * the surviving cuts reference down to exactly the pinned versions
    * (plus each table's own head — an advanced-but-unpinned commit must
    * stay readable for the next cut). Ordering matters and is enforced
    * here: the catalog expires FIRST, so a table version can never be
    * deleted while a surviving cut still pins it — the vacuum-discipline
    * invariant from the class scaladoc, now mechanized. Tables present on
    * disk but never pinned by surviving history are left untouched (they
    * may belong to a writer that has not cut yet). Returns per-table
    * (droppedManifests, deletedOrphanRoots) plus the catalog's own drop
    * count under the pseudo-name "_catalog".
    */
  def vacuumAll(keepLast: Int = 1,
      minOrphanAgeMs: Long = 3600000L): Map[String, (Int, Int)] = synchronized {
    val catDropped = vacuum(keepLast, minOrphanAgeMs)
    // pin-set from EVERY cut surviving the expire, RE-LISTED after it: a
    // concurrent writer may publish a new cut between the expire and this
    // point, making keepLast+1 survivors — `retainedVersions(keepLast)`
    // would slide past the oldest surviving cut and strand the table
    // versions it still pins. (A cut landing after even this listing is
    // covered by the per-table manifest age floor — fresh versions are
    // never dropped within the `minOrphanAgeMs` window.)
    val survivors = versions
    val pinnedAll = survivors.flatMap(v => pins(v).toSeq)
      .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).toSet }
    val perTable = pinnedAll.map { case (name, pinned) =>
      name -> SnapshotParquetSink.forTable(s"$dir/$name")
        .vacuumKeeping(pinned, minOrphanAgeMs)
    }
    perTable + ("_catalog" -> ((catDropped, 0)))
  }

  /** Expires catalog history: keeps the newest `keepLast` manifests plus
    * aged `.tmp-*` leftovers from crashed commits. Member-table vacuums are
    * separate ([[retainedVersions]] tells them what to keep).
    */
  def vacuum(keepLast: Int = 1, minOrphanAgeMs: Long = 3600000L): Int = synchronized {
    require(keepLast >= 1, "must keep at least the current catalog version")
    val vs = versions
    val drop = vs.dropRight(keepLast)
    drop.foreach { v =>
      Dfs.delete(manifestPath(v))
      graft.engine.CommitLock.evictPublished(manifestPath(v))
    }
    graft.engine.CommitLock.sweepStaged(catalogDir, minOrphanAgeMs)
    drop.size
  }
}

object SnapshotCatalog {
  /** Per-member metadata ops (listings, stats, maxseq reads) mapped
    * CONCURRENTLY, order-preserving: each touches a different directory,
    * so a commit over N members costs ~one round-trip instead of N —
    * [[SnapshotParquetSink.inParallel]] (the sidecar-write pool), shared
    * rather than re-implemented. Hadoop metadata calls are thread-safe.
    */
  private[graft] def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] =
    SnapshotParquetSink.inParallel(items)(f)
}
