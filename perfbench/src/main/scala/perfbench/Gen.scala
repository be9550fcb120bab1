package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every input is a file written here, in plain
  * Scala, before the Spark session exists: the program under test only ever
  * sees the files, and the same seed gives byte-identical files. Each
  * generator also keeps the ground truth its workload checks against.
  */
object Gen {

  /** Stateless 64-bit mix (SplitMix64 finalizer) — row values are pure
    * functions of (seed, table, key, version), so ground truth never has to
    * store a row, only the version that last wrote it.
    */
  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def nonNeg(h: Long, n: Long): Long = java.lang.Math.floorMod(h, n)

  def rng(seed: Long, salt: Long): SplittableRandom = new SplittableRandom(mix(seed, salt))

  /** Zipf(s) over ranks 0..n-1, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      var acc = 0.0
      val c = w.map { x => acc += x; acc }
      c.map(_ / acc)
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  def writeLines(f: File, lines: IterableOnce[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try lines.iterator.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  /** Wire form of a timestamp column, identical to Spark's string cast of
    * the parsed value in a UTC session (no fractional seconds).
    */
  def wireTs(epochSec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(epochSec, 0, java.time.ZoneOffset.UTC).format(tsFmt)

  val BaseEpoch: Long = 1704067200L // 2024-01-01T00:00:00Z
}

/** Multiplexed Debezium-style CDC events over the reference's table shape:
  * `shop.orders` arrives sharded as `orders_part_{0..4}`, plus `customers`,
  * `line_items`, and an `audit_log` table that no spec covers. Bootstrap
  * rows are insert events. Every batch carries a volume of `line_items`
  * events, three `customers` changes and ~5% audit events. Each round of
  * [[CdcGen.BatchesPerRound]] batches opens with a bulk change to `orders`,
  * enough events to touch every bucket, and goes on with micro changes of
  * [[CdcGen.MicroOrders]] events, too few keys to reach half of the buckets.
  * Per table the mix is ~70% updates, 25% inserts and 5% deletes, with
  * update/delete keys Zipf-skewed (s = 1.1).
  */
final class CdcGen(seed: Long, orders: Int, customers: Int, lineItems: Int,
    batchLineItems: Int, nBatches: Int) {
  import CdcGen._
  import Gen._

  private val n0: Array[Int] = Array(orders, customers, lineItems, 1)
  private val zipfs = n0.map(n => new Zipf(n, 1.1))

  /** One event, compactly: table index, key, seq, delete flag. */
  final case class Ev(t: Int, key: Long, seq: Long, del: Boolean)

  val bootstrap: Array[Ev] = {
    var seq = 0L
    (0 to 2).flatMap { t =>
      (0 until n0(t)).map { k => seq += 1; Ev(t, k.toLong, seq, del = false) }
    }.toArray
  }

  val batches: Array[Array[Ev]] = {
    val r = rng(seed, 11)
    val nextKey = n0.map(_.toLong)
    var seq = bootstrap.length.toLong
    Array.tabulate(nBatches) { b =>
      val perTable = Array(
        if (isBulk(b)) math.max(200, orders / 20) else MicroOrders,
        3,
        batchLineItems,
        math.max(1, batchLineItems / 20))
      val tabs = perTable.zipWithIndex.flatMap { case (n, t) => Array.fill(n)(t) }
      for (i <- tabs.indices.reverse) {
        val j = r.nextInt(i + 1); val x = tabs(i); tabs(i) = tabs(j); tabs(j) = x
      }
      tabs.map { t =>
        val op = r.nextDouble()
        seq += 1
        def zipfKey: Long = nonNeg(zipfs(t).sample(r).toLong * 2654435761L, n0(t).toLong)
        if (op < 0.70) Ev(t, zipfKey, seq, del = false)
        else if (op < 0.95) { val k = nextKey(t); nextKey(t) += 1; Ev(t, k, seq, del = false) }
        else Ev(t, zipfKey, seq, del = true)
      }
    }
  }

  def eventLine(e: Ev): String = {
    val tab = tables(e.t)
    val tableName =
      if (tab.parts > 0) s"${tab.name}_part_${nonNeg(e.key, tab.parts.toLong)}" else tab.name
    val row =
      if (e.del) s""""${tab.pk}":"${e.key}""""
      else tab.cols.zip(wireRow(e.t, e.key, e.seq)).map { case ((c, _), v) => s""""$c":"$v"""" }
        .mkString(",")
    s"""{"seq":${e.seq},"data":{"database_name":"shop","table_name":"$tableName",""" +
      s""""primary_key":"${e.key}","metadata":{"is_delete":${e.del}},"row":{$row}},""" +
      s""""ts":"${wireTs(BaseEpoch + 86400L * 31 + e.seq).replace(' ', 'T')}Z"}"""
  }

  /** Column values as they travel on the wire, in spec column order. */
  def wireRow(t: Int, key: Long, seq: Long): Seq[String] =
    tables(t).cols.zipWithIndex.map { case ((c, udt), i) =>
      val h = mix(seed, t.toLong, key, seq, i.toLong)
      if (c == tables(t).pk) key.toString
      else if (c == "customer_id") nonNeg(h, customers.toLong).toString
      else udt match {
        case "int" => nonNeg(h, 10000L).toString
        case "numeric" => java.lang.Double.toString(nonNeg(h, 1000000L) / 100.0)
        case "varchar" => s"${c}_${nonNeg(h, 500L)}"
        case "timestamp" => wireTs(BaseEpoch + nonNeg(h, 86400L * 30))
      }
    }

  /** Canonical row (primary key, then every spec column), the form both
    * the ground truth and the table check hash.
    */
  def canonical(t: Int, key: Long, seq: Long): String =
    (key.toString +: wireRow(t, key, seq)).mkString("|")

  def write(dir: File): Unit = {
    Gen.writeLines(new File(dir, "bootstrap.jsonl"), bootstrap.iterator.map(eventLine))
    batches.zipWithIndex.foreach { case (b, i) =>
      Gen.writeLines(new File(dir, f"batch_$i%05d.jsonl"), b.iterator.map(eventLine))
    }
  }

  /** Live state per table: key → seq of its last write, negated (−seq − 1)
    * when that write was a delete.
    */
  final class State {
    val tabs: Array[mutable.LongMap[Long]] = tables.map(_ => mutable.LongMap.empty[Long]).toArray
    def apply(evs: Array[Ev]): Unit = evs.foreach { e =>
      tabs(e.t)(e.key) = if (e.del) -e.seq - 1 else e.seq
    }
    def live(t: Int, key: Long): Option[Long] = tabs(t).get(key).filter(_ >= 0)
    /** Per covered table: live row count and the sum of row hashes. */
    def summary: Map[String, (Long, Long)] =
      tables.indices.filter(tables(_).covered).map { t =>
        var n = 0L; var h = 0L
        tabs(t).foreach { case (key, s) =>
          if (s >= 0) { n += 1; h += rowHash(canonical(t, key, s)) }
        }
        tables(t).name -> (n, h)
      }.toMap
    /** UTF-8 bytes of every live row's canonical text, over covered tables. */
    def rawBytes: Long =
      tables.indices.filter(tables(_).covered).map { t =>
        tabs(t).iterator.collect { case (key, s) if s >= 0 =>
          canonical(t, key, s).getBytes(UTF_8).length.toLong }.sum
      }.sum
  }

  /** The state after the bootstrap. */
  def initialState: State = {
    val st = new State
    st(bootstrap)
    st
  }
}

object CdcGen {
  final case class Tab(name: String, parts: Int, pk: String, cols: Seq[(String, String)],
      covered: Boolean = true)

  val Orders = 0
  val Customers = 1

  /** `orders` events in a micro batch: fewer keys than half of the table's
    * 16 buckets, so the views' bulk gates (half the buckets changed) never
    * fire on it.
    */
  val MicroOrders = 6

  /** Batches per round: one bulk change to `orders`, then micro ones. */
  val BatchesPerRound = 3

  /** Whether batch `b` is a bulk change to `orders`. */
  def isBulk(b: Int): Boolean = b % BatchesPerRound == 0

  val tables: Seq[Tab] = Seq(
    Tab("orders", 5, "id", Seq("id" -> "int", "customer_id" -> "int", "qty" -> "int",
      "amount" -> "numeric", "status" -> "varchar", "updated" -> "timestamp")),
    Tab("customers", 0, "customer_id", Seq("customer_id" -> "int", "name" -> "varchar",
      "tier" -> "int")),
    Tab("line_items", 0, "id", Seq("id" -> "int", "order_id" -> "int", "sku" -> "varchar",
      "price" -> "numeric", "qty" -> "int")),
    Tab("audit_log", 0, "id", Seq("id" -> "int", "actor" -> "varchar", "action" -> "varchar"),
      covered = false))

  /** Every field the multiplexed `row` struct can carry. */
  val rowFields: Seq[String] = tables.flatMap(_.cols.map(_._1)).distinct

  /** Order-independent row hash term: CRC-32 of the canonical row's UTF-8
    * bytes. Spark's `crc32` computes the same value, so the table side sums
    * it without collecting rows.
    */
  def rowHash(canonical: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(canonical.getBytes(UTF_8))
    c.getValue
  }
}

/** Text corpus with planted near-duplicate clusters (after the evaluation
  * set-up of Distributed Streaming Set Similarity Join, ICDE 2020): a Zipf
  * vocabulary, log-normal document lengths, and ~30% of documents in
  * clusters of 2–5 whose pairwise Jaccard spans 0.5–0.95. Each shard is an
  * independent corpus; ids are global.
  */
final class CorpusGen(seed: Long, docsPerShard: Int, nShards: Int) {
  import Gen._

  val vocab = 30000
  private val zipf = new Zipf(vocab, 1.05)

  final case class Shard(docs: Array[(Long, String)], cluster: Map[Long, Int],
      pairs: Array[(Long, Long, Double)])

  private def jaccard(a: Set[Int], b: Set[Int]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  private def doc(r: SplittableRandom): Array[Int] = {
    val len = math.min(300, math.max(20, math.exp(math.log(60.0) + 0.5 * gauss(r)).toInt))
    val seen = mutable.LinkedHashSet.empty[Int]
    while (seen.size < len) seen += zipf.sample(r)
    seen.toArray
  }

  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** Replace `n(1−J)/(1+J)` tokens of `base` so the token-set Jaccard to
    * the base lands near `j`; the exact value is recomputed afterwards.
    */
  private def variant(base: Array[Int], j: Double, r: SplittableRandom): Array[Int] = {
    val n = base.length
    val k = math.max(1, math.round(n * (1 - j) / (1 + j)).toInt)
    val out = mutable.ArrayBuffer.from(base)
    (0 until k).foreach(_ => out.remove(r.nextInt(out.size)))
    val have = mutable.HashSet.from(base)
    (0 until k).foreach { _ =>
      var t = zipf.sample(r)
      while (have(t)) t = zipf.sample(r)
      have += t
      out.insert(r.nextInt(out.size + 1), t)
    }
    out.toArray
  }

  val shards: Array[Shard] = Array.tabulate(nShards) { s =>
    val r = rng(seed, 31L + s)
    val groups = mutable.ArrayBuffer.empty[Array[Array[Int]]]
    var planted = 0
    while (planted < docsPerShard * 3 / 10) {
      val size = 2 + r.nextInt(4)
      val base = doc(r)
      groups += (base +: Array.fill(size - 1)(variant(base, 0.5 + 0.45 * r.nextDouble(), r)))
      planted += size
    }
    while (planted < docsPerShard) { groups += Array(doc(r)); planted += 1 }
    // shuffle document order so cluster members do not sit on adjacent ids
    val flat = groups.zipWithIndex.flatMap { case (g, gi) => g.map(d => (gi, d)) }.toArray
    for (i <- flat.indices.reverse) {
      val j = r.nextInt(i + 1); val t = flat(i); flat(i) = flat(j); flat(j) = t
    }
    val base = s.toLong * docsPerShard
    val docs = flat.zipWithIndex.map { case ((_, toks), i) =>
      (base + i, toks.map(t => s"w$t").mkString(" "))
    }
    val byGroup = flat.zipWithIndex.groupBy(_._1._1).values.filter(_.length > 1)
    val cluster = byGroup.zipWithIndex.flatMap { case (members, ci) =>
      members.map { case (_, i) => (base + i) -> ci }
    }.toMap
    val pairs = byGroup.toArray.flatMap { members =>
      val sets = members.map { case ((_, toks), i) => (base + i, toks.toSet) }
      for {
        a <- sets.indices; b <- sets.indices if a < b
      } yield {
        val (ia, sa) = sets(a); val (ib, sb) = sets(b)
        (math.min(ia, ib), math.max(ia, ib), jaccard(sa, sb))
      }
    }
    Shard(docs, cluster, pairs)
  }

  def write(dir: File): Unit = shards.zipWithIndex.foreach { case (sh, i) =>
    Gen.writeLines(new File(dir, f"shard_$i%05d.jsonl"),
      sh.docs.iterator.map { case (id, text) => s"""{"doc_id":$id,"text":"$text"}""" })
  }
}

/** 64-d embeddings with planted neighbours: every query has `planted`
  * corpus vectors that are perturbations of it; the rest of the corpus is
  * isotropic noise.
  */
final class EmbeddingGen(seed: Long, corpusSize: Int, nQueries: Int, planted: Int = 10) {
  import Gen._
  val dim = 64

  private def unit(r: SplittableRandom): Array[Float] = {
    val v = Array.fill(dim)(gaussF(r))
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }
  private def gaussF(r: SplittableRandom): Float =
    (math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())).toFloat

  val queries: Array[(Long, Array[Float])] = {
    val r = rng(seed, 41)
    Array.tabulate(nQueries)(i => (i.toLong, unit(r)))
  }

  /** Corpus: the planted neighbours of every query first, then noise. */
  val corpus: Array[(Long, Array[Float])] = {
    val r = rng(seed, 42)
    val near = queries.flatMap { case (_, q) =>
      Array.fill(planted) {
        // cosine ≈ 0.9 to the query: far above any noise vector, yet
        // spread enough to straddle IVF cell borders
        q.map(x => x + 0.5f * gaussF(r) / math.sqrt(dim).toFloat)
      }
    }
    val noise = Array.fill(math.max(0, corpusSize - near.length))(unit(r))
    (near ++ noise).zipWithIndex.map { case (v, i) => (i.toLong, v) }
  }

  /** Corpus ids planted next to each query. */
  def plantedOf(qid: Long): Seq[Long] = (qid * planted until (qid + 1) * planted)

  private def line(id: Long, v: Array[Float]): String =
    s"""{"vec_id":$id,"embedding":[${v.map(java.lang.Float.toString).mkString(",")}]}"""

  def write(dir: File): Unit = {
    Gen.writeLines(new File(dir, "emb_corpus.jsonl"), corpus.iterator.map { case (i, v) => line(i, v) })
    Gen.writeLines(new File(dir, "emb_queries.jsonl"), queries.iterator.map { case (i, v) => line(i, v) })
  }
}
