package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Tables
import graft.llm.{Dedup, Similarity, TextAnalysis}
import graft.multimodal.Multimodal

/** LLM-data-pipeline operator surface (north star; SURVEY §2.3 Q80–Q85 plus
  * the extended dedup/similarity/text-analysis set). Engine side runs the
  * graft.llm library; oracles are DuckDB SQL generated from the SAME
  * constants (hash parameters, profiles, stopwords) so both sides compute
  * the identical function.
  */
object Llm {

  /** DuckDB: embeddings as double lists (float accumulation would diverge). */
  private val V =
    """WITH v AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings)""".stripMargin

  private val cosExpr =
    "list_dot_product(ve, qe) / (sqrt(list_dot_product(ve, ve)) * sqrt(list_dot_product(qe, qe)))"

  /** DuckDB: distinct (doc_id, tok) pairs under an id cap. */
  private def toksCte(cap: Int) =
    s"""t AS (SELECT DISTINCT doc_id, tok FROM (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE doc_id < $cap) x)""".stripMargin

  /** DuckDB: dictionary token codes (dense rank over sorted vocabulary) —
    * same construction as Dedup.dictionaryCodes.
    */
  private val dictCte =
    """d AS (SELECT tok, CAST(dense_rank() OVER (ORDER BY tok) AS BIGINT) AS code
      |      FROM (SELECT DISTINCT tok FROM t) vo),
      |tc AS (SELECT t.doc_id, d.code FROM t JOIN d ON t.tok = d.tok)""".stripMargin

  /** DuckDB SimHash fingerprint expression over token codes — shared by q87
    * and q87b so the majority rule can never diverge between their oracles.
    * 64-bit terms (mirrors Dedup.simhash64): bit j
    * projects the token code through its own universal hash — plain BIGINT
    * arithmetic both engines compute identically (products < 2^55). The
    * j = 63 term is BIGINT min; DuckDB sums in HUGEINT and the CAST back to
    * BIGINT is exact because the total is a 64-bit two's-complement pattern.
    */
  private val simhashFpTerms: String = (0 until Dedup.SimBits).map(j =>
    s"(CASE WHEN SUM(CASE WHEN ((${Dedup.hashA(j)} * code + ${Dedup.hashB(j)}) % ${Dedup.P}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
    .mkString(" + ")

  /** DuckDB replay of `KMeans.train(embeddings, k=8, iters=2)` — the CTE
    * chain (q quantized, c0 init, a1..a3 assignments, c1/c2 Lloyd means)
    * shared by q89d and q89e so the clustering can never diverge between
    * their oracles. Ends at `a3` (the final assignment: vec_id, cell, d2);
    * callers append their own CTEs/SELECT.
    */
  private val kmeansChain: String = {
    val dist = "CAST(list_dot_product(qv, qv) AS BIGINT) " +
      "- 2 * CAST(list_dot_product(qv, cv) AS BIGINT) " +
      "+ CAST(list_dot_product(cv, cv) AS BIGINT)"
    def assignCte(csrc: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, cell, d2 FROM (
         |    SELECT q.vec_id, $csrc.cell, $dist AS d2,
         |           row_number() OVER (PARTITION BY q.vec_id
         |                              ORDER BY $dist ASC, $csrc.cell ASC) AS rn
         |    FROM q CROSS JOIN $csrc) t WHERE rn = 1)""".stripMargin
    def lloydCte(asrc: String, out: String) =
      s"""e$out AS (SELECT $asrc.cell, unnest(qv) AS v, unnest(range(1, len(qv)+1)) AS pos
         |       FROM q JOIN $asrc USING (vec_id)),
         |m$out AS (SELECT cell, pos, SUM(v) AS s, count(*) AS n FROM e$out GROUP BY 1, 2),
         |$out AS (SELECT cell, list(CAST((s - ((s % n + n) % n)) / n AS BIGINT) ORDER BY pos) AS cv
         |       FROM m$out GROUP BY cell)""".stripMargin
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 4096) AS BIGINT)) AS qv
       |  FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, qv AS cv
       |       FROM (SELECT * FROM q ORDER BY vec_id LIMIT 8) i),
       |${assignCte("c0", "a1")},
       |${lloydCte("a1", "c1")},
       |${assignCte("c1", "a2")},
       |${lloydCte("a2", "c2")},
       |${assignCte("c2", "a3")}""".stripMargin
  }

  private def jaccardTail(threshold: Double) =
    s"""s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
       |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT i, j, CAST(CAST(c / (sa.n + sb.n - c) AS DECIMAL(38,4)) AS STRING) AS jaccard
       |FROM p JOIN s sa ON sa.doc_id = i JOIN s sb ON sb.doc_id = j
       |WHERE c / (sa.n + sb.n - c) >= $threshold""".stripMargin

  val all: Seq[QDef] = Seq(

    // ------------------------------------------------------------ dedup
    QDef.shared(
      "q80_exact_dedup",
      """SELECT count(*) AS cnt, count(DISTINCT text) AS distinct_text,
        |       coalesce((SELECT CAST(min(doc_id) AS BIGINT)
        |                 FROM (SELECT text, min(doc_id) AS doc_id FROM documents
        |                       GROUP BY text HAVING count(*) > 1) x), -1) AS min_dup_doc
        |FROM documents""".stripMargin),

    QDef.df("q81_jaccard_pairs",
      s"WITH ${toksCte(50)},\n${jaccardTail(0.5)}") { (s, dir) =>
      Dedup.jaccardPairs(Tables.table(s, dir, "documents").filter(col("doc_id") < 50), 0.5)
        .select(col("i"), col("j"),
          col("jaccard").cast("decimal(38,4)").cast("string").as("jaccard"))
    },

    // EXACT Jaccard-threshold join via prefix filtering (PPJoin) — the
    // zero-recall-loss twin of q86's LSH: candidates from the rare-first
    // prefix-token equi-join, verified by exact intersection, kept iff
    // inter·2 >= 1·union (θ = 1/2). All integers; the oracle replays the
    // same canonical order, prefix bound, and verification.
    QDef.df("q81b_prefix_join",
      s"""WITH ${toksCte(120)},
         |dfc AS (SELECT tok, count(*) AS df FROM t GROUP BY tok),
         |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
         |rk AS (SELECT t.doc_id, t.tok,
         |         row_number() OVER (PARTITION BY t.doc_id ORDER BY dfc.df, t.tok) AS rnk
         |       FROM t JOIN dfc USING (tok)),
         |pf AS (SELECT rk.doc_id, rk.tok FROM rk JOIN s USING (doc_id)
         |       WHERE rk.rnk <= s.n - ((s.n * 1 + 2 - 1) // 2) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |         FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
         |ix AS (SELECT c.i, c.j, count(*) AS inter
         |       FROM cand c
         |       JOIN t ta ON ta.doc_id = c.i
         |       JOIN t tb ON tb.doc_id = c.j AND tb.tok = ta.tok
         |       GROUP BY c.i, c.j)
         |SELECT ix.i, ix.j, CAST(ix.inter AS BIGINT) AS inter,
         |       CAST(sa.n + sb.n - ix.inter AS BIGINT) AS un
         |FROM ix JOIN s sa ON sa.doc_id = ix.i JOIN s sb ON sb.doc_id = ix.j
         |WHERE ix.inter * 2 >= 1 * (sa.n + sb.n - ix.inter)""".stripMargin) { (s, dir) =>
      Dedup.prefixJaccardJoin(
        Tables.table(s, dir, "documents").filter(col("doc_id") < 120),
        num = 1L, den = 2L)
    },

    QDef.df("q86_minhash_lsh", {
      val params = (0 until Dedup.NumHashes)
        .map(i => s"(${i}, ${Dedup.hashA(i)}, ${Dedup.hashB(i)})").mkString(", ")
      val pow = Dedup.BandPow
      s"""WITH ${toksCte(50)},
         |$dictCte,
         |h AS (SELECT doc_id, p.i AS hi, min((p.a * code + p.b) % ${Dedup.P}) AS mh
         |      FROM tc, (VALUES $params) AS p(i, a, b) GROUP BY doc_id, p.i),
         |bs AS (SELECT doc_id, hi // ${Dedup.RowsPerBand} AS band,
         |              SUM(mh * CASE hi % 4 WHEN 0 THEN ${pow(0)} WHEN 1 THEN ${pow(1)}
         |                       WHEN 2 THEN ${pow(2)} ELSE ${pow(3)} END) AS bkey
         |       FROM h GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |         FROM bs a JOIN bs b ON a.band = b.band AND a.bkey = b.bkey
         |                            AND a.doc_id < b.doc_id)
         |SELECT c.i, c.j,
         |       CAST(CAST(SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END) / ${Dedup.NumHashes}.0
         |            AS DECIMAL(38,4)) AS STRING) AS est
         |FROM cand c
         |JOIN h ha ON ha.doc_id = c.i
         |JOIN h hb ON hb.doc_id = c.j AND hb.hi = ha.hi
         |GROUP BY c.i, c.j""".stripMargin
    }) { (s, dir) =>
      Dedup.minhashLsh(
          Tables.table(s, dir, "documents").filter(col("doc_id") < 50),
          dictionary = true) { est =>
        // candidate pairs are small by construction — materialize inside
        // the managed scope so the vocabulary cache is released
        QDef.localized(s, est.select(col("i"), col("j"),
          col("est").cast("decimal(38,4)").cast("string").as("est")))
      }
    },

    // Incremental admission (the crawl-ingest shape): docs < 30 are the
    // standing corpus whose band STORE is already materialized; docs 30–49
    // arrive as a batch. Candidates = new-vs-store band joins + new-vs-new
    // — exactly the full-corpus LSH candidates restricted to pairs touching
    // a new doc (pairs order i<j, and new ids are the high range, so that
    // restriction is j >= 30 — the oracle replays q86's pipeline with that
    // one filter). The standing corpus is never re-signed.
    QDef.df("q86b_incremental_lsh", {
      val params = (0 until Dedup.NumHashes)
        .map(i => s"(${i}, ${Dedup.hashA(i)}, ${Dedup.hashB(i)})").mkString(", ")
      val pow = Dedup.BandPow
      s"""WITH ${toksCte(50)},
         |$dictCte,
         |h AS (SELECT doc_id, p.i AS hi, min((p.a * code + p.b) % ${Dedup.P}) AS mh
         |      FROM tc, (VALUES $params) AS p(i, a, b) GROUP BY doc_id, p.i),
         |bs AS (SELECT doc_id, hi // ${Dedup.RowsPerBand} AS band,
         |              SUM(mh * CASE hi % 4 WHEN 0 THEN ${pow(0)} WHEN 1 THEN ${pow(1)}
         |                       WHEN 2 THEN ${pow(2)} ELSE ${pow(3)} END) AS bkey
         |       FROM h GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |         FROM bs a JOIN bs b ON a.band = b.band AND a.bkey = b.bkey
         |                            AND a.doc_id < b.doc_id
         |         WHERE b.doc_id >= 30)
         |SELECT c.i, c.j,
         |       CAST(CAST(SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END) / ${Dedup.NumHashes}.0
         |            AS DECIMAL(38,4)) AS STRING) AS est
         |FROM cand c
         |JOIN h ha ON ha.doc_id = c.i
         |JOIN h hb ON hb.doc_id = c.j AND hb.hi = ha.hi
         |GROUP BY c.i, c.j""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.table(s, dir, "documents").filter(col("doc_id") < 50)
      Dedup.withDictionaryCodes(Dedup.tokenSets(docs)) { codes =>
        // sig feeds both candidate sides AND both estimate join sides —
        // four replays of the corpus lineage without the small-frame cache
        Dedup.withCachedSmall(graft.llm.MinHashAggregator.signatures(codes)) { sig =>
          val bands = Dedup.bandKeys(sig)
          val cand = Dedup.incrementalLshCandidates(
            bands.filter(col("doc_id") >= 30), bands.filter(col("doc_id") < 30))
          QDef.localized(s, Dedup.minhashEstimates(sig, cand)
            .select(col("i"), col("j"),
              col("est").cast("decimal(38,4)").cast("string").as("est")))
        }
      }
    },

    // LSH estimator calibration (the "can I trust my sketch" audit): per
    // candidate pair, the integer minhash agreement count next to the
    // EXACT token-set intersection/union, rolled up per agreement bucket.
    // sum_inter/sum_union per bucket is the measured est→true-Jaccard
    // curve a pipeline reads its dedup threshold off. All integers; the
    // oracle replays the hash family AND the exact intersection.
    QDef.df("q86c_lsh_calibration", {
      val params = (0 until Dedup.NumHashes)
        .map(i => s"(${i}, ${Dedup.hashA(i)}, ${Dedup.hashB(i)})").mkString(", ")
      val pow = Dedup.BandPow
      s"""WITH ${toksCte(80)},
         |$dictCte,
         |h AS (SELECT doc_id, p.i AS hi, min((p.a * code + p.b) % ${Dedup.P}) AS mh
         |      FROM tc, (VALUES $params) AS p(i, a, b) GROUP BY doc_id, p.i),
         |bs AS (SELECT doc_id, hi // ${Dedup.RowsPerBand} AS band,
         |              SUM(mh * CASE hi % 4 WHEN 0 THEN ${pow(0)} WHEN 1 THEN ${pow(1)}
         |                       WHEN 2 THEN ${pow(2)} ELSE ${pow(3)} END) AS bkey
         |       FROM h GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |         FROM bs a JOIN bs b ON a.band = b.band AND a.bkey = b.bkey
         |                            AND a.doc_id < b.doc_id),
         |est AS (SELECT c.i, c.j,
         |               CAST(SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END) AS BIGINT) AS agree
         |        FROM cand c
         |        JOIN h ha ON ha.doc_id = c.i
         |        JOIN h hb ON hb.doc_id = c.j AND hb.hi = ha.hi
         |        GROUP BY c.i, c.j),
         |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
         |ix AS (SELECT e.i, e.j, e.agree, count(tb.tok) AS inter
         |       FROM est e
         |       JOIN t ta ON ta.doc_id = e.i
         |       LEFT JOIN t tb ON tb.doc_id = e.j AND tb.tok = ta.tok
         |       GROUP BY e.i, e.j, e.agree),
         |f AS (SELECT ix.agree, ix.inter, sa.n + sb.n - ix.inter AS un
         |      FROM ix JOIN s sa ON sa.doc_id = ix.i JOIN s sb ON sb.doc_id = ix.j)
         |SELECT agree, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(SUM(inter) AS BIGINT) AS sum_inter,
         |       CAST(SUM(un) AS BIGINT) AS sum_union
         |FROM f GROUP BY agree""".stripMargin
    }) { (s, dir) =>
      Dedup.lshCalibration(
          Tables.table(s, dir, "documents").filter(col("doc_id") < 80)) { curve =>
        QDef.localized(s, curve) // ≤ NumHashes+1 buckets by construction
      }
    },

    QDef.df("q87_simhash", {
      s"""WITH ${toksCte(100)},
         |$dictCte
         |SELECT doc_id, CAST($simhashFpTerms AS BIGINT) AS fp FROM tc GROUP BY doc_id""".stripMargin
    }) { (s, dir) =>
      val toks = Dedup.tokenSets(Tables.table(s, dir, "documents").filter(col("doc_id") < 100))
      Dedup.withDictionaryCodes(toks) { codes =>
        QDef.localized(s, Dedup.simhash64(codes)) // ≤ 100 rows by construction
      }
    },

    // SimHash near-dup pairs: exact pigeonhole banding engine-side (equi-join
    // on fingerprint bands, zero recall loss), plain pairwise oracle-side
    // (small n). Same dictionary fingerprints as q87.
    QDef.df("q87b_simhash_neardup", {
      s"""WITH ${toksCte(100)},
         |$dictCte,
         |fp AS (SELECT doc_id, CAST($simhashFpTerms AS BIGINT) AS fp FROM tc GROUP BY doc_id)
         |SELECT a.doc_id AS i, b.doc_id AS j,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin
    }) { (s, dir) =>
      val toks = Dedup.tokenSets(Tables.table(s, dir, "documents").filter(col("doc_id") < 100))
      Dedup.withDictionaryCodes(toks) { codes =>
        // the banded near-dup join consumes the fingerprint frame on both
        // sides — cache the ≤100-row fp, not the corpus lineage behind it
        Dedup.withCachedSmall(Dedup.simhash64(codes)) { fp =>
          QDef.localized(s, Dedup.simhashNearDup(fp, maxHamming = 3))
        }
      }
    },

    QDef.df("q88_ngram_jaccard", {
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |            unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
         |            FROM documents WHERE doc_id < 30),
         |sh0 AS (SELECT doc_id,
         |               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh,
         |               lead(tok, 2) OVER w AS t2
         |        FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |t AS (SELECT DISTINCT doc_id, sh AS tok FROM sh0 WHERE t2 IS NOT NULL),
         |${jaccardTail(0.2)}""".stripMargin
    }) { (s, dir) =>
      Dedup.ngramJaccardPairs(
          Tables.table(s, dir, "documents").filter(col("doc_id") < 30), 3, 0.2)
        .select(col("i"), col("j"),
          col("jaccard").cast("decimal(38,4)").cast("string").as("jaccard"))
    },

    // Edit-distance near-dup (the third dedup family): levenshtein ≤ 2
    // pairs over part names; engine candidates via exact length-bin
    // banding (see Dedup.editDistanceNearDup), oracle plain pairwise.
    QDef.df("q88c_edit_distance",
      """SELECT a.p_partkey AS i, b.p_partkey AS j,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE a.p_partkey < 300 AND b.p_partkey < 300
        |  AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin) { (s, dir) =>
      Dedup.editDistanceNearDup(
        Tables.table(s, dir, "part").filter(col("p_partkey") < 300),
        maxDist = 2, idCol = "p_partkey", strCol = "p_name")
    },

    // Sorted-neighborhood candidate generation (the FOURTH dedup family):
    // global rank under a normalized-prefix blocking key (distributed —
    // range partition + zipWithIndex, never a one-partition window), pairs
    // within a rank window of 4 via a block equi-join. Oracle re-derives
    // the identical total order with a window rank.
    QDef.df("q88d_sorted_neighborhood",
      """WITH n AS (SELECT doc_id,
        |            substr(trim(regexp_replace(regexp_replace(lower(text), '[^ -~]', ''),
        |                                       '  +', ' ')), 1, 16) AS sk
        |           FROM documents),
        |r AS (SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) - 1 AS rk FROM n)
        |SELECT least(a.doc_id, b.doc_id) AS i, greatest(a.doc_id, b.doc_id) AS j,
        |       CAST(b.rk - a.rk AS BIGINT) AS rank_dist
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 4""".stripMargin) { (s, dir) =>
      Dedup.sortedNeighborhood(
        Tables.table(s, dir, "documents"),
        substring(TextAnalysis.normalizeText(col("text")), 1, 16), w = 4)(
        pairs => QDef.localized(s, pairs))
    },

    // Two-table record linkage (cross-source entity resolution): customers
    // matched to suppliers by near-identical fixed-width account codes —
    // floor(acctbal·100) mod 10^6, zero-padded to SIX digits (floor of an
    // IEEE product is cross-engine exact, the q89d quantization rule; the
    // mod keeps every digit position entropic — an earlier 10-wide padding
    // made the leading segment "000" for every row, degenerating the
    // blocking to a 15M-pair cross join at sf0.1: a blocking key is only
    // as good as its least-entropic segment) at Hamming ≤ 2; candidates
    // via exact pigeonhole segment blocking (3 segments — any
    // ≤2-substitution pair shares a verbatim segment, zero recall loss).
    // The ORACLE brute-forces the full cross join, so a blocking bug that
    // loses any pair hash-mismatches — the recall guarantee is itself
    // what's oracle-checked.
    QDef.df("q88e_record_linkage", {
      val ham = (1 to 6).map(i =>
        s"(CASE WHEN substring(l_s, $i, 1) = substring(r_s, $i, 1) THEN 0 ELSE 1 END)")
        .mkString(" + ")
      def code(c: String) =
        s"lpad(CAST(((CAST(floor($c * 100) AS BIGINT) % 1000000) + 1000000) % 1000000" +
          s" AS VARCHAR), 6, '0')"
      s"""WITH l AS (SELECT c_custkey AS l_id, ${code("c_acctbal")} AS l_s FROM customer),
         |r AS (SELECT s_suppkey AS r_id, ${code("s_acctbal")} AS r_s FROM supplier),
         |m AS (SELECT l_id, r_id, ($ham) AS dist FROM l, r)
         |SELECT (SELECT count(*) FROM l) AS n_left,
         |       (SELECT count(*) FROM r) AS n_right,
         |       CAST(SUM(CASE WHEN dist <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
         |       CAST(coalesce(SUM(CASE WHEN dist <= 2 THEN l_id + r_id ELSE 0 END), 0)
         |            AS BIGINT) AS match_id_sum
         |FROM m""".stripMargin
    }) { (s, dir) =>
      def coded(t: String, id: String, bal: String) =
        Tables.table(s, dir, t).select(col(id),
          lpad(pmod(floor(col(bal) * 100).cast("bigint"), lit(1000000L))
            .cast("string"), 6, "0").as("code"))
      val c = coded("customer", "c_custkey", "c_acctbal")
      val su = coded("supplier", "s_suppkey", "s_acctbal")
      val links = Dedup.hammingLink(c, su, maxDist = 2,
        "c_custkey", "code", "s_suppkey", "code")
      c.agg(count(lit(1)).as("n_left"))
        .crossJoin(broadcast(su.agg(count(lit(1)).as("n_right"))))
        .crossJoin(broadcast(links.agg(
          count(lit(1)).cast("bigint").as("n_matches"),
          coalesce(sum(col("l_id") + col("r_id")), lit(0L))
            .cast("bigint").as("match_id_sum"))))
    },

    // Exact repeated-span detection (word-shingle substring dedup, the Lee
    // et al. pass): 8-token spans verbatim-shared across documents. Engine
    // = one grouped count on the span (Dedup.spanDedup); oracle = the q88
    // shingle CTE shape at k=8 plus the same grouped count.
    QDef.df("q88b_span_dedup", {
      val k = 8
      val leads = (1 until k).map(i => s"lead(tok, $i) OVER w").toList
      val parts = ("tok" :: leads).mkString(" || ' ' || ")
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |            unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
         |            FROM documents WHERE doc_id < 200),
         |sh0 AS (SELECT doc_id, $parts AS sh, lead(tok, ${k - 1}) OVER w AS tl
         |        FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |sh AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE tl IS NOT NULL)
         |SELECT sh AS span, CAST(count(*) AS BIGINT) AS n_docs,
         |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM sh GROUP BY sh HAVING count(*) >= 2""".stripMargin
    }) { (s, dir) =>
      Dedup.spanDedup(Tables.table(s, dir, "documents").filter(col("doc_id") < 200), k = 8)
    },

    // Longest duplicated token span per doc pair (the suffix-array signal
    // of Lee et al. relationally): L-token shared spans are L-7 consecutive
    // shared 8-shingles on one alignment diagonal — positioned shingles,
    // df-cut [2, 20] (boilerplate excluded loudly), shingle equi-join
    // (never doc-pairwise), pos − row_number() run grouping. The oracle
    // replays the identical diagonal-run construction from a fresh
    // tokenization.
    QDef.df("q88f_dup_spans",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts
        |           FROM documents WHERE doc_id < 300),
        |shp AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
        |         SELECT doc_id, unnest(list_transform(range(1, len(ts) - 6),
        |                  i -> {'pos': i - 1, 'sh': array_to_string(ts[i:i+7], ' ')})) AS u
        |         FROM d WHERE len(ts) >= 8) z),
        |keep AS (SELECT sh FROM (
        |          SELECT sh, count(DISTINCT doc_id) AS df FROM shp GROUP BY 1) t
        |         WHERE df BETWEEN 2 AND 20),
        |m AS (SELECT a.doc_id AS a, b.doc_id AS b, a.pos AS pa, a.pos - b.pos AS diag
        |      FROM (SELECT shp.* FROM shp JOIN keep USING (sh)) a
        |      JOIN (SELECT shp.* FROM shp JOIN keep USING (sh)) b USING (sh)
        |      WHERE a.doc_id < b.doc_id),
        |r AS (SELECT a, b, diag, pa,
        |             pa - row_number() OVER (PARTITION BY a, b, diag ORDER BY pa) AS grp
        |      FROM m),
        |runs AS (SELECT a, b, count(*) AS run FROM r GROUP BY a, b, diag, grp)
        |SELECT a, b, CAST(MAX(run) + 7 AS BIGINT) AS span_tokens,
        |       CAST(count(*) AS BIGINT) AS n_runs
        |FROM runs GROUP BY a, b
        |ORDER BY span_tokens DESC, a, b LIMIT 20""".stripMargin) { (s, dir) =>
      Dedup.duplicateSpans(
        Tables.table(s, dir, "documents").filter(col("doc_id") < 300),
        k = 8, dfCap = 20, topN = 20)
    },

    // embedding-cosine near-dup (semantic dedup; vec_id<100, low threshold
    // so the synthetic random vectors yield non-trivial pairs)
    QDef.df("q93_embedding_neardup",
      s"""$V,
         |a AS (SELECT vec_id AS i, ve AS ea FROM v WHERE vec_id < 100),
         |b AS (SELECT vec_id AS j, ve AS eb FROM v WHERE vec_id < 100)
         |SELECT i, j,
         |       CAST(CAST(list_dot_product(ea, eb) /
         |            (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb)))
         |            AS DECIMAL(38,4)) AS STRING) AS cos
         |FROM a JOIN b ON i < j
         |WHERE list_dot_product(ea, eb) /
         |      (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb))) >= 0.3""".stripMargin) {
      (s, dir) =>
        Dedup.embeddingNearDupPairs(
            Tables.table(s, dir, "embeddings").filter(col("vec_id") < 100), 0.3)
          .select(col("i"), col("j"),
            col("cos").cast("decimal(38,4)").cast("string").as("cos"))
    },

    // ------------------------------------------------------- similarity
    QDef.df("q82_cosine_all",
      s"""$V,
         |q AS (SELECT ve AS qe FROM v WHERE vec_id = 0)
         |SELECT v.vec_id, CAST(CAST($cosExpr AS DECIMAL(38,4)) AS STRING) AS cos FROM v, q""".stripMargin) {
      (s, dir) =>
        val e = Tables.table(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        Similarity.cosineAll(e, q)
          .select(col("vec_id"),
            col("cos").cast("decimal(38,4)").cast("string").as("cos"))
    },

    QDef.df("q83_cosine_topk",
      s"""$V,
         |q AS (SELECT ve AS qe FROM v WHERE vec_id = 0)
         |SELECT vec_id, CAST(cos AS STRING) AS cos FROM (
         |  SELECT v.vec_id, CAST($cosExpr AS DECIMAL(38,4)) AS cos FROM v, q
         |  ORDER BY cos DESC, vec_id LIMIT 10) t""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      Similarity.cosineAll(e, q)
        .select(col("vec_id"), col("cos").cast("decimal(38,4)").as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), col("cos").cast("string").as("cos"))
    },

    // MMR-diversified top-k (q83's relevance list pushed through maximal
    // marginal relevance, λ=0.7): greedy argmax 7·rel − 3·max_sim-to-
    // selected over the top-20 candidate page, 8 picks. All scores are
    // exact DECIMAL(38,4) over the quantized cosines (both λ terms ×10 so
    // the arithmetic stays integer-scaled), so the oracle replays the
    // greedy loop as 8 unrolled argmax CTEs — selection order, ids and
    // scores must all hash-match.
    QDef.df("q83c_mmr_diversify", {
      val pairSim = "list_dot_product(a.ve, b.ve) / " +
        "(sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve)))"
      val steps = (2 to 8).map { k =>
        s"""s$k AS MATERIALIZED (
           |  SELECT vec_id, score, $k AS step FROM (
           |    SELECT c.vec_id, CAST(7 * c.rel - 3 * m.ms AS DECIMAL(38,4)) AS score
           |    FROM cand c JOIN (
           |      SELECT i AS vec_id, MAX(sim) AS ms FROM p
           |      WHERE j IN (SELECT vec_id FROM sel${k - 1}) GROUP BY 1) m USING (vec_id)
           |    WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})) t
           |  ORDER BY score DESC, vec_id LIMIT 1),
           |sel$k AS MATERIALIZED (SELECT vec_id FROM sel${k - 1} UNION ALL SELECT vec_id FROM s$k)""".stripMargin
      }.mkString(",\n")
      // every CTE MATERIALIZED: the unrolled greedy steps reference their
      // predecessors twice each, and CTE inlining would re-expand the whole
      // upstream tree exponentially (2^8 copies of the candidate scoring)
      s"""WITH v AS MATERIALIZED (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
         |qv AS MATERIALIZED (SELECT ve AS qe FROM v WHERE vec_id = 0),
         |cr AS MATERIALIZED (SELECT v.vec_id, CAST($cosExpr AS DECIMAL(38,4)) AS rel
         |       FROM v, qv WHERE v.vec_id >= 1),
         |cand AS MATERIALIZED (SELECT vec_id, rel FROM (
         |    SELECT vec_id, rel, row_number() OVER (ORDER BY rel DESC, vec_id) AS rn
         |    FROM cr) t WHERE rn <= 20),
         |p AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j,
         |             CAST($pairSim AS DECIMAL(38,4)) AS sim
         |      FROM (SELECT v.* FROM v JOIN cand USING (vec_id)) a
         |      JOIN (SELECT v.* FROM v JOIN cand USING (vec_id)) b
         |        ON a.vec_id != b.vec_id),
         |s1 AS MATERIALIZED (SELECT vec_id, CAST(7 * rel AS DECIMAL(38,4)) AS score, 1 AS step
         |       FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
         |sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
         |$steps
         |SELECT CAST(step AS BIGINT) AS step, vec_id, CAST(score AS STRING) AS score
         |FROM (${(1 to 8).map(k => s"SELECT * FROM s$k").mkString(" UNION ALL ")}) u
         |ORDER BY step""".stripMargin
    }) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      Similarity.mmrSelect(e.filter(col("vec_id") >= 1),
          e.filter(col("vec_id") === 0), candK = 20, selectK = 8)
        .withColumn("score", col("score").cast("string"))
    },

    // L2 normalization contract, pinned bit-for-bit: the pre-norm and the
    // self-dot of the normalized vector are floor-quantized from doubles
    // both engines compute through the identical IEEE op sequence (fold,
    // sqrt, per-element divide), so the hashes must agree exactly.
    QDef.df("q82b_l2_normalize",
      s"""$V,
         |n AS (SELECT vec_id, sqrt(list_dot_product(ve, ve)) AS nrm,
         |             list_transform(ve, x -> x / sqrt(list_dot_product(ve, ve))) AS nv
         |      FROM v)
         |SELECT vec_id,
         |       CAST(floor(nrm * 10000) AS BIGINT) AS pre_q,
         |       CAST(floor(list_dot_product(nv, nv) * 100000000) AS BIGINT) AS post_q
         |FROM n""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val nv = Similarity.normalize(col("embedding"))
      e.select(col("vec_id"),
        floor(Similarity.l2Norm(col("embedding")) * 10000).cast("bigint").as("pre_q"),
        floor(Similarity.dotD(nv, nv) * 100000000).cast("bigint").as("post_q"))
    },

    // Symmetric int8 quantization (vector-DB compression): codes are
    // floor(x·127/absmax) in IEEE double — multiply/divide/floor are
    // correctly rounded, so the integer codes match across engines exactly
    // (round-half would split up/even). Order pinned by the weighted sum.
    QDef.df("q82c_int8_quantize",
      s"""$V,
         |m AS (SELECT vec_id, ve,
         |             list_max(list_transform(ve, x -> abs(x))) AS absmax FROM v),
         |q AS (SELECT vec_id, absmax,
         |             CASE WHEN absmax = 0 THEN list_transform(ve, x -> CAST(0 AS BIGINT))
         |                  ELSE list_transform(ve, x -> CAST(floor(x * 127 / absmax) AS BIGINT))
         |             END AS codes
         |      FROM m)
         |SELECT vec_id,
         |       CAST(floor(absmax * 10000) AS BIGINT) AS scale_q,
         |       CAST(list_sum(codes) AS BIGINT) AS code_sum,
         |       CAST(list_sum(list_transform(range(1, len(codes) + 1),
         |            i -> codes[i] * (i - 1))) AS BIGINT) AS code_wsum,
         |       CAST(list_min(codes) AS BIGINT) AS code_min,
         |       CAST(list_max(codes) AS BIGINT) AS code_max
         |FROM q""".stripMargin) { (s, dir) =>
      Similarity.quantizeInt8Profile(Tables.table(s, dir, "embeddings"))
    },

    // Johnson–Lindenstrauss random projection (dimensionality reduction for
    // embeddings): 64-d → 8-d onto the SAME deterministic hash-derived
    // planes q89c buckets with, full dot kept. The oracle recomputes every
    // projection from the identical plane literals (shortest-round-trip
    // doubles; list_dot_product folds in the same index order as the
    // engine's zip_with/aggregate), floor-quantized at 1e4.
    QDef.df("q82d_random_projection", {
      def plane(p: Int) =
        (0 until 64).map(d => Similarity.planeWeight(p, d).toString).mkString("[", ", ", "]")
      val arms = (0 until 8).map(p =>
        s"SELECT vec_id, CAST($p AS BIGINT) AS j, list_dot_product(ve, ${plane(p)}) AS pj FROM v")
        .mkString("\nUNION ALL\n")
      s"""$V
         |SELECT vec_id, j, CAST(floor(pj * 10000) AS BIGINT) AS proj_q
         |FROM ($arms)""".stripMargin
    }) { (s, dir) =>
      Similarity.randomProject(Tables.table(s, dir, "embeddings"), outDim = 8, dim = 64)
    },

    QDef.df("q89_ann_topk",
      s"""$V,
         |q AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < 5),
         |sc AS (SELECT q.q_id, v.vec_id AS n_id, CAST($cosExpr AS DECIMAL(38,4)) AS cos
         |       FROM v, q),
         |r AS (SELECT q_id, n_id, cos,
         |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
         |      FROM sc)
         |SELECT q_id, n_id, CAST(cos AS STRING) AS cos FROM r WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      Similarity.annBruteForce(e, e.filter(col("vec_id") < 5), 3)
        .withColumn("cos", col("cos").cast("string"))
    },

    // The LSH-bucketed ANN scale path of q89, oracle-checked via the same
    // literal-plane-injection trick as q93b: candidates restricted to the
    // query's bucket, exact cosine + top-k within it.
    QDef.df("q89c_ann_lsh", {
      def plane(p: Int) =
        (0 until 64).map(d => Similarity.planeWeight(p, d).toString).mkString("[", ", ", "]")
      val bucketExpr = (0 until 4).map(p =>
        s"(CASE WHEN list_dot_product(ve, ${plane(p)}) >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      s"""$V,
         |b AS (SELECT vec_id, ve, CAST($bucketExpr AS BIGINT) AS bucket FROM v),
         |q AS (SELECT vec_id AS q_id, ve AS qe, bucket FROM b WHERE vec_id < 5),
         |sc AS (SELECT q.q_id, c.vec_id AS n_id,
         |              CAST(list_dot_product(c.ve, q.qe) /
         |                   (sqrt(list_dot_product(c.ve, c.ve)) * sqrt(list_dot_product(q.qe, q.qe)))
         |                   AS DECIMAL(38,4)) AS cos
         |       FROM b c JOIN q ON c.bucket = q.bucket),
         |r AS (SELECT q_id, n_id, cos,
         |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
         |      FROM sc)
         |SELECT q_id, n_id, CAST(cos AS STRING) AS cos FROM r WHERE rn <= 3""".stripMargin
    }) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      Similarity.annLsh(e, e.filter(col("vec_id") < 5), k = 3, dim = 64, nPlanes = 4)
        .withColumn("cos", col("cos").cast("string"))
    },

    // ANN recall evaluation — the index-quality monitor: per query, how
    // many of the exact brute-force top-10 the LSH path retrieves.
    // Both rankings quantized with id tiebreaks, so the hit sets are
    // engine-exact; queries with an empty-overlap bucket report 0.
    QDef.df("q89l_ann_recall", {
      def plane(p: Int) =
        (0 until 64).map(d => Similarity.planeWeight(p, d).toString).mkString("[", ", ", "]")
      val bucketExpr = (0 until 4).map(p =>
        s"(CASE WHEN list_dot_product(ve, ${plane(p)}) >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      val pairCos = "CAST(list_dot_product(c.ve, q.qe) / " +
        "(sqrt(list_dot_product(c.ve, c.ve)) * sqrt(list_dot_product(q.qe, q.qe))) " +
        "AS DECIMAL(38,4))"
      s"""$V,
         |b AS (SELECT vec_id, ve, CAST($bucketExpr AS BIGINT) AS bucket FROM v),
         |q AS (SELECT vec_id AS q_id, ve AS qe, bucket FROM b WHERE vec_id < 5),
         |br AS (SELECT q_id, n_id FROM (
         |        SELECT q.q_id, c.vec_id AS n_id,
         |               row_number() OVER (PARTITION BY q.q_id
         |                                  ORDER BY $pairCos DESC, c.vec_id) AS rn
         |        FROM v c, q) t WHERE rn <= 10),
         |ls AS (SELECT q_id, n_id FROM (
         |        SELECT q.q_id, c.vec_id AS n_id,
         |               row_number() OVER (PARTITION BY q.q_id
         |                                  ORDER BY $pairCos DESC, c.vec_id) AS rn
         |        FROM b c JOIN q ON c.bucket = q.bucket) t WHERE rn <= 10),
         |h AS (SELECT q_id, count(*) AS h FROM br JOIN ls USING (q_id, n_id) GROUP BY 1)
         |SELECT q.q_id, CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
         |       CAST(10 AS BIGINT) AS k,
         |       CAST((COALESCE(h.h, 0) * 1000) // 10 AS BIGINT) AS recall_x1000
         |FROM q LEFT JOIN h USING (q_id)""".stripMargin
    }) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      Similarity.annRecall(e, e.filter(col("vec_id") < 5), k = 10, dim = 64, nPlanes = 4)
    },

    // Dimension-truncation recall (the matryoshka serving question): per
    // query, overlap of the first-16-dims ranking with the full-64-dim
    // exact top-10. Same exact hit-set machinery as q89l.
    QDef.df("q89m_truncation_recall", {
      val fullCos = "CAST(list_dot_product(c.ve, q.qe) / " +
        "(sqrt(list_dot_product(c.ve, c.ve)) * sqrt(list_dot_product(q.qe, q.qe))) " +
        "AS DECIMAL(38,4))"
      val truncCos = "CAST(list_dot_product(c.te, q.tq) / " +
        "(sqrt(list_dot_product(c.te, c.te)) * sqrt(list_dot_product(q.tq, q.tq))) " +
        "AS DECIMAL(38,4))"
      s"""$V,
         |vt AS (SELECT vec_id, ve, ve[1:16] AS te FROM v),
         |q AS (SELECT vec_id AS q_id, ve AS qe, te AS tq FROM vt WHERE vec_id < 5),
         |br AS (SELECT q_id, n_id FROM (
         |        SELECT q.q_id, c.vec_id AS n_id,
         |               row_number() OVER (PARTITION BY q.q_id
         |                                  ORDER BY $fullCos DESC, c.vec_id) AS rn
         |        FROM vt c, q) t WHERE rn <= 10),
         |tr AS (SELECT q_id, n_id FROM (
         |        SELECT q.q_id, c.vec_id AS n_id,
         |               row_number() OVER (PARTITION BY q.q_id
         |                                  ORDER BY $truncCos DESC, c.vec_id) AS rn
         |        FROM vt c, q) t WHERE rn <= 10),
         |h AS (SELECT q_id, count(*) AS h FROM br JOIN tr USING (q_id, n_id) GROUP BY 1)
         |SELECT q.q_id, CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
         |       CAST(10 AS BIGINT) AS k,
         |       CAST((COALESCE(h.h, 0) * 1000) // 10 AS BIGINT) AS recall_x1000
         |FROM q LEFT JOIN h USING (q_id)""".stripMargin
    }) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      Similarity.truncationRecall(e, e.filter(col("vec_id") < 5), k = 10, dims = 16)
    },

    // Coarse-to-fine ANN rerank: stage 1 scores in the 8-d JL subspace
    // (q82d's planes — 8× less arithmetic per pair; the scan pass a
    // compressed index answers at 10⁹ vectors), stage 2 exact cosine on the
    // per-query top-50 only. Both stages rank on quantized decimals with id
    // tiebreaks, so the oracle replays the identical two-stage pipeline.
    QDef.df("q89g_ann_rerank", {
      def plane(p: Int) =
        (0 until 64).map(d => Similarity.planeWeight(p, d).toString).mkString("[", ", ", "]")
      val pv = (0 until 8).map(p => s"list_dot_product(ve, ${plane(p)})")
        .mkString("[", ", ", "]")
      s"""$V,
         |pj AS (SELECT vec_id, ve, $pv AS pv FROM v),
         |q AS (SELECT vec_id AS q_id, ve AS qe, pv AS pq FROM pj WHERE vec_id < 5),
         |co AS (SELECT q.q_id, c.vec_id AS n_id, c.ve, q.qe,
         |              CAST(list_dot_product(c.pv, q.pq) AS DECIMAL(38,4)) AS cd
         |       FROM pj c, q),
         |cr AS (SELECT q_id, n_id, ve, qe,
         |              row_number() OVER (PARTITION BY q_id ORDER BY cd DESC, n_id) AS crn
         |       FROM co),
         |sc AS (SELECT q_id, n_id,
         |              CAST(list_dot_product(ve, qe) /
         |                   (sqrt(list_dot_product(ve, ve)) * sqrt(list_dot_product(qe, qe)))
         |                   AS DECIMAL(38,4)) AS cos
         |       FROM cr WHERE crn <= 50),
         |r AS (SELECT q_id, n_id, cos,
         |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
         |      FROM sc)
         |SELECT q_id, n_id, CAST(cos AS STRING) AS cos FROM r WHERE rn <= 3""".stripMargin
    }) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      Similarity.annCoarseRerank(e, e.filter(col("vec_id") < 5),
          k = 3, coarseK = 50, outDim = 8, dim = 64)
        .withColumn("cos", col("cos").cast("string"))
    },

    // IVF ANN scale path (engine-only: k-means cells aren't oracle-stable).
    // IVF neighbor sets depend on the trained cells (not oracle-
    // reproducible), but the INDEX CONTRACT is: emit the query/result
    // counts (oracle-knowable) plus a boolean asserting recall@3 against
    // the exact brute-force top-3 clears a 0.6 floor. Training is
    // deterministic (hash-seeded init, fixed iters), so the recall is a
    // constant of the data and the boolean is stable, not flaky.
    // Persistent IVF vector index (the ANN leg of the store family):
    // centroids = the SAME oracle-replayable integer-Lloyd layout as q89d
    // (k=8, iters=2), frozen at init; the corpus was ingested as three
    // cell-partitioned batches (ensureVectorIndex, built once per
    // session/dir — the ingest-time rule). The timed path probes the 2
    // nearest cells per query and reads ONLY those cells' files
    // (directory-level partition pruning — the columnar inverted-list
    // seek), then exact-cosine reranks. The oracle replays the Lloyd
    // chain, the integer probe ranking and the cosine rerank entirely in
    // SQL, never touching the index — so the store's accumulated state
    // must equal a one-shot IVF over the union corpus, hash-exactly.
    QDef.df("q89h_vector_index", {
      val dist = "CAST(list_dot_product(qr.qv, qr.qv) AS BIGINT) " +
        "- 2 * CAST(list_dot_product(qr.qv, c2.cv) AS BIGINT) " +
        "+ CAST(list_dot_product(c2.cv, c2.cv) AS BIGINT)"
      s"""$kmeansChain,
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
         |      FROM embeddings),
         |qr AS (SELECT vec_id AS q_id, qv FROM q WHERE vec_id < 3),
         |pr AS (SELECT q_id, cell FROM (
         |    SELECT qr.q_id, c2.cell, row_number() OVER (PARTITION BY qr.q_id
         |        ORDER BY $dist ASC, c2.cell ASC) AS rn
         |    FROM qr CROSS JOIN c2) t WHERE rn <= 2),
         |cand AS (SELECT pr.q_id, a3.vec_id AS n_id
         |         FROM pr JOIN a3 ON a3.cell = pr.cell),
         |qe AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < 3),
         |sc AS (SELECT cand.q_id, cand.n_id, CAST($cosExpr AS DECIMAL(38,4)) AS cos
         |       FROM cand JOIN v ON v.vec_id = cand.n_id
         |       JOIN qe ON qe.q_id = cand.q_id),
         |r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
         |          ORDER BY cos DESC, n_id) AS rn FROM sc)
         |SELECT q_id, n_id, CAST(cos AS STRING) AS cos FROM r WHERE rn <= 3""".stripMargin
    }) { (s, dir) =>
      val store = new graft.sink.VectorIndexStore(Tables.ensureVectorIndex(s, dir))
      store.search(s, Tables.table(s, dir, "embeddings").filter(col("vec_id") < 3),
          k = 3, nProbe = 2)
        .withColumn("cos", col("cos").cast("string"))
    },

    // Drift-triggered recluster migration (round 10): the index was
    // initialized on a THIRD of the corpus (genuinely stale centroids),
    // fully ingested, then recluster() retrained on the committed union and
    // migrated every batch to a new generation behind one atomic manifest
    // flip. The contract oracle-checked here: post-recluster search ≡ a
    // one-shot IVF whose centroids are KMeans.train(union corpus) — which
    // is exactly the kmeansChain the oracle replays in SQL (it never sees
    // the index, the migration, or the generations). Crash-mid-migration
    // and the drift threshold are ScalaTest-pinned (VectorIndexReclusterSpec).
    QDef.df("q89p_recluster_search", {
      val dist = "CAST(list_dot_product(qr.qv, qr.qv) AS BIGINT) " +
        "- 2 * CAST(list_dot_product(qr.qv, c2.cv) AS BIGINT) " +
        "+ CAST(list_dot_product(c2.cv, c2.cv) AS BIGINT)"
      s"""$kmeansChain,
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
         |      FROM embeddings),
         |qr AS (SELECT vec_id AS q_id, qv FROM q WHERE vec_id >= 3 AND vec_id < 7),
         |pr AS (SELECT q_id, cell FROM (
         |    SELECT qr.q_id, c2.cell, row_number() OVER (PARTITION BY qr.q_id
         |        ORDER BY $dist ASC, c2.cell ASC) AS rn
         |    FROM qr CROSS JOIN c2) t WHERE rn <= 2),
         |cand AS (SELECT pr.q_id, a3.vec_id AS n_id
         |         FROM pr JOIN a3 ON a3.cell = pr.cell),
         |qe AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id >= 3 AND vec_id < 7),
         |sc AS (SELECT cand.q_id, cand.n_id, CAST($cosExpr AS DECIMAL(38,4)) AS cos
         |       FROM cand JOIN v ON v.vec_id = cand.n_id
         |       JOIN qe ON qe.q_id = cand.q_id),
         |r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
         |          ORDER BY cos DESC, n_id) AS rn FROM sc)
         |SELECT q_id, n_id, CAST(cos AS STRING) AS cos FROM r WHERE rn <= 3""".stripMargin
    }) { (s, dir) =>
      val store = new graft.sink.VectorIndexStore(Tables.ensureRecluster(s, dir))
      store.search(s, Tables.table(s, dir, "embeddings")
          .filter(col("vec_id") >= 3 && col("vec_id") < 7),
          k = 3, nProbe = 2)
        .withColumn("cos", col("cos").cast("string"))
    },

    // IVF index-health cell histogram: per-cell committed vector counts +
    // hot_x1000 balance score (1000 = balanced) from the persistent index.
    // The oracle replays the integer-Lloyd assignment (shared kmeansChain)
    // and counts cells — so the store's cell layout provably matches the
    // training-time assignment.
    QDef.df("q89n_cell_histogram",
      s"""$kmeansChain,
         |cnt AS (SELECT cell, count(*) AS n FROM a3 GROUP BY 1),
         |tot AS (SELECT SUM(n) AS tot, count(*) AS k FROM cnt)
         |SELECT CAST(cell AS BIGINT) AS cell, CAST(n AS BIGINT) AS n,
         |       CAST((n * k * 1000) // tot AS BIGINT) AS hot_x1000
         |FROM cnt, tot""".stripMargin) { (s, dir) =>
      val store = new graft.sink.VectorIndexStore(Tables.ensureVectorIndex(s, dir))
      store.cellHistogram(s)
    },

    // Hard-negative mining (the contrastive-training data op): per anchor
    // (vec_id < 5), the top-3 most-similar vectors with a DIFFERENT label —
    // similar-but-wrong is exactly what metric-learning losses need. Same
    // determinism contract as q89: quantized DECIMAL(38,4) cosine, id
    // tiebreak; the label predicate excludes the anchor itself.
    QDef.df("q89i_hard_negatives",
      s"""$V,
         |q AS (SELECT vec_id AS q_id, ve AS qe, label AS q_label
         |      FROM v WHERE vec_id < 5),
         |sc AS (SELECT q.q_id, v.vec_id AS n_id, CAST($cosExpr AS DECIMAL(38,4)) AS cos
         |       FROM v, q WHERE v.label != q.q_label),
         |r AS (SELECT q_id, n_id, cos,
         |             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
         |      FROM sc)
         |SELECT q_id, n_id, CAST(cos AS STRING) AS cos FROM r WHERE rn <= 3""".stripMargin) {
      (s, dir) =>
        val e = Tables.table(s, dir, "embeddings")
        Similarity.hardNegatives(e, e.filter(col("vec_id") < 5), k = 3)
          .withColumn("cos", col("cos").cast("string"))
    },

    // Per-label prototype vectors + cohesion (embedding-space health before
    // training): prototype = floored per-dim mean of the label's quantized
    // members (the Lloyd-step floor, mode-free), cohesion = exact integer
    // Σd2 to the prototype. Drifting/bimodal classes show as inflated
    // inertia. Every output is an exact BIGINT both engines replay.
    QDef.df("q89j_label_prototypes",
      """WITH q AS (SELECT label,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 4096) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT label, unnest(qv) AS v, unnest(range(1, len(qv)+1)) AS pos FROM q),
        |m AS (SELECT label, pos, SUM(v) AS s, count(*) AS n FROM e GROUP BY 1, 2),
        |p AS (SELECT label, list(CAST((s - ((s % n + n) % n)) / n AS BIGINT) ORDER BY pos) AS cv
        |      FROM m GROUP BY label),
        |d AS (SELECT q.label,
        |             CAST(list_dot_product(qv, qv) AS BIGINT)
        |             - 2 * CAST(list_dot_product(qv, cv) AS BIGINT)
        |             + CAST(list_dot_product(cv, cv) AS BIGINT) AS d2
        |      FROM q JOIN p USING (label)),
        |g AS (SELECT label, count(*) AS n, CAST(SUM(d2) AS BIGINT) AS inertia
        |      FROM d GROUP BY 1)
        |SELECT CAST(g.label AS BIGINT) AS label, g.n,
        |       CAST(list_sum(p.cv) AS BIGINT) AS proto_sum, g.inertia
        |FROM g JOIN p USING (label)""".stripMargin) { (s, dir) =>
      Similarity.labelPrototypes(Tables.table(s, dir, "embeddings"))
    },

    // Filtered ANN over the persistent index (the metadata-predicate
    // search every vector database serves: "nearest neighbors WHERE
    // label = 3"): the predicate applies to the probed-cell scan BEFORE
    // the rerank — payload columns live in the store, so the filter
    // reaches the parquet reader as a pushed filter in the same scan the
    // cell pruning already narrowed. nProbe = 3 (selective filters want
    // wider probes — the standard recall trade, replayed by the oracle).
    QDef.df("q89k_filtered_ann", {
      val dist = "CAST(list_dot_product(qr.qv, qr.qv) AS BIGINT) " +
        "- 2 * CAST(list_dot_product(qr.qv, c2.cv) AS BIGINT) " +
        "+ CAST(list_dot_product(c2.cv, c2.cv) AS BIGINT)"
      s"""$kmeansChain,
         |v AS (SELECT vec_id, label,
         |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
         |      FROM embeddings),
         |qr AS (SELECT vec_id AS q_id, qv FROM q WHERE vec_id < 3),
         |pr AS (SELECT q_id, cell FROM (
         |    SELECT qr.q_id, c2.cell, row_number() OVER (PARTITION BY qr.q_id
         |        ORDER BY $dist ASC, c2.cell ASC) AS rn
         |    FROM qr CROSS JOIN c2) t WHERE rn <= 3),
         |cand AS (SELECT pr.q_id, a3.vec_id AS n_id
         |         FROM pr JOIN a3 ON a3.cell = pr.cell
         |         JOIN v ON v.vec_id = a3.vec_id AND v.label = 3),
         |qe AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < 3),
         |sc AS (SELECT cand.q_id, cand.n_id, CAST($cosExpr AS DECIMAL(38,4)) AS cos
         |       FROM cand JOIN v ON v.vec_id = cand.n_id
         |       JOIN qe ON qe.q_id = cand.q_id),
         |r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
         |          ORDER BY cos DESC, n_id) AS rn FROM sc)
         |SELECT q_id, n_id, CAST(cos AS STRING) AS cos FROM r WHERE rn <= 3""".stripMargin
    }) { (s, dir) =>
      val store = new graft.sink.VectorIndexStore(Tables.ensureVectorIndex(s, dir))
      store.search(s, Tables.table(s, dir, "embeddings").filter(col("vec_id") < 3),
          k = 3, nProbe = 3, candidateFilter = Some(col("label") === 3))
        .withColumn("cos", col("cos").cast("string"))
    },

    QDef.df("q89b_ann_ivf",
      """SELECT CAST(5 AS BIGINT) AS n_queries, CAST(15 AS BIGINT) AS n_results,
        |       true AS recall_ok""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
      val model = graft.llm.Ivf.train(e, nCells = 8, iters = 2)
      try {
        // both results are ≤ nQueries·k rows (15 here): ONE action each,
        // recall arithmetic driver-side — re-running the literal-heavy
        // search plan for distinct/count/join would codegen it three times
        val ivf = graft.llm.Ivf.search(model, queries, k = 3, nProbe = 2)
          .select(col("q_id"), col("n_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val brute = graft.llm.Similarity.annBruteForce(e, queries, k = 3)
          .select(col("q_id"), col("n_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val nQueries = ivf.map(_._1).distinct.length
        val nResults = ivf.length
        val hits = ivf.count(brute.contains)
        s.sql(s"""SELECT CAST($nQueries AS BIGINT) AS n_queries,
                 |       CAST($nResults AS BIGINT) AS n_results,
                 |       ${hits * 5 >= nResults * 3} AS recall_ok""".stripMargin)
      } finally model.close()
    },

    // Product quantization ANN (engine-only codes, q89b's contract shape):
    // the MEMORY path of billion-vector search — 8×16 integer codebooks
    // from the SAME deterministic Lloyd machinery, ADC scoring via
    // broadcast distance tables, corpus never shuffled. Codes aren't
    // oracle-reproducible, so the oracle verifies the CLAIM: exact
    // query/result counts plus recall@3 ≥ 0.3 vs brute force (measured
    // 0.40-0.47 on this data; deterministic training makes it a constant,
    // not a flaky sample — random vectors are PQ's hardest case).
    QDef.df("q89f_pq_ann",
      """SELECT CAST(5 AS BIGINT) AS n_queries, CAST(15 AS BIGINT) AS n_results,
        |       true AS recall_ok""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
      // index-build is ingest-time work (the q12c ensure-once rule): the
      // deterministic PQ train runs once per (session, dir); repeated
      // callers — bench timed runs — measure the SEARCH path, which is
      // what a serving system pays per query at 10⁹ vectors
      val model = Tables.ensureModel("q89f_pq", s, dir)(
        graft.llm.Pq.train(e, dim = 64, nSub = 8, kSub = 16, iters = 2))
      // ≤ nQueries·k rows each: one action per side, recall driver-side
      // (the ADC plan carries nSub·kSub literals per query — codegen once)
      val pq = graft.llm.Pq.search(model, queries, k = 3).select("q_id", "n_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val brute = graft.llm.Similarity.annBruteForce(e, queries, k = 3)
        .select("q_id", "n_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val nQueries = pq.map(_._1).distinct.length
      val nResults = pq.length
      val hits = pq.count(brute.contains)
      s.sql(s"""SELECT CAST($nQueries AS BIGINT) AS n_queries,
               |       CAST($nResults AS BIGINT) AS n_results,
               |       ${hits * 10 >= nResults * 3} AS recall_ok""".stripMargin)
    },

    // Deterministic fixed-point k-means (semantic clustering for data-mix
    // curation): the ENTIRE training loop — quantization, both Lloyd steps,
    // final assignment — is exact integer arithmetic, so the oracle replays
    // it verbatim and hash-matches per-cluster sizes, id checksums and
    // inertia. Distances expand to three integer dot products on the oracle
    // side (list_dot_product of int lists is exact below 2^53); the floored
    // mean is the mode-free (s − ((s%n+n)%n))/n on both engines.
    QDef.df("q89d_kmeans",
      s"""$kmeansChain
         |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS cnt,
         |       CAST(SUM(vec_id) AS BIGINT) AS id_sum, CAST(SUM(d2) AS BIGINT) AS inertia
         |FROM a3 GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.llm.KMeans.clusterStats(
        graft.llm.KMeans.train(Tables.table(s, dir, "embeddings"), k = 8, iters = 2))
    },

    // SemDeDup (cluster-then-prune semantic dedup): k-means cells from the
    // SAME oracle-replayed training loop as q89d, then exact cosine ONLY
    // within a cell — the O(n²)→Σ|cell|² scale path for embedding dedup.
    // Prune rule: drop a vector iff a lower-id cellmate has cosine ≥ 0.3
    // (deterministic, engine-independent). Oracle replays clustering + the
    // q93 double-cosine within cells and the same anti-join.
    QDef.df("q89e_semdedup",
      s"""$kmeansChain,
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
         |      FROM embeddings),
         |m AS (SELECT a3.vec_id, a3.cell, v.ve FROM a3 JOIN v USING (vec_id)),
         |dr AS (SELECT DISTINCT b.vec_id FROM m a JOIN m b
         |       ON a.cell = b.cell AND a.vec_id < b.vec_id
         |       WHERE list_dot_product(a.ve, b.ve) /
         |             (sqrt(list_dot_product(a.ve, a.ve)) *
         |              sqrt(list_dot_product(b.ve, b.ve))) >= 0.3)
         |SELECT CAST(m.cell AS BIGINT) AS cell, count(*) AS n_total,
         |       CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN m.vec_id ELSE 0 END) AS BIGINT) AS kept_id_sum
         |FROM m LEFT JOIN dr ON m.vec_id = dr.vec_id
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.semanticDedup(Tables.table(s, dir, "embeddings"),
          k = 8, iters = 2, threshold = 0.3)
        .groupBy(col("cell").cast("bigint").as("cell"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("kept"), 1L).otherwise(0L)).cast("bigint").as("n_kept"),
          sum(when(col("kept"), col("vec_id")).otherwise(lit(0L)))
            .cast("bigint").as("kept_id_sum"))
    },

    // ---------------------------------------------------- text analysis
    QDef.df("q84_token_frequency",
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin) { (s, dir) =>
      TextAnalysis.tokenFrequency(Tables.table(s, dir, "documents"), 20)
    },

    // The sketch-first scale path of q84: Misra-Gries candidates (k=2000
    // counters bound the shuffle — the Zipf tail never shuffles) + an exact
    // broadcast-semi-join recount of candidates only. Exact whenever the
    // m-th frequency exceeds n/(k+1) (here 888 vs ~14 at sf0.01), so it
    // shares q84's oracle verbatim — same answer, tail-free plan.
    QDef.df("q84d_heavy_hitters_topk",
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin) { (s, dir) =>
      val toks = Tables.table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
      graft.llm.HeavyHitters.topExact(toks, col("word"), m = 20, k = 2000)
        .withColumnRenamed("item", "word")
    },

    // Inverted-index posting lists over the rare-token tail (df in [2,4],
    // so postings are bounded by construction — the df filter runs BEFORE
    // collection; see TextAnalysis.invertedIndex scale note).
    QDef.df("q84e_inverted_index",
      """WITH t AS (SELECT DISTINCT doc_id, tok FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 200) x),
        |d AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY tok
        |      HAVING count(*) BETWEEN 2 AND 4)
        |SELECT d.tok, d.df,
        |       string_agg(CAST(t.doc_id AS VARCHAR), ',' ORDER BY t.doc_id) AS postings
        |FROM t JOIN d ON t.tok = d.tok
        |GROUP BY d.tok, d.df""".stripMargin) { (s, dir) =>
      TextAnalysis.invertedIndex(
        Tables.table(s, dir, "documents").filter(col("doc_id") < 200), minDf = 2, maxDf = 4)
    },

    // PERSISTENT heavy-hitter store (the q84d two-pass made incremental,
    // and the frequency leg of the q21d/q86b store triad): three ingest
    // batches each commit a ≤k-row Misra-Gries partial; merged candidates
    // (counter-wise sum keeps the N/(k+1) bound additive) feed the exact
    // broadcast recount — equal to the exact top-20 whenever the 20th
    // frequency clears the bound (hundreds vs ~dozens here). Store build
    // is ingest-time cost, paid once via ensureHhStore (the q12c rule).
    QDef.df("q84i_hh_store",
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin) { (s, dir) =>
      val store = new graft.sink.HeavyHitterStore(Tables.ensureHhStore(s, dir), k = 2000)
      val (cand, _) = store.candidates(s)
      Tables.table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .join(broadcast(cand.select(col("item").as("word"))), "word")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(20)
    },

    // q84i through a COMPACTED heavy-hitter store (round 10): the three
    // Misra-Gries partials materialized into one by compact() — a
    // generation flip whose merged rows are exactly the read-time
    // counter-wise fold, so the candidate set (and therefore the exact
    // recount) is identical to the multi-batch store's. Completes the
    // compaction triad: q84r = text index, q21e = HLL, this = frequency.
    QDef.df("q84v_compacted_hh",
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin) { (s, dir) =>
      val store = new graft.sink.HeavyHitterStore(
        Tables.ensureCompactHhStore(s, dir), k = 2000)
      val (cand, _) = store.candidates(s)
      Tables.table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .join(broadcast(cand.select(col("item").as("word"))), "word")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(20)
    },

    // BPE vocab induction, step 1: the top-5 merge candidates (adjacent
    // symbol pairs weighted by pre-token corpus frequency, ties broken
    // lexicographically) over the distinct pre-token table — the ranking
    // the first real merge is picked from. The iterative learn() loop is
    // ScalaTest-covered (each later ranking depends on applied merges,
    // which static SQL can't express).
    QDef.df("q84f_bpe_pairs",
      s"""WITH pt AS (SELECT unnest(regexp_extract_all(text, '${TextAnalysis.PreTokenRe}')) AS pt
         |            FROM documents),
         |f AS (SELECT pt, count(*) AS freq FROM pt GROUP BY pt),
         |ix AS (SELECT pt, freq, unnest(range(1, length(pt))) AS i FROM f),
         |c AS (SELECT substring(pt, i, 1) AS a, substring(pt, i + 1, 1) AS b,
         |             CAST(SUM(freq) AS BIGINT) AS cnt
         |      FROM ix GROUP BY 1, 2)
         |SELECT a, b, cnt FROM c ORDER BY cnt DESC, a, b LIMIT 5""".stripMargin) { (s, dir) =>
      graft.llm.Bpe.pairCounts(
          graft.llm.Bpe.preTokenTable(Tables.table(s, dir, "documents")))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(5)
    },

    // Collocations: bigrams above independence (lift ≥ 1 as an exact
    // integer cross-product — the log-free PMI criterion), min count 5.
    QDef.df("q84g_collocations",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
        |bi0 AS (SELECT arr[i] AS w1, arr[i + 1] AS w2
        |        FROM (SELECT arr, unnest(range(1, len(arr))) AS i
        |              FROM tk WHERE len(arr) >= 2) x),
        |bi AS (SELECT w1, w2, count(*) AS cnt_ab FROM bi0 GROUP BY 1, 2),
        |uni AS (SELECT tok, count(*) AS cnt FROM (
        |          SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |        GROUP BY tok),
        |n AS (SELECT count(*) AS total FROM (
        |        SELECT unnest(string_split(text, ' ')) FROM documents) t)
        |SELECT bi.w1, bi.w2, CAST(cnt_ab AS BIGINT) AS cnt_ab,
        |       CAST(a.cnt AS BIGINT) AS cnt_a, CAST(b.cnt AS BIGINT) AS cnt_b
        |FROM bi JOIN uni a ON a.tok = bi.w1 JOIN uni b ON b.tok = bi.w2, n
        |WHERE cnt_ab >= 5 AND cnt_ab * total >= a.cnt * b.cnt""".stripMargin) { (s, dir) =>
      TextAnalysis.collocations(Tables.table(s, dir, "documents"), minCount = 5)
    },

    // BM25 keyword retrieval (k1=1.2, b=0.75) in EXACT integer arithmetic —
    // rational idf (scale·(N−df)) DIV (df+1) instead of ln (libm-dependent
    // across engines), the length-normalized denominator cross-multiplied
    // by 10·A so every term contribution is one integer floor-division both
    // engines replay bit-for-bit. Query mixes common terms with the rarest
    // token in the vocabulary ('dup'), so idf weighting is actually load-
    // bearing in the ranking the hash compares.
    QDef.df("q84j_bm25_search",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |              (SELECT count(*) FROM toks) AS a_tokens),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |       WHERE tok IN ('hash', 'join', 'dup') GROUP BY 1, 2),
        |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id, CAST(SUM(
        |    (((1000 * (n_docs - df)) // (df + 1)) * tf * 22 * a_tokens)
        |    // (10 * tf * a_tokens + 3 * a_tokens + 9 * dl.dl * n_docs)
        |  ) AS BIGINT) AS score
        |FROM tf JOIN dft USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, st
        |GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
        TextAnalysis.bm25Search(Tables.table(s, dir, "documents"),
          Seq("hash", "join", "dup"), k = 20)
    },

    // Incremental BM25 over the persistent text index: the corpus was
    // ingested as three batches of postings + doc lengths (ensureTextIndex,
    // built once per session/dir — the q12c ingest-time rule); the timed
    // path reads ONLY the query terms' posting rows plus the length table
    // and must produce scores bit-identical to a one-shot scan of the union
    // corpus — which is exactly what the oracle computes, never touching
    // the index.
    QDef.df("q84n_incremental_bm25",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |              (SELECT count(*) FROM toks) AS a_tokens),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |       WHERE tok IN ('merge', 'stream', 'sort') GROUP BY 1, 2),
        |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id, CAST(SUM(
        |    (((1000 * (n_docs - df)) // (df + 1)) * tf * 22 * a_tokens)
        |    // (10 * tf * a_tokens + 3 * a_tokens + 9 * dl.dl * n_docs)
        |  ) AS BIGINT) AS score
        |FROM tf JOIN dft USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, st
        |GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
        val store = new graft.sink.TextIndexStore(Tables.ensureTextIndex(s, dir))
        store.search(s, Seq("merge", "stream", "sort"), k = 20)
    },

    // BM25 through a COMPACTED index: the 3-batch store merged to one
    // batch dir by TextIndexStore.compact (a generation flip — the
    // store-maintenance twin of q61f). Scores
    // must be bit-identical to the one-shot corpus scan, which is what
    // the oracle computes — so the merge's tf sums and position folds
    // cannot have lost or doubled anything.
    QDef.df("q84r_compacted_bm25",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |              (SELECT count(*) FROM toks) AS a_tokens),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |       WHERE tok IN ('batch', 'scan', 'group') GROUP BY 1, 2),
        |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id, CAST(SUM(
        |    (((1000 * (n_docs - df)) // (df + 1)) * tf * 22 * a_tokens)
        |    // (10 * tf * a_tokens + 3 * a_tokens + 9 * dl.dl * n_docs)
        |  ) AS BIGINT) AS score
        |FROM tf JOIN dft USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, st
        |GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
        val store = new graft.sink.TextIndexStore(Tables.ensureCompactTextIndex(s, dir))
        store.search(s, Seq("batch", "scan", "group"), k = 20)
    },

    // BM25 across a concurrent-append/compaction interleaving (round-10
    // fold watermarks — the q21f shape on the retrieval leg): batches 0-1
    // compacted, batch 2 committed into the SUPERSEDED generation, folded
    // batch 0 replayed (no-op). The straggler stays visible via the
    // manifest watermark, so scores are still bit-identical to the
    // one-shot union-corpus scan the oracle computes.
    QDef.df("q84w_straggler_bm25",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |              (SELECT count(*) FROM toks) AS a_tokens),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |       WHERE tok IN ('merge', 'scan', 'dup') GROUP BY 1, 2),
        |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id, CAST(SUM(
        |    (((1000 * (n_docs - df)) // (df + 1)) * tf * 22 * a_tokens)
        |    // (10 * tf * a_tokens + 3 * a_tokens + 9 * dl.dl * n_docs)
        |  ) AS BIGINT) AS score
        |FROM tf JOIN dft USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, st
        |GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
        val store = new graft.sink.TextIndexStore(Tables.ensureStragglerTextIndex(s, dir))
        store.search(s, Seq("merge", "scan", "dup"), k = 20)
    },

    // q84n RE-EXPRESSED AS PURE SQL (round 10): the engine side is one SQL
    // string against the bm25_search TABLE FUNCTION GraftExtensions
    // installs — a SQL-only client's whole retrieval call. The TVF builds
    // the identical TextIndexStore.search plan (index-only posting reads,
    // integer scoring), so it must hash-match the same closed-form oracle
    // q84n does.
    QDef.df("q84s_bm25_sql",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |              (SELECT count(*) FROM toks) AS a_tokens),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |       WHERE tok IN ('merge', 'stream', 'sort') GROUP BY 1, 2),
        |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id, CAST(SUM(
        |    (((1000 * (n_docs - df)) // (df + 1)) * tf * 22 * a_tokens)
        |    // (10 * tf * a_tokens + 3 * a_tokens + 9 * dl.dl * n_docs)
        |  ) AS BIGINT) AS score
        |FROM tf JOIN dft USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, st
        |GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
        val idx = Tables.ensureTextIndex(s, dir)
        s.sql(s"SELECT doc_id, score FROM bm25_search('$idx', 'merge stream sort', 20)")
    },

    // Related terms by document-level co-occurrence lift (query expansion):
    // lift = P(t | seed)/P(t) in exact integers over DISTINCT per-doc
    // terms, co-occurrence floored at 5 so rare coincidences can't top
    // the ranking. Top-15 by (lift DESC, term).
    QDef.df("q84u_related_terms",
      """WITH dt AS (SELECT DISTINCT doc_id, tok FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) x),
        |dfr AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
        |sd AS (SELECT doc_id FROM dt WHERE tok = 'hash'),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |ds AS (SELECT df AS df_seed FROM dfr WHERE tok = 'hash'),
        |co AS (SELECT dt.tok, count(*) AS co
        |       FROM dt JOIN sd USING (doc_id) WHERE dt.tok != 'hash'
        |       GROUP BY 1 HAVING count(*) >= 5)
        |SELECT co.tok AS term, CAST(co AS BIGINT) AS co,
        |       CAST(df AS BIGINT) AS df,
        |       CAST((co * n_docs * 1000) // (df_seed * df) AS BIGINT) AS lift_x1000
        |FROM co JOIN dfr ON dfr.tok = co.tok, n, ds
        |ORDER BY lift_x1000 DESC, term LIMIT 15""".stripMargin) { (s, dir) =>
      TextAnalysis.relatedTerms(Tables.table(s, dir, "documents"), "hash",
        minCo = 5, k = 15)
    },

    // Search-result snippets: the ±3-token window around the FIRST
    // occurrence of the query term, per containing doc, top-10 by
    // (tf DESC, doc_id) — the single-term relevance order. Both engines
    // clip the window at document edges identically.
    QDef.df("q84t_snippets",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |f AS (SELECT doc_id, list_position(ts, 'filter') AS p,
        |             len(list_filter(ts, x -> x = 'filter')) AS tf,
        |             ts
        |      FROM d)
        |SELECT doc_id, CAST(tf AS BIGINT) AS tf,
        |       array_to_string(ts[greatest(1, p - 3):p + 3], ' ') AS snippet
        |FROM f WHERE p IS NOT NULL AND p > 0
        |ORDER BY tf DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
      TextAnalysis.snippets(Tables.table(s, dir, "documents"), "filter",
        window = 3, k = 10)
    },

    // Phrase-blocklist gate (the content-policy filter): per doc, total
    // occurrences across the blocklist (raw substring semantics) and the
    // FIRST matching phrase — earliest position, ties lexicographic
    // (least ignores null non-matches identically on both engines).
    QDef.df("q90l_blocklist_gate", {
      val phrases = Seq("table hash", "part filter", "dup")
      def occ(p: String) =
        s"(length(text) - length(replace(text, '$p', ''))) / ${p.length}"
      def pos(p: String) =
        s"(CASE WHEN position('$p' IN text) > 0 THEN position('$p' IN text) ELSE 2147483647 END)"
      val m = s"least(${phrases.map(pos).mkString(", ")})"
      val cands = phrases.map(p =>
        s"(CASE WHEN ${pos(p)} = $m THEN '$p' END)").mkString(", ")
      s"""SELECT doc_id,
         |       CAST(${phrases.map(occ).mkString(" + ")} AS BIGINT) AS n_hits,
         |       CASE WHEN $m = 2147483647 THEN NULL
         |            ELSE least($cands) END AS first_phrase
         |FROM documents
         |WHERE ${phrases.map(occ).mkString(" + ")} > 0""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.blocklistGate(Tables.table(s, dir, "documents"),
        Seq("table hash", "part filter", "dup"))
    },

    // "Did you mean": per OOV query term, the top-3 in-vocabulary tokens
    // within 2 edits, common words winning ties (dist ASC, corpus freq
    // DESC, token ASC) — the spell-correction leg of the retrieval stack.
    // Oracle replays vocabulary, levenshtein and ranking exactly.
    QDef.df("q84y_spell_suggest",
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS freq FROM toks GROUP BY 1),
        |q AS (SELECT unnest(['hsah', 'jion', 'mrge']) AS term),
        |c AS (SELECT q.term, v.tok AS suggestion,
        |             levenshtein(q.term, v.tok) AS dist, v.freq
        |      FROM q CROSS JOIN v WHERE levenshtein(q.term, v.tok) <= 2),
        |r AS (SELECT term, suggestion, dist, freq,
        |             row_number() OVER (PARTITION BY term
        |                                ORDER BY dist, freq DESC, suggestion) AS rn
        |      FROM c)
        |SELECT term, suggestion, CAST(dist AS BIGINT) AS dist,
        |       CAST(freq AS BIGINT) AS freq
        |FROM r WHERE rn <= 3""".stripMargin) { (s, dir) =>
      TextAnalysis.spellSuggest(Tables.table(s, dir, "documents"),
        Seq("hsah", "jion", "mrge"), maxDist = 2, k = 3)
    },

    // Hybrid retrieval via reciprocal-rank fusion: BM25 top-50 (q84j's
    // sparse scorer) fused with dense cosine top-50 (q83's scorer, query =
    // vec 0, vec_id ≡ doc_id in the fixture) — fused score is the exact
    // integer Σ 10¹² DIV (60 + rank) per list, so no float ever reaches
    // the output. Both rank orders are pinned (quantized cosine /
    // integer BM25 score, id tiebreak), making the fusion deterministic.
    QDef.df("q84k_rrf_hybrid",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |              (SELECT count(*) FROM toks) AS a_tokens),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |       WHERE tok IN ('hash', 'join', 'dup') GROUP BY 1, 2),
        |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |bm AS (SELECT tf.doc_id, CAST(SUM(
        |    (((1000 * (n_docs - df)) // (df + 1)) * tf * 22 * a_tokens)
        |    // (10 * tf * a_tokens + 3 * a_tokens + 9 * dl.dl * n_docs)
        |  ) AS BIGINT) AS score
        |  FROM tf JOIN dft USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, st
        |  GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 50),
        |sr AS (SELECT doc_id,
        |              row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |      FROM embeddings),
        |q AS (SELECT ve AS qe FROM v WHERE vec_id = 0),
        |dc AS (SELECT v.vec_id AS doc_id,
        |              CAST(list_dot_product(ve, qe) /
        |                   (sqrt(list_dot_product(ve, ve)) * sqrt(list_dot_product(qe, qe)))
        |                   AS DECIMAL(38,4)) AS cos FROM v, q),
        |dr AS (SELECT doc_id, rank FROM (
        |         SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
        |         FROM dc) t WHERE rank <= 50),
        |u AS (SELECT doc_id, 1000000000000 // (60 + rank) AS contrib FROM sr
        |      UNION ALL
        |      SELECT doc_id, 1000000000000 // (60 + rank) AS contrib FROM dr)
        |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS rrf_score
        |FROM u GROUP BY doc_id ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
        val docs = Tables.table(s, dir, "documents")
        val emb = Tables.table(s, dir, "embeddings")
        val sparse = TextAnalysis.bm25Search(docs, Seq("hash", "join", "dup"), k = 50)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("rank"))
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        val dense = Similarity.cosineAll(emb, q)
          .select(col("vec_id").as("doc_id"), col("cos").cast("decimal(38,4)").as("cosq"))
          .withColumn("rank",
            row_number().over(Window.orderBy(col("cosq").desc, col("doc_id"))).cast("long"))
          .filter(col("rank") <= 50)
          .select(col("doc_id"), col("rank"))
        TextAnalysis.rrfFuse(Seq(sparse, dense), topK = 20)
    },

    // TF-IDF sparse all-pairs similarity (DISCO shape): integer tf·idf
    // weights, pair dots via the inverted-index self-join, df-cut at 20 so
    // Zipf-head terms never touch the join. DECIMAL(38,0) accumulation both
    // sides; the df-cut, weights, and pair set are all oracle-replayed.
    QDef.df("q84m_tfidf_pairs",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents WHERE doc_id < 100),
        |st AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id < 100),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 20),
        |w AS (SELECT tf.doc_id, tf.tok,
        |             tf.tf * ((1000 * (n_docs - df)) // (df + 1)) AS w
        |      FROM tf JOIN dft USING (tok), st),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j, SUM(a.w * b.w) AS dot
        |      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT i, j, CAST(CAST(dot AS DECIMAL(38,0)) AS STRING) AS dot
        |FROM p WHERE dot >= 1000000""".stripMargin) { (s, dir) =>
      TextAnalysis.tfidfPairs(
          Tables.table(s, dir, "documents").filter(col("doc_id") < 100),
          minDot = 1000000L, maxDf = 20L)
        .select(col("i"), col("j"), col("dot").cast("string").as("dot"))
    },

    // BPE-style pre-token counts vs whitespace tokens per doc.
    QDef.df("q84b_pretokenize",
      s"""SELECT doc_id,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(text, '${TextAnalysis.PreTokenRe}')) AS BIGINT) AS pre_tokens
         |FROM documents WHERE doc_id < 200""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("ws_tokens"),
          TextAnalysis.preTokenCount(col("text")).as("pre_tokens"))
    },

    QDef.shared(
      "q85_text_stats",
      """SELECT lang, count(*) AS docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(CAST(avg(CAST(length(text) AS DOUBLE)) AS DECIMAL(38,4)) AS STRING) AS avg_len
        |FROM documents GROUP BY lang""".stripMargin),

    QDef.df("q90_quality_score", {
      val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
      s"""SELECT doc_id,
         |       CAST(length(text) AS BIGINT) AS chars,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         |       CAST(CAST((length(text) - (len(string_split(text, ' ')) - 1))
         |            / len(string_split(text, ' ')) AS DECIMAL(38,4)) AS STRING) AS avg_tok_len,
         |       CAST(CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stop)))
         |            / len(string_split(text, ' ')) AS DECIMAL(38,4)) AS STRING) AS stop_ratio,
         |       CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
         |FROM documents WHERE doc_id < 200""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.quality(Tables.table(s, dir, "documents").filter(col("doc_id") < 200))
        .withColumn("avg_tok_len", col("avg_tok_len").cast("string"))
        .withColumn("stop_ratio", col("stop_ratio").cast("string"))
    },

    // PII scrub: the synthetic corpus carries no PII, so both sides append
    // a deterministic doc_id-derived email + phone before scrubbing — the
    // counts and redacted text must round-trip identically.
    QDef.df("q90b_pii_scrub",
      s"""WITH t AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-0100 now'
         |  AS text FROM documents WHERE doc_id < 100)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |                 '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS scrubbed
         |FROM t""".stripMargin) { (s, dir) =>
      val withPii = Tables.table(s, dir, "documents").filter(col("doc_id") < 100)
        .withColumn("text", concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com or 555-0100 now")))
      TextAnalysis.scrubPii(withPii)
    },

    // Corpus-level rarity signal: per-doc count of token occurrences whose
    // CORPUS frequency is ≤ 3 (hapax-ish mass flags OCR garbage and random
    // identifiers that per-doc stats miss). Exact integers end to end.
    QDef.df("q90c_rare_tokens",
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |cf AS (SELECT tok, count(*) AS cf FROM tk GROUP BY tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(SUM(CASE WHEN cf <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |       CAST(count(DISTINCT CASE WHEN cf <= 3 THEN tok END) AS BIGINT) AS rare_types
        |FROM tk JOIN cf USING (tok)
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.rareTokenStats(Tables.table(s, dir, "documents"), rareMax = 3)
    },

    // Unigram concentration (Simpson numerator): exact-integer repeated-
    // token mass — the single-token complement of q94's n-gram repetition.
    QDef.df("q90d_token_diversity",
      """WITH tf AS (SELECT doc_id, tok, count(*) AS cnt
        |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |                 FROM documents) t
        |           GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |       CAST(SUM(cnt * cnt) AS BIGINT) AS sum_cnt2
        |FROM tf GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.tokenDiversity(Tables.table(s, dir, "documents"))
    },

    // End-to-end keep/drop decision: the Gopher/C4-style rule gate with
    // every threshold cross-multiplied into exact integers (see
    // TextAnalysis.filterPipeline). Oracle re-derives every rule.
    QDef.df("q90e_filter_pipeline", {
      val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
      val caseExpr =
        """CASE WHEN n < 10 THEN 'too_short'
          |     WHEN n > 5000 THEN 'too_long'
          |     WHEN (chars - (n - 1)) < 2 * n OR (chars - (n - 1)) > 12 * n THEN 'tok_len'
          |     WHEN stop * 50 < n THEN 'low_stopwords'
          |     WHEN tri_total > 0 AND tri_distinct * 2 < tri_total THEN 'repetitive'
          |     ELSE 'ok' END""".stripMargin
      s"""WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS arr FROM documents),
         |m AS (SELECT doc_id,
         |        CAST(len(arr) AS BIGINT) AS n,
         |        CAST(length(text) AS BIGINT) AS chars,
         |        CAST(len(list_filter(arr, x -> x IN ($stop))) AS BIGINT) AS stop,
         |        CASE WHEN len(arr) >= 3
         |          THEN CAST(len(list_distinct(list_transform(range(1, len(arr) - 1),
         |               i -> array_to_string(list_slice(arr, i, i + 2), ' ')))) AS BIGINT)
         |          ELSE 0 END AS tri_distinct,
         |        greatest(CAST(len(arr) AS BIGINT) - 2, 0) AS tri_total
         |      FROM s)
         |SELECT doc_id, n AS tokens, $caseExpr AS reason, ($caseExpr = 'ok') AS keep
         |FROM m""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.filterPipeline(Tables.table(s, dir, "documents"))
    },

    // Per-source corpus health (the domain-level filter view a web-corpus
    // pipeline ranks sources by): docs, kept docs, drop-reason spread,
    // token volume — one grouped pass over the per-row decisions.
    QDef.df("q90f_source_rollup", {
      val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
      val caseExpr =
        """CASE WHEN n < 10 THEN 'too_short'
          |     WHEN n > 5000 THEN 'too_long'
          |     WHEN (chars - (n - 1)) < 2 * n OR (chars - (n - 1)) > 12 * n THEN 'tok_len'
          |     WHEN stop * 50 < n THEN 'low_stopwords'
          |     WHEN tri_total > 0 AND tri_distinct * 2 < tri_total THEN 'repetitive'
          |     ELSE 'ok' END""".stripMargin
      s"""WITH s AS (SELECT doc_id, source, lang, text, string_split(text, ' ') AS arr
         |           FROM documents),
         |m AS (SELECT doc_id, source, lang,
         |        CAST(len(arr) AS BIGINT) AS n,
         |        CAST(length(text) AS BIGINT) AS chars,
         |        CAST(len(list_filter(arr, x -> x IN ($stop))) AS BIGINT) AS stop,
         |        CASE WHEN len(arr) >= 3
         |          THEN CAST(len(list_distinct(list_transform(range(1, len(arr) - 1),
         |               i -> array_to_string(list_slice(arr, i, i + 2), ' ')))) AS BIGINT)
         |          ELSE 0 END AS tri_distinct,
         |        greatest(CAST(len(arr) AS BIGINT) - 2, 0) AS tri_total
         |      FROM s)
         |SELECT source, count(*) AS docs,
         |       CAST(SUM(CASE WHEN $caseExpr = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS kept,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS langs,
         |       CAST(SUM(n) AS BIGINT) AS total_tokens
         |FROM m GROUP BY source""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.filterPipeline(Tables.table(s, dir, "documents"),
          keepCols = Seq("source", "lang"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("bigint").as("kept"),
          count_distinct(col("lang")).cast("bigint").as("langs"),
          sum(col("tokens")).cast("bigint").as("total_tokens"))
    },

    // Cross-source duplication matrix: which sources duplicate each other —
    // the crawl-curation view that decides which feed to drop. Near-dup
    // pairs (exact Jaccard here, bounded; MinHash-LSH at scale — the
    // matrix shape is generator-agnostic) joined back to each side's
    // source, counted per unordered source pair.
    QDef.df("q90g_cross_source_dups", {
      s"""WITH ${toksCte(300)},
         |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
         |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |jp AS (SELECT i, j FROM p JOIN s sa ON sa.doc_id = i JOIN s sb ON sb.doc_id = j
         |       WHERE c / (sa.n + sb.n - c) >= 0.5),
         |src AS (SELECT doc_id, source FROM documents WHERE doc_id < 300)
         |SELECT least(a.source, b.source) AS source_a,
         |       greatest(a.source, b.source) AS source_b,
         |       count(*) AS n_pairs, CAST(SUM(i + j) AS BIGINT) AS id_sum
         |FROM jp JOIN src a ON jp.i = a.doc_id JOIN src b ON jp.j = b.doc_id
         |GROUP BY 1, 2""".stripMargin
    }) { (s, dir) =>
      val d = Tables.table(s, dir, "documents").filter(col("doc_id") < 300)
      val src = d.select(col("doc_id"), col("source"))
      Dedup.jaccardPairs(d, 0.5).select("i", "j")
        .join(src.select(col("doc_id").as("i"), col("source").as("sa")), "i")
        .join(src.select(col("doc_id").as("j"), col("source").as("sb")), "j")
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("i") + col("j")).cast("bigint").as("id_sum"))
    },

    // Unigram LM surprisal — the perplexity-filter shape (CCNet's quality
    // gate) with the corpus as its own LM, in EXACT integer arithmetic:
    // floor(log2(N/c)) computed as length(bin(N DIV c)) − 1 (binary digit
    // count of the floored odds), so no floating-point log can diverge
    // between engines. High mean = rare-token-heavy docs, low = boilerplate
    // — the two tails an LM filter trims.
    QDef.df("q90h_unigram_surprisal",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |c AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        |st AS (SELECT count(*) AS n_total FROM toks),
        |s AS (SELECT doc_id, length(bin(n_total // c)) - 1 AS sur
        |      FROM toks JOIN c USING (tok), st),
        |d AS (SELECT doc_id, count(*) AS n_toks, SUM(sur) AS tot FROM s GROUP BY 1)
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        |       CAST(tot AS BIGINT) AS total_surprisal,
        |       CAST((tot * 1000) // n_toks AS BIGINT) AS mean_surprisal_x1000
        |FROM d ORDER BY mean_surprisal_x1000 DESC, doc_id LIMIT 30""".stripMargin) {
      (s, dir) =>
        TextAnalysis.surprisal(Tables.table(s, dir, "documents"), topN = 30)
    },

    // Bigram LM surprisal — the same gate conditioned on the previous
    // token: cost = floor(log2(c1(w1)/c12(w1,w2))), c1 = Σ_w c12 so the
    // ratio is a true conditional ≥ 1. Catches docs built from common words
    // in improbable ORDER (shuffled text, keyword stuffing) that sail
    // through the unigram gate. Bigrams come from a per-row list transform
    // on both engines — no window, no self-join.
    QDef.df("q90i_bigram_surprisal",
      """WITH bg AS (
        |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(ts[1:len(ts)-1],
        |             (x, i) -> {'w1': x, 'w2': ts[i+1]})) AS u
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) z) y),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        |s AS (SELECT doc_id, length(bin(c1 // c12)) - 1 AS sur
        |      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
        |d AS (SELECT doc_id, count(*) AS n_bigrams, SUM(sur) AS tot FROM s GROUP BY 1)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |       CAST(tot AS BIGINT) AS total_surprisal,
        |       CAST((tot * 1000) // n_bigrams AS BIGINT) AS mean_surprisal_x1000
        |FROM d ORDER BY mean_surprisal_x1000 DESC, doc_id LIMIT 30""".stripMargin) {
      (s, dir) =>
        TextAnalysis.bigramSurprisal(Tables.table(s, dir, "documents"), topN = 30)
    },

    // Self-trained integer Naive Bayes source classifier: Laplace-smoothed
    // class cost floor(log2((N_s + V) / (c(w,s) + 1))) bits per token
    // (same bin-length log2 as the surprisal gates — no float log on
    // either engine), argmin class per doc with lexicographic ties, output
    // the (actual, predicted) confusion matrix. The quality-classifier
    // shape: diagonal mass = source separability.
    QDef.df("q90j_nb_confusion",
      """WITH toks AS (SELECT doc_id, source AS actual,
        |              unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, actual, tok, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
        |cnt AS (SELECT actual AS src, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |ns AS (SELECT actual AS src, count(*) AS n_src FROM toks GROUP BY 1),
        |vc AS (SELECT count(DISTINCT tok) AS vocab FROM toks),
        |sc AS (SELECT tf.doc_id, tf.actual, s.src,
        |         SUM(tf.tf * (length(bin((s.n_src + vc.vocab)
        |                                 // (COALESCE(cnt.c, 0) + 1))) - 1)) AS total
        |       FROM tf CROSS JOIN ns s CROSS JOIN vc
        |       LEFT JOIN cnt ON cnt.src = s.src AND cnt.tok = tf.tok
        |       GROUP BY 1, 2, 3),
        |pr AS (SELECT doc_id, actual, src AS predicted FROM (
        |        SELECT doc_id, actual, src,
        |               row_number() OVER (PARTITION BY doc_id
        |                                  ORDER BY total ASC, src ASC) AS rn
        |        FROM sc) t WHERE rn = 1)
        |SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pr GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      TextAnalysis.nbSourceConfusion(Tables.table(s, dir, "documents"))
    },

    // Exact phrase search (adjacency-aware retrieval — the query class a
    // bag-of-words index cannot answer): per-doc occurrences of the token
    // sequence "table hash" via a pure per-row positional scan (slice-
    // compare over candidate starts; no explode, no join, no shuffle until
    // the top-k), top-20 by (count DESC, doc_id).
    QDef.df("q84o_phrase_search",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |o AS (SELECT doc_id, len(list_filter(range(1, len(ts)),
        |               i -> ts[i:i+1] = ['table', 'hash'])) AS occ
        |      FROM d)
        |SELECT doc_id, CAST(occ AS BIGINT) AS occ FROM o
        |WHERE occ > 0 ORDER BY occ DESC, doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
        TextAnalysis.phraseSearch(Tables.table(s, dir, "documents"),
          Seq("table", "hash"), k = 20)
    },

    // Phrase search THROUGH the positional index (q84o's scan is the
    // correctness reference, also pinned by spec): reads only the two
    // terms' posting rows, occurrences = |(P("part")) ∩ (P("filter") − 1)|
    // — the positional-intersection every search engine runs. The oracle
    // computes the scan-side closed form and never touches the index, so
    // position extraction, batch merging and the shift arithmetic must all
    // agree with a fresh tokenization.
    QDef.df("q84p_indexed_phrase",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |o AS (SELECT doc_id, len(list_filter(range(1, len(ts)),
        |               i -> ts[i:i+1] = ['part', 'filter'])) AS occ
        |      FROM d)
        |SELECT doc_id, CAST(occ AS BIGINT) AS occ FROM o
        |WHERE occ > 0 ORDER BY occ DESC, doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
        val store = new graft.sink.TextIndexStore(Tables.ensureTextIndex(s, dir))
        store.phraseSearch(s, Seq("part", "filter"), k = 20)
    },

    // Ordered proximity search through the positional index ("table
    // followed by hash within 4 tokens" — the query class between
    // bag-of-words and exact phrase): reads only the two terms' posting
    // rows, counts ordered position pairs with 0 < Δ ≤ slop. The oracle
    // computes the scan-side closed form over a fresh tokenization and
    // never touches the index; the scan reference itself
    // (TextAnalysis.proximitySearch) is spec-pinned identical.
    QDef.df("q84q_proximity_search",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |o AS (SELECT doc_id,
        |        COALESCE(list_sum(list_transform(
        |          list_filter(range(1, len(ts)+1), i -> ts[i] = 'table'),
        |          i -> len(list_filter(range(i+1, least(i+4, len(ts))+1),
        |                               j -> ts[j] = 'hash')))), 0) AS occ
        |      FROM d)
        |SELECT doc_id, CAST(occ AS BIGINT) AS occ FROM o
        |WHERE occ > 0 ORDER BY occ DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val store = new graft.sink.TextIndexStore(Tables.ensureTextIndex(s, dir))
      store.proximitySearch(s, "table", "hash", slop = 4, k = 20)
    },

    // Phrase search through the COMPACTED positional index: q84p's
    // positional-intersection leg over the 3-batch store merged to one
    // batch dir (TextIndexStore.compact) — proving compaction preserves
    // POSITION LISTS, not just tf sums (q84r pins the tf side). The oracle
    // recomputes the closed form from a fresh tokenization and never
    // touches the index.
    QDef.df("q84x_compacted_phrase",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |o AS (SELECT doc_id, len(list_filter(range(1, len(ts)),
        |               i -> ts[i:i+1] = ['table', 'hash'])) AS occ
        |      FROM d)
        |SELECT doc_id, CAST(occ AS BIGINT) AS occ FROM o
        |WHERE occ > 0 ORDER BY occ DESC, doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
        val store = new graft.sink.TextIndexStore(Tables.ensureCompactTextIndex(s, dir))
        store.phraseSearch(s, Seq("table", "hash"), k = 20)
    },

    // Ordered proximity through the STRAGGLER-MERGED index (q84w's
    // concurrent-append/compaction interleaving on the positional leg):
    // the late batch's positions must stay visible through the manifest
    // watermark, so proximity counts still equal the fresh-tokenization
    // closed form the oracle computes.
    QDef.df("q84z_straggler_proximity",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |o AS (SELECT doc_id,
        |        COALESCE(list_sum(list_transform(
        |          list_filter(range(1, len(ts)+1), i -> ts[i] = 'table'),
        |          i -> len(list_filter(range(i+1, least(i+4, len(ts))+1),
        |                               j -> ts[j] = 'hash')))), 0) AS occ
        |      FROM d)
        |SELECT doc_id, CAST(occ AS BIGINT) AS occ FROM o
        |WHERE occ > 0 ORDER BY occ DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val store = new graft.sink.TextIndexStore(Tables.ensureStragglerTextIndex(s, dir))
      store.proximitySearch(s, "table", "hash", slop = 4, k = 20)
    },

    QDef.df("q91_lang_id", {
      def occ(g: String) = s"(length(text) - length(replace(text, '$g', ''))) / ${g.length}"
      val scores = TextAnalysis.LangProfiles.map { case (lang, grams) =>
        lang -> grams.map(occ).mkString(" + ")
      }
      val best = s"greatest(${scores.map(x => s"(${x._2})").mkString(", ")})"
      val cases = scores.map { case (lang, e) =>
        s"WHEN ($e) = $best AND ($e) > 0 THEN '$lang'"
      }.mkString("\n            ")
      s"""SELECT doc_id, lang,
         |       CASE $cases
         |            ELSE 'und' END AS guess
         |FROM documents WHERE doc_id < 200""".stripMargin
    }) { (s, dir) =>
      Tables.table(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("lang"), TextAnalysis.langGuess(col("text")).as("guess"))
    },

    QDef.df("q92_fingerprint",
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |            unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |            FROM documents WHERE doc_id < 100)
        |SELECT doc_id, CAST(SUM(pos * (length(tok) * 31 + ascii(tok))) AS BIGINT) AS fp
        |FROM tk GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.fingerprint(Tables.table(s, dir, "documents").filter(col("doc_id") < 100))
    },

    // The LSH scale path of q93, oracle-checked: the deterministic
    // hyperplane weights are injected into the oracle SQL as literals
    // (shortest-round-trip doubles parse back to identical bits), so both
    // engines compute bit-identical bucket signatures, then exact cosine
    // only within buckets.
    QDef.df("q93b_neardup_lsh", {
      def plane(p: Int) =
        (0 until 64).map(d => Similarity.planeWeight(p, d).toString).mkString("[", ", ", "]")
      val bucketExpr = (0 until 8).map(p =>
        s"(CASE WHEN list_dot_product(ve, ${plane(p)}) >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      s"""$V,
         |b AS (SELECT vec_id, ve, CAST($bucketExpr AS BIGINT) AS bucket
         |      FROM v WHERE vec_id < 100),
         |pr AS (SELECT x.vec_id AS i, y.vec_id AS j,
         |              list_dot_product(x.ve, y.ve) /
         |              (sqrt(list_dot_product(x.ve, x.ve)) * sqrt(list_dot_product(y.ve, y.ve))) AS cos
         |       FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT i, j, CAST(CAST(cos AS DECIMAL(38,4)) AS STRING) AS cos
         |FROM pr WHERE cos >= 0.3""".stripMargin
    }) { (s, dir) =>
      Dedup.embeddingNearDupLsh(
          Tables.table(s, dir, "embeddings").filter(col("vec_id") < 100), 0.3,
          dim = 64, nPlanes = 8)
        .select(col("i"), col("j"),
          col("cos").cast("decimal(38,4)").cast("string").as("cos"))
    },

    // Mutual kNN graph (kNN-graph curation backbone): edge (i,j) iff each
    // is in the other's top-5 by quantized cosine — the mutuality filter
    // that kills hub nodes. Oracle replays ranking and mutuality from the
    // same all-pairs frame; engine is the broadcast self-join baseline
    // (bounded corpus), index candidates at scale.
    QDef.df("q93c_mutual_knn",
      s"""$V,
         |a AS (SELECT vec_id AS i, ve AS ea FROM v WHERE vec_id < 300),
         |b AS (SELECT vec_id AS j, ve AS eb FROM v WHERE vec_id < 300),
         |p AS (SELECT i, j, CAST(list_dot_product(ea, eb) /
         |        (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb)))
         |        AS DECIMAL(38,4)) AS cos
         |      FROM a JOIN b ON i != j),
         |kn AS (SELECT i, j, cos FROM (
         |        SELECT i, j, cos,
         |               row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rn
         |        FROM p) t WHERE rn <= 5)
         |SELECT e1.i AS i, e1.j AS j, CAST(e1.cos AS STRING) AS cos
         |FROM kn e1 JOIN kn e2 ON e1.i = e2.j AND e1.j = e2.i
         |WHERE e1.i < e1.j""".stripMargin) { (s, dir) =>
      Similarity.mutualKnnGraph(
        Tables.table(s, dir, "embeddings").filter(col("vec_id") < 300), k = 5)
    },

    // kNN-density outlier pruning (the embedding-space junk filter):
    // density = SUM of the top-5 quantized cosines (exact decimal; a mean
    // would divide — the sum ranks identically), lowest 20 = the isolates.
    // Same all-pairs frame as q93c; oracle replays rank + sum exactly.
    QDef.df("q93d_knn_outliers",
      s"""$V,
         |a AS (SELECT vec_id AS i, ve AS ea FROM v WHERE vec_id < 300),
         |b AS (SELECT vec_id AS j, ve AS eb FROM v WHERE vec_id < 300),
         |p AS (SELECT i, j, CAST(list_dot_product(ea, eb) /
         |        (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb)))
         |        AS DECIMAL(38,4)) AS cos
         |      FROM a JOIN b ON i != j),
         |kn AS (SELECT i, cos FROM (
         |        SELECT i, cos,
         |               row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rn
         |        FROM p) t WHERE rn <= 5)
         |SELECT i AS vec_id,
         |       CAST(CAST(SUM(cos) AS DECIMAL(38,4)) AS STRING) AS density
         |FROM kn GROUP BY i
         |ORDER BY CAST(SUM(cos) AS DECIMAL(38,4)) ASC, vec_id LIMIT 20""".stripMargin) {
      (s, dir) =>
        Similarity.knnOutliers(
          Tables.table(s, dir, "embeddings").filter(col("vec_id") < 300),
          k = 5, bottomN = 20)
    },

    // Embedding centroid drift between corpus halves (the "did the
    // distribution move" ML-ops monitor): per-dim floored means of the
    // 4096-quantized vectors per half (the Lloyd floor, exact on negative
    // sums), drift = exact integer L1 between the mean vectors. Parity
    // split stands in for the before/after partition.
    QDef.df("q93e_centroid_drift",
      """WITH q AS (SELECT vec_id % 2 AS half,
        |       list_transform(embedding,
        |                      x -> CAST(floor(CAST(x AS DOUBLE) * 4096) AS BIGINT)) AS qv
        |       FROM embeddings),
        |e AS (SELECT half, unnest(qv) AS v, unnest(range(1, len(qv)+1)) AS pos FROM q),
        |m AS (SELECT half, pos,
        |             CAST((SUM(v) - ((SUM(v) % count(*) + count(*)) % count(*)))
        |                  / count(*) AS BIGINT) AS m
        |      FROM e GROUP BY 1, 2),
        |a AS (SELECT pos, m AS ma FROM m WHERE half = 0),
        |b AS (SELECT pos, m AS mb FROM m WHERE half = 1),
        |c AS (SELECT CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |      FROM q),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS dims,
        |             CAST(COALESCE(SUM(abs(ma - mb)), 0) AS BIGINT) AS l1_drift
        |      FROM a JOIN b USING (pos))
        |SELECT c.n_a, c.n_b, d.dims, d.l1_drift FROM c, d""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      Similarity.centroidDrift(e, pmod(col("vec_id"), lit(2)))
    },

    // Gopher-style repetition quality signal: share of repeated 3-grams.
    QDef.df("q94_repetition",
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |            unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |            FROM documents WHERE doc_id < 200),
        |sh0 AS (SELECT doc_id,
        |               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh,
        |               lead(tok, 2) OVER w AS t2
        |        FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT doc_id, sh FROM sh0 WHERE t2 IS NOT NULL)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS total_ngrams,
        |       CAST(count(DISTINCT sh) AS BIGINT) AS distinct_ngrams,
        |       CAST(CAST(1.0 - count(DISTINCT sh) / count(*) AS DECIMAL(38,4)) AS STRING) AS rep_ratio
        |FROM sh GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.repetitionRatio(
          Tables.table(s, dir, "documents").filter(col("doc_id") < 200), 3)
        .withColumn("rep_ratio", col("rep_ratio").cast("string"))
    },

    // Per-document n-gram novelty: distinct 3-gram count + how many first
    // occur in THIS doc (min doc_id over the corpus = this doc) — the
    // boilerplate/crawl-novelty signal. Linear shapes only: shingle →
    // grouped min → join back on shingle → per-doc counts; exact integers.
    QDef.df("q94b_novelty",
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |            unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |            FROM documents),
        |sh0 AS (SELECT doc_id,
        |               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh,
        |               lead(tok, 2) OVER w AS t2
        |        FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |s AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE t2 IS NOT NULL),
        |f AS (SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY sh)
        |SELECT s.doc_id, count(*) AS n_shingles,
        |       count(CASE WHEN f.first_doc = s.doc_id THEN 1 END) AS n_novel
        |FROM s JOIN f USING (sh) GROUP BY s.doc_id""".stripMargin) { (s, dir) =>
      Dedup.noveltyScore(Tables.table(s, dir, "documents"), 3)
    },

    // Near-dup cluster resolution: connected components over the Jaccard
    // pair graph — "keep one doc per duplicate cluster". Oracle computes
    // min-reachable-id via a recursive CTE; the engine runs BSP min-label
    // propagation (diameter-bounded rounds of join+min).
    QDef.df("q96_dedup_clusters",
      """WITH RECURSIVE t AS (SELECT DISTINCT doc_id, tok FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 50) x),
        |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |pr AS (SELECT i, j FROM p
        |       JOIN s sa ON sa.doc_id = i JOIN s sb ON sb.doc_id = j
        |       WHERE c / (sa.n + sb.n - c) >= 0.5),
        |nd AS (SELECT DISTINCT doc_id FROM t),
        |e AS (SELECT i AS a, j AS b FROM pr UNION ALL SELECT j, i FROM pr),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM nd
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.id)
        |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster
        |FROM reach GROUP BY id""".stripMargin) { (s, dir) =>
      // labels are the session-cached dedup model (Tables.ensureDedupLabels
      // — the resolution is computed once; downstream queries consume it)
      Tables.ensureDedupLabels(s, dir)
    },

    // Dedup-aware sampling weights — the "count every duplicate cluster
    // once" training-mix correction (the direct consumer of q96's
    // resolution): weight_x1000 = 1000 DIV |cluster|, so a 4-copy near-dup
    // cluster contributes ~1 doc of probability mass instead of 4. Same
    // component labels as q96 (BSP engine-side, recursive CTE oracle-side)
    // plus a cluster-size join.
    QDef.df("q90k_dedup_weights",
      """WITH RECURSIVE t AS (SELECT DISTINCT doc_id, tok FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 50) x),
        |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |pr AS (SELECT i, j FROM p
        |       JOIN s sa ON sa.doc_id = i JOIN s sb ON sb.doc_id = j
        |       WHERE c / (sa.n + sb.n - c) >= 0.5),
        |nd AS (SELECT DISTINCT doc_id FROM t),
        |e AS (SELECT i AS a, j AS b FROM pr UNION ALL SELECT j, i FROM pr),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM nd
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.id),
        |lab AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
        |sz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
        |       CAST(cluster_size AS BIGINT) AS cluster_size,
        |       CAST(1000 // cluster_size AS BIGINT) AS weight_x1000
        |FROM lab JOIN sz USING (cluster)""".stripMargin) { (s, dir) =>
      val labels = Tables.ensureDedupLabels(s, dir)
      val sizes = labels.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      labels.join(broadcast(sizes), "cluster")
        .select(col("doc_id"), col("cluster").cast("bigint").as("cluster"),
          col("cluster_size").cast("bigint").as("cluster_size"),
          expr("1000 DIV cluster_size").cast("bigint").as("weight_x1000"))
    },

    // Fixed-point PageRank over the near-dup pair graph — centrality-based
    // canonical-doc scoring next to q96b's length rule. Scaled-integer
    // arithmetic with floor division at every step, so the oracle replays
    // the exact iterations (doubles would drift with summation order);
    // engine = BSP rounds over a cached edge+degree frame, oracle = one
    // generated CTE per iteration.
    QDef.df("q96e_pagerank", {
      val S = 1000000000000L
      val iters = 3
      val steps = (1 to iters).map { k =>
        s"""r$k AS (SELECT nd.node,
           |  CAST((($S // c.n) * 15) // 100 + coalesce(s$k.v, 0) AS BIGINT) AS r
           |  FROM nd CROSS JOIN c LEFT JOIN (
           |    SELECT e.dst AS node, SUM(((r${k - 1}.r // d.deg) * 85) // 100) AS v
           |    FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node JOIN d ON d.src = e.src
           |    GROUP BY e.dst) s$k ON nd.node = s$k.node)""".stripMargin
      }
      s"""WITH t AS (SELECT DISTINCT doc_id, tok FROM (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE doc_id < 50) x),
         |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
         |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |pr AS (SELECT i, j FROM p
         |       JOIN s sa ON sa.doc_id = i JOIN s sb ON sb.doc_id = j
         |       WHERE c / (sa.n + sb.n - c) >= 0.5),
         |e AS (SELECT i AS src, j AS dst FROM pr UNION ALL SELECT j, i FROM pr),
         |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |nd AS (SELECT DISTINCT dst AS node FROM e),
         |c AS (SELECT count(*) AS n FROM nd),
         |r0 AS (SELECT node, CAST($S // n AS BIGINT) AS r FROM nd CROSS JOIN c),
         |${steps.mkString(",\n")}
         |SELECT node AS doc_id, r AS rank_fp FROM r$iters""".stripMargin
    }) { (s, dir) =>
      val pairs = Tables.ensureDedupPairs(s, dir)
      graft.engine.Graph.pageRank(pairs, iters = 3)(ranks =>
        QDef.localized(s,
          ranks.select(col("node").as("doc_id"), col("r").as("rank_fp"))))
    },

    // The production dedup ENDGAME on top of q96's clusters: keep ONE
    // canonical document per near-dup cluster — the longest (integer token
    // count, so the ranking is engine-exact), ties to the smallest id.
    // Cluster → rank-within-cluster → representative + member count: the
    // keep-list a 100 TB dedup pass actually emits.
    QDef.df("q96b_canonical_docs",
      """WITH RECURSIVE t AS (SELECT DISTINCT doc_id, tok FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 50) x),
        |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |pr AS (SELECT i, j FROM p
        |       JOIN s sa ON sa.doc_id = i JOIN s sb ON sb.doc_id = j
        |       WHERE c / (sa.n + sb.n - c) >= 0.5),
        |nd AS (SELECT DISTINCT doc_id FROM t),
        |e AS (SELECT i AS a, j AS b FROM pr UNION ALL SELECT j, i FROM pr),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM nd
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.id),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
        |q AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        |      FROM documents WHERE doc_id < 50),
        |jq AS (SELECT cl.cluster, cl.doc_id, q.tokens,
        |              row_number() OVER (PARTITION BY cl.cluster
        |                                 ORDER BY q.tokens DESC, cl.doc_id) AS rn
        |       FROM cl JOIN q ON q.doc_id = cl.doc_id),
        |n AS (SELECT cluster, count(*) AS n_docs FROM jq GROUP BY cluster)
        |SELECT CAST(n.cluster AS BIGINT) AS cluster, n.n_docs AS n_docs,
        |       jq.doc_id AS rep_doc, jq.tokens AS rep_tokens
        |FROM n JOIN jq ON jq.cluster = n.cluster AND jq.rn = 1""".stripMargin) { (s, dir) =>
      val docs = Tables.table(s, dir, "documents").filter(col("doc_id") < 50)
      val labels = Tables.ensureDedupLabels(s, dir)
      val toks = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("tokens"))
      val j = labels.join(toks, "doc_id")
      // representative + member count in ONE grouped pass: the canonical
      // pick (ORDER BY tokens DESC, doc_id) is a total order per cluster
      // (doc_id unique), so it is the struct-min of (-tokens, doc_id) —
      // partial/map-side combinable where the previous rn=1 window + the
      // separate count + their join paid a window sort, two exchanges and
      // a join (the q90j argmin shape, guide §2.3 "aggregate before you
      // shuffle"). rep_tokens rides as a carried field, never compared.
      j.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_docs"),
          min(struct((-col("tokens")).as("nt"), col("doc_id").as("rep_doc"),
            col("tokens").as("rep_tokens"))).as("rep"))
        .select(col("cluster").cast("bigint").as("cluster"), col("n_docs"),
          col("rep.rep_doc").as("rep_doc"), col("rep.rep_tokens").as("rep_tokens"))
    },

    // Per-document dedup verdict — q96b's final form: every doc gets
    // (cluster, keep), keep = the cluster's canonical member. One call
    // (Dedup.dedupVerdict) with a pluggable candidate generator.
    QDef.df("q96c_dedup_verdict",
      """WITH RECURSIVE t AS (SELECT DISTINCT doc_id, tok FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 50) x),
        |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |pr AS (SELECT i, j FROM p
        |       JOIN s sa ON sa.doc_id = i JOIN s sb ON sb.doc_id = j
        |       WHERE c / (sa.n + sb.n - c) >= 0.5),
        |nd AS (SELECT DISTINCT doc_id FROM t),
        |e AS (SELECT i AS a, j AS b FROM pr UNION ALL SELECT j, i FROM pr),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM nd
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.id),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
        |q AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        |      FROM documents WHERE doc_id < 50),
        |jq AS (SELECT cl.doc_id, CAST(cl.cluster AS BIGINT) AS cluster, q.tokens,
        |              row_number() OVER (PARTITION BY cl.cluster
        |                                 ORDER BY q.tokens DESC, cl.doc_id) AS rn
        |       FROM cl JOIN q ON q.doc_id = cl.doc_id)
        |SELECT doc_id, cluster, tokens, (rn = 1) AS keep FROM jq""".stripMargin) { (s, dir) =>
      val docs = Tables.table(s, dir, "documents").filter(col("doc_id") < 50)
      // the verdict consumes the session dedup model like every other
      // q96-family consumer (Tables.ensureDedupLabels — candidate pairs +
      // component resolution computed ONCE per pipeline, the documented
      // shape): re-deriving jaccardPairs + connected components per read
      // re-ran ~40 BSP/candidate jobs for state q96 already resolved.
      // Dedup.dedupVerdict (pairs → CC → verdict) stays the one-call
      // operator for pipelines without a shared model; its spec pins the
      // same output over the same fixture.
      val labels = Tables.ensureDedupLabels(s, dir)
      QDef.localized(s, Dedup.verdictFromLabels(docs, labels))
    },

    // Triangle count over the near-dup graph — the graph-analytics health
    // check on a dedup pass (triangle-dense clusters ⇒ transitive near-dup
    // mass; sparse triangles ⇒ chain-y borderline pairs). Edges are
    // already oriented (i < j), so each triangle joins exactly once —
    // e(a,b)⋈e(b,c)⋈e(a,c), the standard oriented two-path + closure
    // check that keeps distributed triangle counting linear in wedges.
    QDef.df("q96d_triangles",
      """WITH t AS (SELECT DISTINCT doc_id, tok FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 50) x),
        |s AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |pr AS (SELECT i, j FROM p
        |       JOIN s sa ON sa.doc_id = i JOIN s sb ON sb.doc_id = j
        |       WHERE c / (sa.n + sb.n - c) >= 0.5)
        |SELECT CAST(count(*) AS BIGINT) AS triangles,
        |       (SELECT CAST(count(*) AS BIGINT) FROM pr) AS edges
        |FROM pr e1 JOIN pr e2 ON e2.i = e1.j
        |           JOIN pr e3 ON e3.i = e1.i AND e3.j = e2.j""".stripMargin) { (s, dir) =>
      val pr = Tables.ensureDedupPairs(s, dir)
      val e1 = pr.as("e1"); val e2 = pr.as("e2"); val e3 = pr.as("e3")
      val tri = e1.join(e2, col("e2.i") === col("e1.j"))
        .join(e3, col("e3.i") === col("e1.i") && col("e3.j") === col("e2.j"))
        .agg(count(lit(1)).as("triangles"))
      QDef.localized(s, tri.crossJoin(broadcast(pr.agg(count(lit(1)).as("edges")))))
    },

    // Deterministic train/val/test split: multiplicative-hash membership,
    // reproducible across engines and reruns with no stored state.
    QDef.df("q97_split", {
      val h = TextAnalysis.splitHashSql("doc_id")
      s"""SELECT split, count(*) AS cnt, CAST(SUM(doc_id) AS BIGINT) AS id_sum
         |FROM (SELECT doc_id,
         |             CASE WHEN $h < 80 THEN 'train'
         |                  WHEN $h < 90 THEN 'val'
         |                  ELSE 'test' END AS split
         |      FROM documents) t
         |GROUP BY split""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.deterministicSplit(Tables.table(s, dir, "documents"))
        .groupBy("split")
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).cast("bigint").as("id_sum"))
    },

    // Distinctive terms per doc: the TF-IDF shape with float-free ranking
    // (tf DESC, rarest df, token) — two aggregations + a per-doc window
    QDef.df("q84c_top_terms",
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |            FROM documents WHERE doc_id < 100),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |             row_number() OVER (PARTITION BY tf.doc_id
        |                                ORDER BY tf.tf DESC, df.df ASC, tf.tok) AS rk
        |      FROM tf JOIN df USING (tok))
        |SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |       CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5""".stripMargin) { (s, dir) =>
      TextAnalysis.topTermsPerDoc(
        Tables.table(s, dir, "documents").filter(col("doc_id") < 100), 5)
    },

    // Train/test contamination: test docs sharing a 3-gram with any train
    // doc under the q97 deterministic split — the decontamination pass an
    // eval-clean pipeline runs before training. Candidate generation is an
    // equi-join on the shingle, never pairwise over documents.
    QDef.df("q97c_contamination", {
      val h = TextAnalysis.splitHashSql("doc_id")
      s"""WITH base AS (SELECT doc_id, text, $h AS h
         |              FROM documents WHERE doc_id < 300),
         |tk AS (SELECT doc_id, h, unnest(string_split(text, ' ')) AS tok,
         |              unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos FROM base),
         |sh0 AS (SELECT doc_id, h,
         |               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh,
         |               lead(tok, 2) OVER w AS t2
         |        FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |sh AS (SELECT DISTINCT doc_id, h, sh FROM sh0 WHERE t2 IS NOT NULL),
         |tr AS (SELECT doc_id AS train_doc, sh FROM sh WHERE h < 80),
         |te AS (SELECT doc_id AS test_doc, sh FROM sh WHERE h >= 90)
         |SELECT test_doc, CAST(count(DISTINCT sh) AS BIGINT) AS shared_ngrams,
         |       min(train_doc) AS min_train_doc
         |FROM te JOIN tr USING (sh)
         |GROUP BY test_doc""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.contamination(
        Tables.table(s, dir, "documents").filter(col("doc_id") < 300), 3)
    },

    // Decontamination (the removal form of q97c): train docs sharing >= 5
    // distinct 3-gram shingles with the TEST split are dropped (the test
    // side is immutable ground truth — train pays); output the surviving
    // per-split counts + id sums, so the oracle proves exactly WHICH docs
    // were removed.
    QDef.df("q97i_decontaminate", {
      val h = TextAnalysis.splitHashSql("doc_id")
      s"""WITH base AS (SELECT doc_id, text, $h AS h
         |              FROM documents WHERE doc_id < 300),
         |tk AS (SELECT doc_id, h, unnest(string_split(text, ' ')) AS tok,
         |              unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos FROM base),
         |sh0 AS (SELECT doc_id, h,
         |               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh,
         |               lead(tok, 2) OVER w AS t2
         |        FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |sh AS (SELECT DISTINCT doc_id, h, sh FROM sh0 WHERE t2 IS NOT NULL),
         |te AS (SELECT DISTINCT sh FROM sh WHERE h >= 90),
         |dirty AS (SELECT doc_id FROM (
         |           SELECT s.doc_id, count(*) AS shared
         |           FROM sh s JOIN te USING (sh) WHERE s.h < 80
         |           GROUP BY 1) t WHERE shared >= 5),
         |kept AS (SELECT doc_id,
         |                CASE WHEN h < 80 THEN 'train'
         |                     WHEN h < 90 THEN 'val'
         |                     ELSE 'test' END AS split
         |         FROM base WHERE doc_id NOT IN (SELECT doc_id FROM dirty))
         |SELECT split, CAST(count(*) AS BIGINT) AS cnt,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
         |FROM kept GROUP BY split""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.decontaminate(
          Tables.table(s, dir, "documents").filter(col("doc_id") < 300),
          n = 3, minShared = 5)
        .groupBy("split")
        .agg(count(lit(1)).cast("bigint").as("cnt"),
          sum(col("doc_id")).cast("bigint").as("id_sum"))
    },

    // Deterministic stratified downsampling: rebalance classes (keep 50% of
    // 'en', everything else) with the pure-arithmetic id hash — no RNG.
    QDef.df("q97b_stratified_sample",
      s"""SELECT lang, count(*) AS cnt, CAST(SUM(doc_id) AS BIGINT) AS id_sum
         |FROM documents
         |WHERE ${TextAnalysis.splitHashSql("doc_id")} <
         |      CASE WHEN lang = 'en' THEN 50 ELSE 100 END
         |GROUP BY lang""".stripMargin) { (s, dir) =>
      TextAnalysis.stratifiedSample(
          Tables.table(s, dir, "documents"), "lang", Map("en" -> 50))
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).cast("bigint").as("id_sum"))
    },

    // Target-mix rebalancing: realize a 4:2:1:1 source mix exactly, capped
    // by the scarcest stratum; unlisted sources drop. Selection order is the
    // deterministic split hash, so kept-counts AND the id checksum of WHICH
    // docs were kept must match the oracle.
    QDef.df("q97d_mix_sample", {
      val h = TextAnalysis.splitHashSql("doc_id")
      s"""WITH w AS (SELECT * FROM (VALUES ('src0', 4), ('src1', 2), ('src2', 1), ('src3', 1))
         |           t(source, wt)),
         |d AS (SELECT doc_id, source, wt, $h AS h FROM documents JOIN w USING (source)),
         |c AS (SELECT source, count(*) AS cnt, min(wt) AS wt FROM d GROUP BY source),
         |sc AS (SELECT CAST(min(floor(cnt / wt)) AS BIGINT) AS scale FROM c),
         |r AS (SELECT doc_id, source,
         |             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn FROM d),
         |k AS (SELECT c.source, sc.scale * c.wt AS keep FROM c, sc)
         |SELECT r.source, count(*) AS kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
         |FROM r JOIN k ON r.source = k.source AND r.rn <= k.keep
         |GROUP BY r.source""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.mixSample(Tables.table(s, dir, "documents"), "source",
          Map("src0" -> 4, "src1" -> 2, "src2" -> 1, "src3" -> 1))
        .groupBy("source")
        .agg(count(lit(1)).as("kept"), sum(col("doc_id")).cast("bigint").as("id_sum"))
    },

    // Mixture budgeting (the "what can I actually train on" solver): given
    // target shares x1000, the largest total with no source oversampled is
    // T = min_i floor(cnt_i*1000/share_i); take_i = (share_i*T) DIV 1000.
    // All floor arithmetic; the oracle replays the budget from the same
    // share literals.
    QDef.df("q97h_mix_budget",
      """WITH w AS (SELECT * FROM (VALUES ('src0', CAST(400 AS BIGINT)),
        |                                ('src1', CAST(300 AS BIGINT)),
        |                                ('src2', CAST(200 AS BIGINT)),
        |                                ('src3', CAST(100 AS BIGINT)))
        |           t(source, share_x1000)),
        |c AS (SELECT source, count(*) AS cnt FROM documents
        |      WHERE source IN ('src0','src1','src2','src3') GROUP BY 1),
        |j AS (SELECT w.source, COALESCE(c.cnt, 0) AS cnt, w.share_x1000
        |      FROM w LEFT JOIN c USING (source)),
        |tt AS (SELECT min((cnt * 1000) // share_x1000) AS t_total FROM j)
        |SELECT source, CAST(cnt AS BIGINT) AS cnt,
        |       share_x1000,
        |       CAST((share_x1000 * t_total) // 1000 AS BIGINT) AS take,
        |       CAST(CASE WHEN cnt = 0 THEN 0
        |            ELSE (((share_x1000 * t_total) // 1000) * 1000) // cnt
        |            END AS BIGINT) AS rate_x1000
        |FROM j, tt""".stripMargin) { (s, dir) =>
      TextAnalysis.mixBudget(
        Tables.table(s, dir, "documents")
          .filter(col("source").isin("src0", "src1", "src2", "src3")),
        Map("src0" -> 400L, "src1" -> 300L, "src2" -> 200L, "src3" -> 100L))
    },

    // Temperature-flattened mixture at T=2 (multilingual-pretraining
    // rebalance: share ∝ √cnt — head sources stop drowning the tail, tail
    // not oversampled). Weights are DATA-derived via exact integer sqrt
    // (isqrt + ±1 correction — no float reaches the result), realized with
    // the mixSample bottleneck rule; deterministic split-hash selection so
    // kept counts AND the id checksum replay.
    QDef.df("q97j_temperature_mix", {
      val h = TextAnalysis.splitHashSql("doc_id")
      val isq = TextAnalysis.isqrtSql("cnt")
      s"""WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
         |w AS (SELECT source, cnt, $isq AS wt FROM c),
         |sc AS (SELECT CAST(min(cnt // wt) AS BIGINT) AS scale FROM w),
         |k AS (SELECT w.source, sc.scale * w.wt AS keep FROM w, sc),
         |r AS (SELECT doc_id, source,
         |             row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rn
         |      FROM documents)
         |SELECT r.source, CAST(count(*) AS BIGINT) AS kept,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
         |FROM r JOIN k USING (source) WHERE r.rn <= k.keep
         |GROUP BY r.source""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.mixTemperature(Tables.table(s, dir, "documents"), "source")
        .groupBy("source")
        .agg(count(lit(1)).cast("bigint").as("kept"),
          sum(col("doc_id")).cast("bigint").as("id_sum"))
    },

    // Per-source document cap (over-represented-domain guard): at most 10
    // docs per source, smallest ids win. Engine selects through the
    // bounded-state TopKAggregator (≤ k rows per group leave each map
    // task — no corpus-wide window); oracle is the window formulation.
    QDef.df("q97e_source_cap",
      """WITH r AS (SELECT source, doc_id,
        |             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |           FROM documents)
        |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       max(doc_id) AS max_id
        |FROM r WHERE rn <= 10 GROUP BY source""".stripMargin) { (s, dir) =>
      TextAnalysis.capPerGroup(Tables.table(s, dir, "documents"), "source", k = 10)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("bigint").as("id_sum"),
          max(col("doc_id")).as("max_id"))
    },

    // Deterministic weighted systematic sampling: one doc per 1000 chars of
    // cumulative weight, selected iff the doc's weight span crosses a step
    // multiple — inclusion ∝ weight, zero randomness, exact integers. The
    // cumulative position is the distributed prefix sum (range partition +
    // broadcast offsets), the oracle's window cumsum is the small-data twin.
    QDef.df("q97f_weighted_sample",
      """WITH p AS (SELECT doc_id, n_chars AS w,
        |             coalesce(SUM(n_chars) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ps
        |           FROM documents)
        |SELECT count(*) AS n_sampled, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(sum(w) AS BIGINT) AS w_sum
        |FROM p WHERE (ps + w) // 1000 > ps // 1000""".stripMargin) { (s, dir) =>
      TextAnalysis.weightedSystematicSample(
          Tables.table(s, dir, "documents"), col("n_chars"), step = 1000L) { sample =>
        QDef.localized(s, sample.agg(
          count(lit(1)).as("n_sampled"),
          sum(col("doc_id")).cast("bigint").as("id_sum"),
          sum(col("weight")).cast("bigint").as("w_sum")))
      }
    },

    // Deterministic epoch shuffle (training-order stage): seeded hash →
    // shard + within-shard position; two epochs, 8 shards. ord_sum is the
    // position-weighted id checksum — it matches ONLY if the oracle derives
    // the byte-identical permutation (per-shard membership AND order), and
    // it provably differs between the two epochs' seeds.
    QDef.df("q97g_epoch_shuffle", {
      def epochCte(seed: Long, tag: String) = {
        val h = TextAnalysis.epochShuffleSql("doc_id", seed)
        s"""r$tag AS (SELECT doc_id, $h % 8 AS shard,
           |  row_number() OVER (PARTITION BY $h % 8 ORDER BY $h, doc_id) AS pos
           |  FROM documents)""".stripMargin
      }
      s"""WITH ${epochCte(1L, "1")},
         |${epochCte(2L, "2")},
         |u AS (SELECT CAST(1 AS BIGINT) AS epoch, * FROM r1
         |      UNION ALL SELECT CAST(2 AS BIGINT) AS epoch, * FROM r2)
         |SELECT epoch, CAST(shard AS BIGINT) AS shard, count(*) AS n,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
         |       CAST(SUM(pos * doc_id) AS BIGINT) AS ord_sum
         |FROM u GROUP BY 1, 2""".stripMargin
    }) { (s, dir) =>
      val d = Tables.table(s, dir, "documents")
      def epoch(seed: Long) =
        TextAnalysis.epochShuffle(d, seed, nShards = 8).withColumn("epoch", lit(seed))
      epoch(1L).unionByName(epoch(2L))
        .groupBy(col("epoch"), col("shard"))
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).cast("bigint").as("id_sum"),
          sum(col("pos") * col("doc_id")).cast("bigint").as("ord_sum"))
    },

    // Set-containment filter: docs whose token set holds ALL query terms —
    // a pure per-row array_intersect predicate (zero shuffle, zero explode;
    // the multi-set generalization is an inverted-index join, q84e).
    QDef.df("q84h_containing_all",
      """WITH t AS (SELECT doc_id, count(DISTINCT tok) AS hits FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) x
        |  WHERE tok IN ('table', 'key', 'merge') GROUP BY doc_id)
        |SELECT count(*) AS n_docs, CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum
        |FROM t WHERE hits = 3""".stripMargin) { (s, dir) =>
      TextAnalysis.containingAll(
          Tables.table(s, dir, "documents"), Seq("table", "key", "merge"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("doc_id")), lit(0L)).cast("bigint").as("id_sum"))
    },

    // Sequence-length histogram for batch packing.
    QDef.df("q98_length_hist",
      """SELECT CAST(least(floor(len(string_split(text, ' ')) / 32), 15) AS BIGINT) AS bucket,
        |       count(*) AS cnt,
        |       CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
        |       CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      TextAnalysis.lengthHistogram(Tables.table(s, dir, "documents"))
    },

    // Canonical-form normalization before dedup: lowercase, strip
    // non-printable, collapse whitespace, trim — then count how many docs
    // changed and how many distinct texts the corpus collapses to. Both
    // sides synthesize the same dirty variants (upper-cased + doubled
    // spaces for doc_id%3==0) so the normalizer has real work.
    QDef.df("q85b_normalize",
      """WITH d AS (SELECT doc_id,
        |                  CASE WHEN doc_id % 3 = 0
        |                       THEN upper(text) || '  trailing   run '
        |                       ELSE text END AS text
        |           FROM documents),
        |n AS (SELECT doc_id, text,
        |             trim(regexp_replace(regexp_replace(lower(text), '[^ -~]', ''),
        |                                 '  +', ' ')) AS norm
        |      FROM d)
        |SELECT count(*) AS n_docs,
        |       CAST(SUM(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |       CAST(count(DISTINCT text) AS BIGINT) AS distinct_raw,
        |       CAST(count(DISTINCT norm) AS BIGINT) AS distinct_norm
        |FROM n""".stripMargin) { (s, dir) =>
      val dirty = Tables.table(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(upper(col("text")), lit("  trailing   run ")))
          .otherwise(col("text")).as("text"))
      dirty.select(col("text"), TextAnalysis.normalizeText(col("text")).as("norm"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("norm") =!= col("text"), 1L).otherwise(0L)).cast("bigint").as("n_changed"),
          countDistinct(col("text")).cast("bigint").as("distinct_raw"),
          countDistinct(col("norm")).cast("bigint").as("distinct_norm"))
    },

    // Sequence packing (pretraining prep): docs concatenated in id order,
    // cut into 512-token sequences; per doc its global start offset, its
    // sequence id, and whether it straddles a boundary. Engine side is the
    // distributed prefix sum (no single-partition window); oracle is the
    // plain window cumsum DuckDB can afford at this scale.
    QDef.df("q98b_sequence_packing",
      """WITH t AS (SELECT doc_id,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |      FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |       start_offset // 512 AS bin,
        |       (start_offset + n_tokens) > (start_offset // 512 + 1) * 512 AS straddles
        |FROM c""".stripMargin) { (s, dir) =>
      TextAnalysis.packSequences(Tables.table(s, dir, "documents"), 512L) { packed =>
        QDef.localized(s, packed)
      }
    },

    // RAG chunking: 64-token chunks every 48 tokens (16-token overlap).
    // Engine is pure per-row array arithmetic (no shuffle — PlanSpec pins
    // it); the oracle re-derives every boundary and the md5 of every chunk
    // via list_slice at the same offsets.
    QDef.df("q98c_chunk_overlap",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS arr
        |            FROM documents WHERE doc_id < 100),
        |c AS (SELECT doc_id, arr,
        |             unnest(range(0, 1 + (len(arr) - 1) // 48)) AS chunk_idx
        |      FROM tk)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |       CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
        |       CAST(least(64, len(arr) - chunk_idx * 48) AS BIGINT) AS n_toks,
        |       md5(array_to_string(list_slice(arr, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')) AS chunk_md5
        |FROM c""".stripMargin) { (s, dir) =>
      TextAnalysis.chunkWithOverlap(
        Tables.table(s, dir, "documents").filter(col("doc_id") < 100),
        chunkTokens = 64, strideTokens = 48)
    },

    // Fill-in-the-middle transform (the code-LLM infilling rewrite):
    // deterministic char-level split points from pure modular arithmetic
    // over (doc_id, length) — no RNG state; PSM re-emission
    // <PRE>prefix<SUF>suffix<MID>middle; the oracle re-derives both cut
    // points and the reassembled string. prefix++middle++suffix == text is
    // property-tested.
    QDef.df("q98d_fim_transform",
      """WITH d AS (SELECT doc_id, text, length(text) AS n
        |           FROM documents WHERE doc_id < 100),
        |p AS (SELECT doc_id, text, n,
        |             (doc_id * 37 + 11) % (n + 1) AS p1 FROM d),
        |q AS (SELECT doc_id, text, n, p1,
        |             p1 + ((doc_id * 101 + 7) % (n - p1 + 1)) AS p2 FROM p)
        |SELECT doc_id,
        |       '<PRE>' || substr(text, 1, CAST(p1 AS INT)) ||
        |       '<SUF>' || substr(text, CAST(p2 + 1 AS INT)) ||
        |       '<MID>' || substr(text, CAST(p1 + 1 AS INT), CAST(p2 - p1 AS INT)) AS fim,
        |       CAST(p1 AS BIGINT) AS n_prefix,
        |       CAST(p2 - p1 AS BIGINT) AS n_middle,
        |       CAST(n - p2 AS BIGINT) AS n_suffix
        |FROM q""".stripMargin) { (s, dir) =>
      TextAnalysis.fimTransform(
        Tables.table(s, dir, "documents").filter(col("doc_id") < 100))
    },

    // ------------------------------------------------------- multimodal
    // Binary-column plumbing over the repo-owned media.parquet fixture —
    // REAL non-UTF-8 blobs through a parquet BINARY round-trip on both
    // engines. The decode stub's meta struct supplies media_type/n_bytes
    // (the oracle-able slice of the contract); content equality is pinned
    // byte-for-byte via hex(media). The stub-only fields (width/height/
    // duration, feature vectors, frame sampling, inference batches) stay
    // ScalaTest-covered — a byte-hash can't be oracle-expressed.
    QDef.df("q95_multimodal_meta",
      s"""SELECT media_id, media_type,
         |       CAST(octet_length(media) AS BIGINT) AS n_bytes,
         |       hex(media) AS content_hex
         |FROM read_parquet('${Cdc.Fixtures.oracleMediaPath}')""".stripMargin) { (s, dir) =>
      val m = s.read.parquet(Cdc.Fixtures.mediaPath)
      Multimodal.withMeta(m)
        .select(col("media_id"), col("meta.media_type").as("media_type"),
          col("meta.n_bytes").as("n_bytes"), hex(col("media")).as("content_hex"))
    },

    // Fixed-size blob chunking (32-byte chunks here; MBs in production) —
    // the row-size-bounding shard step. DuckDB can't slice BLOBs, but a
    // byte-slice-then-hex equals a hex-then-char-slice at doubled offsets,
    // so the oracle verifies every chunk boundary and byte exactly.
    QDef.df("q95b_media_chunks",
      s"""SELECT media_id, chunk_idx,
         |       substring(h, CAST(chunk_idx * 64 + 1 AS BIGINT), 64) AS chunk_hex
         |FROM (SELECT media_id, hex(media) AS h,
         |             unnest(range(0, greatest(CAST(ceil(octet_length(media) / 32.0) AS BIGINT), 1))) AS chunk_idx
         |      FROM read_parquet('${Cdc.Fixtures.oracleMediaPath}')) t""".stripMargin) { (s, dir) =>
      val m = s.read.parquet(Cdc.Fixtures.mediaPath)
      Multimodal.chunk(m, "media", chunkBytes = 32)
        .select(col("media_id"), col("chunk_idx"), hex(col("chunk")).as("chunk_hex"))
    },

    // Strided chunk sampling (the video-keyframe / audio-window access
    // pattern): every 3rd 32-byte chunk, offsets generated directly so
    // skipped chunks never materialize. Oracle = the q95b hex-slice trick
    // with a stepped range.
    QDef.df("q95d_frame_sample",
      s"""SELECT media_id, chunk_idx,
         |       substring(h, CAST(chunk_idx * 64 + 1 AS BIGINT), 64) AS chunk_hex
         |FROM (SELECT media_id, hex(media) AS h,
         |             unnest(range(0, greatest(CAST(ceil(octet_length(media) / 32.0) AS BIGINT), 1), 3)) AS chunk_idx
         |      FROM read_parquet('${Cdc.Fixtures.oracleMediaPath}')) t""".stripMargin) { (s, dir) =>
      val m = s.read.parquet(Cdc.Fixtures.mediaPath)
      Multimodal.sampleChunks(m, "media", chunkBytes = 32, everyN = 3)
        .select(col("media_id"), col("chunk_idx"), hex(col("chunk")).as("chunk_hex"))
    },

    // Content-chunk media near-dup: blobs sharing identical 32-byte chunk
    // content at ANY position (tail edits, partial copies, chunk reorders —
    // what a whole-file hash misses). Candidates = equi-join on chunk
    // bytes, never pairwise; the fixture's engineered triad (31 = blob 1
    // tail-flipped, 32 = blob 1 chunk-swapped) must surface exactly.
    QDef.df("q95e_media_neardup",
      s"""WITH x AS (SELECT media_id, hex(media) AS h,
         |             unnest(range(0, greatest(CAST(ceil(octet_length(media) / 32.0) AS BIGINT), 1))) AS ci
         |           FROM read_parquet('${Cdc.Fixtures.oracleMediaPath}')),
         |c AS (SELECT DISTINCT media_id, substring(h, ci * 64 + 1, 64) AS ch FROM x)
         |SELECT a.media_id AS i, b.media_id AS j,
         |       CAST(count(*) AS BIGINT) AS shared_chunks
         |FROM c a JOIN c b ON a.ch = b.ch AND a.media_id < b.media_id
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val m = s.read.parquet(Cdc.Fixtures.mediaPath)
      Multimodal.chunkNearDup(m, "media", chunkBytes = 32)
    },

    // Magic-number format sniffing + claim verification: detected container
    // format from real signatures, compared against the declared media_type.
    // The oracle re-derives the same decision tree over hex(media) prefixes.
    QDef.df("q95c_media_sniff",
      s"""SELECT media_id, media_type,
         |       sniffed,
         |       CASE WHEN sniffed IN ('jpeg', 'png', 'gif') THEN 'image'
         |            WHEN sniffed IN ('mp3', 'wav', 'flac') THEN 'audio'
         |            WHEN sniffed IN ('mp4', 'mkv', 'avi') THEN 'video'
         |            ELSE 'unknown' END = media_type AS claim_ok
         |FROM (
         |  SELECT media_id, media_type,
         |         CASE WHEN h LIKE 'FFD8FF%' THEN 'jpeg'
         |              WHEN h LIKE '89504E470D0A1A0A%' THEN 'png'
         |              WHEN h LIKE '47494638%' THEN 'gif'
         |              WHEN h LIKE '494433%' THEN 'mp3'
         |              WHEN h LIKE '664C6143%' THEN 'flac'
         |              WHEN h LIKE '1A45DFA3%' THEN 'mkv'
         |              WHEN h LIKE '52494646%' AND substring(h, 17, 8) = '57415645' THEN 'wav'
         |              WHEN h LIKE '52494646%' AND substring(h, 17, 8) = '41564920' THEN 'avi'
         |              WHEN substring(h, 9, 8) = '66747970' THEN 'mp4'
         |              ELSE 'unknown' END AS sniffed
         |  FROM (SELECT media_id, media_type, substring(hex(media), 1, 24) AS h
         |        FROM read_parquet('${Cdc.Fixtures.oracleMediaPath}')) raw) t""".stripMargin) { (s, dir) =>
      val m = s.read.parquet(Cdc.Fixtures.mediaPath)
      m.withColumn("sniffed", Multimodal.sniffType(col("media")))
        .select(col("media_id"), col("media_type"), col("sniffed"),
          (Multimodal.sniffCategory(col("sniffed")) === col("media_type")).as("claim_ok"))
    },

    // REAL raster decode, end to end: per document, ENCODE an actual 24-bit
    // BMP (deterministic dimensions from n_chars, deterministic per-pixel
    // pattern from (x, y, doc_id)) and DECODE it back byte-level — width/
    // height/bpp from the little-endian header, per-channel pixel sums from
    // the pixel data (offset + 4-byte row stride from the header, padding
    // skipped). Nothing flows from encoder to decoder except the bytes, so
    // a header-layout, endianness, stride or padding bug on EITHER side
    // breaks the match. The oracle never parses BMP: it recomputes every
    // field by closed-form arithmetic over the same (x, y, doc_id) domain —
    // an independent check of the byte-level decode (supersedes the q95
    // decodeStub caveat: these frame fields are oracle-checked, not
    // hash-derived).
    QDef.df("q95f_bmp_roundtrip",
      """WITH dims AS (SELECT doc_id, n_chars % 12 + 1 AS w, n_chars % 7 + 1 AS h
        |              FROM documents),
        |px AS (SELECT doc_id, w, h, x, y
        |       FROM dims, range(0, 12) tx(x), range(0, 7) ty(y)
        |       WHERE x < w AND y < h)
        |SELECT doc_id,
        |       CAST(MAX(w) AS BIGINT) AS width,
        |       CAST(MAX(h) AS BIGINT) AS height,
        |       CAST(24 AS BIGINT) AS bpp,
        |       CAST(54 + ((MAX(w)*3+3)//4)*4*MAX(h) AS BIGINT) AS n_bytes,
        |       CAST(SUM((3*x + y) % 251) AS BIGINT) AS sum_b,
        |       CAST(SUM((x + 7*y) % 251) AS BIGINT) AS sum_g,
        |       CAST(SUM((x + y + doc_id) % 251) AS BIGINT) AS sum_r
        |FROM px GROUP BY doc_id""".stripMargin) { (s, dir) =>
      graft.engine.Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          (pmod(col("n_chars"), lit(12L)) + 1).cast("int").as("w"),
          (pmod(col("n_chars"), lit(7L)) + 1).cast("int").as("h"))
        .withColumn("media", Multimodal.encodeBmp(col("w"), col("h"), col("doc_id")))
        .withColumn("meta", Multimodal.decodeBmpMeta(col("media")))
        .select(col("doc_id"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.bpp").cast("long").as("bpp"),
          length(col("media")).cast("long").as("n_bytes"),
          Multimodal.bmpChannelSum(col("media"), 0).as("sum_b"),
          Multimodal.bmpChannelSum(col("media"), 1).as("sum_g"),
          Multimodal.bmpChannelSum(col("media"), 2).as("sum_r"))
    },

    // Perceptual aHash near-dup over REAL BMP bytes: per-image 63-bit
    // average-hash computed from the decoded pixel data (gray > image
    // mean, file-order bit index), pairs blocked on the DECODED (w, h)
    // header dims, ranked by Hamming distance. The oracle recomputes hash
    // and dims closed-form over the (x, y, doc_id) pixel domain and never
    // parses BMP — so header decode, stride walk, gray/mean floors and the
    // bit packing must all agree byte-for-byte with the closed form.
    QDef.df("q95g_phash_neardup",
      """WITH dims AS (SELECT doc_id, n_chars % 12 + 1 AS w, n_chars % 7 + 1 AS h
        |              FROM documents),
        |px AS (SELECT doc_id, w, h, x, y,
        |         ((3*x + y) % 251 + (x + 7*y) % 251 + (x + y + doc_id) % 251) // 3 AS gray,
        |         (h - 1 - y) * w + x AS i
        |       FROM dims, range(0, 12) tx(x), range(0, 7) ty(y)
        |       WHERE x < w AND y < h),
        |st AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
        |              SUM(gray) // count(*) AS mean FROM px GROUP BY 1),
        |ah AS (SELECT px.doc_id, MAX(st.w) AS w, MAX(st.h) AS h,
        |         SUM(CASE WHEN px.i < 63 AND px.gray > st.mean
        |                  THEN (CAST(1 AS BIGINT) << CAST(px.i AS INT)) ELSE 0 END) AS ahash
        |       FROM px JOIN st USING (doc_id) GROUP BY 1)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
        |FROM ah a JOIN ah b ON a.w = b.w AND a.h = b.h AND a.doc_id < b.doc_id
        |ORDER BY hamming, i, j LIMIT 30""".stripMargin) { (s, dir) =>
      // the encoded bytes are BOUND as a lambda variable (the round's HOF
      // rule): as a plain column, projection collapse inlines the encoder
      // into every per-byte read inside the hash — re-encoding the BMP
      // hundreds of times per row. The repartition spreads the CPU-bound
      // raster work across all cores: the input is ONE parquet split (rows
      // are tiny; the expensive column is DERIVED), so without it the whole
      // encode+hash pass runs single-threaded — the image-pipeline shape
      // where width must follow compute, not input bytes
      val feats = graft.engine.Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        // explicit count: AQE would coalesce a keyless repartition to ONE
        // partition on these tiny input bytes — the cost here is derived
        // compute, which AQE cannot see
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          element_at(transform(array(Multimodal.encodeBmp(
              (pmod(col("n_chars"), lit(12L)) + 1).cast("int"),
              (pmod(col("n_chars"), lit(7L)) + 1).cast("int"),
              col("doc_id"))), m =>
            struct(Multimodal.decodeBmpMeta(m).as("meta"),
              Multimodal.bmpAHash(m).as("ahash"))), 1).as("f"))
        .select(col("doc_id"), col("f.meta.width").as("w"),
          col("f.meta.height").as("h"), col("f.ahash").as("ahash"))
      val a = feats.select(col("doc_id").as("i"), col("w"), col("h"),
        col("ahash").as("ha"))
      val b = feats.select(col("doc_id").as("j"), col("w"), col("h"),
        col("ahash").as("hb"))
      a.join(b, Seq("w", "h")).filter(col("i") < col("j"))
        .select(col("i"), col("j"),
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
        .orderBy(col("hamming"), col("i"), col("j")).limit(30)
    }
  )
}
