package graft
package registry

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Sketches, TextOps, TfIdf}
import graft.operators._
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.multimodal.Multimodal
import graft.plans.Expressions
import QueryHelpers._

/** The corpus family: queries whose programs read `documents` or
  * `embeddings` (text dedup, similarity, quality and curation). Each
  * record holds the Spark program and the DuckDB SQL that checks it,
  * with the registration comment above. */
private[graft] object CorpusQueries {

  /** Lazy compute-once sharing ([[Materialize.lazyCache]]) for a SMALL
    * multiply-referenced frame inside one query: no eager checkpoint job,
    * lineage retained (fault-tolerant), branches read the one cached copy.
    * Use where the shared frame is a few scalar columns and the eager job
    * [[mat]] schedules is pure overhead. */
  private def matLazy(df: DataFrame): DataFrame = Materialize.lazyCache(df)

  /** The numeric suffix of `source` ("srcN" → N) — UNBOUNDED suffix, like
    * the oracle-side `CAST(substring(source, 4) AS BIGINT)`; a fixed-width
    * substring would silently diverge from the oracle past 10 digits.
    * Feeds q75's budget tiers and the q83/q84 trust tiers. */
  private def sourceNum: Column =
    col("source").substr(lit(4), length(col("source"))).cast("long")

  /** The materialized MinHash signature frame (one compact row per doc) the
    * q70/q84 component chain builds on — EXPOSED separately from the
    * component resolution so a composed pipeline reuses it the way q69
    * reuses shingle postings: the md5 signature work dominates the chain
    * and must run once per pipeline, not once per consumer. Parameters are
    * mirrored by the oracle-side `minhashCompCtes`; tune them in BOTH
    * places or the engine and oracle silently desynchronize. */
  private def minhashSignatureFrame(docs: DataFrame): DataFrame =
    mat(Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, numHashes = 8))

  /** Banding → star edges → connected components from a PRE-materialized
    * signature frame (see [[minhashSignatureFrame]]). The star-edge core
    * references the banded postings twice; the ×4 banding explode
    * re-derives lazily from the materialized signatures, so no signature
    * recomputation reaches the final plan (EntrySpec asserts this on q84). */
  private def minhashComponentsFromSignatures(docs: DataFrame,
                                              sig: DataFrame): DataFrame = {
    val banded = Dedup.minhashBandPostingsFromSignatures(sig,
      numHashes = 8, bands = 4)
    val edges = Dedup.starEdgesFromBuckets(banded, Seq("band_idx", "band_val"))
    Graph.connectedComponents(docs.select(col("doc_id")),
      "doc_id", edges, "id_a", "id_b")
  }

  /** MinHash banding → star edges → connected components over `docs` —
    * the shared group-resolution chain behind q70 (components + sizes) and
    * q84 (components + keeper). */
  private def minhashComponents(docs: DataFrame): DataFrame =
    minhashComponentsFromSignatures(docs, minhashSignatureFrame(docs))

  /** DuckDB occurrence count of ` w ` in ` lower(text) ` — mirrors
    * TextOps.wordOccurrences exactly (same replace/length arithmetic). */
  private def occSql(w: String, textCol: String = "text"): String = {
    val pat = s" $w "
    s"(length(' '||lower($textCol)||' ') - length(replace(' '||lower($textCol)||' ', '$pat', ''))) / ${pat.length}"
  }

  private def langScoreSql(words: Seq[String], textCol: String = "text"): String =
    words.map(occSql(_, textCol)).mkString("(", " + ", ")")

  /** Shared DuckDB CTE mirroring [[TextOps.qualityScoreMilli]] (integer
    * arithmetic only — see that Scaladoc for why no floats): yields
    * `q(doc_id, quality_milli)`. Used by q38 and q78. */
  private def qualityMilliCte: String = {
    val stop = langScoreSql(Seq("the", "a", "of", "and", "is"))
    """f AS (SELECT doc_id,
         CAST(length(text) AS BIGINT) AS nc,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt,
         CAST(STOP AS BIGINT) AS stop,
         CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS pu
       FROM documents),
       q AS (SELECT doc_id,
         (400 * least(nc, 500)) // 500
         + (300 * least(stop * 5, nt)) // nt
         + 300 - (300 * least(pu * 10, nc)) // nc AS quality_milli
       FROM f)""".replace("STOP", stop)
  }

  private def langIdSql: String = {
    val scores = TextOps.LangMarkers.map { case (l, ws) => l -> s"s_$l" }
    val scoreDefs = TextOps.LangMarkers.map { case (l, ws) =>
      s"${langScoreSql(ws)} AS s_$l" }.mkString(", ")
    val mx = scores.map(_._2).mkString("greatest(", ", ", ")")
    val pred = scores.map { case (l, s) => s"WHEN $s = $mx THEN '$l'" }
      .mkString("CASE ", " ", " END")
    s"""WITH sc AS (SELECT doc_id, lang, $scoreDefs FROM documents)
       SELECT doc_id, lang, $pred AS pred_lang, CAST(s_en AS BIGINT) AS score_en
       FROM sc ORDER BY doc_id"""
  }

  /** Shared DuckDB CTE: distinct 3-gram shingles per doc + exploded view. */
  private val shinglesCte =
    """sh AS (SELECT doc_id AS id,
         list_distinct(list_transform(range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0) + 1),
           i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i, i + 2), ' '))) AS sh_arr
       FROM documents),
       e AS (SELECT id, len(sh_arr) AS n_sh, unnest(sh_arr) AS sh FROM sh)"""

  /** Oracle side of the contamination overlap joins on the RAW shingle
    * string: the engine hot path hashes to xxhash64 (8-byte shuffle rows),
    * but the compared quantity is the distinct-overlap COUNT, which is
    * hash-agnostic — so the oracle avoids any truncated-hash collision
    * noise by not hashing at all. */
  private val contShingleHashSql = "sh"

  /** Word 2-gram list of `toks` — mirrors TextOps.repetitionStats(n=2)
    * (list_slice ends are inclusive in DuckDB: [i, i+1] = 2 tokens). */
  private val twoGramListSql =
    """list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
       i -> array_to_string(list_slice(toks, i, i + 1), ' '))"""

  /** q69 oracle: the composed curation filter — exact-dedup keeper,
    * non-benchmark, uncontaminated (q66's mirror), quality ≥ 600‰ (q38's
    * mirror), duplicate-2-gram fraction ≤ 100‰ (q67's mirror). */
  private def curationSql: String = {
    val stop = langScoreSql(Seq("the", "a", "of", "and", "is"))
    s"""WITH $shinglesCte,
       te AS (SELECT DISTINCT $contShingleHashSql AS shh FROM e WHERE id % 50 = 0),
       tr AS (SELECT id, $contShingleHashSql AS shh FROM e WHERE id % 50 <> 0),
       cont AS (SELECT id FROM tr JOIN te USING (shh)
                GROUP BY id HAVING count(*) >= 3),
       keeper AS (SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1),
       f AS (SELECT doc_id,
           CAST(length(text) AS BIGINT) AS nc,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt,
           CAST($stop AS BIGINT) AS stop,
           CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS pu
         FROM documents),
       q AS (SELECT doc_id,
           (400 * least(nc, 500)) // 500
           + (300 * least(stop * 5, nt)) // nt
           + 300 - (300 * least(pu * 10, nc)) // nc AS quality_milli
         FROM f),
       tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
              FROM documents),
       rp AS (SELECT doc_id,
           CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS t2,
           CAST(len(list_distinct($twoGramListSql)) AS BIGINT) AS d2
         FROM tk),
       rm AS (SELECT doc_id,
           CASE WHEN t2 > 0 THEN (t2 - d2) * 1000 // t2
                ELSE CAST(0 AS BIGINT) END AS rep_2gram_milli
         FROM rp)
       SELECT d.doc_id, q.quality_milli, rm.rep_2gram_milli
       FROM documents d
       JOIN keeper USING (doc_id) JOIN q USING (doc_id) JOIN rm USING (doc_id)
       WHERE d.doc_id % 50 <> 0 AND d.doc_id NOT IN (SELECT id FROM cont)
         AND q.quality_milli >= 600 AND rm.rep_2gram_milli <= 100
       ORDER BY doc_id"""
  }

  /** The MinHash banding CTE list (through `mbands`) — mirrors
    * Dedup.minhashSlotHash (slots 0-3 from md5(sh), 4-7 from md5('1:'||sh),
    * 8-hex-char chunks) — shared by the q43 pair query and the q70
    * component resolution. */
  private def minhashCtes: String = {
    def slot(s: Int): String = {
      val digest = if (s < 4) "md5(sh)" else s"md5('${s / 4}:' || sh)"
      s"CAST('0x' || substring($digest, ${(s % 4) * 8 + 1}, 8) AS BIGINT)"
    }
    val sigCols = (0 until 8).map(s => s"min(${slot(s)}) AS mh$s").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val bv = (0 until 2).map(r => s"CAST(mh${b * 2 + r} AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT id, $b AS bi, $bv AS bv FROM sig"
    }.mkString(" UNION ALL ")
    s"""$shinglesCte,
       sig AS (SELECT id, $sigCols FROM e GROUP BY id),
       mbands AS ($bandSelects)"""
  }

  /** q146 oracle: three unrolled PageRank rounds over the band candidate
    * graph — the same floored integer-ppm arithmetic as
    * [[graft.operators.Graph.pageRankPpm]] (r // deg contributions,
    * (inflow·85) // 100 damping, 150000 // N teleport), so every rank is
    * bit-identical. */
  private def pageRankSql: String = {
    val rounds = (1 to 3).map { k =>
      s"""i$k AS (SELECT s.dst AS id, CAST(sum(r.r // s.deg) AS BIGINT) AS inflow
            FROM symdeg s JOIN r${k - 1} r ON r.id = s.src GROUP BY 1),
          r$k AS (SELECT d.doc_id AS id,
              CAST(150000 // nn.n + coalesce(i.inflow, 0) * 85 // 100 AS BIGINT) AS r
            FROM documents d CROSS JOIN nn LEFT JOIN i$k i ON i.id = d.doc_id)"""
    }.mkString(",\n")
    s"""WITH $minhashCtes,
       cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM mbands a JOIN mbands b
                  ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
       sym AS (SELECT id_a AS src, id_b AS dst FROM cand
               UNION SELECT id_b, id_a FROM cand),
       deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
       symdeg AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d USING (src)),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       r0 AS (SELECT doc_id AS id, CAST(1000000 // nn.n AS BIGINT) AS r
              FROM documents CROSS JOIN nn),
       $rounds
       SELECT id AS doc_id, r AS rank_ppm FROM r3
       ORDER BY rank_ppm DESC, doc_id LIMIT 20"""
  }

  /** q170 oracle: the same 5 greedy max-coverage rounds unrolled as CTEs
    * over the RAW shingle postings (gain/coverage counts are
    * hash-agnostic — the q42-family collision tolerance). */
  private def greedyCoverSql: String = {
    val rounds = (1 to 5).map { r =>
      val src =
        if (r == 1) "ed"
        else s"(SELECT * FROM ed WHERE sh NOT IN (SELECT sh FROM cov${r - 1}))"
      val covBody =
        if (r == 1) "SELECT DISTINCT e2.sh FROM ed e2 JOIN p1 ON e2.id = p1.id"
        else s"SELECT sh FROM cov${r - 1} " +
          s"UNION SELECT e2.sh FROM ed e2 JOIN p$r ON e2.id = p$r.id"
      s"""g$r AS (SELECT id, count(*) AS g FROM $src t$r GROUP BY 1),
          p$r AS (SELECT id, g FROM g$r ORDER BY g DESC, id LIMIT 1),
          cov$r AS ($covBody)"""
    }.mkString(",\n")
    val sel = (1 to 5).map { r =>
      s"""SELECT $r AS round, p$r.id AS doc_id, CAST(p$r.g AS BIGINT) AS gain,
         (SELECT CAST(count(*) AS BIGINT) FROM cov$r) AS covered_cum
         FROM p$r"""
    }.mkString(" UNION ALL ")
    s"""WITH $shinglesCte,
       ed AS (SELECT id, sh FROM e),
       $rounds
       $sel ORDER BY round"""
  }

  private def minhashSql: String =
    s"""WITH $minhashCtes
       SELECT DISTINCT a.id AS id_a, b.id AS id_b
       FROM mbands a JOIN mbands b ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id
       ORDER BY id_a, id_b"""

  /** q70 oracle: MinHash star edges (min id per band bucket) → recursive
    * min-label reachability — the same component construction as q65's
    * oracle, over the MinHash candidate graph. */
  /** Shared CTE chain (q70, q84): minhash banding → star edges → recursive
    * reachability → `comp(doc_id, comp)`. */
  private def minhashCompCtes: String =
    s"""$minhashCtes,
       pr AS (SELECT DISTINCT min(id) OVER (PARTITION BY bi, bv) AS id_a, id AS id_b
              FROM mbands),
       edges AS (SELECT id_a AS src, id_b AS dst FROM pr WHERE id_a <> id_b
                 UNION SELECT id_b, id_a FROM pr WHERE id_a <> id_b),
       walk(id, lbl) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
       comp AS (SELECT id AS doc_id, min(lbl) AS comp FROM walk GROUP BY id)"""

  private def minhashComponentsSql: String =
    s"""WITH RECURSIVE $minhashCompCtes
       SELECT doc_id, comp, count(*) OVER (PARTITION BY comp) AS comp_size
       FROM comp ORDER BY doc_id"""

  /** DuckDB byte list of a string's UTF-8 encoding, via hex(encode(..)) —
    * 2 hex chars per byte, parsed through the '0x' cast (HUGEINT has no
    * direct hex-literal cast, so go via BIGINT). */
  private def byteListSql(strExpr: String): String =
    s"""list_transform(range(1, length(hex(encode($strExpr)))//2 + 1),
       i -> CAST(CAST('0x' || substring(hex(encode($strExpr)), 2*i-1, 2) AS BIGINT) AS HUGEINT))"""

  /** Mirrors Hashing.rollingHash: polynomial hash mod 2^61−1 over UTF-8
    * bytes, exact in HUGEINT (h < 2^61, h*1000003 + 255 < 2^81 « 2^127). */
  private def rollingHashSql: String =
    s"""SELECT doc_id,
       CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), ${byteListSql("text")}),
         (acc, b) -> (acc * 1000003 + b) % 2305843009213693951) AS BIGINT) AS rhash
       FROM documents ORDER BY doc_id"""

  /** Mirrors Expressions.SimHash64 + Dedup.simhashCandidates: FNV-1a 64 per
    * token (HUGEINT mod-2^64 arithmetic), per-bit ±1 majority, 4×16-bit band
    * join, Hamming ≤ 3 on candidates (= bands − 1, the pigeonhole recall
    * contract). The unsigned HUGEINT simhash and Spark's signed long agree
    * on every band/xor/bit_count operation. */
  /** The simhash banding CTE list (through `bands`), shared by the q44 pair
    * query (all-pairs + Hamming filter) and the q65 component resolution
    * (star edges per band bucket). */
  private def simhashCtes: String = {
    val fnv =
      s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), ${byteListSql("tok")}),
         (acc, b) -> (xor(acc, b) * 1099511628211) % 18446744073709551616)"""
    val bitsum = (0 until 64).map(b =>
      s"CASE WHEN sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
        s"THEN CAST(1 AS HUGEINT) << $b ELSE CAST(0 AS HUGEINT) END").mkString(" + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT id, $b AS bi, (sim >> ${b * 16}) & 65535 AS bv FROM sim")
      .mkString(" UNION ALL ")
    s"""toks AS (SELECT doc_id AS id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
           FROM documents),
       th AS (SELECT id, $fnv AS h FROM toks),
       sim AS (SELECT id, $bitsum AS sim FROM th GROUP BY id),
       bands AS ($bandSelects)"""
  }

  private def simhashSql: String =
    s"""WITH $simhashCtes,
       cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
       hd AS (SELECT c.id_a, c.id_b,
                CAST(bit_count(xor(sa.sim, sb.sim)) AS INTEGER) AS hamming
              FROM cand c JOIN sim sa ON sa.id = c.id_a JOIN sim sb ON sb.id = c.id_b)
       SELECT id_a, id_b, hamming FROM hd WHERE hamming <= 3 ORDER BY id_a, id_b"""

  /** q65 oracle: Hamming-VERIFIED pair edges (two docs sharing ≥1 simhash
    * band AND within Hamming 3 — q44's candidate construction) → undirected
    * edges → connected components by recursive min-label reachability (walk
    * collects every label reachable from a node; min = component id), then
    * a size window. Mirrors Dedup.simhashVerifiedEdgesFromHashes +
    * Graph.connectedComponents: the engine's identical-hash collapse +
    * representative pairs have the same transitive closure as this full
    * verified pair graph, so the components agree. */
  private def dedupComponentsSql: String =
    s"""WITH RECURSIVE $simhashCtes,
       cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
       pr AS (SELECT c.id_a, c.id_b
              FROM cand c JOIN sim sa ON sa.id = c.id_a JOIN sim sb ON sb.id = c.id_b
              WHERE CAST(bit_count(xor(sa.sim, sb.sim)) AS INTEGER) <= 3),
       edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                 UNION SELECT id_b, id_a FROM pr),
       walk(id, lbl) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
       comp AS (SELECT id AS doc_id, min(lbl) AS comp FROM walk GROUP BY id)
       SELECT doc_id, comp, count(*) OVER (PARTITION BY comp) AS comp_size
       FROM comp ORDER BY doc_id"""

  /** q71 oracle: mirrors Dedup.embeddingLshPairs(numPlanes=6, dim=64,
    * minSim=0.3) — the same hyperplane-sign bucket construction as
    * [[annLshSql]], self-joined on the bucket with exact cosine rerank. */
  private def embLshSql: String = {
    val planes = graft.similarity.Ann.hyperplanes(6, 64)
    def dot(p: Array[Double]): String =
      p.zipWithIndex.map { case (s, d) =>
        s"vec[${d + 1}] * (${if (s > 0) "1.0" else "-1.0"})" }.mkString(" + ")
    val sigExpr = planes.zipWithIndex.map { case (pl, p) =>
      s"(CASE WHEN ${dot(pl)} >= 0 THEN ${1L << p} ELSE 0 END)" }.mkString(" + ")
    s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, norm, CAST($sigExpr AS BIGINT) AS bucket FROM
               (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm
                FROM p) WHERE norm > 0),
       pr AS (SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6) AS cosine
              FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       SELECT bucket, id_a, id_b, cosine FROM pr WHERE cosine >= 0.3
       ORDER BY id_a, id_b"""
  }

  /** Mirrors Ann.lshTopK(numPlanes=6, dim=64, multiProbe=1, k=10): the ±1
    * hyperplane signs come from the same md5-parity construction (embedded
    * here as literals via Ann.hyperplanes), the signature dot products sum
    * in the same left-to-right IEEE order, query buckets probe Hamming
    * radius 1 (sig XOR {0, 1<<p}). */
  /** q59/q107 shared CTE chain: deterministic stride centroids + nearest-
    * centroid cell assignment, mirroring `Ann.clusterAssign(nlist = 16)` —
    * yields `corp(vec_id, cell)`. */
  private val clusterCellsCte =
    """p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM p),
       cnt AS (SELECT count(*) AS c FROM n),
       cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  vec AS cvec, norm AS cnorm
                FROM n WHERE vec_id % greatest(1, (SELECT c FROM cnt) // 16) = 0
                ORDER BY vec_id LIMIT 16),
       ranked AS (SELECT v.vec_id, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY list_dot_product(v.vec, c.cvec) / c.cnorm DESC, c.cid DESC) AS cr
                  FROM n v CROSS JOIN cent c),
       corp AS (SELECT vec_id, cid AS cell FROM ranked WHERE cr = 1)"""

  /** md5-parity hyperplane signature + multiprobe-offset literals shared by
    * the LSH oracle mirrors ([[annLshSql]], [[annRecallSql]]). */
  private lazy val annSigExpr: String = {
    val planes = graft.similarity.Ann.hyperplanes(6, 64)
    def dot(p: Array[Double]): String =
      p.zipWithIndex.map { case (s, d) =>
        s"vec[${d + 1}] * (${if (s > 0) "1.0" else "-1.0"})" }.mkString(" + ")
    planes.zipWithIndex.map { case (pl, p) =>
      s"(CASE WHEN ${dot(pl)} >= 0 THEN ${1L << p} ELSE 0 END)" }.mkString(" + ")
  }

  private lazy val annProbes: String =
    (0L +: (0 until 6).map(p => 1L << p)).mkString("[", ", ", "]")

  private def annLshSql: String = {
    val sigExpr = annSigExpr
    val probes = annProbes
    s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm, $sigExpr AS sig
             FROM p),
       q AS (SELECT vec_id, vec, norm,
               unnest(list_transform($probes, o -> xor(sig, CAST(o AS BIGINT)))) AS bucket
             FROM n WHERE vec_id < 20),
       sims AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id,
                  round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6) AS cosine
                FROM n c JOIN q ON c.sig = q.bucket
                WHERE q.vec_id <> c.vec_id),
       r AS (SELECT query_id, corpus_id, cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, corpus_id) AS "rank" FROM sims)
       SELECT query_id, corpus_id, cosine, "rank" FROM r WHERE "rank" <= 10
       ORDER BY query_id, "rank""""
  }

  /** q191 oracle: the q89 exact/LSH rank CTEs, swept at k = 1/5/10 via
    * conditional sums over ONE rank join (same shape as the engine). */
  private def recallAtKSql: String = {
    val sigExpr = annSigExpr
    val probes = annProbes
    s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm, $sigExpr AS sig
             FROM p),
       exr AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6) DESC,
                            c.vec_id) AS r
               FROM n c, n q WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
       qb AS (SELECT vec_id, vec, norm,
                unnest(list_transform($probes, o -> xor(sig, CAST(o AS BIGINT)))) AS bucket
              FROM n WHERE vec_id < 20),
       asims AS (SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS corpus_id,
                   round(list_dot_product(qb.vec, c.vec) / (qb.norm * c.norm), 6) AS cosine
                 FROM n c JOIN qb ON c.sig = qb.bucket
                 WHERE qb.vec_id <> c.vec_id),
       ar AS (SELECT query_id, corpus_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, corpus_id) AS r FROM asims),
       j AS (SELECT e.query_id, e.r AS re, a.r AS ra
             FROM exr e LEFT JOIN ar a
               ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
               AND a.r <= 10
             WHERE e.r <= 10),
       agg AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq,
           CAST(sum(CASE WHEN re <= 1 AND ra <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
           CAST(sum(CASE WHEN re <= 5 AND ra <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5,
           CAST(sum(CASE WHEN re <= 10 AND ra <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS h10
         FROM j)
       SELECT k, k * nq AS n_true, h AS n_hit,
         CAST(h * 1000 // (k * nq) AS BIGINT) AS recall_milli
       FROM (SELECT 1 AS k, h1 AS h, nq FROM agg
             UNION ALL SELECT 5, h5, nq FROM agg
             UNION ALL SELECT 10, h10, nq FROM agg)
       ORDER BY k"""
  }

  /** q89 oracle: recall@10 of the LSH retrieval (annLshSql's construction)
    * vs the exact brute-force ranking (q46's construction) — both CTE
    * chains inlined over ONE shared signature CTE, counts left-joined per
    * query point. recall_milli uses floor integer division, mirroring the
    * engine's floor(n_hit*1000/n_exact). */
  private def annRecallSql: String = {
    val sigExpr = annSigExpr
    val probes = annProbes
    s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm, $sigExpr AS sig
             FROM p),
       exr AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6) DESC,
                            c.vec_id) AS r
               FROM n c, n q WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
       exact AS (SELECT query_id, corpus_id FROM exr WHERE r <= 10),
       qb AS (SELECT vec_id, vec, norm,
                unnest(list_transform($probes, o -> xor(sig, CAST(o AS BIGINT)))) AS bucket
              FROM n WHERE vec_id < 20),
       asims AS (SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS corpus_id,
                   round(list_dot_product(qb.vec, c.vec) / (qb.norm * c.norm), 6) AS cosine
                 FROM n c JOIN qb ON c.sig = qb.bucket
                 WHERE qb.vec_id <> c.vec_id),
       ar AS (SELECT query_id, corpus_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, corpus_id) AS r FROM asims),
       approx AS (SELECT query_id, corpus_id FROM ar WHERE r <= 10)
       SELECT e.query_id, count(*) AS n_exact,
         CAST(count(a.corpus_id) AS BIGINT) AS n_hit,
         CAST(count(a.corpus_id) * 1000 // count(*) AS BIGINT) AS recall_milli
       FROM exact e LEFT JOIN approx a
         ON e.query_id = a.query_id AND e.corpus_id = a.corpus_id
       GROUP BY e.query_id ORDER BY e.query_id"""
  }

  /** Mirrors Ann.ivfTopK(nlist=16, nprobe=4, k=10): stride-sampled centroid
    * pick (vec_id % (count/16) = 0, first 16 by id), nearest-cell ranking by
    * dot/cnorm with DESC cid tiebreak (= reverse(array_sort) on (sim, cid)
    * structs), corpus in its top-1 cell, queries probing their top-4. */
  private def annIvfSql: String =
    """WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM p),
       cnt AS (SELECT count(*) AS c FROM n),
       cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  vec AS cvec, norm AS cnorm
                FROM n WHERE vec_id % greatest(1, (SELECT c FROM cnt) // 16) = 0
                ORDER BY vec_id LIMIT 16),
       ranked AS (SELECT v.vec_id, v.vec, v.norm, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY list_dot_product(v.vec, c.cvec) / c.cnorm DESC, c.cid DESC) AS cr
                  FROM n v CROSS JOIN cent c),
       corp AS (SELECT vec_id AS corpus_id, vec, norm, cid AS cell FROM ranked WHERE cr = 1),
       qr AS (SELECT vec_id AS query_id, vec, norm, cid AS cell FROM ranked
              WHERE vec_id < 20 AND cr <= 4),
       sims AS (SELECT DISTINCT qr.query_id, corp.corpus_id,
                  round(list_dot_product(qr.vec, corp.vec) / (qr.norm * corp.norm), 6) AS cosine
                FROM corp JOIN qr ON corp.cell = qr.cell
                WHERE qr.query_id <> corp.corpus_id),
       r AS (SELECT query_id, corpus_id, cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, corpus_id) AS "rank" FROM sims)
       SELECT query_id, corpus_id, cosine, "rank" FROM r WHERE "rank" <= 10
       ORDER BY query_id, "rank""""

  /** q63 oracle: q56's IVF mirror with `iters` Lloyd passes inlined as SQL.
    * Each pass re-assigns every vector to its nearest current centroid
    * (same dot/cnorm DESC, cid DESC ranking as the final assignment), then
    * recomputes per-cell per-dimension means — unnest zipped with a 1-based
    * index list, and the EXACT integerized mean floor(sum(floor(x·2²⁴))/n)
    * / 2²⁴ mirroring Ann.refineCentroids bit-for-bit (BIGINT sum is
    * order-free; the single IEEE division + floor is engine-identical) —
    * and falls back to the previous centroid for cells that went empty. */
  private def annIvfLloydSql(iters: Int): String = {
    val iterCtes = (0 until iters).map { k =>
      s"""asg$k AS (SELECT v.vec_id, v.vec, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.vec, c.cvec) / c.cnorm DESC, c.cid DESC) AS cr
         FROM n v CROSS JOIN cent$k c),
       ex$k AS (SELECT cid, unnest(vec) AS x, unnest(range(1, len(vec) + 1)) AS i
                FROM asg$k WHERE cr = 1),
       mv$k AS (SELECT cid, list(m ORDER BY i) AS mv FROM
                  (SELECT cid, i,
                     floor(CAST(sum(CAST(floor(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                       / count(*)) / 16777216.0 AS m
                   FROM ex$k GROUP BY cid, i)
                GROUP BY cid),
       cent${k + 1} AS (SELECT c.cid, coalesce(m.mv, c.cvec) AS cvec,
           CASE WHEN m.mv IS NULL THEN c.cnorm
                ELSE sqrt(list_dot_product(m.mv, m.mv)) END AS cnorm
         FROM cent$k c LEFT JOIN mv$k m USING (cid))"""
    }.mkString(",\n       ")
    s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM p),
       cnt AS (SELECT count(*) AS c FROM n),
       cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  vec AS cvec, norm AS cnorm
                FROM n WHERE vec_id % greatest(1, (SELECT c FROM cnt) // 16) = 0
                ORDER BY vec_id LIMIT 16),
       $iterCtes,
       ranked AS (SELECT v.vec_id, v.vec, v.norm, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY list_dot_product(v.vec, c.cvec) / c.cnorm DESC, c.cid DESC) AS cr
                  FROM n v CROSS JOIN cent$iters c),
       corp AS (SELECT vec_id AS corpus_id, vec, norm, cid AS cell FROM ranked WHERE cr = 1),
       qr AS (SELECT vec_id AS query_id, vec, norm, cid AS cell FROM ranked
              WHERE vec_id < 20 AND cr <= 4),
       sims AS (SELECT DISTINCT qr.query_id, corp.corpus_id,
                  round(list_dot_product(qr.vec, corp.vec) / (qr.norm * corp.norm), 6) AS cosine
                FROM corp JOIN qr ON corp.cell = qr.cell
                WHERE qr.query_id <> corp.corpus_id),
       r AS (SELECT query_id, corpus_id, cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, corpus_id) AS "rank" FROM sims)
       SELECT query_id, corpus_id, cosine, "rank" FROM r WHERE "rank" <= 10
       ORDER BY query_id, "rank""""
  }

  val all: Seq[Query] = Seq(
    // Text analysis: char/token/punct counting (whitespace + BPE-ish regex).
    Query("q36_text_stats", (s, d) => {
      val doc = t(s, d, "documents")
      doc.select(col("doc_id"),
          length(col("text")).as("n_chars"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.bpeishTokenCount(col("text")).as("n_bpeish"),
          TextOps.punctCount(col("text")).as("n_punct"),
          TextOps.nonWsCharCount(col("text")).as("n_nonws"))
        .withColumn("avg_token_len",
          round(col("n_nonws").cast("double") / col("n_tokens"), 6))
        .orderBy(col("doc_id"))
    }, oracleSql =
      """SELECT doc_id,
         CAST(length(text) AS INTEGER) AS n_chars,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpeish,
         CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS INTEGER) AS n_punct,
         CAST(length(regexp_replace(text, '\s', '', 'g')) AS INTEGER) AS n_nonws,
         round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               / len(string_split_regex(trim(text), '\s+')), 6) AS avg_token_len
         FROM documents ORDER BY doc_id"""),

    // Text analysis: n-gram-heuristic language ID (stopword scoring).
    Query("q37_lang_id", (s, d) =>
      t(s, d, "documents").select(col("doc_id"), col("lang"),
          TextOps.langId(col("text")).as("pred_lang"),
          TextOps.langScore(col("text"), TextOps.LangMarkers.head._2).cast("long").as("score_en"))
        .orderBy(col("doc_id")), oracleSql = langIdSql),

    // Text analysis: composite quality score (integer milli-scale — immune
    // to cross-engine float-rounding boundary disagreements).
    Query("q38_quality_score", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextOps.qualityScoreMilli(col("text")).as("quality_milli"))
        .orderBy(col("doc_id")), oracleSql =
      s"""WITH $qualityMilliCte
         SELECT doc_id, quality_milli FROM q ORDER BY doc_id"""),

    // Text analysis: portable content fingerprint (md5 of normalized text).
    Query("q39_fingerprint", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextOps.contentFingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id")), oracleSql =
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
         FROM documents ORDER BY doc_id"""),

    // Dedup: exact (keep lowest id per identical text).
    Query("q40_dedup_exact", (s, d) =>
      Dedup.exactDedup(t(s, d, "documents"), Seq("text"), "doc_id")
        .select(col("doc_id"), col("n_chars")).orderBy(col("doc_id")), oracleSql =
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1 ORDER BY doc_id"""),

    // Dedup: fingerprint groups.
    Query("q41_dedup_fingerprint", (s, d) =>
      Dedup.fingerprintDedup(t(s, d, "documents"), "text", "doc_id")
        .orderBy(col("fingerprint")), oracleSql =
      """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
         min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY fingerprint"""),

    // Dedup: n-gram (3-shingle) Jaccard pairs via the bounded posting-list
    // pair core. maxDocFreq caps posting-list length — shingles present in
    // >100 docs are stop-shingles: quadratic pair blowup at corpus scale for
    // near-zero discriminative signal. The oracle mirrors the cap.
    // Postings materialized once (localCheckpoint): the sizes derivation and
    // the posting-list aggregate otherwise each re-run the shingle explode.
    Query("q42_ngram_jaccard", (s, d) => {
      val postings = mat(Dedup.shinglePostings(t(s, d, "documents"),
        "doc_id", "text", 3))
      Dedup.ngramJaccardFromPostings(postings,
          minJaccard = 0.05, maxDocFreq = 100L)
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
      s"""WITH $shinglesCte,
         ef AS (SELECT * FROM e WHERE sh NOT IN
                  (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100)),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             count(*) AS inter
           FROM ef a JOIN ef b ON a.sh = b.sh AND a.id < b.id
           GROUP BY 1, 2, 3, 4),
         j AS (SELECT id_a, id_b,
                 round(inter / (n_a + n_b - inter), 6) AS jaccard FROM pairs)
         SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.05
         ORDER BY id_a, id_b"""),

    // Dedup: MinHash + LSH candidate pairs (8 hashes, 4 bands).
    Query("q43_minhash_lsh", (s, d) =>
      Dedup.minhashLshCandidates(t(s, d, "documents"), "doc_id", "text",
          n = 3, numHashes = 8, bands = 4)
        .orderBy(col("id_a"), col("id_b")), oracleSql = minhashSql),

    // Dedup: SimHash near-dup candidates (custom Catalyst expression;
    // oracled via a HUGEINT FNV-1a + bit-majority mirror in DuckDB).
    // Engine buckets by 3-of-6-block combination keys (maxHamming < blocks
    // pigeonhole — full recall at Hamming ≤ 3); the oracle mirrors the
    // simpler 4×16-bit banding, which by the same pigeonhole admits the
    // identical verified pair set {hamming ≤ 3}.
    Query("q44_simhash_dedup", (s, d) =>
      Dedup.simhashCandidates(t(s, d, "documents"), "doc_id", "text",
          maxHamming = 3)
        .orderBy(col("id_a"), col("id_b")), oracleSql = simhashSql),

    // Dedup: embedding-cosine near-dup pairs, blocked by label.
    Query("q45_embedding_dedup", (s, d) =>
      Dedup.embeddingCosinePairs(t(s, d, "embeddings"), "vec_id", "embedding",
          "label", minSim = 0.1)
        .orderBy(col("id_a"), col("id_b")), oracleSql =
      """WITH v AS (SELECT label AS block, vec_id AS id,
                      CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         n AS (SELECT block, id, vec, norm FROM
                 (SELECT block, id, vec,
                    sqrt(list_dot_product(vec, vec)) AS norm FROM v)
               WHERE norm > 0),
         p AS (SELECT a.block AS block, a.id AS id_a, b.id AS id_b,
                 round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6) AS cosine
               FROM n a JOIN n b ON a.block = b.block AND a.id < b.id)
         SELECT block, id_a, id_b, cosine FROM p WHERE cosine >= 0.1
         ORDER BY id_a, id_b"""),

    // Similarity search: exact brute-force cosine top-k.
    Query("q46_ann_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.bruteForceTopK(emb.where(col("vec_id") < 20), emb, "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rank"))
    }, oracleSql =
      """WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM p),
         q AS (SELECT * FROM n WHERE vec_id < 20),
         sims AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                    round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6) AS cosine
                  FROM n c, q WHERE q.vec_id <> c.vec_id),
         r AS (SELECT query_id, corpus_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id) AS "rank" FROM sims)
         SELECT query_id, corpus_id, cosine, "rank" FROM r WHERE "rank" <= 10
         ORDER BY query_id, "rank""""),

    // Similarity search: LSH-bucketed ANN (oracled — the md5-parity
    // hyperplanes are deterministic and mirrored as SQL literals; recall
    // additionally measured against brute force in AnnSpec).
    Query("q47_ann_lsh", (s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.lshTopK(emb.where(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 10, numPlanes = 6, dim = 64, multiProbe = 1)
        .orderBy(col("query_id"), col("rank"))
    }, oracleSql = annLshSql),

    // Multimodal: binary payload + metadata plumbing (column variant).
    Query("q48_multimodal_meta", (s, d) =>
      Multimodal.fakeMetaColumns(Multimodal.withPayload(t(s, d, "documents"), "text"))
        .select(col("doc_id"), col("byte_len"), col("width"), col("height"), col("channels"))
        .orderBy(col("doc_id")), oracleSql =
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
         CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
         CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INTEGER) AS height,
         3 AS channels
         FROM documents ORDER BY doc_id"""),

    // Document fingerprinting via custom rolling-hash expression
    // (oracled via HUGEINT polynomial-mod arithmetic in DuckDB).
    Query("q49_rolling_hash", (s, d) => {
      t(s, d, "documents").select(col("doc_id"),
          Expressions.rollingHash(col("text")).as("rhash"))
        .orderBy(col("doc_id"))
    }, oracleSql = rollingHashSql),

    // Text analysis: corpus token histogram (explode + count, top 100).
    Query("q52_token_histogram", (s, d) =>
      t(s, d, "documents")
        .select(explode(TextOps.tokens(lower(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(100), oracleSql =
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
           FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 100"""),

    // Similarity search: IVF-cell ANN (oracled — the stride-sampled
    // centroids and nprobe cell ranking are deterministic and mirrored in
    // SQL; recall additionally measured against brute force in AnnSpec).
    Query("q56_ann_ivf", (s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.ivfTopK(emb.where(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    }, oracleSql = annIvfSql),

    // Text analysis: per-document top-3 TF-IDF terms (keyword extraction /
    // domain-filter scoring for a pretraining corpus).
    Query("q57_tfidf", (s, d) =>
      TfIdf.topTerms(t(s, d, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rnk")), oracleSql =
      """WITH toks AS (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
             FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
                GROUP BY doc_id, token),
         dfreq AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY token),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (SELECT tf.doc_id, tf.token,
             round(tf.tf * ln(CAST((SELECT n_docs FROM nd) AS DOUBLE) / dfreq.dfreq), 6) AS tfidf
           FROM tf JOIN dfreq USING (token)),
         r AS (SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, token) AS rnk FROM scored)
         SELECT doc_id, token, tfidf, rnk FROM r WHERE rnk <= 3
         ORDER BY doc_id, rnk"""),

    // PII detection + redaction. The synthetic corpus carries no PII, so
    // the query plants deterministic emails (doc_id % 3 of them) and one
    // phone per document, then counts and redacts — exercising both
    // regexes on genuine positives with varied cardinality.
    Query("q58_pii_redact", (s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          expr("repeat(concat(' user', doc_id, '@example.com'), CAST(doc_id % 3 AS INT))"),
          lit(" tel +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("aug"))
      aug.select(col("doc_id"),
          TextOps.emailCount(col("aug")).as("n_emails"),
          TextOps.phoneCount(col("aug")).as("n_phones"),
          md5(TextOps.redactPii(col("aug")).cast("binary")).as("redacted_md5"),
          length(TextOps.redactPii(col("aug"))).as("redacted_len"))
        .orderBy(col("doc_id"))
    }, oracleSql = {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+[0-9][0-9-]{7,}"
      val redacted = s"regexp_replace(regexp_replace(aug, '$email', '[EMAIL]', 'g'), '$phone', '[PHONE]', 'g')"
      s"""WITH aug AS (SELECT doc_id,
             text || repeat(' user' || CAST(doc_id AS VARCHAR) || '@example.com',
                            CAST(doc_id % 3 AS INT))
                  || ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(aug, '$email')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(aug, '$phone')) AS INT) AS n_phones,
           md5($redacted) AS redacted_md5,
           length($redacted) AS redacted_len
         FROM aug ORDER BY doc_id"""
    }),

    // Embedding-space corpus clustering: nearest-centroid histogram over
    // the same deterministic stride centroids as q56 (the IVF index-build
    // step exposed as its own operator).
    Query("q59_cluster_histogram", (s, d) =>
      Ann.clusterAssign(t(s, d, "embeddings"), "vec_id", "embedding", nlist = 16)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
             min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
        .orderBy(col("cell")), oracleSql =
      s"""WITH $clusterCellsCte
         SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_id, max(vec_id) AS max_id
         FROM corp GROUP BY cell ORDER BY cell"""),

    // Multimodal: REAL container-header decode (PNG/GIF/WAV magic + field
    // extraction as pure byte arithmetic). The query builds deterministic
    // well-formed headers per doc, parses them back through MediaHeaders;
    // the oracle derives the expected fields independently from the same
    // doc_id formulas — a wrong parse cannot cancel out.
    Query("q60_media_headers", (s, d) => {
      import graft.multimodal.MediaHeaders
      def hx(c: Column, n: Int) = lpad(hex(c), n, "0")
      def le2(c: Column) =
        concat(hx(pmod(c, lit(256)), 2), hx(floor(c / 256).cast("long"), 2))
      def le4(c: Column) = concat(le2(pmod(c, lit(65536))),
        le2(floor(c / 65536).cast("long")))
      val w = lit(16) + pmod(col("doc_id"), lit(1024))
      val h = lit(16) + pmod(col("doc_id") * 3, lit(1024))
      val ch = lit(1) + pmod(col("doc_id"), lit(2))
      val rate = when(pmod(col("doc_id"), lit(2)) === 0, 44100L).otherwise(8000L)
      val pngHex = concat(lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        hx(w, 8), hx(h, 8))
      val gifHex = concat(lit("474946383961"), le2(w), le2(h))
      val wavHex = concat(
        lit("52494646" + "24080000" + "57415645" + "666D7420" + "10000000" + "0100"),
        le2(ch), le4(rate))
      val payload = unhex(when(pmod(col("doc_id"), lit(3)) === 0, pngHex)
        .when(pmod(col("doc_id"), lit(3)) === 1, gifHex).otherwise(wavHex))
      t(s, d, "documents").select(col("doc_id"), payload.as("payload"))
        .select(col("doc_id"),
          MediaHeaders.kind(col("payload")).as("kind"),
          MediaHeaders.width(col("payload")).as("width"),
          MediaHeaders.height(col("payload")).as("height"),
          MediaHeaders.channels(col("payload")).as("channels"),
          MediaHeaders.sampleRate(col("payload")).as("sample_rate"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      """SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'wav' END AS kind,
           CASE WHEN doc_id % 3 IN (0, 1) THEN 16 + doc_id % 1024 END AS width,
           CASE WHEN doc_id % 3 IN (0, 1) THEN 16 + (doc_id * 3) % 1024 END AS height,
           CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 2 END AS channels,
           CASE WHEN doc_id % 3 = 2 THEN
             CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 8000 END END AS sample_rate
         FROM documents ORDER BY doc_id"""),

    // Corpus mixing: exact per-language quotas with a deterministic
    // md5-keyed draw (the rebalancing step before training-data packing),
    // one rank window per language.
    Query("q61_stratified_sample", (s, d) =>
      WindowOps.stratifiedSample(t(s, d, "documents"), Seq(col("lang")),
          col("doc_id"), 50, out = "rnk")
        .select(col("doc_id"), col("lang"), col("rnk"))
        .orderBy(col("lang"), col("rnk")), oracleSql =
      """WITH r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rnk
           FROM documents)
         SELECT doc_id, lang, rnk FROM r WHERE rnk <= 50
         ORDER BY lang, rnk"""),

    // Sequence packing: assign docs (in deterministic id order, per
    // language) to fixed token-budget bins via running-total division —
    // the greedy packing step that turns a corpus into training sequences.
    // One window cumsum per shuffle key; bin stats aggregate after.
    Query("q62_sequence_packing", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, d, "documents").select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      val binned = toks.withColumn("bin",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / lit(2048)))
      binned.groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"),
             min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"), col("bin"))
    }, oracleSql =
      """WITH toks AS (SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         b AS (SELECT doc_id, lang, n_tokens,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                         - n_tokens) / CAST(2048 AS DOUBLE)) AS BIGINT) AS bin
           FROM toks)
         SELECT lang, bin, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc
         FROM b GROUP BY lang, bin ORDER BY lang, bin"""),

    // IVF ANN with Lloyd-refined centroids (q56's index build + two
    // distributed k-means passes). Deterministic across engines: stride
    // seeds, cid-DESC tiebreaks, and per-dimension means rounded to 6 dp
    // before re-assignment (see Ann.refineCentroids).
    Query("q63_ann_ivf_lloyd", (s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.ivfTopK(emb.where(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 4, lloydIters = 2)
        .orderBy(col("query_id"), col("rank"))
    }, oracleSql = annIvfLloydSql(2)),

    // Dedup cluster resolution: simhash band buckets become duplicate
    // GROUPS via distributed connected components (large-star/small-star;
    // oracled against a recursive-CTE reachability mirror). Components are
    // those of the LSH candidate graph "shares ≥1 simhash band" — resolved
    // through linear star edges (min id per band bucket), never the
    // quadratic all-pairs bucket self-join (246k candidate pairs for 8.9k
    // useful edges at sf0.1 under the old shape). comp = smallest doc_id in
    // the cluster = the canonical keeper.
    // comp_size via map-side-combined groupBy + join, NOT a window over
    // comp: a window partition is unsplittable, so one giant duplicate
    // cluster (the common dedup case) would pin a single task; the sizes
    // frame is one row per component — broadcast-small here, AQE-skew-
    // splittable in the worst case.
    Query("q65_dedup_components", (s, d) => {
      val docs = t(s, d, "documents")
      // Hamming-VERIFIED edges (not raw band-bucket reachability): 16-bit
      // simhash bands chance-collide past ~16k docs, silently chaining
      // unrelated docs into mega-components; every edge here passes
      // bit_count(xor) <= 3, with identical hashes collapsed first so the
      // giant-cluster degeneracy never reaches the pairwise step. The
      // hashes frame is materialized once — it feeds both the
      // identical-hash collapse and the distinct-hash banding.
      val sim = mat(Dedup.simhashHashes(docs, "doc_id", "text"))
      val edges = Dedup.simhashVerifiedEdgesFromHashes(sim, maxHamming = 3)
      val labeled = Graph.connectedComponents(docs.select(col("doc_id")),
        "doc_id", edges, "id_a", "id_b")
      val sizes = labeled.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
      labeled.join(sizes, Seq("comp"))
        .select(col("id").as("doc_id"), col("comp"), col("comp_size"))
        .orderBy(col("doc_id"))
    }, oracleSql = dedupComponentsSql),

    // Benchmark decontamination: training docs sharing ≥3 distinct 3-gram
    // shingles with the held-out set (doc_id % 50 == 0) are contaminated.
    Query("q66_decontaminate", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contaminationOverlap(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 3, minShared = 3L)
        .orderBy(col("doc_id"))
    }, oracleSql =
      s"""WITH $shinglesCte,
         te AS (SELECT DISTINCT $contShingleHashSql AS shh FROM e WHERE id % 50 = 0),
         tr AS (SELECT id, $contShingleHashSql AS shh FROM e WHERE id % 50 <> 0)
         SELECT id AS doc_id, count(*) AS n_shared
         FROM tr JOIN te USING (shh)
         GROUP BY id HAVING count(*) >= 3 ORDER BY doc_id"""),

    // Gopher-style repetition metrics: total vs distinct tokens/2-grams per
    // doc plus an integer-milli duplicate-2-gram fraction.
    Query("q67_repetition", (s, d) => {
      val st1 = TextOps.repetitionStats(col("text"), 1)
      val st2 = TextOps.repetitionStats(col("text"), 2)
      t(s, d, "documents").select(col("doc_id"),
          st1.getField("total").as("n_toks"),
          st1.getField("distinct").as("n_distinct_toks"),
          st2.getField("total").as("n_2grams"),
          st2.getField("distinct").as("n_distinct_2grams"))
        .withColumn("rep_2gram_milli",
          when(col("n_2grams") > 0,
            ((col("n_2grams") - col("n_distinct_2grams")) * 1000 / col("n_2grams"))
              .cast("long"))
          .otherwise(lit(0L)))
        .orderBy(col("doc_id"))
    }, oracleSql =
      s"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
             FROM documents),
         c AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_toks,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_toks,
             CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_2grams,
             CAST(len(list_distinct($twoGramListSql)) AS BIGINT) AS n_distinct_2grams
           FROM tk)
         SELECT doc_id, n_toks, n_distinct_toks, n_2grams, n_distinct_2grams,
           CASE WHEN n_2grams > 0 THEN (n_2grams - n_distinct_2grams) * 1000 // n_2grams
                ELSE CAST(0 AS BIGINT) END AS rep_2gram_milli
         FROM c ORDER BY doc_id"""),

    // End-to-end corpus curation: exact-dedup keepers, non-benchmark,
    // uncontaminated, quality ≥ 600‰, duplicate-2-gram fraction ≤ 100‰ —
    // the composed filter a pretraining pipeline ships.
    Query("q69_corpus_curation", (s, d) => {
      val docs = t(s, d, "documents")
      // Keeper IDS from one aggregate pass (doc_id is unique here), not
      // exactDedup's aggregate + full-width probe — one fewer corpus scan
      // in the composed plan (asserted in EntrySpec).
      val keepers = Dedup.exactKeeperIds(docs, Seq("text"), "doc_id")
      // Shingle the corpus ONCE: the exploded (id, shingle-hash) frame is
      // materialized (localCheckpoint) and BOTH contamination sides filter
      // it from memory — not one explosion per side. ContextCleaner frees
      // the checkpoint when the frame is unreachable.
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", 3))
      val contaminated = Dedup.contaminationFromPostings(
          postings.where(col("id") % 50 =!= 0),
          postings.where(col("id") % 50 === 0), minShared = 3L)
        .select(col("doc_id"))
      val st2 = TextOps.repetitionStats(col("text"), 2)
      docs.join(keepers, Seq("doc_id"), "semi")
        .where(col("doc_id") % 50 =!= 0)
        .join(contaminated, Seq("doc_id"), "anti")
        .select(col("doc_id"),
          TextOps.qualityScoreMilli(col("text")).as("quality_milli"),
          st2.getField("total").as("n_2grams"),
          st2.getField("distinct").as("n_distinct_2grams"))
        .withColumn("rep_2gram_milli",
          when(col("n_2grams") > 0,
            ((col("n_2grams") - col("n_distinct_2grams")) * 1000 / col("n_2grams"))
              .cast("long"))
          .otherwise(lit(0L)))
        .where(col("quality_milli") >= 600 && col("rep_2gram_milli") <= 100)
        .select(col("doc_id"), col("quality_milli"), col("rep_2gram_milli"))
        .orderBy(col("doc_id"))
    }, oracleSql = curationSql),

    // MinHash dedup groups: like q65 but over the MinHash (shingle-set)
    // candidate graph — linear star edges per signature-band bucket feed
    // the large-star/small-star component resolver.
    Query("q70_minhash_components", (s, d) => {
      val docs = t(s, d, "documents")
      val labeled = minhashComponents(docs)
      val sizes = labeled.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
      labeled.join(sizes, Seq("comp")) // see q65: sizes join, not a window
        .select(col("id").as("doc_id"), col("comp"), col("comp_size"))
        .orderBy(col("doc_id"))
    }, oracleSql = minhashComponentsSql),

    // Unblocked embedding near-dup: LSH sign-bucket blocking (the same
    // deterministic md5-parity hyperplanes q47 probes, mirrored as SQL
    // literals in the oracle) + exact cosine within the bucket — the scale
    // path when no curated blocking column exists.
    Query("q71_embedding_lsh_dedup", (s, d) =>
      Dedup.embeddingLshPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          numPlanes = 6, dim = 64, minSim = 0.3)
        .orderBy(col("id_a"), col("id_b")), oracleSql = embLshSql),

    // Incremental ingest dedup: treat doc_id % 10 < 8 as the already-
    // indexed corpus (its persisted fingerprint set), the rest as the new
    // batch — survivors are batch keepers whose content the index has
    // never seen. Intra-batch dedup runs BEFORE the index anti-join, so
    // the join probes one row per distinct content (skew-proof).
    Query("q72_incremental_dedup", (s, d) => {
      val docs = t(s, d, "documents")
      val index = docs.where(col("doc_id") % 10 < 8)
        .select(TextOps.contentFingerprint(col("text")).as("fingerprint"))
      Dedup.incrementalExactDedup(docs.where(col("doc_id") % 10 >= 8),
          "doc_id", "text", index, fingerprintOut = Some("fingerprint"))
        .select(col("doc_id"), col("fingerprint"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      """WITH fp AS (SELECT doc_id,
             md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
           FROM documents),
         idx AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 < 8),
         batch AS (SELECT * FROM fp WHERE doc_id % 10 >= 8),
         keep AS (SELECT fingerprint, min(doc_id) AS doc_id
                  FROM batch GROUP BY fingerprint)
         SELECT doc_id, fingerprint FROM keep k
         WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.fingerprint = k.fingerprint)
         ORDER BY doc_id"""),

    // Incremental NEAR-dup screening: new-batch docs whose MinHash bands
    // collide with the persisted corpus index, with the per-doc matching-
    // band count as the S-curve signal.
    Query("q73_incremental_minhash", (s, d) => {
      val docs = t(s, d, "documents")
      val index = Dedup.minhashBandPostings(
        docs.where(col("doc_id") % 10 < 8), "doc_id", "text",
        n = 3, numHashes = 8, bands = 4)
      Dedup.incrementalMinhashSuspects(docs.where(col("doc_id") % 10 >= 8),
          "doc_id", "text", n = 3, numHashes = 8, bands = 4, index)
        .select(col("id").as("doc_id"), col("n_matching_bands"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      s"""WITH $minhashCtes,
         idx AS (SELECT DISTINCT bi, bv FROM mbands WHERE id % 10 < 8),
         bat AS (SELECT id, bi, bv FROM mbands WHERE id % 10 >= 8)
         SELECT b.id AS doc_id, count(*) AS n_matching_bands
         FROM bat b JOIN idx i ON b.bi = i.bi AND b.bv = i.bv
         GROUP BY b.id ORDER BY doc_id"""),

    // Decontamination on a second split: q66's contract with a 1-in-40
    // test split and a threshold of 2, so the two queries stay distinct.
    // The "bloom" in its name is historical; the evidence ledger keys on it.
    Query("q74_bloom_decontaminate", (s, d) => {
      val docs = t(s, d, "documents")
      val tr = Dedup.shinglePostings(
        docs.where(col("doc_id") % 40 =!= 0), "doc_id", "text", n = 3)
      val te = Dedup.shinglePostings(
        docs.where(col("doc_id") % 40 === 0), "doc_id", "text", n = 3)
      Dedup.contaminationFromPostings(tr, te, minShared = 2L)
        .orderBy(col("doc_id"))
    }, oracleSql =
      s"""WITH $shinglesCte,
         te AS (SELECT DISTINCT $contShingleHashSql AS shh FROM e WHERE id % 40 = 0),
         tr AS (SELECT id, $contShingleHashSql AS shh FROM e WHERE id % 40 <> 0)
         SELECT id AS doc_id, count(*) AS n_shared
         FROM tr JOIN te USING (shh)
         GROUP BY id HAVING count(*) >= 2 ORDER BY doc_id"""),

    // Training-mix assembly: fill a per-source TOKEN budget (varying by
    // source) with the deterministic md5 draw — the bucketed two-phase
    // cumulative sum, bit-identical to the oracle's naive window.
    Query("q75_mixture_sample", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
      val budgets = docs.select(col("source")).distinct()
        .withColumn("budget",
          lit(500L) + lit(250L) *
            (sourceNum % 4L))
      operators.Mixture.tokenBudgetSample(docs, "source", col("n_toks"),
          col("doc_id"), budgets)
        .select(col("doc_id"), col("source"), col("n_toks"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // The oracle states the SEMANTICS (one windowed cumulative sum per
      // source); the engine's bucketed two-phase form must be bit-identical.
      """WITH w AS (SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks,
             md5(CAST(doc_id AS VARCHAR)) AS k,
             500 + 250 * (CAST(substring(source, 4) AS BIGINT) % 4) AS budget
           FROM documents),
         c AS (SELECT doc_id, source, n_toks, budget,
             sum(n_toks) OVER (PARTITION BY source ORDER BY k
                               ROWS UNBOUNDED PRECEDING) AS run
           FROM w)
         SELECT doc_id, source, n_toks FROM c WHERE run <= budget
         ORDER BY doc_id"""),

    // Containment near-dup pairs over the same shingle postings as q42:
    // |A∩B| / min(|A|,|B|) catches subset-duplicates (a short doc embedded
    // in a long one) that symmetric Jaccard structurally misses.
    Query("q77_containment_pairs", (s, d) => {
      val postings = mat(Dedup.shinglePostings(t(s, d, "documents"),
        "doc_id", "text", 3))
      Dedup.ngramContainmentFromPostings(postings,
          minContainment = 0.6, maxDocFreq = 100L)
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
      s"""WITH $shinglesCte,
         ef AS (SELECT * FROM e WHERE sh NOT IN
                  (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100)),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             count(*) AS inter
           FROM ef a JOIN ef b ON a.sh = b.sh AND a.id < b.id
           GROUP BY 1, 2, 3, 4),
         c AS (SELECT id_a, id_b,
                 round(inter / least(n_a, n_b), 6) AS containment FROM pairs)
         SELECT id_a, id_b, containment FROM c WHERE containment >= 0.6
         ORDER BY id_a, id_b"""),

    // The curation pipeline of the NEW ops, composed end-to-end:
    // boilerplate-block removal → quality scoring of the CLEANED text →
    // quality-weighted importance sampling → per-source token-budget
    // mixture. Every stage deterministic, so the whole chain oracles.
    Query("q79_curation_pipeline", (s, d) => {
      val docs = t(s, d, "documents")
      // `source` rides the segment pass as a carry column — the join back
      // to documents it replaces shuffled the reassembled text a second
      // time and re-scanned the table (the pipeline's one >2×-oracle
      // stage in round 9's bench).
      val scored = Dedup.segmentDedup(docs, "doc_id",
          Dedup.tokenBlocks(col("text"), 12), maxCount = 2L,
          carryCols = Seq("source"))
        .where(col("n_kept") >= 1)
        .select(col("id").as("doc_id"), col("source"), col("text_clean"))
        .withColumn("quality_milli",
          TextOps.qualityScoreMilli(col("text_clean")))
      // Cached (lazily): Mixture references its input twice (bucket sums +
      // the classification join) — uncached, each reference re-derives the
      // whole clean→score→sample chain (per-branch column pruning makes
      // the subtrees non-identical, so ReusedExchange does NOT collapse
      // them — measured 3.3 s vs 1.9 s floor). Lazy persist, not an eager
      // checkpoint: the cache fills during the bucket-sum stage, so the
      // pipeline runs one job fewer. n_toks is computed BEFORE the cache
      // boundary so it holds four scalar columns, not the document text.
      val sampled = mat(operators.WindowOps.importanceSample(scored,
          col("doc_id"), col("quality_milli"))
        .withColumn("n_toks", TextOps.tokenCount(col("text_clean")).cast("long"))
        .select(col("doc_id"), col("source"), col("quality_milli"),
          col("n_toks")))
      // Uniform 800-token budget: the constant-budget overload skips the
      // per-source budgets frame (a distinct shuffle + broadcast the
      // oracle's WHERE-budget mirror never needed).
      operators.Mixture.tokenBudgetSample(sampled, "source", col("n_toks"),
          col("doc_id"), lit(800L))
        .select(col("doc_id"), col("source"), col("quality_milli"), col("n_toks"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // The q76 cleaning CTEs, then quality/draw/window over the CLEANED
      // text — stage-for-stage the engine pipeline's mirror.
      {
      val stopTc = langScoreSql(Seq("the", "a", "of", "and", "is"), "text_clean")
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             FROM documents),
         lf AS (SELECT doc_id,
             list_transform(range(1, CAST(ceil(len(toks) / 12.0) AS INT) + 1),
               i -> array_to_string(list_slice(toks, (i - 1) * 12 + 1, (i - 1) * 12 + 12), ' ')) AS lns
           FROM tk),
         segs AS (SELECT doc_id, unnest(lns) AS seg,
             generate_subscripts(lns, 1) AS idx FROM lf),
         hot AS (SELECT seg FROM segs GROUP BY seg HAVING count(*) > 2),
         mk AS (SELECT s.doc_id, s.idx, s.seg, (h.seg IS NOT NULL) AS hot
                FROM segs s LEFT JOIN hot h USING (seg)),
         cleaned AS (SELECT doc_id,
             coalesce(string_agg(CASE WHEN NOT hot THEN seg END, chr(10) ORDER BY idx), '') AS text_clean,
             count(CASE WHEN NOT hot THEN 1 END) AS n_kept
           FROM mk GROUP BY doc_id),
         cd AS (SELECT c.doc_id, c.text_clean, d.source
                FROM cleaned c JOIN documents d USING (doc_id)
                WHERE c.n_kept >= 1),
         f AS (SELECT doc_id, source, text_clean,
             CAST(length(text_clean) AS BIGINT) AS nc,
             CAST(len(string_split_regex(trim(text_clean), '\s+')) AS BIGINT) AS nt,
             CAST(STOPTC AS BIGINT) AS stop,
             CAST(length(regexp_replace(text_clean, '[A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS pu
           FROM cd),
         q AS (SELECT doc_id, source, text_clean,
             (400 * least(nc, 500)) // 500
             + (300 * least(stop * 5, nt)) // nt
             + 300 - (300 * least(pu * 10, nc)) // nc AS quality_milli
           FROM f),
         samp AS (SELECT doc_id, source, quality_milli,
             CAST(len(string_split_regex(trim(text_clean), '\s+')) AS BIGINT) AS n_toks
           FROM q
           WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000
                 < quality_milli),
         c2 AS (SELECT doc_id, source, quality_milli, n_toks,
             sum(n_toks) OVER (PARTITION BY source
                               ORDER BY md5(CAST(doc_id AS VARCHAR))
                               ROWS UNBOUNDED PRECEDING) AS run
           FROM samp)
         SELECT doc_id, source, quality_milli, n_toks FROM c2
         WHERE run <= 800 ORDER BY doc_id""".replace("STOPTC", stopTc)
    }),

    // Quality-weighted importance sampling: each doc keeps with
    // probability quality_milli/1000 under a deterministic md5 draw —
    // soft filtering instead of a hard quality threshold.
    Query("q78_importance_sample", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("quality_milli", TextOps.qualityScoreMilli(col("text")))
      operators.WindowOps.importanceSample(docs, col("doc_id"),
          col("quality_milli"))
        .select(col("doc_id"), col("quality_milli"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // Same md5-hex-chunk draw as the minhash slot hashes — integer-only,
      // so the acceptance decision is bit-identical across engines.
      s"""WITH $qualityMilliCte
         SELECT doc_id, quality_milli FROM q
         WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000
               < quality_milli
         ORDER BY doc_id"""),

    // C4-style duplicate-segment removal over 12-token blocks (the corpus
    // has no line structure): any block occurring >2 times corpus-wide is
    // boilerplate; docs are reassembled from their surviving blocks.
    Query("q76_line_dedup", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.segmentDedup(docs, "doc_id", Dedup.tokenBlocks(col("text"), 12),
          maxCount = 2L)
        .select(col("id").as("doc_id"), col("text_clean"),
          col("n_kept"), col("n_removed"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // Membership is by raw segment string here (hash-agnostic), so the
      // engine's xxhash64 hot set must resolve to the same segments.
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             FROM documents),
         lf AS (SELECT doc_id,
             list_transform(range(1, CAST(ceil(len(toks) / 12.0) AS INT) + 1),
               i -> array_to_string(list_slice(toks, (i - 1) * 12 + 1, (i - 1) * 12 + 12), ' ')) AS lns
           FROM tk),
         segs AS (SELECT doc_id, unnest(lns) AS seg,
             generate_subscripts(lns, 1) AS idx FROM lf),
         hot AS (SELECT seg FROM segs GROUP BY seg HAVING count(*) > 2),
         mk AS (SELECT s.doc_id, s.idx, s.seg, (h.seg IS NOT NULL) AS hot
                FROM segs s LEFT JOIN hot h USING (seg))
         SELECT doc_id,
           coalesce(string_agg(CASE WHEN NOT hot THEN seg END, chr(10) ORDER BY idx), '') AS text_clean,
           count(CASE WHEN NOT hot THEN 1 END) AS n_kept,
           count(*) - count(CASE WHEN NOT hot THEN 1 END) AS n_removed
         FROM mk GROUP BY doc_id ORDER BY doc_id"""),

    // Deterministic stratified train/val/test split — hash-labeled, no
    // shuffle; summarized per (source, split) so the oracle checks both
    // membership and token accounting.
    Query("q80_split_assign", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
      operators.Splits.assignSplit(docs, col("doc_id"),
          Seq(("train", 90), ("val", 95), ("test", 100)))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
        .orderBy(col("source"), col("split"))
    }, oracleSql =
      // Same 8-hex-char md5 draw as q78, mod 100 against the cut points.
      """WITH s AS (SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS draw
           FROM documents),
         l AS (SELECT *, CASE WHEN draw < 90 THEN 'train'
                              WHEN draw < 95 THEN 'val'
                              ELSE 'test' END AS split FROM s)
         SELECT source, split, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_toks
         FROM l GROUP BY 1, 2 ORDER BY source, split"""),

    // Concat-and-chunk sequence packing: md5-ordered global token stream
    // chunked into 2048-token bins via the bucketed exact cumulative sum
    // (no giant single-partition window).
    Query("q81_pack_sequences", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
      operators.Packing.packBins(docs, col("n_toks"), col("doc_id"), 2048L)
        .select(col("doc_id"), col("bin"), col("bin_offset"), col("n_toks"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // The naive global-window cumsum the bucketed engine path is
      // bit-identical to (Packing.scala's prefix-bucket argument).
      """WITH w AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks,
             md5(CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         c AS (SELECT doc_id, n_toks,
             CAST(sum(n_toks) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                  - n_toks AS BIGINT) AS bef
           FROM w)
         SELECT doc_id, bef // 2048 AS bin, bef % 2048 AS bin_offset, n_toks
         FROM c ORDER BY doc_id"""),

    // SemDeDup: cluster embeddings by nearest stride centroid, drop any
    // vector with a lower-id >= 0.3-cosine neighbor in its cell.
    Query("q82_semantic_dedup", (s, d) =>
      similarity.Ann.semanticDedup(t(s, d, "embeddings"), "vec_id",
          "embedding", nlist = 16, minCosine = 0.3)
        .orderBy(col("vec_id")), oracleSql =
      // q56's stride-centroid assignment mirror (zero-norm vectors excluded
      // BEFORE the count/stride pick, matching the engine), then the
      // within-cell lower-id near-neighbor drop rule on the rounded cosine.
      """WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM p
               WHERE list_dot_product(vec, vec) > 0),
         cnt AS (SELECT count(*) AS c FROM n),
         cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                    vec AS cvec, norm AS cnorm
                  FROM n WHERE vec_id % greatest(1, (SELECT c FROM cnt) // 16) = 0
                  ORDER BY vec_id LIMIT 16),
         ranked AS (SELECT v.vec_id, v.vec, v.norm, c.cid,
                      row_number() OVER (PARTITION BY v.vec_id
                        ORDER BY list_dot_product(v.vec, c.cvec) / c.cnorm DESC, c.cid DESC) AS cr
                    FROM n v CROSS JOIN cent c),
         corp AS (SELECT vec_id, vec, norm, cid AS cell FROM ranked WHERE cr = 1),
         drp AS (SELECT DISTINCT b.vec_id
                 FROM corp a JOIN corp b ON a.cell = b.cell AND a.vec_id < b.vec_id
                 WHERE round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6) >= 0.3)
         SELECT c.vec_id, c.cell FROM corp c LEFT JOIN drp d ON c.vec_id = d.vec_id
         WHERE d.vec_id IS NULL ORDER BY c.vec_id"""),

    // Exact dedup keeping the BEST copy (q40's groups, different keeper):
    // highest source-trust tier wins, ties -> lowest id.
    Query("q83_dedup_keep_best", (s, d) =>
      Dedup.exactDedupKeepBest(t(s, d, "documents"), Seq("text"), "doc_id",
          sourceNum % 7)
        .select(col("doc_id"), col("source")).orderBy(col("doc_id")), oracleSql =
      // Independent formulation: window argmax (priority DESC, id ASC) vs
      // the engine's map-side min(struct(-priority, id)) aggregate.
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY text
               ORDER BY (CAST(substring(source, 4) AS BIGINT) % 7) DESC, doc_id) AS rn
           FROM documents) WHERE rn = 1 ORDER BY doc_id"""),

    // Corpus vocabulary: token frequencies per language, top-20 by one
    // rank window. Few groups (languages), but the rank's partial
    // WindowGroupLimit keeps ≤ 20 rows per language per map task, so no
    // reducer sees a whole language. groupBy-count itself is skew-immune:
    // hot tokens reduce map-side.
    Query("q85_vocab_topk", (s, d) => {
      val counts = t(s, d, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
      operators.WindowOps.topKPerGroup(counts, Seq(col("lang")),
          Seq(col("n").desc, col("token")), k = 20)
        .select(col("lang"), col("token"), col("n"), col("rank"))
        .orderBy(col("lang"), col("rank"))
    }, oracleSql =
      """WITH tk AS (SELECT lang,
             unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents),
         c AS (SELECT lang, token, count(*) AS n FROM tk
               WHERE token <> '' GROUP BY 1, 2),
         r AS (SELECT lang, token, n,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY n DESC, token) AS "rank" FROM c)
         SELECT lang, token, n, "rank" FROM r WHERE "rank" <= 20
         ORDER BY lang, "rank""""),

    // The pre-training assembly pipeline end-to-end: exact-dedup keepers →
    // quality gate → deterministic train split → global concat-and-chunk
    // packing. Every stage deterministic, so the whole chain oracles
    // against one independent CTE chain. Premise: doc_id is unique (the
    // corpus contract) — a duplicated id would survive dedup twice in the
    // engine (documented exactDedup tie behavior) but multiply through the
    // oracle's re-join instead.
    Query("q87_pretraining_pipeline", (s, d) => {
      val docs = t(s, d, "documents")
      val keepers = Dedup.exactDedup(docs, Seq("text"), "doc_id")
      val scored = keepers
        .withColumn("quality_milli", TextOps.qualityScoreMilli(col("text")))
        .where(col("quality_milli") >= 600)
      // Cached SLIM (three scalar columns, no text, lazy persist): packBins
      // references its input twice (bucket-sum pass + the broadcast-seeded
      // join pass) — uncached, the whole dedup→score→split→tokenize chain
      // re-derives for each reference; an eager checkpoint would pay an
      // extra scheduling job for no added sharing.
      val train = matLazy(operators.Splits.assignSplit(scored, col("doc_id"),
          Seq(("train", 90), ("holdout", 100)))
        .where(col("split") === "train")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
        .select(col("doc_id"), col("quality_milli"), col("n_toks")))
      operators.Packing.packBins(train, col("n_toks"), col("doc_id"), 1024L)
        .select(col("doc_id"), col("quality_milli"), col("bin"),
          col("bin_offset"), col("n_toks"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // Dedup only REMOVES rows, so quality computed over ALL docs (the
      // shared q CTE) joined to the keeper set equals the engine's
      // keepers-then-score order. Stage thresholds are exact integers; the
      // split draw and packing cumsum reuse the q80/q81 constructions.
      {
      s"""WITH $qualityMilliCte,
         k AS (SELECT doc_id FROM (
                 SELECT doc_id, row_number() OVER (PARTITION BY text
                   ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1),
         s AS (SELECT q.doc_id, q.quality_milli FROM q JOIN k USING (doc_id)
               WHERE q.quality_milli >= 600),
         tr AS (SELECT s.doc_id, s.quality_milli,
                  CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_toks
                FROM s JOIN documents d USING (doc_id)
                WHERE CAST('0x' || substring(md5(CAST(s.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90),
         c AS (SELECT doc_id, quality_milli, n_toks,
                 CAST(sum(n_toks) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))
                   ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT) AS bef
               FROM tr)
         SELECT doc_id, quality_milli, bef // 1024 AS bin,
           bef % 1024 AS bin_offset, n_toks
         FROM c ORDER BY doc_id"""
    }),

    // Winnowed sub-document overlap: MOSS-style local-min fingerprints
    // (4-token grams, ±3 neighborhood, portable md5 keys), hot
    // fingerprints (doc freq > 50) pruned, docs paired on >= 2 shared
    // selections — catches partial/quoted overlap that doc-level
    // fingerprints and MinHash signatures miss.
    Query("q88_winnowed_overlap", (s, d) => {
      // The hot-fingerprint prune (df > 50) folds INTO the posting-list
      // aggregate (Dedup.boundedPairCounts' size-capped BoundedCollectSet):
      // the fingerprints shuffle once, no per-key buffer can exceed the
      // cap even on boilerplate fingerprints, no inverted-index self-join.
      // Identical pairs/counts by construction (winnowedFingerprints
      // output is distinct (id, fp)).
      val fps = Dedup.winnowedFingerprints(t(s, d, "documents"),
        "doc_id", "text", k = 4, w = 4)
      Dedup.boundedPairCounts(fps, "fp", "id", maxDocFreq = 50L)
        .where(col("n_shared") >= 2)
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
      // Same gram/fingerprint/neighborhood-min construction (portable md5
      // keys make the SELECTION itself reproducible, not just membership).
      """WITH tk AS (SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks FROM documents),
         lf AS (SELECT doc_id,
             list_transform(range(1, len(toks) - 2), i ->
               array_to_string(list_slice(toks, i, i + 3), ' ')) AS gs
           FROM tk WHERE len(toks) >= 4),
         g AS (SELECT doc_id, unnest(gs) AS gram,
             generate_subscripts(gs, 1) AS pos FROM lf),
         f AS (SELECT doc_id, pos,
             CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT) AS fp FROM g),
         sel AS (SELECT DISTINCT doc_id, fp FROM (
             SELECT doc_id, fp,
               min(fp) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nmin
             FROM f) WHERE fp = nmin),
         hot AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) > 50),
         pr AS (SELECT * FROM sel WHERE fp NOT IN (SELECT fp FROM hot))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b"""),

    // ANN retrieval quality as a first-class oracled query: recall@10 of
    // the LSH index (q47's construction) against the brute-force exact
    // ranking (q46's) per query point. The approximate paths' recall was
    // previously spec-only (AnnSpec); this makes the measurement itself
    // cross-engine-verified. n_exact is always k (corpus >> k, self
    // excluded on both sides); recall_milli is floor-exact integer.
    Query("q89_ann_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 20)
      val exact = Ann.bruteForceTopK(qs, emb, "vec_id", "embedding", 10)
        .select(col("query_id"), col("corpus_id"))
      val approx = Ann.lshTopK(qs, emb, "vec_id", "embedding",
          k = 10, numPlanes = 6, dim = 64, multiProbe = 1)
        .select(col("query_id"), col("corpus_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("query_id", "corpus_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hit"))
        .withColumn("recall_milli",
          floor(col("n_hit") * lit(1000) / col("n_exact")).cast("long"))
        .orderBy(col("query_id"))
    }, oracleSql = annRecallSql),

    // Pre-training prep: sliding-window token chunking (max_len=64 tokens,
    // stride=48 → 16-token overlap), the standard long-document splitter
    // feeding sequence packing (q81). sequence+slice+explode — per-doc
    // bounded work, scan-local until the display sort; chunk identity
    // travels as md5 so the output stays narrow at corpus scale.
    Query("q91_doc_chunks", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
            lit(48))).as("s"))
        .select(col("doc_id"),
          (col("s") / lit(48)).cast("long").as("chunk_idx"),
          slice(col("toks"), col("s") + 1, lit(64)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("n_chunk_toks"),
          md5(array_join(col("chunk"), " ").cast("binary")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx")), oracleSql =
      """WITH tk AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx,
                  toks[s + 1 : s + 64] AS chunk
           FROM tk, unnest(generate_series(0, len(toks) - 1, 48)) AS g(s))
         SELECT doc_id, chunk_idx, CAST(len(chunk) AS INTEGER) AS n_chunk_toks,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_idx"""),

    // Corpus snapshot diff: classify every doc id as added / removed /
    // changed / unchanged between two simulated pipeline runs (old = ids
    // outside the %7==1 slice; new = ids outside the %11==2 slice, with
    // the %13==0 slice's text rewritten). Content equality travels as a
    // 12-byte hash signature — the full-outer join never shuffles text.
    Query("q97_snapshot_diff", (s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.where(col("doc_id") % 7 =!= 1)
      val newSnap = docs.where(col("doc_id") % 11 =!= 2)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      SetOps.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }, oracleSql =
      """WITH oldsnap AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 1),
         newsnap AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text
           FROM documents WHERE doc_id % 11 <> 2)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.text = n.text THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
         ORDER BY doc_id"""),

    // Tokenizer merge-candidate scoring: top adjacent-token collocations
    // by integer-exact lift (the statistic a BPE-style vocabulary learner
    // ranks). Pair + unigram counts are map-side-combined; the top-k is a
    // TakeOrderedAndProject, never a global sort.
    Query("q98_pmi_collocations", (s, d) =>
      functions.Collocations.topCollocations(t(s, d, "documents"), "text",
        minCount = 5L, k = 100), oracleSql =
      """WITH tk AS (
           SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
         pr AS (
           SELECT toks[i] AS tok_a, toks[i + 1] AS tok_b
           FROM tk, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
         pc AS (SELECT tok_a, tok_b, count(*) AS n_pair
                FROM pr GROUP BY 1, 2 HAVING count(*) >= 5),
         uni AS (SELECT tok, count(*) AS n_tok
                 FROM (SELECT unnest(toks) AS tok FROM tk) GROUP BY 1)
         SELECT tok_a, tok_b, CAST(n_pair AS BIGINT) AS n_pair,
           CAST(n_pair * 1000000000 // (a.n_tok * b.n_tok) AS BIGINT) AS lift_ppb
         FROM pc JOIN uni a ON pc.tok_a = a.tok JOIN uni b ON pc.tok_b = b.tok
         ORDER BY lift_ppb DESC, tok_a, tok_b LIMIT 100"""),

    // Per-suite contamination attribution: the held-out set is split into
    // three benchmark suites; each contaminated training doc reports its
    // worst-overlapping suite, that overlap, and how many suites flagged
    // it — the leak report a multi-benchmark eval pipeline needs.
    Query("q99_contamination_attribution", (s, d) => {
      val docs = t(s, d, "documents")
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", 3))
      val testSuites = postings.where(col("id") % 50 === 0)
        .select(concat(lit("suite"), (col("id") % 3).cast("string")).as("suite"),
          col("shh"))
      Dedup.contaminationBySuiteFromPostings(
          postings.where(col("id") % 50 =!= 0), testSuites, minShared = 3L)
        .orderBy(col("doc_id"))
    }, oracleSql =
      s"""WITH $shinglesCte,
         te AS (SELECT DISTINCT 'suite' || CAST(id % 3 AS VARCHAR) AS suite,
                  $contShingleHashSql AS shh
                FROM e WHERE id % 50 = 0),
         tr AS (SELECT id, $contShingleHashSql AS shh FROM e WHERE id % 50 <> 0),
         ov AS (SELECT id, suite, count(*) AS n_shared
                FROM tr JOIN te USING (shh)
                GROUP BY 1, 2 HAVING count(*) >= 3),
         r AS (SELECT id, suite, n_shared,
             row_number() OVER (PARTITION BY id
               ORDER BY n_shared DESC, suite DESC) AS rn,
             count(*) OVER (PARTITION BY id) AS n_suites
           FROM ov)
         SELECT id AS doc_id, suite AS top_suite,
           CAST(n_shared AS BIGINT) AS top_shared,
           CAST(n_suites AS BIGINT) AS n_suites
         FROM r WHERE rn = 1 ORDER BY doc_id"""),

    // Per-language quality deciles via the bounded value-histogram cumsum
    // (quality_milli ∈ [0,1000]) — ntile's per-group window would serialize
    // each language through one sort task at corpus scale; the histogram
    // dim is ≤ langs×1001 rows and broadcasts back. All ties share a
    // bucket, so the label is value-deterministic and oracle-reproducible.
    Query("q100_quality_deciles", (s, d) => {
      // Cached (lazily): histogramBuckets references its input twice (the
      // value histogram + the probe side of the join-back) — uncached, the
      // expensive quality expression re-scores the corpus once per
      // reference (measured ~0.5 s of the query at sf0.1).
      val scored = matLazy(t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.qualityScoreMilli(col("text")).as("quality_milli")))
      Calibrate.histogramBuckets(scored, Seq("lang"),
          "quality_milli", buckets = 10, bucketOut = "decile")
        .select(col("doc_id"), col("lang"), col("quality_milli"), col("decile"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      s"""WITH $qualityMilliCte,
         r AS (SELECT doc_id, lang, quality_milli,
             rank() OVER (PARTITION BY lang ORDER BY quality_milli) - 1 AS cum_lt,
             count(*) OVER (PARTITION BY lang) AS ng
           FROM q JOIN documents USING (doc_id))
         SELECT doc_id, lang, quality_milli,
           CAST(least(9, (10 * cum_lt) // ng) AS BIGINT) AS decile
         FROM r ORDER BY doc_id"""),

    // Statistical LM quality scoring (CCNet shape): per-doc average NLL
    // under an add-one-smoothed bigram model trained on the corpus itself.
    Query("q86_bigram_lm_score", (s, d) =>
      functions.LmScore.bigramNll(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")), oracleSql =
      // Bigram instances via the pos+1 self-join (same shape as the
      // engine); counts are exact integers, only the per-doc avg of logs
      // is rounded.
      """WITH tk AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
           FROM (SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS toks
                 FROM documents)),
         tkf AS (SELECT * FROM tk WHERE tok <> ''),
         big AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2
                 FROM tkf a JOIN tkf b
                   ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         c12 AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2),
         -- deliberately counts INSTANCES, not Σ over c12: independently
         -- verifies the engine's marginal derivation c(w1·) = Σ_w2 c(w1,w2)
         c1 AS (SELECT w1, count(*) AS c FROM big GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS v FROM tkf)
         SELECT g.doc_id, count(*) AS n_bigrams,
           CAST(sum(CAST(floor(-ln((c12.c + 1.0) / (c1.c + v.v)) * 1000000)
             AS BIGINT)) // count(*) AS BIGINT) AS avg_nll_micro
         FROM big g JOIN c12 ON g.w1 = c12.w1 AND g.w2 = c12.w2
         JOIN c1 ON g.w1 = c1.w1 CROSS JOIN v
         GROUP BY g.doc_id ORDER BY g.doc_id"""),

    // Representative selection over NEAR-dup groups: q70's MinHash
    // components, then keep the highest-trust member of each component
    // (ties -> lowest id) — the full dedup story: resolve groups, then
    // pick the copy worth training on.
    Query("q84_near_dup_keep_best", (s, d) => {
      val docs = t(s, d, "documents")
      // NOT mat()'d: keepBestPerGroup does reference this twice, but the
      // expensive part (component labels) is already RDD-backed from the
      // contraction, so each reference only re-runs a cheap broadcast
      // join — measured 4.6 s vs 4.8 s WITH the extra checkpoint at sf0.1.
      val withMeta = minhashComponents(docs)
        .select(col("id").as("doc_id"), col("comp"))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("trust", sourceNum % 7)
      Dedup.keepBestPerGroup(withMeta, "comp", "doc_id", col("trust"))
        .select(col("doc_id"), col("comp"), col("source"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // q70's component CTEs, then the window-argmax keeper — independent of
      // the engine's map-side min(struct(-priority, id)) formulation.
      s"""WITH RECURSIVE $minhashCompCtes,
         pri AS (SELECT c.doc_id, c.comp, d.source,
                   (CAST(substring(d.source, 4) AS BIGINT) % 7) AS trust
                 FROM comp c JOIN documents d USING (doc_id)),
         r AS (SELECT doc_id, comp, source,
                 row_number() OVER (PARTITION BY comp
                   ORDER BY trust DESC, doc_id) AS rn FROM pri)
         SELECT doc_id, comp, source FROM r WHERE rn = 1 ORDER BY doc_id"""),

    // Temperature-scaled language mixing at T=2: accept docs of language l
    // with probability sqrt(n_min/n_l) under the deterministic md5 draw —
    // the small-language upweighting rule of multilingual sampling, exact
    // because sqrt is IEEE-correctly-rounded everywhere. Stratified by
    // lang (the one skewed stratum in the testdata — en is ~40%), so the
    // acceptance filter is actually exercised.
    Query("q102_temperature_mix", (s, d) =>
      operators.Mixture.temperatureSample(t(s, d, "documents"),
          "lang", col("doc_id"))
        .select(col("doc_id"), col("lang"), col("keep_ppm"))
        .orderBy(col("doc_id")), oracleSql =
      // floor(1e6·sqrt(n_min/n_s)) is reproducible because sqrt is IEEE-
      // correctly-rounded in both engines (the engine fixes T=2 for exactly
      // this reason); the draw is the q78 md5-hex-chunk idiom at ppm scale.
      """WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         mn AS (SELECT min(n) AS nmin FROM cnt),
         thr AS (SELECT lang,
             CAST(floor(1000000 * sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)))
               AS BIGINT) AS keep_ppm
           FROM cnt CROSS JOIN mn)
         SELECT d.doc_id, d.lang, t.keep_ppm
         FROM documents d JOIN thr t USING (lang)
         WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 1000000 < t.keep_ppm
         ORDER BY d.doc_id"""),

    // Diversified selection: the 100 best docs by quality overall, capped
    // at 10 per source — the "best of corpus, no domain monopoly" pick.
    // Per-group cap via one rank window; the global cut is a
    // TakeOrderedAndProject over ≤ sources×10 survivors.
    Query("q104_diversified_topk", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("quality_milli", TextOps.qualityScoreMilli(col("text")))
      operators.WindowOps.diversifiedTopK(docs,
          Seq(col("source")),
          Seq(col("quality_milli").desc, col("doc_id")),
          perGroup = 10, k = 100)
        .select(col("doc_id"), col("source"), col("quality_milli"),
          col("group_rank").cast("long").as("group_rank"))
    }, oracleSql =
      // Window row_number mirror of the engine's per-group rank; the
      // final ordering (quality desc, doc_id) is total, so the LIMIT cut is
      // deterministic in both engines.
      s"""WITH $qualityMilliCte,
         j AS (SELECT q.doc_id, d.source, q.quality_milli
               FROM q JOIN documents d USING (doc_id)),
         r AS (SELECT doc_id, source, quality_milli,
                 row_number() OVER (PARTITION BY source
                   ORDER BY quality_milli DESC, doc_id) AS group_rank
               FROM j)
         SELECT doc_id, source, quality_milli, CAST(group_rank AS BIGINT) AS group_rank
         FROM r WHERE group_rank <= 10
         ORDER BY quality_milli DESC, doc_id LIMIT 100"""),

    // Dataset-card rollup: the per-(lang × source) + marginal + grand-total
    // statistics a corpus snapshot publishes alongside itself — one CUBE
    // aggregation (map-side combined like any hash aggregate; 4 grouping
    // sets over the same scan, no re-reads). avg is exact-sum/exact-count,
    // so the double division is engine-identical; rounded anyway.
    // Byte-entropy quality signal via the codegen'd char_entropy
    // expression — one histogram pass per row inside the projection, no
    // char explode (which would multiply corpus rows by document LENGTH
    // before the first shuffle). Low entropy flags repeated boilerplate /
    // degenerate text; high entropy flags encoded blobs.
    Query("q109_char_entropy", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          round(Expressions.charEntropy(col("text")), 6).as("entropy_bits"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // GROUPING(lang, source) bit order (first arg = high bit) matches
      // Spark's grouping_id(); NULLS FIRST pins DuckDB's asc ordering to
      // Spark's default.
      // Character-frequency entropy per doc, expanded the SQL way (unnest +
      // histogram) — byte entropy in the engine equals char entropy here
      // because the corpus is ASCII; the 6-dp rounding absorbs the two
      // engines' different summation orders.
      """WITH c AS (SELECT doc_id,
             substring(text, CAST(i AS INTEGER) + 1, 1) AS ch
           FROM (SELECT doc_id, text, unnest(range(length(text))) AS i
                 FROM documents)),
         h AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY 1, 2),
         n AS (SELECT doc_id, sum(c) AS n FROM h GROUP BY 1),
         e AS (SELECT h.doc_id,
             round(-sum((h.c / n.n) * log2(h.c / n.n)), 6) AS entropy_bits
           FROM h JOIN n USING (doc_id) GROUP BY h.doc_id)
         SELECT d.doc_id, coalesce(e.entropy_bits, 0.0) AS entropy_bits
         FROM documents d LEFT JOIN e USING (doc_id) ORDER BY doc_id"""),

    // Per-doc n-gram novelty vs everything earlier in id order: the
    // "how much of this doc is new text" curation signal. One
    // groupBy(hash)→min(id), one join back, one per-doc count — all
    // shuffles keyed by shingle hash or doc id, nothing quadratic.
    Query("q110_ngram_novelty", (s, d) => {
      val docs = t(s, d, "documents")
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", n = 3))
      Dedup.ngramNoveltyFromPostings(docs.select(col("doc_id").as("id")), postings)
        .select(col("id").as("doc_id"), col("n_shingles"),
          col("novel_shingles"), col("novelty_milli"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // First-occurrence novelty on RAW shingles (hash-agnostic — the engine
      // hashes to xxhash64, the compared quantities are counts).
      s"""WITH $shinglesCte,
         fst AS (SELECT sh, min(id) AS first_id FROM e GROUP BY 1),
         pd AS (SELECT e.id, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN f.first_id = e.id THEN 1 ELSE 0 END) AS BIGINT)
               AS novel_shingles
           FROM e JOIN fst f USING (sh) GROUP BY e.id)
         SELECT d.doc_id,
           coalesce(pd.n_shingles, 0) AS n_shingles,
           coalesce(pd.novel_shingles, 0) AS novel_shingles,
           CAST(CASE WHEN coalesce(pd.n_shingles, 0) = 0 THEN 1000
                ELSE pd.novel_shingles * 1000 // pd.n_shingles END AS BIGINT)
             AS novelty_milli
         FROM documents d LEFT JOIN pd ON d.doc_id = pd.id
         ORDER BY d.doc_id"""),

    // Longest aligned common 3-gram run per pair (exact-substring dedup
    // signal, Lee et al. 2022): inverted-index join on the n-gram hash
    // with a doc-frequency skew cap, then the islands trick groups
    // consecutive matches at one positional displacement — the window
    // partitions by (pair, displacement), bounded by the shorter doc.
    Query("q111_aligned_runs", (s, d) => {
      val postings = mat(Dedup.positionalShinglePostings(
        t(s, d, "documents"), "doc_id", "text", n = 3))
      Dedup.alignedRunsFromPostings(postings, n = 3, minRun = 5,
          maxDocFreq = Some(100))
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
      // Positional 3-grams (1-based pos — displacement arithmetic is
      // position-origin-invariant), doc-frequency cap, islands trick.
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         kg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(list_slice(toks, CAST(i AS INTEGER),
               CAST(i AS INTEGER) + 2), ' ') AS sh
           FROM (SELECT doc_id, toks,
                   unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
                 FROM tk)),
         hot AS (SELECT sh FROM kg GROUP BY sh
                 HAVING count(DISTINCT doc_id) > 100),
         f AS (SELECT * FROM kg WHERE sh NOT IN (SELECT sh FROM hot)),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.pos AS pos_a, a.pos - b.pos AS diff
                FROM f a JOIN f b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         isl AS (SELECT id_a, id_b, diff,
             pos_a - row_number() OVER (PARTITION BY id_a, id_b, diff
               ORDER BY pos_a) AS island
           FROM pr),
         runs AS (SELECT id_a, id_b, diff, island, count(*) AS run
                  FROM isl GROUP BY 1, 2, 3, 4),
         best AS (SELECT id_a, id_b, CAST(max(run) AS BIGINT) AS run_kgrams
                  FROM runs GROUP BY 1, 2)
         SELECT id_a, id_b, run_kgrams,
           CAST(run_kgrams + 2 AS BIGINT) AS run_tokens
         FROM best WHERE run_kgrams >= 5 ORDER BY id_a, id_b"""),

    // Longest internal aligned 3-gram repeat per doc (verbatim template
    // spam): the doc self-joined at positive displacement, same islands
    // trick as q111, with a per-doc occurrence cap so a degenerate
    // repeated-word doc can't square its own length.
    Query("q114_self_repetition", (s, d) => {
      val docs = t(s, d, "documents")
      val postings = mat(Dedup.positionalShinglePostings(docs,
        "doc_id", "text", n = 3))
      Dedup.selfAlignedRunsFromPostings(docs.select(col("doc_id").as("id")),
          postings, n = 3, maxOccurrences = 50)
        .select(col("id").as("doc_id"), col("rep_run_kgrams"),
          col("rep_run_tokens"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // q111's positional-gram + islands construction, self-joined at
      // positive displacement with the per-doc occurrence cap.
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         kg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(list_slice(toks, CAST(i AS INTEGER),
               CAST(i AS INTEGER) + 2), ' ') AS sh
           FROM (SELECT doc_id, toks,
                   unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
                 FROM tk)),
         hot AS (SELECT doc_id, sh FROM kg GROUP BY doc_id, sh
                 HAVING count(*) > 50),
         f AS (SELECT kg.doc_id, kg.pos, kg.sh FROM kg
               LEFT JOIN hot ON kg.doc_id = hot.doc_id AND kg.sh = hot.sh
               WHERE hot.sh IS NULL),
         pr AS (SELECT a.doc_id AS id, a.pos AS pos_a, b.pos - a.pos AS diff
                FROM f a JOIN f b
                  ON a.doc_id = b.doc_id AND a.sh = b.sh AND b.pos > a.pos),
         isl AS (SELECT id, diff,
             pos_a - row_number() OVER (PARTITION BY id, diff
               ORDER BY pos_a) AS island
           FROM pr),
         runs AS (SELECT id, diff, island, count(*) AS run
                  FROM isl GROUP BY 1, 2, 3),
         best AS (SELECT id, CAST(max(run) AS BIGINT) AS rep_run_kgrams
                  FROM runs GROUP BY 1)
         SELECT d.doc_id,
           coalesce(b.rep_run_kgrams, 0) AS rep_run_kgrams,
           CAST(CASE WHEN coalesce(b.rep_run_kgrams, 0) > 0
                THEN b.rep_run_kgrams + 2 ELSE 0 END AS BIGINT)
             AS rep_run_tokens
         FROM documents d LEFT JOIN best b ON d.doc_id = b.id
         ORDER BY d.doc_id"""),

    // Zipf power-law fit over the corpus vocabulary: log-log OLS of
    // frequency on rank for the deterministic top-500 (cnt DESC, word).
    // The regression runs over ≤ 500 rows — the single-partition rank
    // window is bounded by the vocab cut, not the corpus; the word counts
    // are a map-side-combined aggregate.
    Query("q115_zipf_fit", (s, d) => {
      val words = t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      val top = words.orderBy(col("cnt").desc, col("w")).limit(500)
      val ranked = top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("w"))))
      ranked.agg(
        count(lit(1)).as("n_vocab"),
        round(regr_slope(log(col("cnt")), log(col("rank"))), 6).as("zipf_slope"),
        round(regr_intercept(log(col("cnt")), log(col("rank"))), 6)
          .as("zipf_intercept"),
        round(regr_r2(log(col("cnt")), log(col("rank"))), 6).as("zipf_r2"))
    }, oracleSql =
      // ln() (DuckDB log() is base-10); regr_* take (y, x) in both engines.
      """WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
           FROM documents),
         c AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
         top AS (SELECT w, cnt FROM c ORDER BY cnt DESC, w LIMIT 500),
         r AS (SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM top)
         SELECT CAST(count(*) AS BIGINT) AS n_vocab,
           round(regr_slope(ln(cnt), ln(rank)), 6) AS zipf_slope,
           round(regr_intercept(ln(cnt), ln(rank)), 6) AS zipf_intercept,
           round(regr_r2(ln(cnt), ln(rank)), 6) AS zipf_r2
         FROM r"""),

    // MinHash estimator-quality evaluation (the q89-style harness for the
    // dedup family): every LSH candidate pair's slot-match estimate vs its
    // exact n-gram Jaccard, both in exact integer milli (8 slots → match
    // count × 125; true = inter·1000 div union). The exact side restricts
    // postings to candidate docs FIRST — the quadratic join runs over the
    // near-dup cluster members only, never the corpus.
    Query("q116_minhash_error", (s, d) => {
      val docs = t(s, d, "documents")
      val sig = minhashSignatureFrame(docs)
      val banded = Dedup.minhashBandPostingsFromSignatures(sig,
        numHashes = 8, bands = 4)
      val cand = Dedup.candidatePairsFromBandPostings(banded)
      val sa = sig.select(col("id").as("id_a") +:
        (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
      val sb = sig.select(col("id").as("id_b") +:
        (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
      val matches = (0 until 8)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val est = cand.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
        .select(col("id_a"), col("id_b"), (matches * 125).as("est_milli"))
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", 3))
      val candIds = cand.select(col("id_a").as("id"))
        .union(cand.select(col("id_b").as("id"))).distinct()
      val cp = postings.join(candIds, Seq("id"), "left_semi")
      val sizes = cp.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
      val inter = cp.select(col("id").as("id_a"), col("shh"))
        .join(cp.select(col("id").as("id_b"), col("shh")), Seq("shh"))
        .where(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      est.join(inter, Seq("id_a", "id_b"), "left")
        .join(broadcast(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a"))),
          Seq("id_a"))
        .join(broadcast(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b"))),
          Seq("id_b"))
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .withColumn("true_milli",
          (col("inter") * 1000 / (col("n_a") + col("n_b") - col("inter")))
            .cast("long"))
        .withColumn("err_milli", abs(col("est_milli") - col("true_milli")))
        .select(col("id_a"), col("id_b"), col("est_milli"), col("true_milli"),
          col("err_milli"))
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
      // q43's slot/band mirrors for the estimate; raw-shingle overlap for
      // the exact side; everything integer-milli so the compare is exact.
      {
      val matchSum = (0 until 8)
        .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $minhashCtes,
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM mbands a JOIN mbands b
                    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         est AS (SELECT c.id_a, c.id_b,
             CAST(($matchSum) * 125 AS BIGINT) AS est_milli
           FROM cand c JOIN sig sa ON sa.id = c.id_a
           JOIN sig sb ON sb.id = c.id_b),
         sz AS (SELECT id, CAST(len(sh_arr) AS BIGINT) AS n_sh FROM sh),
         inter AS (SELECT a.id AS id_a, b.id AS id_b,
             CAST(count(*) AS BIGINT) AS inter
           FROM e a JOIN e b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
         j AS (SELECT est.id_a, est.id_b, est.est_milli,
             coalesce(i.inter, 0) AS inter, za.n_sh AS n_a, zb.n_sh AS n_b
           FROM est LEFT JOIN inter i
             ON est.id_a = i.id_a AND est.id_b = i.id_b
           JOIN sz za ON za.id = est.id_a
           JOIN sz zb ON zb.id = est.id_b)
         SELECT id_a, id_b, est_milli,
           CAST(inter * 1000 // (n_a + n_b - inter) AS BIGINT) AS true_milli,
           CAST(abs(est_milli - inter * 1000 // (n_a + n_b - inter)) AS BIGINT)
             AS err_milli
         FROM j ORDER BY id_a, id_b"""
    }),

    // Deterministic output sharding + balance audit: md5-draw shard
    // assignment (pure projection, cross-engine reproducible), per-shard
    // doc/token totals, and each shard's load in exact integer milli of
    // the uniform share (1000 = perfectly balanced).
    Query("q113_shard_balance", (s, d) => {
      val S = 16
      val sharded = Splits.assignShard(
        t(s, d, "documents")
          .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long")),
        col("doc_id"), numShards = S)
      // Materialize the 16-row per-shard frame: the totals side otherwise
      // re-aggregates from a SECOND corpus scan (two full passes at scale).
      val per = mat(sharded.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks")))
      val tot = per.agg(sum(col("n_toks")).as("tot_toks"))
      per.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_toks"),
          (col("n_toks") * lit(1000L) * S / col("tot_toks")).cast("long")
            .as("load_milli"))
        .orderBy(col("shard"))
    }, oracleSql =
      // The same md5 draw mirror as q80's split assignment, modulo 16.
      """WITH s AS (SELECT doc_id,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 16 AS shard,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
           FROM documents),
         per AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS n_toks
                 FROM s GROUP BY 1),
         tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS tot_toks FROM per)
         SELECT shard, n_docs, n_toks,
           n_toks * 16000 // tot_toks AS load_milli
         FROM per, tot ORDER BY shard"""),

    Query("q108_dataset_card", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
        .withColumn("quality_milli", TextOps.qualityScoreMilli(col("text")))
      // Mean as exact integer micro-units (sum·1000 div n), never
      // round(avg(...),6): a double mean on a half-ulp boundary flips the
      // 6th decimal with Spark's partition-order summation (the q149/q108
      // cross-engine hazard). sum ≤ 1e15 even at 1e12 docs, ·1000 fits long.
      docs.cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_toks"),
          sum(col("quality_milli")).as("sum_quality_milli"),
          grouping_id().as("gid"))
        .withColumn("avg_quality_micro",
          expr("sum_quality_milli * 1000 div n_docs"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_toks"),
          col("sum_quality_milli"), col("avg_quality_micro"), col("gid"))
        .orderBy(col("gid"), col("lang"), col("source"))
    }, oracleSql = {
      s"""WITH $qualityMilliCte,
         j AS (SELECT d.lang, d.source,
                 CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_toks,
                 q.quality_milli
               FROM documents d JOIN q USING (doc_id))
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_toks,
           CAST(sum(quality_milli) AS BIGINT) AS sum_quality_milli,
           CAST(sum(quality_milli) * 1000 // count(*) AS BIGINT)
             AS avg_quality_micro,
           CAST(GROUPING(lang, source) AS BIGINT) AS gid
         FROM j GROUP BY CUBE(lang, source)
         ORDER BY gid, lang NULLS FIRST, source NULLS FIRST"""
    }),

    // Cluster-balanced sampling: up to 5 vectors per embedding cell under
    // the deterministic md5 draw — the "uniform over semantic space, not
    // over raw counts" selection (dense clusters stop dominating the
    // sample). Composes the IVF cell assignment with the stratified-quota
    // rank.
    Query("q107_cluster_balanced_sample", (s, d) => {
      val cells = Ann.clusterAssign(t(s, d, "embeddings"),
        "vec_id", "embedding", nlist = 16)
      operators.WindowOps.stratifiedSample(cells, Seq(col("cell")),
          col("vec_id"), nPerGroup = 5)
        .select(col("vec_id"), col("cell"), col("rank").cast("long").as("rank"))
        .orderBy(col("vec_id"))
    }, oracleSql =
      // q59's cell CTEs + the md5-order quota rank (unique ids → total
      // order, no tie ambiguity).
      s"""WITH $clusterCellsCte,
         samp AS (SELECT vec_id, cell,
             row_number() OVER (PARTITION BY cell
               ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rank
           FROM corp)
         SELECT vec_id, cell, CAST(rank AS BIGINT) AS rank
         FROM samp WHERE rank <= 5 ORDER BY vec_id"""),

    // Incremental embedding dedup: new-batch vectors (vec_id % 10 >= 8)
    // screened against the indexed corpus via LSH sign buckets + rounded
    // cosine — the embedding counterpart of q72/q73's incremental ingest
    // gates. Suspects report match count and best index match.
    Query("q106_incremental_embedding", (s, d) => {
      val emb = t(s, d, "embeddings")
      Dedup.incrementalEmbeddingSuspects(
          emb.where(col("vec_id") % 10 >= 8),
          emb.where(col("vec_id") % 10 < 8),
          "vec_id", "embedding", numPlanes = 6, dim = 64, minSim = 0.3)
        .orderBy(col("vec_id"))
    }, oracleSql =
      // Same md5-parity hyperplane literals as the q71/ANN mirrors; the
      // best match is a window argmax over (cosine DESC, index id DESC) —
      // the engine's max(struct) tie-break spelled independently.
      s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         n AS (SELECT vec_id, vec, norm, CAST($annSigExpr AS BIGINT) AS bucket FROM
                 (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm
                  FROM p) WHERE norm > 0),
         bat AS (SELECT * FROM n WHERE vec_id % 10 >= 8),
         idx AS (SELECT * FROM n WHERE vec_id % 10 < 8),
         m AS (SELECT b.vec_id, i.vec_id AS iid,
                 round(list_dot_product(b.vec, i.vec) / (b.norm * i.norm), 6) AS cosine
               FROM bat b JOIN idx i ON b.bucket = i.bucket),
         f AS (SELECT * FROM m WHERE cosine >= 0.3),
         r AS (SELECT vec_id, cosine, iid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, iid DESC) AS rn,
                 count(*) OVER (PARTITION BY vec_id) AS n_index_matches
               FROM f)
         SELECT vec_id, n_index_matches, cosine AS best_cosine,
           iid AS best_index_id
         FROM r WHERE rn = 1 ORDER BY vec_id"""),

    // Tokenizer-fit scoring: per-doc out-of-vocabulary rate against the
    // corpus's own top-1000 tokens (the coverage check run before
    // committing to a vocabulary). Token counts map-side combine; the
    // top-1000 cut is a TakeOrderedAndProject under a total order
    // (count desc, token); the tiny vocab broadcasts back and the per-doc
    // flag-sum is one aggregate over the exploded tokens.
    Query("q105_oov_rate", (s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("tok")).limit(1000)
        .select(col("tok"), lit(1).as("__in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          count(when(col("__in_vocab").isNull, 1)).as("n_oov"))
        .withColumn("oov_milli", expr("n_oov * 1000 div n_toks"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // row_number under the same (count desc, token) total order mirrors
      // the engine's TakeOrdered vocabulary cut exactly.
      """WITH tk AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         c AS (SELECT tok, count(*) AS n FROM tk GROUP BY tok),
         v AS (SELECT tok FROM (
                 SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS rn
                 FROM c) WHERE rn <= 1000)
         SELECT t.doc_id, count(*) AS n_toks,
           count(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov,
           (count(CASE WHEN v.tok IS NULL THEN 1 END) * 1000) // count(*)
             AS oov_milli
         FROM tk t LEFT JOIN v ON t.tok = v.tok
         GROUP BY t.doc_id ORDER BY t.doc_id"""),

    // Corpus diversity per source: total vs distinct 3-gram shingles and
    // the distinct-ratio in milli — the repetitiveness/diversity signal a
    // mixture designer reads before weighting a source. The metric needs
    // no doc identity, so `source` rides the shingle explode directly —
    // ONE scan, zero joins (the postings+rejoin spelling broadcast the
    // EXPLODED side at toy scale and would shuffle corpus-sized rows
    // twice at 100 TB). Distinct counts run on the 8-byte xxhash64 of the
    // shingle (two-phase partial aggregate); the oracle counts distinct
    // raw shingles — identical barring a 64-bit collision.
    Query("q103_source_diversity", (s, d) =>
      t(s, d, "documents")
        .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("sh"))
        .select(col("source"), xxhash64(col("sh")).as("shh"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_shingles"),
          count_distinct(col("shh")).as("n_distinct_shingles"))
        .withColumn("diversity_milli",
          expr("n_distinct_shingles * 1000 div n_shingles"))
        .orderBy(col("source")), oracleSql =
      // Distinct counts on raw shingle STRINGS where the engine counts
      // distinct xxhash64 postings — equal barring a 64-bit collision (the
      // q42-family tolerance).
      s"""WITH $shinglesCte,
         j AS (SELECT e.id, e.sh, d.source
               FROM e JOIN documents d ON e.id = d.doc_id)
         SELECT source, count(*) AS n_shingles,
           count(DISTINCT sh) AS n_distinct_shingles,
           (count(DISTINCT sh) * 1000) // count(*) AS diversity_milli
         FROM j GROUP BY source ORDER BY source"""),

    // Count-Min Sketch error evaluation (q116's harness shape for the
    // frequency-sketch family): the 4×1024 portable-md5 CMS built from the
    // exact vocabulary counts, probed at the exact top-20 tokens. est ≥
    // exact by construction; `overcount` measures collision inflation at
    // this width. The sketch is depth×width rows (broadcast); only the
    // vocabulary aggregate touches corpus-sized data.
    Query("q117_cms_error", (s, d) => {
      // Materialized: the vocab count table feeds the sketch build, the
      // top-20 cut AND the exact join-back — lazy, the corpus-sized
      // explode+agg would run three times.
      val counts = mat(t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
      val cms = Sketches.cmsTable(counts, "tok", "cnt", depth = 4, width = 1024)
      val top = counts.orderBy(col("cnt").desc, col("tok")).limit(20)
      Sketches.cmsEstimate(cms, top, "tok", depth = 4, width = 1024)
        .join(broadcast(top), Seq("tok"))
        .select(col("tok"), col("cnt").as("exact_cnt"), col("est").as("est_cnt"),
          (col("est") - col("cnt")).as("overcount"))
        .orderBy(col("tok"))
    }, oracleSql =
      // The same portable CMS the engine builds: bucket(seed, tok) =
      // first-8-hex of md5('seed:tok') mod 1024 (the Draws idiom, seed
      // prefixed); counters = sums of exact counts; estimate = min over the
      // 4 counters.
      """WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         c AS (SELECT tok, count(*) AS cnt FROM w GROUP BY 1),
         sd AS (SELECT unnest(range(4)) AS seed),
         sb AS (SELECT c.tok, c.cnt, sd.seed,
             CAST('0x' || substring(md5(CAST(sd.seed AS VARCHAR) || ':' || c.tok), 1, 8)
               AS BIGINT) % 1024 AS bucket
           FROM c, sd),
         cms AS (SELECT seed, bucket, sum(cnt) AS total FROM sb GROUP BY 1, 2),
         top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 20),
         est AS (SELECT s.tok, min(m.total) AS est
                 FROM sb s JOIN cms m ON m.seed = s.seed AND m.bucket = s.bucket
                 JOIN top t ON t.tok = s.tok
                 GROUP BY 1)
         SELECT t.tok, CAST(t.cnt AS BIGINT) AS exact_cnt,
           CAST(e.est AS BIGINT) AS est_cnt,
           CAST(e.est - t.cnt AS BIGINT) AS overcount
         FROM top t JOIN est e ON e.tok = t.tok
         ORDER BY t.tok"""),

    // Duplicate-cluster size distribution: the dup-audit histogram
    // (size → how many clusters, how many docs) over the q70 MinHash
    // components — the number a curation run reports to justify its dedup
    // budget. Two tiny aggregates over the component labels; the heavy
    // lifting is the shared signature→banding→contraction chain.
    Query("q118_dup_cluster_histogram", (s, d) => {
      val labeled = minhashComponents(t(s, d, "documents"))
      labeled.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .orderBy(col("cluster_size"))
    }, oracleSql =
      // q70's recursive component CTEs, rolled up twice: per-component size,
      // then the size histogram.
      s"""WITH RECURSIVE $minhashCompCtes,
         sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
                FROM comp GROUP BY 1)
         SELECT cluster_size, count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         FROM sz GROUP BY 1 ORDER BY cluster_size"""),

    // Gopher-style document filter rules (Rae et al. 2021 §A1.1, adapted to
    // integer-only arithmetic): five per-doc gates — token count in
    // [10, 5000], mean word length in [3, 12] (via cross-multiplication,
    // no division), punctuation ≤ 10% of chars, ≥ 2 stopword hits, alpha
    // chars ≥ 50% of non-ws chars — rolled up per source as pass rate +
    // per-rule fail counts. Pure column math; one map-side-combined agg.
    Query("q121_gopher_flags", (s, d) => {
      val nToks = TextOps.tokenCount(col("text")).cast("long")
      val nonWs = TextOps.nonWsCharCount(col("text")).cast("long")
      val nChars = length(col("text")).cast("long")
      val punct = TextOps.punctCount(col("text")).cast("long")
      val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
      val stop = TextOps.langScore(col("text"),
        Seq("the", "a", "of", "and", "is")).cast("long")
      t(s, d, "documents")
        .select(col("source"),
          (nToks >= 10 && nToks <= 5000).cast("long").as("r_len"),
          (nonWs >= nToks * 3 && nonWs <= nToks * 12).cast("long").as("r_wordlen"),
          (punct * 10 <= nChars).cast("long").as("r_sym"),
          (stop >= 2).cast("long").as("r_stop"),
          (alpha * 2 >= nonWs).cast("long").as("r_alpha"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("r_len") * col("r_wordlen") * col("r_sym") * col("r_stop")
            * col("r_alpha")).as("n_pass"),
          (count(lit(1)) - sum(col("r_len"))).as("fail_len"),
          (count(lit(1)) - sum(col("r_wordlen"))).as("fail_wordlen"),
          (count(lit(1)) - sum(col("r_sym"))).as("fail_sym"),
          (count(lit(1)) - sum(col("r_stop"))).as("fail_stop"),
          (count(lit(1)) - sum(col("r_alpha"))).as("fail_alpha"))
        .withColumn("pass_milli", expr("n_pass * 1000 div n_docs"))
        .orderBy(col("source"))
    }, oracleSql =
      // Same replace/length and split mirrors as the quality CTE; rule
      // comparisons are integer cross-multiplications, so no rounding
      // boundary exists for the engines to disagree on.
      {
      val stop = langScoreSql(Seq("the", "a", "of", "and", "is"))
      s"""WITH f AS (SELECT source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt,
             CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nw,
             CAST(length(text) AS BIGINT) AS nc,
             CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS pu,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS al,
             CAST($stop AS BIGINT) AS stop
           FROM documents),
         r AS (SELECT source,
             CASE WHEN nt >= 10 AND nt <= 5000 THEN 1 ELSE 0 END AS r_len,
             CASE WHEN nw >= nt * 3 AND nw <= nt * 12 THEN 1 ELSE 0 END AS r_wordlen,
             CASE WHEN pu * 10 <= nc THEN 1 ELSE 0 END AS r_sym,
             CASE WHEN stop >= 2 THEN 1 ELSE 0 END AS r_stop,
             CASE WHEN al * 2 >= nw THEN 1 ELSE 0 END AS r_alpha
           FROM f)
         SELECT source, count(*) AS n_docs,
           CAST(sum(r_len * r_wordlen * r_sym * r_stop * r_alpha) AS BIGINT) AS n_pass,
           CAST(count(*) - sum(r_len) AS BIGINT) AS fail_len,
           CAST(count(*) - sum(r_wordlen) AS BIGINT) AS fail_wordlen,
           CAST(count(*) - sum(r_sym) AS BIGINT) AS fail_sym,
           CAST(count(*) - sum(r_stop) AS BIGINT) AS fail_stop,
           CAST(count(*) - sum(r_alpha) AS BIGINT) AS fail_alpha,
           CAST((sum(r_len * r_wordlen * r_sym * r_stop * r_alpha) * 1000)
             // count(*) AS BIGINT) AS pass_milli
         FROM r GROUP BY source ORDER BY source"""
    }),

    // Normalization-aware dedup audit: duplicate counts under the raw
    // fingerprint vs a CCNet-style normalized one (lowercase, non-alnum →
    // space, collapse) — `extra_dups` is what case/punctuation jitter hides
    // from exact dedup. Distinct counts are two-phase partial aggregates on
    // 16-byte md5s; nothing corpus-sized crosses unkeyed.
    Query("q122_normalized_dedup", (s, d) => {
      val rawFp = TextOps.contentFingerprint(col("text"))
      val normFp = md5(trim(regexp_replace(lower(col("text")),
        "[^a-z0-9]+", " ")).cast("binary"))
      t(s, d, "documents")
        .select(col("source"), rawFp.as("__raw"), normFp.as("__norm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("__raw")).as("n_raw_distinct"),
          count_distinct(col("__norm")).as("n_norm_distinct"))
        .withColumn("extra_dups",
          col("n_raw_distinct") - col("n_norm_distinct"))
        .orderBy(col("source"))
    }, oracleSql =
      """WITH f AS (SELECT source,
             md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS raw_fp,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_fp
           FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(count(DISTINCT raw_fp) AS BIGINT) AS n_raw_distinct,
           CAST(count(DISTINCT norm_fp) AS BIGINT) AS n_norm_distinct,
           CAST(count(DISTINCT raw_fp) - count(DISTINCT norm_fp) AS BIGINT)
             AS extra_dups
         FROM f GROUP BY source ORDER BY source"""),

    // Hard-negative mining for contrastive training: per query vector
    // (vec_id % 20 == 0), the 3 most-similar DIFFERENT-label vectors with
    // cosine ≤ 0.95 (near-identical candidates are overwhelmingly
    // mislabeled positives — the false-negative poison). Query set
    // broadcasts; the corpus is scanned once.
    Query("q123_hard_negatives", (s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.hardNegatives(emb.where(col("vec_id") % 20 === 0), emb,
          "vec_id", "embedding", "label", k = 3, maxSim = 0.95)
        .orderBy(col("query_id"), col("rank"))
    }, oracleSql =
      // q46's cosine mirror with the label-differs predicate and the maxSim
      // cap; norm > 0 on both sides (cosine undefined at zero).
      """WITH p AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
           FROM embeddings),
         n AS (SELECT vec_id, label, vec, norm FROM
                 (SELECT vec_id, label, vec,
                    sqrt(list_dot_product(vec, vec)) AS norm FROM p)
               WHERE norm > 0),
         q AS (SELECT * FROM n WHERE vec_id % 20 = 0),
         sims AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             c.label AS corpus_label,
             round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6) AS cosine
           FROM n c, q WHERE q.label <> c.label),
         f AS (SELECT * FROM sims WHERE cosine <= 0.95),
         r AS (SELECT query_id, corpus_id, corpus_label, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id) AS "rank" FROM f)
         SELECT query_id, corpus_id, corpus_label, cosine, "rank"
         FROM r WHERE "rank" <= 3 ORDER BY query_id, "rank""""),

    // Benchmark-suite overlap matrix: pairwise shared distinct 3-gram
    // shingles between the q99 synthetic suites + containment vs the
    // smaller suite — the "are my test sets secretly the same test set"
    // audit run before attributing contamination. Everything is keyed by
    // the 8-byte shingle hash; suite totals broadcast back.
    Query("q124_suite_overlap", (s, d) => {
      val docs = t(s, d, "documents")
      val su = mat(Dedup.shinglePostings(
          docs.where(col("doc_id") % 50 === 0), "doc_id", "text", 3)
        .select(concat(lit("suite"), (col("id") % 3).cast("string")).as("suite"),
          col("shh"))
        .distinct())
      val sizes = su.groupBy(col("suite")).agg(count(lit(1)).as("n_sh"))
      val pairs = su.select(col("suite").as("suite_a"), col("shh"))
        .join(su.select(col("suite").as("suite_b"), col("shh")), Seq("shh"))
        .where(col("suite_a") < col("suite_b"))
        .groupBy(col("suite_a"), col("suite_b")).agg(count(lit(1)).as("shared"))
      pairs
        .join(broadcast(sizes.select(col("suite").as("suite_a"),
          col("n_sh").as("n_a"))), Seq("suite_a"))
        .join(broadcast(sizes.select(col("suite").as("suite_b"),
          col("n_sh").as("n_b"))), Seq("suite_b"))
        .withColumn("containment_milli",
          expr("shared * 1000 div least(n_a, n_b)"))
        .select(col("suite_a"), col("suite_b"), col("shared"), col("n_a"),
          col("n_b"), col("containment_milli"))
        .orderBy(col("suite_a"), col("suite_b"))
    }, oracleSql =
      // Distinct raw shingles per suite where the engine uses xxhash64
      // postings — counts equal barring a 64-bit collision (q103's
      // tolerance).
      s"""WITH $shinglesCte,
         su AS (SELECT DISTINCT 'suite' || CAST(id % 3 AS VARCHAR) AS suite, sh
                FROM e WHERE id % 50 = 0),
         sz AS (SELECT suite, CAST(count(*) AS BIGINT) AS n FROM su GROUP BY 1),
         p AS (SELECT a.suite AS suite_a, b.suite AS suite_b,
                 CAST(count(*) AS BIGINT) AS shared
               FROM su a JOIN su b ON a.sh = b.sh AND a.suite < b.suite
               GROUP BY 1, 2)
         SELECT suite_a, suite_b, shared, za.n AS n_a, zb.n AS n_b,
           CAST(shared * 1000 // least(za.n, zb.n) AS BIGINT)
             AS containment_milli
         FROM p JOIN sz za ON za.suite = p.suite_a
         JOIN sz zb ON zb.suite = p.suite_b
         ORDER BY suite_a, suite_b"""),

    // Per-label centroid shift between two corpus halves (vec_id parity) —
    // the embedding-space drift monitor complementing q94–q96's scalar
    // drift family. Per-dim means via posexplode + (label, dim, half)
    // aggregate (map-side combined; never a whole-label array in one task).
    // The mean is order-independent integer math end-to-end: each float
    // component integerizes as floor(greatest(x+1, 0)·2²⁴). The clamp
    // ENFORCES the non-negative dividend the later integer division needs
    // (Spark `div` truncates, DuckDB `//` floors — they only agree for
    // non-negative dividends; a hypothetical component < −1 would
    // otherwise diverge silently). The 2⁻²⁴ quantization is DETERMINISTIC,
    // not lossless — components with mantissa bits below 2⁻²⁴ truncate
    // identically on both engines — which is all cross-engine exactness
    // needs (a double avg here is the q108/q149 partition-order class).
    Query("q125_centroid_shift", (s, d) => {
      // Materialized: both half-branches read this (labels×dims×2)-row
      // frame; lazy it would re-run the corpus-sized explode+agg twice.
      val cent = mat(t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"), (col("vec_id") % 2).as("half"))
        .agg(expr("sum(CAST(floor(greatest(CAST(x AS DOUBLE) + 1.0d, 0.0d)" +
            " * 16777216.0d) AS BIGINT))" +
            " * 1000000 div (count(*) * 16777216) - 1000000")
          .as("c_micro")))
      val a = cent.where(col("half") === 0)
        .select(col("label"), col("dim"), col("c_micro").as("__a"))
      val b = cent.where(col("half") === 1)
        .select(col("label"), col("dim"), col("c_micro").as("__b"))
      a.join(b, Seq("label", "dim"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_dims"),
          sum((col("__a") - col("__b")) * (col("__a") - col("__b")))
            .as("shift_micro2"))
        .orderBy(col("label"))
    }, oracleSql =
      // Per-dim means are EXACT integer micro (floor((v+1)·2²⁴) lossless on
      // float components, offset keeps the // dividend positive) — no
      // order-dependent double sum reaches the compare.
      """WITH x AS (SELECT vec_id, label, vec_id % 2 AS half,
             generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS v
           FROM embeddings),
         cent AS (SELECT label, dim, half,
             CAST(sum(CAST(floor(greatest(v + 1.0, 0.0) * 16777216.0) AS BIGINT))
               * 1000000 // (count(*) * 16777216) - 1000000 AS BIGINT)
               AS c_micro
           FROM x GROUP BY 1, 2, 3),
         j AS (SELECT a.label, a.dim, a.c_micro AS ca, b.c_micro AS cb
               FROM cent a JOIN cent b
                 ON a.label = b.label AND a.dim = b.dim
                 AND a.half = 0 AND b.half = 1)
         SELECT label, count(*) AS n_dims,
           CAST(sum((ca - cb) * (ca - cb)) AS BIGINT) AS shift_micro2
         FROM j GROUP BY label ORDER BY label"""),

    // Cross-source duplicate-flow matrix: which source pairs carry
    // near-duplicate content (≥ 8 shared distinct 3-gram shingles, hot
    // shingles capped), and how many pairs flow between them — the
    // provenance audit behind a keep-best-source policy (q83). Exact
    // fingerprints would miss everything here (this corpus's duplicates
    // never cross sources verbatim); the shared bounded pair core keys
    // everything by the 8-byte shingle hash, and the source labels join
    // onto the tiny surviving pair set.
    Query("q126_source_copy_matrix", (s, d) => {
      val docs = t(s, d, "documents")
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", 3))
      val pairs = Dedup.sharedShinglePairs(postings, minShared = 8,
        maxDocFreq = 100L)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")),
          Seq("id_b"))
        .select(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    }, oracleSql =
      // Raw-shingle mirror of the capped pair core as a df prune plus
      // self-join (q42's tolerance: counts on strings vs 64-bit hashes).
      s"""WITH $shinglesCte,
         hot AS (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100),
         f AS (SELECT id, sh FROM e LEFT JOIN hot USING (sh)
               WHERE hot.sh IS NULL),
         p AS (SELECT a.id AS ia, b.id AS ib
               FROM f a JOIN f b ON a.sh = b.sh AND a.id < b.id
               GROUP BY 1, 2 HAVING count(*) >= 8),
         m AS (SELECT least(da.source, db.source) AS source_a,
                 greatest(da.source, db.source) AS source_b
               FROM p JOIN documents da ON da.doc_id = p.ia
               JOIN documents db ON db.doc_id = p.ib)
         SELECT source_a, source_b, count(*) AS n_pairs
         FROM m GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Boilerplate detector: the 20 hottest 12-token blocks (q76's segmenter)
    // by occurrence, with their distinct-doc reach — what a C4-style line
    // rule would strike first. Counts aggregate on the 8-byte segment hash;
    // the distinct (hash, text) frame joins back only to label the
    // top-20 cut, which is a TakeOrderedAndProject under (count desc, text).
    Query("q127_boilerplate_segments", (s, d) => {
      val segs = t(s, d, "documents")
        .select(col("doc_id"),
          explode(Dedup.tokenBlocks(col("text"), 12)).as("seg"))
        .select(col("doc_id"), col("seg"), xxhash64(col("seg")).as("segh"))
      // ONE aggregation keyed by the segment hash carries counts, reach
      // AND a representative text (min(seg) — all texts under one hash are
      // equal barring a 64-bit collision, the q42-family tolerance). The
      // two-frame spelling (counts ⋈ distinct texts) explodes the corpus
      // twice and shuffles the strings a second time for the distinct.
      segs.groupBy(col("segh"))
        .agg(min(col("seg")).as("segment"), count(lit(1)).as("n_occ"),
          count_distinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occ").desc, col("segment")).limit(20)
        .select(col("segment"), col("n_occ"), col("n_docs"))
    }, oracleSql =
      // q76's 12-token block construction, rolled up to the top-20 hot
      // segments under the (count desc, text) total order.
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             FROM documents),
         lf AS (SELECT doc_id,
             list_transform(range(1, CAST(ceil(len(toks) / 12.0) AS INT) + 1),
               i -> array_to_string(list_slice(toks, (i - 1) * 12 + 1, (i - 1) * 12 + 12), ' ')) AS lns
           FROM tk),
         segs AS (SELECT doc_id, unnest(lns) AS seg FROM lf),
         c AS (SELECT seg, count(*) AS n_occ,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
               FROM segs GROUP BY 1)
         SELECT seg AS segment, n_occ, n_docs
         FROM c ORDER BY n_occ DESC, seg LIMIT 20"""),

    // Corpus conditional bigram entropy H(next | prev) in nats — the
    // one-scalar fluency/templatedness gauge next to q115's Zipf fit (a
    // template-flooded corpus collapses toward 0). Bigrams via the q86
    // (id, pos+1) equi-join (no per-doc window); count tables map-side
    // combined; only the final Σ c_ab·ln(c_a/c_ab) is floating point,
    // rounded 6.
    Query("q128_bigram_entropy", (s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "w")))
      // Materialized: the context-marginal aggregate and the final rollup
      // both read the bigram count table — lazy, the corpus-sized position
      // join would run twice (the sf0.001 plan showed the duplicated
      // SortMergeJoin branch before this checkpoint).
      val cab = mat(toks.select(col("doc_id"), col("pos"), col("w").as("a"))
        .join(toks.select(col("doc_id"), (col("pos") - 1).as("pos"),
          col("w").as("b")), Seq("doc_id", "pos"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab")))
      val ca = cab.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
      cab.join(ca, Seq("a"))
        .agg(sum(col("c_ab")).as("n_bigrams"),
          count_distinct(col("a")).as("n_contexts"),
          count(lit(1)).as("n_distinct_bigrams"),
          // Per-bigram term floored to exact micro-nats BEFORE the
          // corpus-sized sum: a float sum over distinct bigrams is the
          // q108/q149 partition-order class. Terms are nonneg (c_a ≥ c_ab).
          sum(floor(col("c_ab") * log(col("c_a").cast("double") / col("c_ab"))
            * lit(1000000d)).cast("decimal(38,0)")).as("__se"))
        .select(col("n_bigrams"), col("n_contexts"), col("n_distinct_bigrams"),
          expr("__se div n_bigrams").as("cond_entropy_micronats"))
    }, oracleSql =
      // 1-based generate_subscripts vs the engine's 0-based posexplode —
      // both consistent within their own engine, and the pos+1 adjacency
      // join only needs internal consistency.
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             FROM documents),
         p AS (SELECT doc_id, unnest(toks) AS w,
                 generate_subscripts(toks, 1) AS pos FROM tk),
         cab AS (SELECT x.w AS a, y.w AS b, count(*) AS c_ab
                 FROM p x JOIN p y
                   ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
                 GROUP BY 1, 2),
         ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY 1)
         SELECT CAST(sum(c_ab) AS BIGINT) AS n_bigrams,
           CAST(count(DISTINCT cab.a) AS BIGINT) AS n_contexts,
           count(*) AS n_distinct_bigrams,
           CAST(sum(CAST(floor(c_ab * ln(CAST(c_a AS DOUBLE) / c_ab)
               * 1000000) AS BIGINT)) // sum(c_ab) AS BIGINT)
             AS cond_entropy_micronats
         FROM cab JOIN ca USING (a)"""),

    // Language-ID confusion matrix: the q37 heuristic evaluated against
    // the labeled lang column as (actual, predicted) counts — the
    // eval-harness companion (q89/q116 pattern) for the text family. One
    // map-side-combined aggregate over the 25-cell matrix.
    Query("q130_lang_confusion", (s, d) =>
      t(s, d, "documents")
        .select(col("lang"), TextOps.langId(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("pred_lang")), oracleSql = {
      val scores = TextOps.LangMarkers.map { case (l, _) => l -> s"s_$l" }
      val scoreDefs = TextOps.LangMarkers.map { case (l, ws) =>
        s"${langScoreSql(ws)} AS s_$l" }.mkString(", ")
      val mx = scores.map(_._2).mkString("greatest(", ", ", ")")
      val pred = scores.map { case (l, s) => s"WHEN $s = $mx THEN '$l'" }
        .mkString("CASE ", " ", " END")
      s"""WITH sc AS (SELECT lang, $scoreDefs FROM documents)
         SELECT lang, $pred AS pred_lang, count(*) AS n_docs
         FROM sc GROUP BY 1, 2 ORDER BY 1, 2"""
    }),

    // Do duplicates deserve the dedup budget? Per-source mean quality of
    // fingerprint-duplicated vs unique docs (integer DIV means, −1 for an
    // empty class). The group-size dim is distinct-fingerprint-sized and
    // joins back keyed by the 16-byte fingerprint.
    Query("q131_dup_quality_gap", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextOps.contentFingerprint(col("text")).as("fp"),
          TextOps.qualityScoreMilli(col("text")).as("q"))
      val grp = docs.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
      docs.join(grp, Seq("fp"))
        .withColumn("__dup", (col("__n") > 1).cast("long"))
        .groupBy(col("source"))
        .agg(sum(col("__dup")).as("n_dup_docs"),
          (count(lit(1)) - sum(col("__dup"))).as("n_uniq_docs"),
          expr("""coalesce(sum(CASE WHEN __dup = 1 THEN q END)
                  div nullif(sum(__dup), 0), -1)""").as("q_dup_milli"),
          expr("""coalesce(sum(CASE WHEN __dup = 0 THEN q END)
                  div nullif(count(*) - sum(__dup), 0), -1)""").as("q_uniq_milli"))
        .orderBy(col("source"))
    }, oracleSql = {
      s"""WITH $qualityMilliCte,
         d AS (SELECT doc_id, source,
                 md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
               FROM documents),
         g AS (SELECT fp, count(*) AS n FROM d GROUP BY 1),
         j AS (SELECT d.source, q.quality_milli,
                 CASE WHEN g.n > 1 THEN 1 ELSE 0 END AS dup
               FROM d JOIN g USING (fp) JOIN q USING (doc_id))
         SELECT source,
           CAST(sum(dup) AS BIGINT) AS n_dup_docs,
           CAST(count(*) - sum(dup) AS BIGINT) AS n_uniq_docs,
           CAST(coalesce(sum(CASE WHEN dup = 1 THEN quality_milli END)
             // nullif(sum(dup), 0), -1) AS BIGINT) AS q_dup_milli,
           CAST(coalesce(sum(CASE WHEN dup = 0 THEN quality_milli END)
             // nullif(count(*) - sum(dup), 0), -1) AS BIGINT) AS q_uniq_milli
         FROM j GROUP BY source ORDER BY source"""
    }),

    // Shingle document-frequency histogram: how duplication mass
    // distributes across df bands — the measurement that SETS the
    // maxDocFreq skew caps the q42/q111/q126 pair cores rely on, instead
    // of guessing them. df per hash is map-side combined; the histogram
    // rolls ≤ distinct-shingle rows into 5.
    Query("q133_shingle_df_histogram", (s, d) => {
      val dfc = Dedup.shinglePostings(t(s, d, "documents"), "doc_id", "text", 3)
        .groupBy(col("shh")).agg(count(lit(1)).as("df"))
      dfc
        .withColumn("bucket_id",
          when(col("df") === 1, 1).when(col("df") === 2, 2)
            .when(col("df") <= 10, 3).when(col("df") <= 100, 4).otherwise(5))
        .withColumn("df_band",
          when(col("df") === 1, "1").when(col("df") === 2, "2")
            .when(col("df") <= 10, "3-10").when(col("df") <= 100, "11-100")
            .otherwise(">100"))
        .groupBy(col("bucket_id"), col("df_band"))
        .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("n_postings"))
        .orderBy(col("bucket_id"))
    }, oracleSql =
      // df on raw shingle strings where the engine counts 8-byte hashes —
      // the q42-family collision tolerance.
      s"""WITH $shinglesCte,
         dfc AS (SELECT sh, count(*) AS df FROM e GROUP BY 1),
         b AS (SELECT df,
             CASE WHEN df = 1 THEN 1 WHEN df = 2 THEN 2
                  WHEN df <= 10 THEN 3 WHEN df <= 100 THEN 4 ELSE 5 END AS bucket_id,
             CASE WHEN df = 1 THEN '1' WHEN df = 2 THEN '2'
                  WHEN df <= 10 THEN '3-10' WHEN df <= 100 THEN '11-100'
                  ELSE '>100' END AS df_band
           FROM dfc)
         SELECT bucket_id, df_band, count(*) AS n_shingles,
           CAST(sum(df) AS BIGINT) AS n_postings
         FROM b GROUP BY 1, 2 ORDER BY bucket_id"""),

    // Near-dup candidate-graph degree profile: docs per degree over the
    // q43 band-bucket pair graph (degree 0 = the untouched corpus rest) —
    // the graph-shape audit that predicts contraction-round counts and
    // flags a band config collapsing into a mega-component. Degrees are
    // per-doc counts over the distinct pair set; the histogram rolls
    // doc-count rows into ≤ max-degree rows.
    Query("q135_dup_graph_degrees", (s, d) => {
      val docs = t(s, d, "documents")
      val sig = minhashSignatureFrame(docs)
      val banded = Dedup.minhashBandPostingsFromSignatures(sig,
        numHashes = 8, bands = 4)
      val pairs = Dedup.candidatePairsFromBandPostings(banded)
      val deg = pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      val withZero = docs.select(col("doc_id").as("id"))
        .join(deg, Seq("id"), "left")
        .withColumn("degree", coalesce(col("degree"), lit(0L)))
      withZero.groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("degree"))
    }, oracleSql =
      // q43's band CTEs → distinct pair set → symmetric degree counts, with
      // degree-0 docs folded in via the left join.
      s"""WITH $minhashCtes,
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM mbands a JOIN mbands b
                    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         u AS (SELECT id_a AS id FROM cand UNION ALL SELECT id_b FROM cand),
         deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM u GROUP BY 1),
         z AS (SELECT d.doc_id, coalesce(g.degree, 0) AS degree
               FROM documents d LEFT JOIN deg g ON g.id = d.doc_id)
         SELECT degree, count(*) AS n_docs
         FROM z GROUP BY 1 ORDER BY degree"""),

    // Token-budget planning: per-source repetition factor for an
    // equal-share 1M-token mixture — repetition_milli > 1000 means that
    // source must repeat (multi-epoch) to fill its share, the number a
    // mixture designer reads BEFORE launching q75's sampler. Pure integer
    // arithmetic over the per-source token totals.
    Query("q136_token_budget_plan", (s, d) => {
      val budget = 1000000L
      val per = t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("n_toks"))
      val n = per.agg(count(lit(1)).as("__ns"))
      per.crossJoin(broadcast(n))
        .withColumn("target_toks", expr(s"$budget div __ns"))
        .withColumn("repetition_milli",
          expr("target_toks * 1000 div n_toks"))
        .select(col("source"), col("n_docs"), col("n_toks"),
          col("target_toks"), col("repetition_milli"))
        .orderBy(col("source"))
    }, oracleSql =
      """WITH per AS (SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_toks
           FROM documents GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM per)
         SELECT source, n_docs, n_toks,
           CAST(1000000 // ns AS BIGINT) AS target_toks,
           CAST((1000000 // ns) * 1000 // n_toks AS BIGINT) AS repetition_milli
         FROM per, n ORDER BY source"""),

    // Empirical LSH recall curve: per true-Jaccard band (integer milli,
    // exact), what fraction of genuinely-similar pairs the 8-hash/4-band
    // MinHash blocking actually surfaces — the measured S-curve that
    // validates (or indicts) the band configuration, next to q116's
    // estimator error and q89's ANN recall. Ground truth comes from the
    // capped bounded pair core over the materialized postings;
    // detection from the band-bucket candidate set over the materialized
    // signature frame.
    Query("q137_lsh_recall_curve", (s, d) => {
      val docs = t(s, d, "documents")
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", 3))
      val truth = Dedup.pairOverlapCounts(postings, maxDocFreq = 100L)
        .withColumn("j_milli", expr("inter * 1000 div (n_a + n_b - inter)"))
        .where(col("j_milli") >= 50)
        .select(col("id_a"), col("id_b"), expr("j_milli div 100").as("band"))
      // Signatures hash the shingle STRINGS (portable md5 slots), so they
      // cannot derive from the xxhash64 postings — their own materialized
      // frame, the q70/q84 idiom.
      val sig = minhashSignatureFrame(docs)
      val banded = Dedup.minhashBandPostingsFromSignatures(sig, numHashes = 8,
        bands = 4)
      val cand = Dedup.candidatePairsFromBandPostings(banded)
        .withColumn("__det", lit(1L))
      truth.join(cand, Seq("id_a", "id_b"), "left")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("__det"), lit(0L))).as("n_detected"))
        .withColumn("recall_milli", expr("n_detected * 1000 div n_true"))
        .orderBy(col("band"))
    }, oracleSql =
      // q42's capped truth pairs (integer-milli Jaccard) left-joined to
      // q43's band candidates, rolled up per band.
      s"""WITH $minhashCtes,
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM mbands a JOIN mbands b
                    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         ef AS (SELECT * FROM e WHERE sh NOT IN
                  (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100)),
         p AS (SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
                 count(*) AS inter
               FROM ef a JOIN ef b ON a.sh = b.sh AND a.id < b.id
               GROUP BY 1, 2, 3, 4),
         t AS (SELECT id_a, id_b,
                 CAST(inter * 1000 // (n_a + n_b - inter) AS BIGINT) AS jm
               FROM p WHERE inter * 1000 // (n_a + n_b - inter) >= 50),
         j AS (SELECT t.jm // 100 AS band,
                 CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS det
               FROM t LEFT JOIN cand c
                 ON c.id_a = t.id_a AND c.id_b = t.id_b)
         SELECT CAST(band AS BIGINT) AS band, count(*) AS n_true,
           CAST(sum(det) AS BIGINT) AS n_detected,
           CAST(sum(det) * 1000 // count(*) AS BIGINT) AS recall_milli
         FROM j GROUP BY band ORDER BY band"""),

    // Winsorized per-source quality means: raw vs P5/P95-clipped — the
    // outlier-robust reporting a mixture designer trusts over raw means.
    // Cut values come from Calibrate's nearest-rank histogram machinery
    // (value-deterministic integers; the corpus collapses to the bounded
    // histogram before any window — no per-group sort at 100 TB), then
    // broadcast back for the clip.
    Query("q142_winsorized_quality", (s, d) => {
      val scored = t(s, d, "documents")
        .select(col("source"), TextOps.qualityScoreMilli(col("text")).as("q"))
      val cuts = Calibrate.nearestRankCuts(scored, Seq("source"), "q",
        Seq(5, 95))
      scored.join(broadcast(cuts), Seq("source"))
        .withColumn("__cq", greatest(col("p5"), least(col("p95"), col("q"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("p5")).as("p5"), min(col("p95")).as("p95"),
          expr("sum(q) div count(*)").as("mean_q_milli"),
          expr("sum(__cq) div count(*)").as("wins_mean_q_milli"))
        .orderBy(col("source"))
    }, oracleSql =
      // The same nearest-rank cut definition over the value histogram:
      // cut(p) = min value with cum_le >= ceil(p*n/100), all integer.
      s"""WITH $qualityMilliCte,
         j AS (SELECT d.source, q.quality_milli AS v
               FROM documents d JOIN q USING (doc_id)),
         h AS (SELECT source, v, count(*) AS n FROM j GROUP BY 1, 2),
         c AS (SELECT source, v, n,
                 sum(n) OVER (PARTITION BY source ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum_le,
                 sum(n) OVER (PARTITION BY source) AS ng
               FROM h),
         cuts AS (SELECT source,
             CAST(min(CASE WHEN cum_le >= (5 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p5,
             CAST(min(CASE WHEN cum_le >= (95 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p95
           FROM c GROUP BY 1)
         SELECT j.source, count(*) AS n_docs,
           min(cuts.p5) AS p5, min(cuts.p95) AS p95,
           CAST(sum(j.v) // count(*) AS BIGINT) AS mean_q_milli,
           CAST(sum(greatest(cuts.p5, least(cuts.p95, j.v))) // count(*)
             AS BIGINT) AS wins_mean_q_milli
         FROM j JOIN cuts USING (source)
         GROUP BY 1 ORDER BY 1"""),

    // PageRank over the MinHash candidate graph (q135's pair set) —
    // integer-ppm, 3 rounds: the "template hub" ranking that tells a
    // curator WHICH documents sit at the center of the duplication
    // structure before mass deletion. Each round is one shuffle join
    // against the once-materialized degree-annotated edge list plus one
    // map-side-combined inflow aggregate (Graph.pageRankPpm); the floored
    // integer arithmetic makes every rank bit-identical to the oracle's
    // unrolled-CTE mirror.
    Query("q146_pagerank", (s, d) => {
      val docs = t(s, d, "documents")
      val banded = Dedup.minhashBandPostingsFromSignatures(
        minhashSignatureFrame(docs), numHashes = 8, bands = 4)
      val pairs = Dedup.candidatePairsFromBandPostings(banded)
      Graph.pageRankPpm(docs.select(col("doc_id")), "doc_id",
          pairs, "id_a", "id_b", iters = 3)
        .orderBy(col("rank_ppm").desc, col("id"))
        .limit(20)
        .select(col("id").as("doc_id"), col("rank_ppm"))
    }, oracleSql = pageRankSql),

    // Int8 scalar quantization of the embedding column with measured
    // reconstruction error — the compression decision (4× smaller index)
    // an ANN deployment makes, with the evidence attached. Per-dim
    // min/max via a narrow posexplode into a map-side-combined 64-group
    // aggregate; the two 64-element range arrays broadcast back as ONE
    // row and the quantize/reconstruct/error loop runs inside per-row
    // array lambdas — no explode on the error path. Everything is cast
    // to double BEFORE any arithmetic so both engines run identical
    // float64 ops; the only order-dependent float sums sit under the
    // terminal round(6).
    Query("q147_embedding_quantize", (s, d) => {
      val emb = t(s, d, "embeddings")
      val dims = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "vf")))
        .select(col("i"), col("vf").cast("double").as("v"))
        .groupBy(col("i"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val arrs = dims.agg(
        expr("transform(array_sort(collect_list(struct(i, mn))), s -> s.mn)")
          .as("mn_arr"),
        expr("transform(array_sort(collect_list(struct(i, mx))), s -> s.mx)")
          .as("mx_arr"))
      emb.crossJoin(broadcast(arrs))
        .withColumn("sse", expr(
          """aggregate(transform(embedding, (x, i) ->
               CASE WHEN element_at(mx_arr, i+1) = element_at(mn_arr, i+1)
                 THEN 0D
                 ELSE pow(CAST(x AS DOUBLE) - (element_at(mn_arr, i+1)
                   + floor((CAST(x AS DOUBLE) - element_at(mn_arr, i+1)) * 255
                       / (element_at(mx_arr, i+1) - element_at(mn_arr, i+1)) + 0.5)
                     * (element_at(mx_arr, i+1) - element_at(mn_arr, i+1)) / 255), 2)
               END), 0D, (a, b) -> a + b)"""))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          // Exact: per-vector SSE (a deterministic in-row fold) floors to
          // nano units before the per-label sum — the float sum is the
          // q108/q149 partition-order class. max is an order statistic.
          sum(floor(col("sse") * lit(1000000000d))).as("total_sse_nano"),
          round(max(col("sse")), 6).as("max_sse"))
        .orderBy(col("label"))
    }, oracleSql =
      // Cast to double BEFORE any arithmetic (float32 → float64 is exact),
      // then the identical quantize/reconstruct float64 expression — only
      // the per-vec/per-label sums are order-dependent and they sit under
      // the terminal round(6).
      """WITH ex0 AS (SELECT vec_id, label, unnest(embedding) AS vf,
             unnest(range(len(embedding))) AS i FROM embeddings),
         ex AS (SELECT vec_id, label, CAST(vf AS DOUBLE) AS v, i FROM ex0),
         dims AS (SELECT i, min(v) AS mn, max(v) AS mx FROM ex GROUP BY 1),
         er AS (SELECT e.vec_id, e.label,
             sum(CASE WHEN d.mx = d.mn THEN 0
                 ELSE pow(e.v - (d.mn + floor((e.v - d.mn) * 255 / (d.mx - d.mn) + 0.5)
                   * (d.mx - d.mn) / 255), 2) END) AS sse
           FROM ex e JOIN dims d USING (i) GROUP BY 1, 2)
         SELECT label, count(*) AS n_vecs,
           CAST(sum(CAST(floor(sse * 1000000000) AS BIGINT)) AS BIGINT)
             AS total_sse_nano,
           round(max(sse), 6) AS max_sse
         FROM er GROUP BY 1 ORDER BY label"""),

    // Split-leakage audit: near-dup candidate pairs whose members landed
    // in DIFFERENT train/val/test splits — the eval-integrity number a
    // random (non-cluster-aware) split hides. Pairs from the q135 band
    // graph; membership from the same hash-stable assignSplit the
    // pipeline ships, so the audit measures the REAL splits. Rolled up
    // per unordered split pair with an is_leak flag.
    Query("q152_split_leakage", (s, d) => {
      val docs = t(s, d, "documents")
      val banded = Dedup.minhashBandPostingsFromSignatures(
        minhashSignatureFrame(docs), numHashes = 8, bands = 4)
      val pairs = Dedup.candidatePairsFromBandPostings(banded)
      val split = operators.Splits.assignSplit(docs.select(col("doc_id")),
        col("doc_id"), Seq(("train", 90), ("val", 95), ("test", 100)))
      pairs
        .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
        .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"))
        .groupBy(col("split_lo"), col("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_leak", (col("split_lo") =!= col("split_hi")).cast("int"))
        .orderBy(col("split_lo"), col("split_hi"))
    }, oracleSql =
      // q135's band candidate pairs × q80's md5 split assignment, rolled
      // up per unordered split pair.
      s"""WITH $minhashCtes,
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM mbands a JOIN mbands b
                    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         sp AS (SELECT doc_id,
             CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 100 < 90 THEN 'train'
                  WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
           FROM documents),
         j AS (SELECT least(a.split, b.split) AS split_lo,
                 greatest(a.split, b.split) AS split_hi
               FROM cand JOIN sp a ON a.doc_id = cand.id_a
                         JOIN sp b ON b.doc_id = cand.id_b)
         SELECT split_lo, split_hi, count(*) AS n_pairs,
           CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END AS is_leak
         FROM j GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Curriculum ordering: global quality quintile (histogram buckets —
    // no corpus sort) descending, deterministically shuffled WITHIN each
    // bucket by the md5 draw — the easy-first training order, emitted as
    // the first 100 scheduled docs via TakeOrderedAndProject. The only
    // window runs over the ≤1001-row value histogram.
    Query("q153_curriculum_order", (s, d) => {
      // Lazily cached AND spread: histogramBuckets references the scored
      // frame twice (histogram dim + probe join), and the regex-heavy
      // quality score over a single-split scan otherwise runs twice on
      // one thread. The cache fills during the histogram pass; the probe
      // reads it.
      val scored = matLazy(operators.Spread(t(s, d, "documents"))
        .select(col("doc_id"), TextOps.qualityScoreMilli(col("text")).as("q")))
      Calibrate.histogramBuckets(scored, Seq.empty, "q", 5, "bucket")
        .withColumn("draw", functions.Draws.md5Draw(col("doc_id"), 1000000000L))
        .orderBy(col("bucket").desc, col("draw"), col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("bucket"), col("q"), col("draw"))
    }, oracleSql =
      // Global quality quintile from the value histogram (cum_lt = rows
      // strictly below), md5-draw shuffle within bucket, top-100.
      s"""WITH $qualityMilliCte,
         h AS (SELECT quality_milli AS qv, count(*) AS n FROM q GROUP BY 1),
         c AS (SELECT qv, n,
             coalesce(sum(n) OVER (ORDER BY qv
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt,
             sum(n) OVER () AS ng
           FROM h),
         b AS (SELECT qv,
             CAST(least(4, (5 * cum_lt) // ng) AS BIGINT) AS bucket FROM c),
         j AS (SELECT q.doc_id, b.bucket, q.quality_milli AS q,
             CAST('0x' || substring(md5(CAST(q.doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 1000000000 AS draw
           FROM q JOIN b ON b.qv = q.quality_milli)
         SELECT doc_id, bucket, q, draw FROM j
         ORDER BY bucket DESC, draw, doc_id LIMIT 100"""),

    // Dedup-method agreement: the MinHash band candidate pairs vs the
    // SimHash Hamming-verified pairs over the same corpus, bucketed into
    // both/minhash_only/simhash_only — the methodology audit run before
    // trusting either family alone. Full-outer on the pair key; both
    // sides are the banded (never all-pairs) cores.
    Query("q157_method_agreement", (s, d) => {
      val docs = t(s, d, "documents")
      val banded = Dedup.minhashBandPostingsFromSignatures(
        minhashSignatureFrame(docs), numHashes = 8, bands = 4)
      val m = Dedup.candidatePairsFromBandPostings(banded)
        .withColumn("in_m", lit(1))
      val sh = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b")).withColumn("in_s", lit(1))
      m.join(sh, Seq("id_a", "id_b"), "full_outer")
        .select(when(col("in_m").isNotNull && col("in_s").isNotNull, "both")
          .when(col("in_m").isNotNull, "minhash_only")
          .otherwise("simhash_only").as("method"))
        .groupBy(col("method")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("method"))
    }, oracleSql =
      // The MinHash band-candidate pair set FULL JOINed to the SimHash
      // Hamming-verified pair set, bucketed by membership.
      s"""WITH $minhashCtes, $simhashCtes,
         mc AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM mbands a JOIN mbands b
                  ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         scand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                   FROM bands a JOIN bands b
                     ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         sc AS (SELECT c.id_a, c.id_b
                FROM scand c JOIN sim sa ON sa.id = c.id_a
                             JOIN sim sb ON sb.id = c.id_b
                WHERE bit_count(xor(sa.sim, sb.sim)) <= 3),
         j AS (SELECT CASE
                 WHEN m.id_a IS NOT NULL AND s.id_a IS NOT NULL THEN 'both'
                 WHEN m.id_a IS NOT NULL THEN 'minhash_only'
                 ELSE 'simhash_only' END AS method
               FROM mc m FULL JOIN sc s
                 ON m.id_a = s.id_a AND m.id_b = s.id_b)
         SELECT method, count(*) AS n_pairs FROM j
         GROUP BY 1 ORDER BY method"""),

    // Content-defined chunking (FastCDC/storage-dedup shape) at token
    // grain: a boundary lands wherever the trigram ending at a position
    // draws 0 mod 16 (the md5 draw — content-defined, so an insertion
    // only reshapes its OWN chunk), chunk ids are the running boundary
    // count, and chunk text hashes dedup across the corpus. Every window
    // is per-doc (scan-local); chunk counting is map-side combined. The
    // single-row report is the storage planner's dedup forecast.
    Query("q158_cdc_chunk_dedup", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val wPrev = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val tk = t(s, d, "documents").select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      val ch = tk
        .withColumn("t1", lag(col("tok"), 1).over(w))
        .withColumn("t2", lag(col("tok"), 2).over(w))
        .withColumn("is_b", when(col("pos") >= 2 &&
          functions.Draws.md5Draw(
            concat_ws(" ", col("t2"), col("t1"), col("tok")), 16L) === 0,
          1L).otherwise(0L))
        .withColumn("chunk_id", coalesce(sum(col("is_b")).over(wPrev), lit(0L)))
      val chunks = mat(ch.groupBy(col("doc_id"), col("chunk_id"))
        .agg(md5(expr(
          "array_join(transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok), ' ')"))
          .as("ch_hash"),
          count(lit(1)).as("n_toks")))
      val hottest = chunks.groupBy(col("ch_hash"))
        .agg(count(lit(1)).as("cnt")).agg(max(col("cnt")).as("max_chunk_copies"))
      chunks.agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("ch_hash")).as("n_distinct"),
          expr("count(distinct ch_hash) * 1000000 div count(*)").as("distinct_ppm"),
          expr("sum(n_toks) * 1000 div count(*)").as("avg_chunk_toks_milli"))
        .crossJoin(broadcast(hottest))
    }, oracleSql =
      // Boundary trigrams use the same md5-draw idiom as the engine
      // (content-defined mod-16), chunk ids are the strictly-preceding
      // boundary count, chunk hashes are md5 of the position-ordered text.
      """WITH tk AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS tok,
             unnest(range(len(string_split_regex(trim(text), '\s+')))) AS pos
           FROM documents),
         g AS (SELECT doc_id, pos, tok,
             lag(tok, 1) OVER w AS t1, lag(tok, 2) OVER w AS t2
           FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         b AS (SELECT doc_id, pos, tok,
             CASE WHEN pos >= 2 AND CAST('0x' || substring(
                 md5(t2 || ' ' || t1 || ' ' || tok), 1, 8) AS BIGINT) % 16 = 0
               THEN 1 ELSE 0 END AS is_b
           FROM g),
         ch AS (SELECT doc_id, pos, tok,
             coalesce(sum(is_b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
           FROM b),
         chunks AS (SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS ch_hash,
             count(*) AS n_toks
           FROM ch GROUP BY 1, 2),
         mc AS (SELECT CAST(max(cnt) AS BIGINT) AS max_chunk_copies
                FROM (SELECT ch_hash, count(*) AS cnt FROM chunks GROUP BY 1))
         SELECT CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT ch_hash) AS BIGINT) AS n_distinct,
           CAST(count(DISTINCT ch_hash) * 1000000 // count(*) AS BIGINT)
             AS distinct_ppm,
           CAST(sum(n_toks) * 1000 // count(*) AS BIGINT)
             AS avg_chunk_toks_milli,
           min(mc.max_chunk_copies) AS max_chunk_copies
         FROM chunks, mc"""),

    // Dedup cost/benefit in TOKENS — the number that justifies (or
    // kills) each dedup tier's compute spend: every doc attributed to
    // exactly one stage (exact-dropped by fingerprint, near-dropped by
    // MinHash component keep-min, kept), with token mass per stage. The
    // component keeper is always itself a fingerprint keeper (the comp
    // min is the min of its own fp group), so stages partition cleanly.
    // One materialized base frame feeds both groupings.
    Query("q167_dedup_savings", (s, d) => {
      val docs = t(s, d, "documents")
      val base = mat(docs.select(col("doc_id"),
        TextOps.contentFingerprint(col("text")).as("fp"),
        TextOps.tokenCount(col("text")).cast("long").as("n_toks")))
      val fpKeep = base.groupBy(col("fp")).agg(min(col("doc_id")).as("fp_keep"))
      val comp = minhashComponents(docs).select(col("id").as("doc_id"), col("comp"))
      val compKeep = comp.groupBy(col("comp"))
        .agg(min(col("doc_id")).as("comp_keep"))
      base.join(fpKeep, Seq("fp")).join(comp, Seq("doc_id"))
        .join(compKeep, Seq("comp"))
        .withColumn("stage",
          when(col("doc_id") =!= col("fp_keep"), "exact_dropped")
            .when(col("doc_id") =!= col("comp_keep"), "near_dropped")
            .otherwise("kept"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"),
          sum(when(col("stage") === "exact_dropped", col("n_toks"))
            .otherwise(0L)).as("exact_dropped_tokens"),
          sum(when(col("stage") === "near_dropped", col("n_toks"))
            .otherwise(0L)).as("near_dropped_tokens"),
          sum(when(col("stage") === "kept", col("n_toks")).otherwise(0L))
            .as("kept_tokens"))
        .withColumn("kept_ppm", expr("kept_tokens * 1000000 div total_tokens"))
    }, oracleSql =
      // Fingerprint keepers × the recursive MinHash component keepers —
      // each doc lands in exactly one stage; token mass per stage.
      s"""WITH RECURSIVE $minhashCompCtes,
         b AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
           FROM documents),
         fpk AS (SELECT fp, min(doc_id) AS fp_keep FROM b GROUP BY 1),
         ck AS (SELECT comp, min(doc_id) AS comp_keep FROM comp GROUP BY 1),
         st AS (SELECT b.doc_id, b.n_toks,
             CASE WHEN b.doc_id <> fpk.fp_keep THEN 'exact_dropped'
                  WHEN b.doc_id <> ck.comp_keep THEN 'near_dropped'
                  ELSE 'kept' END AS stage
           FROM b JOIN fpk USING (fp)
           JOIN comp ON comp.doc_id = b.doc_id
           JOIN ck USING (comp))
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN stage = 'exact_dropped' THEN n_toks ELSE 0 END)
             AS BIGINT) AS exact_dropped_tokens,
           CAST(sum(CASE WHEN stage = 'near_dropped' THEN n_toks ELSE 0 END)
             AS BIGINT) AS near_dropped_tokens,
           CAST(sum(CASE WHEN stage = 'kept' THEN n_toks ELSE 0 END)
             AS BIGINT) AS kept_tokens,
           CAST(sum(CASE WHEN stage = 'kept' THEN n_toks ELSE 0 END)
             * 1000000 // sum(n_toks) AS BIGINT) AS kept_ppm
         FROM st"""),

    // Packing efficiency audit: how well q81's 2048-token bins actually
    // fill — capacity utilization in exact integer milli, bin-count
    // accounting, and the under-filled tail. Derives entirely from the
    // bucketed packing (no new corpus pass shape); the per-bin rollup is
    // bin-count-sized.
    Query("q168_pack_efficiency", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
      val bins = operators.Packing.packBins(docs, col("n_toks"), col("doc_id"),
          2048L)
        .groupBy(col("bin")).agg(sum(col("n_toks")).as("fill"),
          count(lit(1)).as("n_docs"))
      bins.agg(count(lit(1)).as("n_bins"), sum(col("fill")).as("total_tokens"),
          expr("sum(fill) * 1000 div (count(*) * 2048)").as("mean_fill_milli"),
          min(col("fill")).as("min_fill"), max(col("fill")).as("max_fill"),
          sum(when(col("fill") < 1844, 1L).otherwise(0L)).as("n_under_90pct"))
    }, oracleSql =
      // q81's md5-ordered cumsum packing, rolled up per bin.
      """WITH w AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks,
             md5(CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         c AS (SELECT doc_id, n_toks,
             CAST(sum(n_toks) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                  - n_toks AS BIGINT) AS bef
           FROM w),
         bins AS (SELECT bef // 2048 AS bin, CAST(sum(n_toks) AS BIGINT) AS fill
                  FROM c GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(fill) AS BIGINT) AS total_tokens,
           CAST(sum(fill) * 1000 // (count(*) * 2048) AS BIGINT)
             AS mean_fill_milli,
           min(fill) AS min_fill, max(fill) AS max_fill,
           CAST(sum(CASE WHEN fill < 1844 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_under_90pct
         FROM bins"""),

    // Shard mixing audit: source-composition entropy per output shard —
    // a well-mixed deterministic sharding should give every shard the
    // corpus's source distribution (entropy ≈ corpus entropy), and a
    // skewed shard is a training-order bug waiting to happen. Counts are
    // exact integers; ln enters once, under the terminal round(6).
    Query("q169_shard_mixing", (s, d) => {
      val sharded = operators.Splits.assignShard(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        col("doc_id"), 16)
      val cnt = sharded.groupBy(col("shard"), col("source"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy(col("shard")).agg(sum(col("n")).as("tot"),
        count(lit(1)).as("n_sources"))
      cnt.join(broadcast(tot), Seq("shard"))
        .groupBy(col("shard"))
        .agg(min(col("tot")).as("n_docs"), min(col("n_sources")).as("n_sources"),
          round(-sum((col("n") / col("tot")) *
            log(col("n") / col("tot"))), 6).as("source_entropy"))
        .orderBy(col("shard"))
    }, oracleSql =
      // Same md5 shard draw as q113 (mod 16), per-shard source entropy in
      // nats with ln only under the terminal round.
      """WITH sh AS (SELECT doc_id, source,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 16 AS shard
           FROM documents),
         cnt AS (SELECT shard, source, count(*) AS n FROM sh GROUP BY 1, 2),
         tot AS (SELECT shard, CAST(sum(n) AS BIGINT) AS tot,
             count(*) AS n_sources FROM cnt GROUP BY 1)
         SELECT cnt.shard, min(tot.tot) AS n_docs,
           min(tot.n_sources) AS n_sources,
           round(-sum((CAST(cnt.n AS DOUBLE) / tot.tot)
             * ln(CAST(cnt.n AS DOUBLE) / tot.tot)), 6) AS source_entropy
         FROM cnt JOIN tot USING (shard)
         GROUP BY 1 ORDER BY cnt.shard"""),

    // Greedy max-coverage selection: the 5 documents that jointly cover
    // the most distinct corpus shingles (the facility-location greedy a
    // seed-set/benchmark curator runs). Regime dispatch by measured
    // cardinality (the q201 pattern — one parquet-metadata count chooses
    // the algorithm, not taste): task-sized corpora take
    // Coverage.greedyCoverExactSmall — strict greedy in ONE distributed
    // job (vs greedyCover's 2k driver-iterated jobs, which dominated the
    // suite's job bill at 38 jobs for k=5) — and past the single-task
    // funnel's ceiling the GreeDi approx path keeps every stage
    // distributed. The doc-row-count branch here only decides whether the
    // full postings frame is worth materializing at all; the funnel's
    // actual memory argument (~10⁸ postings ≈ 1.6 GB/task) is enforced
    // INSIDE greedyCoverExactSmall by a measured postings COUNT
    // (Coverage.exactSmallBuckets — VERDICT-r16: a row-count guard alone
    // would admit a 100k-doc corpus of pathologically long documents).
    // Both regimes count shingle HASHES engine-side vs
    // raw strings oracle-side — equal barring 64-bit collision, the
    // q42-family tolerance; the small regime is row-for-row greedyCover
    // (CoverageSpec pins it), so the strict-greedy oracle gates every
    // scale the driver checks.
    Query("q170_greedy_cover", (s, d) => {
      val docs = t(s, d, "documents")
      val postings = Dedup.shinglePostings(docs, "doc_id", "text", 3)
      val sel =
        if (docs.count() <= 100000L)
          operators.Coverage.greedyCoverExactSmall(postings, "id", "shh", 5)
        else operators.Coverage.greedyCoverApprox(postings, "id", "shh", 5)
      sel.orderBy(col("round"))
    }, oracleSql = greedyCoverSql),

    // LSH precision audit — q137's complement: of the band-bucket
    // candidate pairs, how many are REAL near-dups at the working
    // thresholds? Candidates left-join the capped exact pair core; a
    // candidate with no surviving truth row (or sub-threshold Jaccard)
    // is a false positive the verify stage must pay to reject.
    Query("q171_lsh_precision", (s, d) => {
      val docs = t(s, d, "documents")
      val banded = Dedup.minhashBandPostingsFromSignatures(
        minhashSignatureFrame(docs), numHashes = 8, bands = 4)
      val cand = Dedup.candidatePairsFromBandPostings(banded)
      val truth = Dedup.pairOverlapCounts(
          Dedup.shinglePostings(docs, "doc_id", "text", 3),
          maxDocFreq = 100L)
        .select(col("id_a"), col("id_b"),
          expr("inter * 1000 div (n_a + n_b - inter)").as("jm"))
      cand.join(truth, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("jm") >= 500, 1L).otherwise(0L)).as("n_true_500"),
          sum(when(col("jm") >= 300, 1L).otherwise(0L)).as("n_true_300"))
        .withColumn("precision500_milli",
          expr("n_true_500 * 1000 div n_candidates"))
    }, oracleSql =
      // q43's candidates LEFT JOIN the q42 capped truth core; a missing or
      // sub-threshold truth row is a false positive.
      s"""WITH $minhashCtes,
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM mbands a JOIN mbands b
                    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         ef AS (SELECT * FROM e WHERE sh NOT IN
                  (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100)),
         pp AS (SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a,
                 b.n_sh AS n_b, count(*) AS inter
               FROM ef a JOIN ef b ON a.sh = b.sh AND a.id < b.id
               GROUP BY 1, 2, 3, 4),
         tt AS (SELECT id_a, id_b,
                 CAST(inter * 1000 // (n_a + n_b - inter) AS BIGINT) AS jm
               FROM pp)
         SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN tt.jm >= 500 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_500,
           CAST(sum(CASE WHEN tt.jm >= 300 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_300,
           CAST(sum(CASE WHEN tt.jm >= 500 THEN 1 ELSE 0 END) * 1000
             // count(*) AS BIGINT) AS precision500_milli
         FROM cand LEFT JOIN tt USING (id_a, id_b)"""),

    // Keyword search scoring — the retrieval read-path over the TF-IDF
    // family: docs ranked by Σ tf·ln(N/df) for the query terms. The term
    // filter lands BEFORE any shuffle (only matching tokens leave the
    // scan), df and N broadcast as tiny dims, and the top-10 rides
    // TakeOrderedAndProject on the rounded score.
    Query("q173_keyword_search", (s, d) => {
      val terms = Seq("spark", "vector", "stream")
      val docs = t(s, d, "documents")
      val tf = mat(docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .where(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf")))
      val dfd = tf.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(broadcast(dfd), Seq("w")).crossJoin(broadcast(n))
        .withColumn("contrib_micro",
          floor(col("tf") * log(col("n_docs") / col("df")) * lit(1000000d)))
        .groupBy(col("doc_id"))
        .agg(sum(col("contrib_micro")).as("score_micro"),
          count(lit(1)).as("n_terms_hit"), sum(col("tf")).as("total_tf"))
        .orderBy(col("score_micro").desc, col("doc_id"))
        .limit(10)
    }, oracleSql =
      """WITH tk AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM tk
                WHERE w IN ('spark', 'vector', 'stream') GROUP BY 1, 2),
         df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         sc AS (SELECT tf.doc_id,
             CAST(sum(CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)
               * 1000000) AS BIGINT)) AS BIGINT) AS score_micro,
             count(*) AS n_terms_hit, CAST(sum(tf.tf) AS BIGINT) AS total_tf
           FROM tf JOIN df USING (w) CROSS JOIN n GROUP BY 1)
         SELECT doc_id, score_micro, n_terms_hit, total_tf FROM sc
         ORDER BY score_micro DESC, doc_id LIMIT 10"""),

    // Language-ID confidence margin: top-score minus runner-up of the
    // marker scores, rolled up per predicted language — the calibration
    // read that says WHERE the q37 heuristic is guessing (margin 0 =
    // coin-flip). Integer scores end-to-end; one projection, one
    // map-side-combined rollup.
    Query("q174_lang_margin", (s, d) => {
      val scoreCols = TextOps.LangMarkers.map { case (l, ws) =>
        TextOps.langScore(col("text"), ws).cast("long").as(s"s_$l") }
      val arr = array(TextOps.LangMarkers.map { case (l, _) =>
        col(s"s_$l") }: _*)
      t(s, d, "documents")
        .select(col("doc_id") +: TextOps.langId(col("text")).as("pred_lang") +:
          scoreCols: _*)
        .withColumn("ss", sort_array(arr, asc = false))
        .withColumn("margin",
          element_at(col("ss"), 1) - element_at(col("ss"), 2))
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(margin) * 1000 div count(*)").as("mean_margin_milli"),
          sum(when(col("margin") === 0, 1L).otherwise(0L)).as("n_ambiguous"))
        .orderBy(col("pred_lang"))
    }, oracleSql = {
      val scoreDefs = TextOps.LangMarkers.map { case (l, ws) =>
        s"${langScoreSql(ws)} AS s_$l" }.mkString(", ")
      val names = TextOps.LangMarkers.map(_._1)
      val mx = names.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val pred = names.map(l => s"WHEN s_$l = $mx THEN '$l'")
        .mkString("CASE ", " ", " END")
      val lst = names.map(l => s"CAST(s_$l AS BIGINT)").mkString("[", ", ", "]")
      s"""WITH sc AS (SELECT doc_id, $scoreDefs FROM documents),
         p AS (SELECT doc_id, $pred AS pred_lang,
             list_sort($lst, 'DESC') AS ss FROM sc),
         m AS (SELECT pred_lang, ss[1] - ss[2] AS margin FROM p)
         SELECT pred_lang, count(*) AS n_docs,
           CAST(sum(margin) * 1000 // count(*) AS BIGINT) AS mean_margin_milli,
           CAST(sum(CASE WHEN margin = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ambiguous
         FROM m GROUP BY 1 ORDER BY 1"""
    }),

    // Mutual information between language and source — the corpus-design
    // read that says whether sources specialize by language (MI ≈ 0 =
    // independent mixing). All counts exact integers; the log's argument
    // is a ratio of exact integer products; ln and the weighted sum sit
    // under the terminal round(6). Marginal entropies ride along to
    // normalize against.
    Query("q176_mutual_info", (s, d) => {
      // Marginals as WINDOWS over the cell table instead of the r12 shape
      // (three aggregates broadcast-joined back + three scalar crosses):
      // the cell table is bounded by |langs|×|sources| BY CONSTRUCTION, so
      // the unpartitioned total window's single task holds a dim-product
      // frame, never corpus rows — and the one-pass plan drops 5
      // broadcast-build jobs and a materialize from a query that is pure
      // fixed overhead (16 jobs for 0.2 s of work). Entropy terms count
      // each marginal once via a row_number==1 guard; the float sums stay
      // in the q108/q149 partition-order class, under the terminal
      // round(6) exactly as before.
      import org.apache.spark.sql.expressions.Window
      val wl = Window.partitionBy(col("lang"))
      val ws = Window.partitionBy(col("source"))
      val cells = t(s, d, "documents").groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("source"), col("n"),
          sum(col("n")).over(wl).as("nl"),
          sum(col("n")).over(ws).as("ns"),
          sum(col("n")).over(Window.partitionBy()).as("nn"),
          row_number().over(wl.orderBy(col("source"))).as("rl"),
          row_number().over(ws.orderBy(col("lang"))).as("rs"))
      cells.agg(sum(col("n")).cast("long").as("n_docs"),
        round(sum((col("n") / col("nn")) *
          log((col("n").cast("double") * col("nn")) /
            (col("nl").cast("double") * col("ns")))), 6).as("mi_nats"),
        round(-sum(when(col("rl") === 1,
          (col("nl") / col("nn")) * log(col("nl") / col("nn")))), 6)
          .as("h_lang"),
        round(-sum(when(col("rs") === 1,
          (col("ns") / col("nn")) * log(col("ns") / col("nn")))), 6)
          .as("h_source"))
    }, oracleSql =
      """WITH cells AS (SELECT lang, source, count(*) AS n
                        FROM documents GROUP BY 1, 2),
         nl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl
                FROM cells GROUP BY 1),
         ns AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns
                FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
         mi AS (SELECT CAST(sum(cells.n) AS BIGINT) AS n_docs,
             round(sum((CAST(cells.n AS DOUBLE) / nn)
               * ln((CAST(cells.n AS DOUBLE) * nn)
                    / (CAST(nl.nl AS DOUBLE) * ns.ns))), 6) AS mi_nats
           FROM cells JOIN nl USING (lang) JOIN ns USING (source)
           CROSS JOIN tot),
         hl AS (SELECT round(-sum((CAST(nl AS DOUBLE) / nn)
               * ln(CAST(nl AS DOUBLE) / nn)), 6) AS h_lang
           FROM nl CROSS JOIN tot),
         hs AS (SELECT round(-sum((CAST(ns AS DOUBLE) / nn)
               * ln(CAST(ns AS DOUBLE) / nn)), 6) AS h_source
           FROM ns CROSS JOIN tot)
         SELECT n_docs, mi_nats, h_lang, h_source FROM mi, hl, hs"""),

    // Jackknife-over-sources standard error of the corpus mean quality —
    // the leave-one-group-out uncertainty a mixture designer attaches to
    // the headline number WITHOUT any resampling randomness: θ_i are
    // closed-form from per-group sums (a ~20-row frame), so the whole
    // estimator is two tiny aggregates over one corpus scan.
    Query("q177_jackknife_se", (s, d) => {
      val g = mat(t(s, d, "documents")
        .select(col("source"), TextOps.qualityScoreMilli(col("text")).as("q"))
        .groupBy(col("source")).agg(sum(col("q")).as("sg"), count(lit(1)).as("m")))
      val tot = g.agg(sum(col("sg")).as("bigS"), sum(col("m")).as("bigN"),
        count(lit(1)).as("gcnt"))
      val theta = g.crossJoin(broadcast(tot))
        .select(col("gcnt"), col("bigS"), col("bigN"),
          ((col("bigS") - col("sg")) / (col("bigN") - col("m"))).as("theta"))
      theta.groupBy(col("gcnt"), col("bigS"), col("bigN"))
        .agg(avg(col("theta")).as("tbar"),
          sum(col("theta") * col("theta")).as("tsq"))
        .select(col("bigN").as("n_docs"), col("gcnt").as("n_sources"),
          expr("bigS div bigN").as("mean_q_milli"),
          round(sqrt(((col("gcnt") - 1) / col("gcnt").cast("double")) *
            (col("tsq") - col("gcnt") * col("tbar") * col("tbar"))), 6)
            .as("jk_se_milli"))
    }, oracleSql =
      s"""WITH $qualityMilliCte,
         g AS (SELECT d.source, CAST(sum(q.quality_milli) AS BIGINT) AS sg,
             count(*) AS m
           FROM documents d JOIN q USING (doc_id) GROUP BY 1),
         tot AS (SELECT CAST(sum(sg) AS BIGINT) AS bigS,
             CAST(sum(m) AS BIGINT) AS bigN,
             CAST(count(*) AS BIGINT) AS gcnt FROM g),
         th AS (SELECT gcnt, bigS, bigN,
             CAST(bigS - sg AS DOUBLE) / (bigN - m) AS theta
           FROM g CROSS JOIN tot),
         agg AS (SELECT gcnt, bigS, bigN, avg(theta) AS tbar,
             sum(theta * theta) AS tsq
           FROM th GROUP BY 1, 2, 3)
         SELECT bigN AS n_docs, gcnt AS n_sources,
           CAST(bigS // bigN AS BIGINT) AS mean_q_milli,
           round(sqrt(((gcnt - 1) / CAST(gcnt AS DOUBLE))
             * (tsq - gcnt * tbar * tbar)), 6) AS jk_se_milli
         FROM agg"""),

    // Exact-k-per-stratum deterministic sample: EXACTLY min(20, n) docs
    // per source, chosen by md5-draw order — the quota sampler q61's
    // fraction form can't guarantee. The literal k rides the
    // WindowGroupLimit partial rewrite (ScaleSpec-pinned), so the shuffle
    // carries ≤ k·partitions rows per group, never whole groups.
    Query("q180_exact_k_sample", (s, d) => {
      val drawn = t(s, d, "documents").select(col("doc_id"), col("source"),
        functions.Draws.md5Draw(col("doc_id"), 1000000000L).as("draw"))
      operators.WindowOps.topKPerGroup(drawn, Seq(col("source")),
          Seq(col("draw"), col("doc_id")), 20)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_ids_sum"),
          max(col("draw")).as("max_draw"))
        .orderBy(col("source"))
    }, oracleSql =
      """WITH drawn AS (SELECT doc_id, source,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 1000000000 AS draw
           FROM documents),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
               ORDER BY draw, doc_id) AS rn
           FROM drawn)
         SELECT source, count(*) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS kept_ids_sum,
           CAST(max(draw) AS BIGINT) AS max_draw
         FROM r WHERE rn <= 20 GROUP BY 1 ORDER BY 1"""),

    // Near-dup explain panel: the top verified pairs with the metrics a
    // human triages on — Jaccard, containment (subset detection), length
    // ratio — all integer milli off the one capped pair core.
    Query("q181_pair_explain", (s, d) => {
      val docs = t(s, d, "documents")
      val len = docs.select(col("doc_id"), col("n_chars"))
      Dedup.pairOverlapCounts(
          Dedup.shinglePostings(docs, "doc_id", "text", 3),
          maxDocFreq = 100L)
        .withColumn("jm", expr("inter * 1000 div (n_a + n_b - inter)"))
        .where(col("jm") >= 300)
        .withColumn("containment_milli", expr("inter * 1000 div least(n_a, n_b)"))
        .join(len.select(col("doc_id").as("id_a"), col("n_chars").as("chars_a")),
          Seq("id_a"))
        .join(len.select(col("doc_id").as("id_b"), col("n_chars").as("chars_b")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("jm"), col("containment_milli"),
          expr("least(chars_a, chars_b) * 1000 div greatest(chars_a, chars_b)")
            .as("len_ratio_milli"))
        .orderBy(col("jm").desc, col("id_a"), col("id_b"))
        .limit(10)
    }, oracleSql =
      s"""WITH $shinglesCte,
         ef AS (SELECT * FROM e WHERE sh NOT IN
                  (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100)),
         pp AS (SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a,
                 b.n_sh AS n_b, count(*) AS inter
               FROM ef a JOIN ef b ON a.sh = b.sh AND a.id < b.id
               GROUP BY 1, 2, 3, 4),
         t AS (SELECT id_a, id_b,
                 CAST(inter * 1000 // (n_a + n_b - inter) AS BIGINT) AS jm,
                 CAST(inter * 1000 // least(n_a, n_b) AS BIGINT)
                   AS containment_milli
               FROM pp
               WHERE inter * 1000 // (n_a + n_b - inter) >= 300),
         j AS (SELECT t.*, da.n_chars AS chars_a, db.n_chars AS chars_b
               FROM t JOIN documents da ON da.doc_id = t.id_a
                      JOIN documents db ON db.doc_id = t.id_b)
         SELECT id_a, id_b, jm, containment_milli,
           CAST(least(chars_a, chars_b) * 1000
             // greatest(chars_a, chars_b) AS BIGINT) AS len_ratio_milli
         FROM j ORDER BY jm DESC, id_a, id_b LIMIT 10"""),

    // Catalog row-count summary — the SHOW-TABLES-extended read over all
    // ten corpus tables: one count aggregate per table, unioned. Each
    // count is a column-pruned parquet scan (metadata-cheap).
    Query("q182_table_catalog", (s, d) =>
      Tables.names.map { n =>
        t(s, d, n).agg(count(lit(1)).as("n_rows"))
          .select(lit(n).as("table_name"), col("n_rows"))
      }.reduce(_.unionByName(_)).orderBy(col("table_name")), oracleSql = Tables.names.sorted.map(n =>
        s"SELECT '$n' AS table_name, count(*) AS n_rows FROM $n")
      .mkString("", " UNION ALL ", " ORDER BY table_name")),

    // Gini concentration WITHOUT sorting individuals: the rank-sum runs
    // over the count HISTOGRAM (2·Σrᵢxᵢ = Σ_v v·n_v·(2·cum_lt + n_v + 1)
    // — tie groups share consecutive ranks), so the only window is
    // histogram-sized. Exact integer arithmetic to the final floored
    // milli; emitted for both engagement (events per user) and corpus
    // mass (tokens per doc). Long sums hold to ~1e18 — the petabyte
    // upgrade is the same chain in DECIMAL(38,0).
    Query("q185_gini", (s, d) => {
      def gini(perKey: DataFrame, label: String): DataFrame = {
        val h = perKey.groupBy(col("v")).agg(count(lit(1)).as("nv"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        h.withColumn("cum_lt", coalesce(sum(col("nv")).over(w), lit(0L)))
          .agg(sum(col("nv")).as("n"), sum(col("v") * col("nv")).as("t"),
            sum(col("v") * col("nv") * (col("cum_lt") * 2 + col("nv") + 1))
              .as("s2"))
          .select(lit(label).as("dimension"), col("n").as("n_units"),
            col("t").as("total"),
            expr("((s2 - (n + 1) * t) * 1000) div (n * t)").as("gini_milli"))
      }
      val users = t(s, d, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("v")).select(col("v"))
      val docs = t(s, d, "documents")
        .select(TextOps.tokenCount(col("text")).cast("long").as("v"))
      gini(users, "events_per_user").unionByName(gini(docs, "tokens_per_doc"))
        .orderBy(col("dimension"))
    }, oracleSql = {
      def giniSql(perKey: String, label: String): String =
        s"""SELECT '$label' AS dimension, n AS n_units, t AS total,
           ((s2 - (n + 1) * t) * 1000) // (n * t) AS gini_milli
           FROM (SELECT CAST(sum(nv) AS BIGINT) AS n,
               CAST(sum(v * nv) AS BIGINT) AS t,
               CAST(sum(v * nv * (cum_lt * 2 + nv + 1)) AS BIGINT) AS s2
             FROM (SELECT v, nv,
                 coalesce(sum(nv) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_lt
               FROM (SELECT v, count(*) AS nv FROM ($perKey) GROUP BY 1)))"""
      val users =
        "SELECT count(*) AS v FROM events GROUP BY user_id"
      val docs =
        """SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
           AS v FROM documents"""
      s"""SELECT * FROM (${giniSql(users, "events_per_user")}
         UNION ALL ${giniSql(docs, "tokens_per_doc")})
         ORDER BY dimension"""
    }),

    // Quality-vs-volume tradeoff curve: docs and tokens surviving each
    // candidate quality cutoff — the chart a curator reads to PICK the
    // gate before running it. One corpus scan collapses to the quality
    // histogram (with token mass), then an 11-row threshold spine
    // cross-joins the ≤1001-row histogram — sweep cost is independent of
    // corpus size.
    Query("q186_quality_volume_curve", (s, d) => {
      val h = mat(t(s, d, "documents")
        .select(TextOps.qualityScoreMilli(col("text")).as("q"),
          TextOps.tokenCount(col("text")).cast("long").as("toks"))
        .groupBy(col("q"))
        .agg(count(lit(1)).as("nd"), sum(col("toks")).as("nt")))
      val tot = h.agg(sum(col("nd")).as("td"), sum(col("nt")).as("tt"))
      val spine = s.range(0, 11).select((col("id") * 100).as("threshold"))
      spine.crossJoin(h).crossJoin(broadcast(tot))
        .groupBy(col("threshold"))
        .agg(sum(when(col("q") >= col("threshold"), col("nd")).otherwise(0L))
            .as("n_docs_kept"),
          sum(when(col("q") >= col("threshold"), col("nt")).otherwise(0L))
            .as("n_tokens_kept"),
          expr("sum(CASE WHEN q >= threshold THEN nt ELSE 0 END) * 1000000" +
            " div min(tt)").as("token_share_ppm"))
        .orderBy(col("threshold"))
    }, oracleSql =
      s"""WITH $qualityMilliCte,
         d2 AS (SELECT q.doc_id, q.quality_milli AS qv,
             CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
               AS toks
           FROM documents d JOIN q ON q.doc_id = d.doc_id),
         h AS (SELECT qv, count(*) AS nd, CAST(sum(toks) AS BIGINT) AS nt
               FROM d2 GROUP BY 1),
         tot AS (SELECT CAST(sum(nt) AS BIGINT) AS tt FROM h),
         sp AS (SELECT unnest(range(0, 11)) * 100 AS threshold)
         SELECT sp.threshold,
           CAST(sum(CASE WHEN h.qv >= sp.threshold THEN h.nd ELSE 0 END)
             AS BIGINT) AS n_docs_kept,
           CAST(sum(CASE WHEN h.qv >= sp.threshold THEN h.nt ELSE 0 END)
             AS BIGINT) AS n_tokens_kept,
           CAST(sum(CASE WHEN h.qv >= sp.threshold THEN h.nt ELSE 0 END)
             * 1000000 // min(tot.tt) AS BIGINT) AS token_share_ppm
         FROM sp CROSS JOIN h CROSS JOIN tot
         GROUP BY 1 ORDER BY threshold"""),

    // Vocabulary-band composition per source: what share of each
    // source's token mass is head (global top-100 tokens), tail
    // (occurring ≤2 times corpus-wide), or mid — the lexical-register
    // read behind tokenizer and filter design. The head list is a
    // TakeOrdered(100) broadcast; the occurrence counts join back keyed
    // by token (vocab-bounded, the postings shape).
    Query("q189_vocab_bands", (s, d) => {
      val tk = t(s, d, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
      val counts = mat(tk.groupBy(col("w")).agg(count(lit(1)).as("cnt")))
      val head = counts.orderBy(col("cnt").desc, col("w")).limit(100)
        .select(col("w"), lit(1).as("is_head"))
      tk.join(counts, Seq("w")).join(broadcast(head), Seq("w"), "left")
        .withColumn("band", when(col("is_head").isNotNull, "head")
          .when(col("cnt") <= 2, "tail").otherwise("mid"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          expr("sum(CASE WHEN band = 'head' THEN 1 ELSE 0 END) * 1000000" +
            " div count(*)").as("head_ppm"),
          expr("sum(CASE WHEN band = 'mid' THEN 1 ELSE 0 END) * 1000000" +
            " div count(*)").as("mid_ppm"),
          expr("sum(CASE WHEN band = 'tail' THEN 1 ELSE 0 END) * 1000000" +
            " div count(*)").as("tail_ppm"))
        .orderBy(col("source"))
    }, oracleSql =
      """WITH tk AS (SELECT source,
             unnest(string_split_regex(trim(text), '\s+')) AS w
           FROM documents),
         counts AS (SELECT w, count(*) AS cnt FROM tk GROUP BY 1),
         head AS (SELECT w FROM counts ORDER BY cnt DESC, w LIMIT 100),
         b AS (SELECT tk.source,
             CASE WHEN head.w IS NOT NULL THEN 'head'
                  WHEN counts.cnt <= 2 THEN 'tail'
                  ELSE 'mid' END AS band
           FROM tk JOIN counts USING (w)
           LEFT JOIN head ON head.w = tk.w)
         SELECT source, count(*) AS n_tokens,
           CAST(sum(CASE WHEN band = 'head' THEN 1 ELSE 0 END) * 1000000
             // count(*) AS BIGINT) AS head_ppm,
           CAST(sum(CASE WHEN band = 'mid' THEN 1 ELSE 0 END) * 1000000
             // count(*) AS BIGINT) AS mid_ppm,
           CAST(sum(CASE WHEN band = 'tail' THEN 1 ELSE 0 END) * 1000000
             // count(*) AS BIGINT) AS tail_ppm
         FROM b GROUP BY 1 ORDER BY 1"""),

    // Data-quality rule engine outcome: the assertion table a pipeline
    // gate reads — value ranges, empty payloads, cross-table referential
    // integrity (orphan orders, ship-before-order) — one count per rule,
    // each rule its own pushed-down scan or keyed join.
    Query("q190_dq_rules", (s, d) => {
      val ev = t(s, d, "events")
      val li = t(s, d, "lineitem")
      val ord = t(s, d, "orders")
      def rule(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("rule_name"), col("n_violations"))
      Seq(
        rule("documents_empty_text",
          t(s, d, "documents").where(length(trim(col("text"))) === 0)),
        rule("events_nonpositive_value", ev.where(col("value") <= 0)),
        rule("events_null_props", ev.where(col("props").isNull)),
        rule("lineitem_discount_range",
          li.where(col("l_discount") < 0 || col("l_discount") > 0.5)),
        rule("lineitem_ship_before_order",
          li.join(ord, col("l_orderkey") === col("o_orderkey"))
            .where(col("l_shipdate") < col("o_orderdate"))),
        rule("orders_orphan_customer",
          ord.join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey"), "left_anti"))
      ).reduce(_.unionByName(_)).orderBy(col("rule_name"))
    }, oracleSql =
      """SELECT 'documents_empty_text' AS rule_name,
           count(*) AS n_violations FROM documents
           WHERE length(trim(text)) = 0
         UNION ALL SELECT 'events_nonpositive_value', count(*) FROM events
           WHERE value <= 0
         UNION ALL SELECT 'events_null_props', count(*) FROM events
           WHERE props IS NULL
         UNION ALL SELECT 'lineitem_discount_range', count(*) FROM lineitem
           WHERE l_discount < 0 OR l_discount > 0.5
         UNION ALL SELECT 'lineitem_ship_before_order', count(*)
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate < o_orderdate
         UNION ALL SELECT 'orders_orphan_customer', count(*) FROM orders
           WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
         ORDER BY rule_name"""),

    // ANN recall@k sweep (k = 1, 5, 10): the eval grid behind choosing
    // the LSH working point — one exact truth ranking and one LSH
    // ranking, joined once, with the three cutoffs read off conditional
    // sums (no per-k recomputation).
    Query("q191_recall_at_k", (s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 20)
      val exact = Ann.bruteForceTopK(qs, emb, "vec_id", "embedding", 10)
        .select(col("query_id"), col("corpus_id"), col("rank").as("re"))
      val approx = Ann.lshTopK(qs, emb, "vec_id", "embedding",
          k = 10, numPlanes = 6, dim = 64, multiProbe = 1)
        .select(col("query_id"), col("corpus_id"), col("rank").as("ra"))
      exact.join(approx, Seq("query_id", "corpus_id"), "left")
        .agg(countDistinct(col("query_id")).as("nq"),
          sum(when(col("re") <= 1 && col("ra") <= 1, 1L).otherwise(0L)).as("h1"),
          sum(when(col("re") <= 5 && col("ra") <= 5, 1L).otherwise(0L)).as("h5"),
          sum(when(col("re") <= 10 && col("ra") <= 10, 1L).otherwise(0L))
            .as("h10"))
        .select(expr("stack(3, 1, h1, 5, h5, 10, h10) AS (k, n_hit)"), col("nq"))
        .select(col("k"), (col("k") * col("nq")).as("n_true"), col("n_hit"),
          expr("n_hit * 1000 div (k * nq)").as("recall_milli"))
        .orderBy(col("k"))
    }, oracleSql = recallAtKSql),

    // Largest-remainder (Hamilton) apportionment of a fixed 1000-slot
    // budget across sources — the EXACT integer allocation a mixture
    // planner needs where proportional floors leave slots on the table:
    // floor shares first, then the leftover slots go to the largest
    // remainders (source-name tiebreak). The only window ranks the
    // ~20-row share frame. Σ total_slots = 1000 exactly, by construction.
    Query("q195_apportionment", (s, d) => {
      val shares = t(s, d, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
      val tot = shares.agg(sum(col("n")).as("t"))
      val base = shares.crossJoin(broadcast(tot))
        .withColumn("base_slots", expr("n * 1000 div t"))
        .withColumn("rem", expr("n * 1000 - (n * 1000 div t) * t"))
      val leftover = base.agg((lit(1000L) - sum(col("base_slots"))).as("r"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rem").desc, col("source"))
      base.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(w))
        .withColumn("extra_slot", when(col("rk") <= col("r"), 1L).otherwise(0L))
        .select(col("source"), col("n").as("n_docs"), col("base_slots"),
          col("extra_slot"),
          (col("base_slots") + col("extra_slot")).as("total_slots"))
        .orderBy(col("source"))
    }, oracleSql =
      """WITH shares AS (SELECT source, count(*) AS n
                         FROM documents GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM shares),
         base AS (SELECT source, n,
             CAST(n * 1000 // t AS BIGINT) AS base_slots,
             CAST(n * 1000 - (n * 1000 // t) * t AS BIGINT) AS rem
           FROM shares CROSS JOIN tot),
         lo AS (SELECT CAST(1000 - sum(base_slots) AS BIGINT) AS r FROM base),
         rk AS (SELECT base.*, lo.r,
             row_number() OVER (ORDER BY rem DESC, source) AS rk
           FROM base CROSS JOIN lo)
         SELECT source, CAST(n AS BIGINT) AS n_docs, base_slots,
           CAST(CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT) AS extra_slot,
           CAST(base_slots + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT)
             AS total_slots
         FROM rk ORDER BY source"""),

    // Oracle gate for the CMS absent-probe contract (the round-10
    // Sketches.cmsEstimate fix): probes are the exact top-10 tokens plus
    // five literal never-seen tokens, against a SPARSE sketch (width 2^17
    // ≫ vocab) so an absent probe's cells are overwhelmingly untouched
    // and the count==depth guard's 0 path actually executes. The oracle
    // rebuilds the identical md5 sketch with the identical guard, so
    // present-key estimates (≥ exact) and absent-key zeros compare
    // cell-for-cell whatever the corpus density makes them.
    Query("q198_cms_absent_probes", (s, d) => {
      val counts = mat(t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
      val cms = Sketches.cmsTable(counts, "tok", "cnt",
        depth = 4, width = 1 << 17)
      val present = counts.orderBy(col("cnt").desc, col("tok")).limit(10)
        .select(col("tok"))
      val absent = counts.sparkSession.range(1, 6)
        .select(concat(lit("__never_seen_token_"), col("id")).as("tok"))
      Sketches.cmsEstimate(cms, present.unionByName(absent), "tok",
          depth = 4, width = 1 << 17)
        .orderBy(col("tok"))
    }, oracleSql =
      // The identical md5 sketch + the identical count==depth guard: a
      // probe matching fewer than 4 present cells estimates 0.
      """WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         c AS (SELECT tok, count(*) AS cnt FROM w GROUP BY 1),
         sd AS (SELECT unnest(range(4)) AS seed),
         sb AS (SELECT c.tok, c.cnt, sd.seed,
             CAST('0x' || substring(md5(CAST(sd.seed AS VARCHAR) || ':' || c.tok), 1, 8)
               AS BIGINT) % 131072 AS bucket
           FROM c, sd),
         cms AS (SELECT seed, bucket, sum(cnt) AS total FROM sb GROUP BY 1, 2),
         probes AS (SELECT tok FROM
                      (SELECT tok FROM c ORDER BY cnt DESC, tok LIMIT 10)
                    UNION ALL
                    SELECT '__never_seen_token_' || CAST(i AS VARCHAR)
                    FROM (SELECT unnest(range(1, 6)) AS i)),
         pb AS (SELECT p.tok, sd.seed,
             CAST('0x' || substring(md5(CAST(sd.seed AS VARCHAR) || ':' || p.tok), 1, 8)
               AS BIGINT) % 131072 AS bucket
           FROM probes p, sd)
         SELECT pb.tok,
           CAST(CASE WHEN count(m.total) = 4 THEN min(m.total) ELSE 0 END
             AS BIGINT) AS est
         FROM pb LEFT JOIN cms m ON m.seed = pb.seed AND m.bucket = pb.bucket
         GROUP BY pb.tok ORDER BY pb.tok"""),

    // Multimodal resize arithmetic oracled (previously spec-only): the
    // q48 byte-length meta run through the exact integer aspect-fit —
    // ceil-division scale factor, floor-divided dims — mirrored in SQL.
    Query("q199_resize_meta", (s, d) =>
      Multimodal.resizeMetaTo(
          Multimodal.fakeMetaColumns(
            Multimodal.withPayload(t(s, d, "documents"), "text")), 256)
        .select(col("doc_id"), col("width"), col("height"),
          col("resized_width"), col("resized_height"))
        .orderBy(col("doc_id")), oracleSql =
      // q48's byte-length meta + the exact integer aspect-fit mirror:
      // fit = 1 if max(w,h) <= 256 else ceil(max/256); dims floor-divide.
      """WITH m AS (SELECT doc_id,
             CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
             CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INTEGER) AS height
           FROM documents),
         f AS (SELECT doc_id, width, height,
             CASE WHEN greatest(width, height) <= 256 THEN 1
                  ELSE CAST(floor((greatest(width, height) + 255) / 256.0)
                    AS BIGINT) END AS fit
           FROM m)
         SELECT doc_id, width, height,
           CAST(floor(width / fit) AS INTEGER) AS resized_width,
           CAST(floor(height / fit) AS INTEGER) AS resized_height
         FROM f ORDER BY doc_id"""),

    // Frame-index sampling oracled (previously spec-only): stride-4
    // indexes over a deterministic per-doc frame count, INCLUDING the
    // zero-frame guard path (byte_len % 16 == 0 docs must vanish, not
    // throw on sequence(0, -1)). Summarized per doc so the oracle checks
    // both the explode fan-out and the index arithmetic.
    Query("q200_frame_sample", (s, d) => {
      val clips = Multimodal.withPayload(t(s, d, "documents"), "text")
        .withColumn("n_frames", (col("byte_len") % 16).cast("int"))
      Multimodal.sampleFrameIndexes(clips, "n_frames", stride = 4)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sampled"),
          max(col("frame_idx")).as("last_idx"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // Stride-4 frame indexes over n = byte_len % 16 frames; n = 0 docs
      // contribute no rows (the sequence guard's degenerate path).
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) % 16 AS n
           FROM documents),
         f AS (SELECT doc_id, unnest(range(0, n, 4)) AS frame_idx
               FROM d WHERE n >= 1)
         SELECT doc_id, count(*) AS n_sampled,
           CAST(max(frame_idx) AS INTEGER) AS last_idx
         FROM f GROUP BY doc_id ORDER BY doc_id"""),

    // Cross-SOURCE contamination matrix: distinct shared 3-gram shingles
    // per source pair — the corpus-level reading of the doc-level overlap
    // family (which feeds copy from each other / share boilerplate).
    // Shingles present in more than 15 sources are ubiquitous stop-grams,
    // dropped BEFORE any pair forms by Dedup.boundedPairCounts' size-capped
    // aggregate (the buffer itself poisons at cap+1 — no unbounded collect)
    // — this query is also that one-shuffle pair core's oracle gate: each
    // surviving shingle emits its ≤ C(15,2) source pairs in place (no
    // self-join, no anti-join). Counts compare hash-agnostic (the
    // q42-family tolerance: xxhash64 postings engine-side, raw shingle
    // strings oracle-side).
    Query("q201_source_overlap", (s, d) => {
      // The ids are SOURCES, so one source posts each shingle once per
      // document; the bounded aggregate's set dedupes those (id, key)
      // repeats, so no upstream .distinct() is needed. (The spread guard
      // lives inside shinglePostings since the sf1 starvation fix — a
      // second call-site Spread here would just stack an extra exchange on
      // the same tiny input.)
      val p = Dedup.shinglePostings(t(s, d, "documents"), "source", "text", 3)
      Dedup.boundedPairCounts(p, "shh", "id", maxDocFreq = 15L)
        .select(col("id_a").as("source_a"), col("id_b").as("source_b"),
          col("n_shared"))
        .orderBy(col("source_a"), col("source_b"))
    }, oracleSql =
      // Raw-shingle mirror of the bounded pair core over SOURCE postings:
      // distinct (source, shingle), the [2, 15] source-frequency band, then
      // the self-join pair count the engine folds into one aggregate.
      """WITH tk AS (SELECT source, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         sa AS (SELECT source,
             list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh_arr
           FROM tk),
         e AS (SELECT DISTINCT source, sh FROM
                 (SELECT source, unnest(sh_arr) AS sh FROM sa)),
         g AS (SELECT sh FROM e GROUP BY sh HAVING count(*) BETWEEN 2 AND 15),
         f AS (SELECT e.source, e.sh FROM e JOIN g USING (sh)),
         p AS (SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS n_shared
               FROM f a JOIN f b ON a.sh = b.sh AND a.source < b.source
               GROUP BY 1, 2)
         SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared
         FROM p ORDER BY source_a, source_b"""),

    // Boilerplate-prefix clusters: docs grouped by their EXACT first-8-token
    // prefix (scraped nav headers, template openers) — the cheap high-
    // precision sibling of winnowed overlap for leading boilerplate. One
    // map-side-combined aggregate over a scan-local prefix projection; the
    // prefix string never leaves the aggregate (clusters report min doc_id
    // as representative), so the shuffle rows stay small.
    Query("q202_prefix_clusters", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__tk"))
        .where(size(col("__tk")) >= 8)
        .select(col("doc_id"), array_join(slice(col("__tk"), 1, 8), " ").as("pfx"))
        .groupBy(col("pfx"))
        .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_docs"))
        .where(col("n_docs") >= 2)
        .select(col("rep_doc"), col("n_docs"))
        .orderBy(col("rep_doc")), oracleSql =
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         p AS (SELECT doc_id, array_to_string(list_slice(toks, 1, 8), ' ') AS pfx
               FROM tk WHERE len(toks) >= 8),
         g AS (SELECT pfx, min(doc_id) AS rep_doc, count(*) AS n_docs
               FROM p GROUP BY pfx)
         SELECT rep_doc, CAST(n_docs AS BIGINT) AS n_docs
         FROM g WHERE n_docs >= 2 ORDER BY rep_doc"""),

    // Quality-calibration divergence: the (global decile × within-source
    // decile) contingency matrix — the Simpson's-paradox reading of the
    // quality score (a source whose docs are globally weak but locally
    // top-decile is mis-calibrated, not good). The output needs only
    // COUNTS per decile cell, so the corpus never joins back at all: ONE
    // expensive-scoring scan collapses to the (source, value) histogram,
    // both decile assignments derive from windows OVER THE HISTOGRAM
    // (global cum from the per-source cum summed across sources), and the
    // cell counts are a histogram-sized rollup. Ties share a bucket —
    // value-deterministic cross-engine, same formula as Calibrate.
    Query("q203_decile_divergence", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hist = t(s, d, "documents")
        .select(col("source"),
          TextOps.qualityScoreMilli(col("text")).as("quality_milli"))
        .groupBy(col("source"), col("quality_milli"))
        .agg(count(lit(1)).as("__n"))
      val wS = Window.partitionBy(col("source")).orderBy(col("quality_milli"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val perSrc = hist
        .withColumn("__s_lt", coalesce(sum(col("__n")).over(wS), lit(0L)))
        .withColumn("__n_src",
          sum(col("__n")).over(Window.partitionBy(col("source"))))
      // Global strictly-below counts from the value-level rollup of the
      // SAME histogram (≤ |scale| rows; the unpartitioned window is
      // histogram-sized by construction, never corpus-sized).
      val gh = hist.groupBy(col("quality_milli")).agg(sum(col("__n")).as("__gn"))
      val wG = Window.orderBy(col("quality_milli"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val globalDim = gh
        .withColumn("__g_lt", coalesce(sum(col("__gn")).over(wG), lit(0L)))
        .withColumn("__n_all", sum(col("__gn")).over())
        .select(col("quality_milli"),
          least(lit(9L), expr("(10L * __g_lt) div __n_all")).as("g_decile"))
      perSrc
        .withColumn("s_decile",
          least(lit(9L), expr("(10L * __s_lt) div __n_src")))
        .join(broadcast(globalDim), Seq("quality_milli"))
        .groupBy(col("g_decile"), col("s_decile"))
        .agg(sum(col("__n")).cast("long").as("n_docs"))
        .orderBy(col("g_decile"), col("s_decile"))
    }, oracleSql =
      // rank()-1 = rows strictly below (ties share a bucket) — the same
      // value-deterministic decile formula as q100, applied twice: once
      // globally, once within source.
      s"""WITH $qualityMilliCte,
         r AS (SELECT q.doc_id, d.source, q.quality_milli,
             rank() OVER (ORDER BY quality_milli) - 1 AS g_lt,
             count(*) OVER () AS n_all,
             rank() OVER (PARTITION BY d.source ORDER BY quality_milli) - 1 AS s_lt,
             count(*) OVER (PARTITION BY d.source) AS n_src
           FROM q JOIN documents d USING (doc_id)),
         b AS (SELECT least(9, (10 * g_lt) // n_all) AS g_decile,
                 least(9, (10 * s_lt) // n_src) AS s_decile
               FROM r)
         SELECT CAST(g_decile AS BIGINT) AS g_decile,
           CAST(s_decile AS BIGINT) AS s_decile, count(*) AS n_docs
         FROM b GROUP BY 1, 2 ORDER BY g_decile, s_decile""")
  )
}
