package graft

import graft.functions.TextFunctions

/** Generated DuckDB oracle SQL for the text/dedup/similarity queries — these
  * mirror the Spark operators expression-for-expression so the driver's
  * hash compare is exact. Kept out of SparkEntry for readability.
  */
object TextOracle {

  /** 'the','and',... literal list for the en stopword set (same source of
    * truth as TextFunctions.stopwords). */
  def stopList(lang: String): String =
    TextFunctions.stopwords(lang).map(w => s"'$w'").mkString(", ")

  def enStop: String = stopList("en")

  /** Word-bigram distinct shingles of `src`(doc_id, text) — matches
    * TextFunctions.shingles(_, 2): whitespace split of trimmed text, then
    * (t[i], t[i+1]) pairs joined by one space, distinct. */
  private def shingleCteFrom(src: String): String = s"""
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS s
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM $src))"""

  private val shingleCte: String = shingleCteFrom("documents")

  def jaccardSql(threshold: Double): String = s"""
    WITH $shingleCte,
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
    FROM inter JOIN sizes na ON na.doc_id = doc_a JOIN sizes nb ON nb.doc_id = doc_b
    WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) >= $threshold"""

  /** CTE chain ending in cand(doc_a, doc_b) — the MinHash-LSH candidate
    * pairs, shared by q31/q54/q62 so the banding scheme has ONE SQL
    * transcription to keep in sync with Dedup.minhashLshCandidates. */
  private def candCtes(numHashes: Int, bandRows: Int): String =
    candCtesFrom(numHashes, bandRows, "documents")

  private def candCtesFrom(numHashes: Int, bandRows: Int, src: String): String = {
    // Carter-Wegman universal family mod P, exactly as minhashSignature:
    // x = first 8 md5 hex digits mod P, h_j = (a_j*x + b_j) mod P with the
    // same fixed per-index constants (embedded as literals on both sides)
    val P = graft.operators.Dedup.MinhashP
    val sigCols = graft.operators.Dedup.minhashConsts(numHashes).zipWithIndex
      .map { case ((a, b), j) => s"min(($a * x + $b) % $P) AS h$j" }
      .mkString(",\n             ")
    val numBands = numHashes / bandRows
    val bandSelects = (0 until numBands).map { b =>
      val slots = (0 until bandRows).map(r => s"h${b * bandRows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($slots) AS bh FROM sig"
    }.mkString("\n      UNION ALL ")
    s"""${shingleCteFrom(src)},
    shh AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % $P AS x
      FROM sh),
    sig AS (
      SELECT doc_id, $sigCols
      FROM shh GROUP BY doc_id),
    bands AS (
      $bandSelects),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"""
  }

  def minhashSql(numHashes: Int, bandRows: Int): String =
    s"""
    WITH ${candCtes(numHashes, bandRows)}
    SELECT doc_a, doc_b FROM cand"""

  /** Incremental-dedup oracle: the full-corpus banding is identical to
    * (stored index ∪ batch bands), so incremental candidates are exactly the
    * full candidate set minus within-corpus pairs — batch = doc_id % mod = 0. */
  def incrementalMinhashSql(numHashes: Int, bandRows: Int, mod: Int): String =
    s"""
    WITH ${candCtes(numHashes, bandRows)}
    SELECT doc_a, doc_b FROM cand
    WHERE doc_a % $mod = 0 OR doc_b % $mod = 0"""

  /** LSH quality report oracle: candidate set (shared banding CTEs) scored
    * against exact-Jaccard truth (shared shingle CTE — candCtes defines
    * `sh`), reduced to one row of counts + precision/recall. */
  private def lshQualityBody(threshold: Double): String = s"""
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    truth AS (
      SELECT doc_a, doc_b
      FROM inter JOIN sizes na ON na.doc_id = doc_a JOIN sizes nb ON nb.doc_id = doc_b
      WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) >= $threshold),
    hits AS (SELECT doc_a, doc_b FROM cand INTERSECT SELECT doc_a, doc_b FROM truth)
    SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM truth) AS n_true,
           (SELECT COUNT(*) FROM hits) AS n_hits,
           round(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                 / NULLIF((SELECT COUNT(*) FROM cand), 0), 6) AS precision,
           round(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                 / NULLIF((SELECT COUNT(*) FROM truth), 0), 6) AS recall"""

  def lshQualitySql(numHashes: Int, bandRows: Int, threshold: Double): String = s"""
    WITH ${candCtes(numHashes, bandRows)},
    ${lshQualityBody(threshold)}"""

  /** Fixed-sample-SIZE tuning oracle (q146): the md5 coin's cutoff derives
    * from count(*) by the same integer arithmetic the Spark side uses, so
    * the sampled subset is identical at any scale factor — the documented
    * 100 TB tuning policy (constant sample size, frac ~ 1/sf) as SQL. */
  def lshQualityServeSql(numHashes: Int, bandRows: Int, threshold: Double,
                         targetRows: Long): String = s"""
    WITH sampled AS (
      SELECT * FROM documents
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000
            < (SELECT LEAST(1000000, (CAST($targetRows AS BIGINT) * 1000000)
                                     // GREATEST(count(*), 1))
               FROM documents)),
    ${candCtesFrom(numHashes, bandRows, "sampled")},
    ${lshQualityBody(threshold)}"""

  /** Incremental-keep oracle (Dedup.incrementalKeep): batch docs dropped when
    * pairing with any corpus doc, or with a smaller batch doc (pairs are
    * (min, max), so "the max side is a batch doc" covers the latter). */
  def incrementalKeepSql(numHashes: Int, bandRows: Int, mod: Int): String =
    s"""
    WITH ${candCtes(numHashes, bandRows)},
    dups AS (
      SELECT doc_b AS id FROM cand WHERE doc_b % $mod = 0
      UNION
      SELECT doc_a FROM cand WHERE doc_a % $mod = 0 AND doc_b % $mod <> 0)
    SELECT doc_id FROM documents
    WHERE doc_id % $mod = 0 AND doc_id NOT IN (SELECT id FROM dups)"""

  /** CTE chain ending in sim(doc_id, simhash) — shared by the fingerprint
    * query and the hamming-banding near-dup lookup. */
  private def simhashCtes(bits: Int): String = {
    val vCols = (0 until bits)
      .map(i => s"SUM(CASE WHEN (hv >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(",\n             ")
    val shExpr = (0 until bits)
      .map(i => s"(CASE WHEN v$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""toks AS (
      SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tk
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    h AS (SELECT doc_id, CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) AS hv FROM toks),
    v AS (SELECT doc_id, $vCols
          FROM h GROUP BY doc_id),
    sim AS (SELECT doc_id, $shExpr AS simhash FROM v)"""
  }

  /** CTE chain ending in i(corpus_id, probe_id, inter) + pn(probe_id, n_p) —
    * ONE transcription of the containment split/count scheme, shared by the
    * q53 report and the q90 transform so they can never desync. */
  private val containmentCtes: String = s"""$shingleCte,
    cs AS (SELECT doc_id AS corpus_id, s FROM sh WHERE doc_id % 10 <> 0),
    ps AS (SELECT doc_id AS probe_id, s FROM sh WHERE doc_id % 10 = 0),
    pn AS (SELECT probe_id, COUNT(*) AS n_p FROM ps GROUP BY probe_id),
    i AS (SELECT corpus_id, probe_id, COUNT(*) AS inter
          FROM cs JOIN ps ON cs.s = ps.s GROUP BY corpus_id, probe_id)"""

  /** Cross-corpus containment: corpus = doc_id % 10 <> 0, probe = % 10 = 0,
    * containment = |corpus ∩ probe| / |probe| over distinct bigram shingles. */
  def containmentSql(threshold: Double): String = s"""
    WITH $containmentCtes
    SELECT corpus_id, probe_id,
           round(CAST(inter AS DOUBLE) / n_p, 6) AS containment
    FROM i JOIN pn USING (probe_id)
    WHERE round(CAST(inter AS DOUBLE) / n_p, 6) >= $threshold"""

  /** Decontamination TRANSFORM oracle: the training corpus minus every doc
    * whose containment of ANY probe (benchmark) doc reaches the threshold —
    * containmentSql's CTEs plus the anti-join. */
  def decontaminateSql(threshold: Double): String = s"""
    WITH $containmentCtes,
    contaminated AS (
      SELECT DISTINCT corpus_id
      FROM i JOIN pn USING (probe_id)
      WHERE round(CAST(inter AS DOUBLE) / n_p, 6) >= $threshold)
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT corpus_id FROM contaminated)"""

  /** Decontamination SERVING oracle (q145): the benchmark set is the
    * `nProbes` smallest doc_ids — CONSTANT, where q90's probe set is a
    * fixed FRACTION of the corpus (the harness-contract sf² shape). Same
    * shingle/containment scheme as [[decontaminateSql]]. */
  def decontaminateServeSql(threshold: Double, nProbes: Int): String = s"""
    WITH $shingleCte,
    bench AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT $nProbes),
    cs AS (SELECT doc_id AS corpus_id, s FROM sh
           WHERE doc_id NOT IN (SELECT doc_id FROM bench)),
    ps AS (SELECT sh.doc_id AS probe_id, s FROM sh
           JOIN bench ON sh.doc_id = bench.doc_id),
    pn AS (SELECT probe_id, COUNT(*) AS n_p FROM ps GROUP BY probe_id),
    i AS (SELECT corpus_id, probe_id, COUNT(*) AS inter
          FROM cs JOIN ps ON cs.s = ps.s GROUP BY corpus_id, probe_id),
    contaminated AS (
      SELECT DISTINCT corpus_id
      FROM i JOIN pn USING (probe_id)
      WHERE round(CAST(inter AS DOUBLE) / n_p, 6) >= $threshold)
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM bench)
      AND doc_id NOT IN (SELECT corpus_id FROM contaminated)"""

  /** Transitive-closure labeling over cand(doc_a, doc_b) → lbl(id,
    * cluster_id) — ONE transcription of the min-label connected-components
    * scheme, shared by q54 and the q75 pipeline composition. Requires a
    * WITH RECURSIVE prefix on the enclosing query. */
  private val closureCtes: String = """
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION SELECT doc_b, doc_a FROM cand),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    lbl AS (
      SELECT src AS id, least(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src)"""

  /** Connected components over the MinHash-LSH candidate pairs: label = min
    * doc id in the component, via recursive transitive closure. */
  def dedupClustersSql(numHashes: Int, bandRows: Int): String = {
    s"""
    WITH RECURSIVE ${candCtes(numHashes, bandRows)},
    $closureCtes
    SELECT id, cluster_id FROM lbl"""
  }

  /** Reconciliation-backfill oracle (q143, Dedup.reconcileLshKeeps): the
    * greedy single-pass keep set (a doc drops iff it has any smaller-id
    * candidate partner, i.e. appears as doc_b) diffed against the
    * full-resolution keeps (min-label per component via the closure CTE,
    * singletons pass) — disjoint statuses keep/drop/resurrect. */
  def reconcileKeepsSql(numHashes: Int, bandRows: Int): String = s"""
    WITH RECURSIVE ${candCtes(numHashes, bandRows)},
    $closureCtes,
    losers AS (SELECT id FROM lbl WHERE id <> cluster_id),
    fullk AS (SELECT doc_id FROM documents
              WHERE doc_id NOT IN (SELECT id FROM losers)),
    greedy AS (SELECT doc_id FROM documents
               WHERE doc_id NOT IN (SELECT doc_b FROM cand))
    SELECT doc_id, 'keep' AS status FROM fullk
    WHERE doc_id IN (SELECT doc_id FROM greedy)
    UNION ALL
    SELECT doc_id, 'drop' AS status FROM greedy
    WHERE doc_id NOT IN (SELECT doc_id FROM fullk)
    UNION ALL
    SELECT doc_id, 'resurrect' AS status FROM fullk
    WHERE doc_id NOT IN (SELECT doc_id FROM greedy)"""

  /** Cross-source near-dup matrix (q117): the LSH candidate set labeled with
    * each side's source, rolled up by unordered source pair. */
  def crossSourceDupsSql(numHashes: Int, bandRows: Int): String = s"""
    WITH ${candCtes(numHashes, bandRows)},
    lab AS (
      SELECT da.source AS sa, db.source AS sb
      FROM cand c JOIN documents da ON da.doc_id = c.doc_a
                  JOIN documents db ON db.doc_id = c.doc_b)
    SELECT LEAST(sa, sb) AS source_x, GREATEST(sa, sb) AS source_y,
           COUNT(*) AS n_pairs
    FROM lab GROUP BY 1, 2"""

  /** Signature-verified pairs (q119): candidates scored by agreeing MinHash
    * slots (the Broder estimator) against the shared sig CTE. */
  def minhashVerifiedSql(numHashes: Int, bandRows: Int, minAgree: Int): String = {
    val agree = (0 until numHashes)
      .map(j => s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""
    WITH ${candCtes(numHashes, bandRows)},
    ver AS (
      SELECT c.doc_a, c.doc_b, CAST($agree AS BIGINT) AS n_agree
      FROM cand c JOIN sig a ON a.doc_id = c.doc_a
                  JOIN sig b ON b.doc_id = c.doc_b)
    SELECT doc_a, doc_b, n_agree,
           CAST(n_agree AS DOUBLE) / $numHashes AS est_jaccard
    FROM ver WHERE n_agree >= $minAgree"""
  }

  /** Hashed linear quality-classifier oracle (q130): bucket = md5(token)
    * mod buckets, weight = md5('w'||bucket) mod 2001 − 1000 micro-units,
    * logit = exact integer Σ + bias. */
  def linearQualitySql(buckets: Int, biasMicro: Long): String = s"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    w AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('w' || CAST(
                 CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % $buckets
               AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000 AS wt
      FROM toks)
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(wt) + $biasMicro AS BIGINT) AS logit_micro,
           (SUM(wt) + $biasMicro) > 0 AS kept
    FROM w GROUP BY doc_id"""

  /** Per-document novelty oracle (q131): fraction of distinct shingles
    * first seen (min doc id) in this doc. */
  def noveltySql: String = s"""
    WITH $shingleCte,
    f AS (SELECT s, MIN(doc_id) AS first_id FROM sh GROUP BY s)
    SELECT sh.doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
           round(CAST(SUM(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM sh JOIN f USING (s) GROUP BY sh.doc_id"""

  /** Median/MAD robust outlier oracle (q132): per-source discrete median
    * and median absolute deviation over n_chars; flag |x−med| > k·mad. */
  def madOutliersSql(k: Int): String = s"""
    WITH m AS (
      SELECT source, quantile_disc(n_chars, 0.5) AS med
      FROM documents GROUP BY source),
    d AS (
      SELECT doc_id, d.source, n_chars, med
      FROM documents d JOIN m USING (source)),
    mm AS (
      SELECT source, quantile_disc(abs(n_chars - med), 0.5) AS mad
      FROM d GROUP BY source)
    SELECT doc_id, d.source, n_chars, med, mad,
           (abs(n_chars - med) > $k * mad) AS is_outlier
    FROM d JOIN mm USING (source)"""

  /** Histogram-percentile oracle (q133): fixed-bin integer bucketing over
    * documents.n_chars, cumulative counts, rank test 100·cum ≥ pct·n. */
  def histogramPercentilesSql(bins: Int, pcts: Seq[Int]): String = {
    val vals = pcts.map(p => s"($p)").mkString(",")
    s"""
    WITH s AS (
      SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx, COUNT(n_chars) AS n
      FROM documents),
    h AS (
      SELECT ((n_chars - mn) * $bins) // (mx - mn + 1) AS b, COUNT(*) AS c
      FROM documents, s WHERE n_chars IS NOT NULL GROUP BY 1),
    cm AS (
      SELECT b, SUM(c) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
      FROM h),
    g AS (SELECT * FROM (VALUES $vals) g(pct)),
    pick AS (
      SELECT pct, MIN(b) AS bucket
      FROM g, cm, s WHERE cm.cum * 100 >= g.pct * s.n GROUP BY pct)
    SELECT p.pct, p.bucket,
           s.mn + ((p.bucket * (s.mx - s.mn + 1) + ${bins - 1}) // $bins) AS lo,
           s.mn + (((p.bucket + 1) * (s.mx - s.mn + 1) + ${bins - 1}) // $bins) - 1 AS hi,
           CAST(c2.cum AS BIGINT) AS cum_count, s.n AS n
    FROM pick p CROSS JOIN s JOIN cm c2 ON c2.b = p.bucket"""
  }

  /** Join-key skew report oracle (q134): top-k hottest orders.o_custkey
    * values with exact integer micro-unit row share. */
  def keySkewSql(k: Int): String = s"""
    WITH c AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
    SELECT o_custkey, cnt, (cnt * 1000000) // total AS share_micro
    FROM c, t ORDER BY cnt DESC, o_custkey LIMIT $k"""

  /** Character-entropy oracle (q135): per-doc Shannon entropy in bits over
    * the char distribution. Matches TextStats.charEntropy term-for-term:
    * p·ln p rounded to 9 dp, exact DECIMAL(28,9) sum (order-independent),
    * one final division by the identical ln 2 literal, round 6. */
  def charEntropySql: String = """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents WHERE text IS NOT NULL AND length(text) > 0),
    counts AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
    tot AS (
      SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n, COUNT(*) AS n_distinct_chars
      FROM counts GROUP BY 1)
    SELECT t.doc_id, t.n_distinct_chars,
           round(CAST(-SUM(CAST(round((c.c / t.n) * ln(c.c / t.n), 9)
                                AS DECIMAL(28,9))) AS DOUBLE)
                 / 0.6931471805599453, 6) AS entropy_bits
    FROM counts c JOIN tot t ON c.doc_id = t.doc_id
    GROUP BY t.doc_id, t.n_distinct_chars"""

  /** N-gram diversity oracle (q136): distinct/total bigram multiset ratio
    * per source — transcribes TF.shinglesAll(_, 2) via the house bigram
    * construction, grouped on source instead of doc. */
  def ngramDiversitySql: String = """
    WITH g AS (
      SELECT source,
             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
      FROM (SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
            FROM documents
            WHERE text IS NOT NULL AND length(trim(text)) > 0)),
    gc AS (SELECT source, g, COUNT(*) AS c FROM g GROUP BY 1, 2)
    SELECT source, CAST(SUM(c) AS BIGINT) AS total_ngrams,
           COUNT(*) AS distinct_ngrams,
           round(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS diversity
    FROM gc GROUP BY source"""

  /** Column-profile oracle (q137): one UNION ALL branch per column; min/max
    * compare natively and stringify at the end (same contract as the
    * operator — integer/string columns only in the registered query). */
  def columnProfileSql(cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         COUNT(DISTINCT $c) AS n_distinct,
         CAST(MIN($c) AS VARCHAR) AS min_val, CAST(MAX($c) AS VARCHAR) AS max_val
      FROM documents"""
    }.mkString("\n      UNION ALL\n")

  /** Per-source top-k token oracle (q138): exact heavy hitters, total-order
    * tie-break (count desc, token asc) so every rank is engine-identical. */
  def topTokensSql(k: Int): String = s"""
    WITH toks AS (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    tc AS (SELECT source, token, COUNT(*) AS n FROM toks GROUP BY 1, 2),
    r AS (
      SELECT source, token, n,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY n DESC, token ASC) AS INT) AS rnk
      FROM tc)
    SELECT source, token, n, rnk FROM r WHERE rnk <= $k"""

  /** Leakage-safe split oracle (q127): the q59 split CASE keyed on
    * COALESCE(cluster label, own id) over the recursive closure. */
  def clusterSafeSplitSql(numHashes: Int, bandRows: Int,
                          cuts: Seq[(String, Int)]): String = s"""
    WITH RECURSIVE ${candCtes(numHashes, bandRows)},
    $closureCtes
    SELECT d.doc_id,
           ${splitCaseSql("COALESCE(l.cluster_id, d.doc_id)", cuts)} AS split
    FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id"""

  /** LSH-threshold tuning curve oracle (q129): verified-pair agreement
    * histogram folded against every minAgree cut 0..numHashes. */
  def minhashAgreementCurveSql(numHashes: Int, bandRows: Int): String = {
    val agree = (0 until numHashes)
      .map(j => s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""
    WITH ${candCtes(numHashes, bandRows)},
    ver AS (
      SELECT c.doc_a, c.doc_b, CAST($agree AS BIGINT) AS n_agree
      FROM cand c JOIN sig a ON a.doc_id = c.doc_a
                  JOIN sig b ON b.doc_id = c.doc_b),
    hist AS (SELECT n_agree, COUNT(*) AS c FROM ver GROUP BY n_agree),
    grid AS (SELECT unnest(range(0, ${numHashes + 1})) AS min_agree)
    SELECT g.min_agree, CAST(COALESCE(SUM(h.c), 0) AS BIGINT) AS n_pairs
    FROM grid g LEFT JOIN hist h ON h.n_agree >= g.min_agree
    GROUP BY g.min_agree"""
  }

  /** Source-overlap PageRank (q120): q117's matrix as a symmetric weighted
    * edge list (self-loops kept for same-source dup mass), ranked by the
    * integer-exact pagerank unroll. The edges subquery carries its own WITH
    * (legal inside the parenthesized CTE body). */
  def sourceRankSql(numHashes: Int, bandRows: Int, iters: Int,
                    dampingPct: Int): String = {
    val edges = s"""WITH ${candCtes(numHashes, bandRows)},
      lab AS (
        SELECT da.source AS sa, db.source AS sb
        FROM cand c JOIN documents da ON da.doc_id = c.doc_a
                    JOIN documents db ON db.doc_id = c.doc_b),
      mat AS (
        SELECT LEAST(sa, sb) AS sx, GREATEST(sa, sb) AS sy, COUNT(*) AS n
        FROM lab GROUP BY 1, 2)
      SELECT sx AS src, sy AS dst, CAST(n AS BIGINT) AS w FROM mat
      UNION ALL
      SELECT sy AS src, sx AS dst, CAST(n AS BIGINT) AS w FROM mat
      WHERE sx <> sy"""
    GraphOracle.pagerankSql(edges, iters, dampingPct)
  }

  /** Dup-cluster size histogram (q118): component sizes over the LSH
    * candidate closure, then a count per size. */
  def clusterSizeHistogramSql(numHashes: Int, bandRows: Int): String = s"""
    WITH RECURSIVE ${candCtes(numHashes, bandRows)},
    $closureCtes,
    sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl GROUP BY cluster_id)
    SELECT cluster_size, COUNT(*) AS n_clusters FROM sz GROUP BY cluster_size"""

  /** Best-per-cluster resolution (q102): q54's connected components over the
    * LSH candidates + q26's quality transcription; winner per cluster =
    * (score desc, id asc); docs outside every pair are their own cluster. */
  def bestPerClusterSql(numHashes: Int, bandRows: Int): String = s"""
    WITH RECURSIVE ${candCtes(numHashes, bandRows)},
    $closureCtes,
    q AS (
      SELECT doc_id, $qualityFromRawSql AS score
      FROM (SELECT doc_id, text, $prawSql AS praw, $srawSql AS sraw
            FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)),
    lab AS (
      SELECT q.doc_id, coalesce(lbl.cluster_id, q.doc_id) AS cluster_id, q.score
      FROM q LEFT JOIN lbl ON lbl.id = q.doc_id),
    r AS (
      SELECT cluster_id, doc_id, score,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY score DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM lab)
    SELECT cluster_id, doc_id AS keep_id, score, n_members FROM r WHERE rn = 1"""

  /** DuckDB equivalent of TextFunctions.normalizeText — ONE transcription,
    * shared by the fingerprint (q28) and edit-verify (q62) oracles. */
  def normalizeSql(col: String): String =
    s"trim(regexp_replace(regexp_replace(lower($col), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))"

  /** Bounded-edit-distance verification of the MinHash-LSH candidates:
    * levenshtein over normalized 64-char prefixes, threshold-filtered. */
  def editVerifySql(numHashes: Int, bandRows: Int, prefixLen: Int, maxDist: Int): String = s"""
    WITH ${candCtes(numHashes, bandRows)},
    norm AS (SELECT doc_id, substr(${normalizeSql("text")}, 1, $prefixLen) AS prefix FROM documents)
    SELECT doc_a, doc_b, levenshtein(na.prefix, nb.prefix) AS edit_dist
    FROM cand JOIN norm na ON na.doc_id = doc_a JOIN norm nb ON nb.doc_id = doc_b
    WHERE levenshtein(na.prefix, nb.prefix) <= $maxDist"""

  def simhashSql(bits: Int): String =
    s"""
    WITH ${simhashCtes(bits)}
    SELECT doc_id, simhash FROM sim"""

  /** Exact all-pairs-within-hamming oracle: the banding is lossless (pigeonhole
    * over maxHamming+1 bands), so the oracle is simply the brute-force pair
    * filter — no need to reproduce the banding itself. */
  def simhashNearDupSql(bits: Int, maxHamming: Int): String =
    s"""
    WITH ${simhashCtes(bits)}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming"""

  /** Bloom-filter decontamination oracle (q123): eval shingles fold into
    * 63-bit-wide bitmap words (bit 63 never set — DuckDB checks 1<<63),
    * training shingles probe them; double hashing over two md5 slices. */
  def bloomDecontaminateSql(evalMod: Int, numHashes: Int, words: Int): String = {
    val m = words.toLong * 63L
    def posExpr(src: String) =
      s"""(CAST(('0x' || substr(md5($src), 1, 8)) AS BIGINT)
            + i.i * (1 + CAST(('0x' || substr(md5($src), 9, 8)) AS BIGINT) % ${m - 1L})) % $m"""
    s"""
    WITH $shingleCte,
    ii AS (SELECT unnest(range(0, $numHashes)) AS i),
    ep AS (SELECT DISTINCT s FROM sh WHERE doc_id % $evalMod = 0),
    epos AS (SELECT ${posExpr("s")} AS pos FROM ep, ii i),
    w AS (
      SELECT pos // 63 AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS word
      FROM epos GROUP BY pos // 63),
    tpos AS (
      SELECT doc_id, s, ${posExpr("s")} AS pos
      FROM sh, ii i WHERE doc_id % $evalMod <> 0),
    tbit AS (
      SELECT doc_id, s,
             CASE WHEN w.word IS NOT NULL
                   AND (w.word & (CAST(1 AS BIGINT) << CAST(pos % 63 AS INT))) <> 0
                  THEN 1 ELSE 0 END AS b
      FROM tpos LEFT JOIN w ON tpos.pos // 63 = w.w),
    hits AS (
      SELECT doc_id, s, CASE WHEN SUM(b) = $numHashes THEN 1 ELSE 0 END AS hit
      FROM tbit GROUP BY doc_id, s)
    SELECT doc_id, COUNT(*) AS n_shingles, CAST(SUM(hit) AS BIGINT) AS n_hits,
           SUM(hit) > 0 AS contaminated
    FROM hits GROUP BY doc_id"""
  }

  /** Per-source mergeable MinHash signatures + pairwise slot-agreement
    * Jaccard estimate (q125) — same universal-hash family/constants as the
    * doc-level sig CTE, grouped by source instead of doc. */
  def sourceMinhashSql(numHashes: Int): String = {
    val P = graft.operators.Dedup.MinhashP
    val sigCols = graft.operators.Dedup.minhashConsts(numHashes).zipWithIndex
      .map { case ((a, b), j) => s"min(($a * x + $b) % $P) AS h$j" }
      .mkString(",\n             ")
    val agree = (0 until numHashes)
      .map(j => s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""
    WITH $shingleCte,
    ss AS (
      SELECT d.source, CAST(('0x' || substr(md5(sh.s), 1, 8)) AS BIGINT) % $P AS x
      FROM sh JOIN documents d USING (doc_id)),
    sig AS (SELECT source, $sigCols FROM ss GROUP BY source)
    SELECT a.source AS source_x, b.source AS source_y,
           CAST($agree AS BIGINT) AS n_agree,
           round(CAST($agree AS DOUBLE) / $numHashes, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source"""
  }

  /** Multi-probe LSH shortlist + exact cosine rerank (q124): hamming over
    * SRP bucket ids via xor+bit_count, shortlist reranked exactly. */
  def multiProbeRerankSql(k: Int, numPlanes: Int, dims: Int, maxFlip: Int,
                          probeId: Long): String = s"""
    WITH b AS (
      SELECT vec_id, embedding, ${bucketSql("embedding", numPlanes, dims)} AS bucket
      FROM embeddings),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = $probeId)
    SELECT vec_id,
           CAST(bit_count(xor(bucket, qbucket)) AS BIGINT) AS hamming,
           round(${dotExpr("embedding", "qv")}
                 / (sqrt(${dotExpr("embedding", "embedding")}) * sqrt(${dotExpr("qv", "qv")})), 6) AS cos
    FROM b, q
    WHERE vec_id <> $probeId AND bit_count(xor(bucket, qbucket)) <= $maxFlip
    ORDER BY cos DESC, vec_id LIMIT $k"""

  /** Decoration strings prepended per doc_id % 4 by q126 — composed,
    * decomposed (combining marks), mixed, and uppercase-accent forms; ONE
    * definition shared by the Spark query and this oracle. */
  val normDecorations: Seq[String] = Seq(
    "Café déjà-vu: ",        // composed accents
    "Café naïve: ",             // decomposed combining marks
    "Müller—Çağrı: ", // mixed + em dash + dotless i
    "ñandú ÄÖÜ: ") // uppercase accents

  /** Unicode normalization suite (q126): NFC canonicalization, accent
    * folding, lowercase, NFC codepoint length — DuckDB's nfc_normalize /
    * strip_accents mirror the engine's TextNorm expressions exactly. */
  def unicodeNormalizeSql: String = {
    val cases = normDecorations.zipWithIndex
      .map { case (s, i) => s"WHEN $i THEN '$s'" }.mkString(" ")
    s"""
    SELECT doc_id,
           nfc_normalize(deco) AS nfc,
           strip_accents(deco) AS folded,
           lower(nfc_normalize(deco)) AS lowered,
           CAST(length(nfc_normalize(deco)) AS BIGINT) AS n_chars
    FROM (
      SELECT doc_id, (CASE doc_id % 4 $cases END) || text AS deco
      FROM documents WHERE text IS NOT NULL) t"""
  }

  /** dot/norm folded left-to-right over doubles — same association order as
    * VectorFunctions.dot's aggregate(), so bit-identical before round(6). */
  private def dotExpr(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  def cosineTopkSql(k: Int): String = s"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(${dotExpr("embedding", "qv")}
                 / (sqrt(${dotExpr("embedding", "embedding")}) * sqrt(${dotExpr("qv", "qv")})), 6) AS cos
    FROM embeddings, q WHERE vec_id <> 0
    ORDER BY cos DESC, vec_id LIMIT $k"""

  /** q99: Count-Min report over document tokens — the d×w counter grid,
    * truth, and min-over-rows point estimates, all from the same md5 row
    * hashes as DeterministicSketches.cmBucket. */
  def countMinSql(depth: Int, width: Int): String = s"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
    rows_ AS (SELECT unnest(range(0, $depth)) AS i),
    cells AS (
      SELECT tok, i,
             CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '_' || tok), 1, 8)) AS BIGINT) % $width AS b
      FROM toks, rows_),
    cms AS (SELECT i, b, COUNT(*) AS c FROM cells GROUP BY i, b),
    truth AS (SELECT tok, COUNT(*) AS true_cnt FROM toks GROUP BY tok),
    probes AS (
      SELECT t.tok, r.i,
             CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || '_' || t.tok), 1, 8)) AS BIGINT) % $width AS b
      FROM (SELECT DISTINCT tok FROM toks) t, rows_ r),
    est AS (
      SELECT p.tok, MIN(cms.c) AS est_cnt
      FROM probes p JOIN cms ON p.i = cms.i AND p.b = cms.b
      GROUP BY p.tok)
    SELECT truth.tok, truth.true_cnt, CAST(est.est_cnt AS BIGINT) AS est_cnt
    FROM truth JOIN est ON truth.tok = est.tok"""

  /** q100: HLL over l_partkey with the same register/rank derivation as
    * DeterministicSketches.hllRegisters. The indicator sum is exact in
    * doubles (all terms are multiples of 2^-(wBits+1), total < m), so no
    * ordering clause is needed; ln() only fires in the small-range branch. */
  def hllSql(m: Int): String = {
    val regBits = java.lang.Integer.numberOfTrailingZeros(m)
    val wBits = 32 - regBits
    val rankCase = (1 to wBits)
      .map(r => s"WHEN w >= ${1L << (wBits - r)} THEN $r")
      .mkString("\n             ")
    s"""
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
      FROM lineitem),
    ranked AS (
      SELECT hv % $m AS reg,
             CASE $rankCase ELSE ${wBits + 1} END AS rank
      FROM (SELECT hv, hv >> $regBits AS w FROM h)),
    obs AS (SELECT reg, MAX(rank) AS m_j FROM ranked GROUP BY reg),
    regs AS (
      SELECT rg.reg, COALESCE(obs.m_j, 0) AS m_j
      FROM (SELECT unnest(range(0, $m)) AS reg) rg
      LEFT JOIN obs ON rg.reg = obs.reg),
    agg AS (
      SELECT SUM(1.0 / CAST((CAST(1 AS BIGINT) << m_j) AS DOUBLE)) AS s,
             CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
      FROM regs),
    exact AS (SELECT COUNT(DISTINCT l_partkey) AS exact_distinct FROM lineitem)
    SELECT exact.exact_distinct, agg.v AS zero_registers,
           round(CASE WHEN ((0.7213 / (1.0 + 1.079 / $m.0)) * $m * $m) / s <= 2.5 * $m AND v > 0
                      THEN $m.0 * ln($m.0 / v)
                      ELSE ((0.7213 / (1.0 + 1.079 / $m.0)) * $m * $m) / s END, 6) AS hll_estimate
    FROM agg, exact"""
  }

  /** q98: Morton z-value over (l_partkey, l_suppkey) — identical bit
    * interleave as Layout.zValue2, pure integer ops on both engines. */
  def zorderSql(bits: Int): String = {
    val z = (0 until bits).flatMap(i => Seq(
      s"(((CAST(l_partkey AS BIGINT) >> $i) & 1) << ${2 * i})",
      s"(((CAST(l_suppkey AS BIGINT) >> $i) & 1) << ${2 * i + 1})"))
      .mkString("\n           | ")
    s"""
    SELECT l_orderkey, l_linenumber,
           $z AS z
    FROM lineitem"""
  }

  /** q96: JL random projection with the ±1 sign matrix (sign of the
    * `hyperplanes` weight = nibble >= 8). ±1 multiplies are exact in IEEE and
    * both engines fold the sum left-to-right, so components are bit-identical
    * before round(6). */
  def randomProjectionSql(outDims: Int, dims: Int): String = {
    def signSql(p: Int, d: Int): String =
      s"(CASE WHEN CAST(('0x' || substr(md5('${p}_$d'), 1, 1)) AS INT) >= 8 THEN 1.0 ELSE -1.0 END)"
    def signDot(p: Int): String =
      (0 until dims).map(d => s"CAST(embedding[${d + 1}] AS DOUBLE) * ${signSql(p, d)}")
        .mkString(" + ")
    val comps = (0 until outDims)
      .map(p => s"round((${signDot(p)}) / sqrt(CAST($outDims AS DOUBLE)), 6) AS c$p")
      .mkString(",\n           ")
    s"""
    SELECT vec_id, $comps
    FROM embeddings"""
  }

  /** q97: recall of the IVF-blocked kNN join (q84) against brute-force truth
    * (q83) — one summary row. total_hits/n_truth is a single division of
    * exact integers, so the double is engine-identical before round(6). */
  // shared CTE prefix of the ANN evaluation oracles (q97/q142): IVF list
  // assignment, probe set, exact truth ranks, and IVF-blocked approx ranks
  private def annEvalCtes(nLists: Int, dims: Int, probeMod: Int): String = {
    val planes = graft.operators.Similarity.hyperplanes(nLists, dims)
    val d2 = planes.zipWithIndex.map { case (c, i) =>
      val ss = c.map(x => x * x).sum
      s"(${dotExpr("embedding", "embedding")} - 2.0 * (${planeDotSql("embedding", i, dims)}) + $ss) AS d$i"
    }.mkString(",\n             ")
    val cases = (0 until nLists).map { i =>
      val conds = ((i + 1) until nLists).map(j => s"d$i <= d$j")
      if (conds.isEmpty) s"ELSE $i" else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString("\n           ")
    s"""
    WITH d AS (
      SELECT vec_id, embedding, $d2
      FROM embeddings),
    a AS (SELECT vec_id, embedding, CASE $cases END AS ivf_list FROM d),
    probe AS (
      SELECT vec_id AS probe_id, embedding AS pv, ivf_list
      FROM a WHERE vec_id % $probeMod = 0),
    tcand AS (
      SELECT p.probe_id, e.vec_id,
             round(${dotExpr("e.embedding", "p.pv")}
                   / (sqrt(${dotExpr("e.embedding", "e.embedding")})
                      * sqrt(${dotExpr("p.pv", "p.pv")})), 6) AS cos
      FROM embeddings e, probe p
      WHERE e.vec_id <> p.probe_id),
    truth AS (
      SELECT probe_id, vec_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id) AS rn
      FROM tcand WHERE cos IS NOT NULL),
    acand AS (
      SELECT p.probe_id, e.vec_id,
             round(${dotExpr("e.embedding", "p.pv")}
                   / (sqrt(${dotExpr("e.embedding", "e.embedding")})
                      * sqrt(${dotExpr("p.pv", "p.pv")})), 6) AS cos
      FROM a e JOIN probe p ON e.ivf_list = p.ivf_list
      WHERE e.vec_id <> p.probe_id),
    approx AS (
      SELECT probe_id, vec_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id) AS rn
      FROM acand WHERE cos IS NOT NULL)"""
  }

  def annRecallSql(k: Int, nLists: Int, dims: Int, probeMod: Int): String =
    annEvalCtes(nLists, dims, probeMod) + s""",
    t AS (SELECT probe_id, vec_id FROM truth WHERE rn <= $k),
    ap AS (SELECT probe_id, vec_id FROM approx WHERE rn <= $k)
    SELECT COUNT(*) AS n_truth,
           CAST(SUM(CASE WHEN ap.probe_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_hits,
           round(CAST(SUM(CASE WHEN ap.probe_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS recall
    FROM t LEFT JOIN ap ON t.probe_id = ap.probe_id AND t.vec_id = ap.vec_id"""

  /** q142: the per-probe retrieval report card — recall@k, first-hit rank,
    * and integer-micro reciprocal rank, same CTEs as q97's aggregate. */
  def retrievalEvalSql(k: Int, nLists: Int, dims: Int, probeMod: Int): String =
    annEvalCtes(nLists, dims, probeMod) + s""",
    tk AS (SELECT probe_id, vec_id FROM truth WHERE rn <= $k),
    ak AS (SELECT probe_id, vec_id, rn FROM approx WHERE rn <= $k),
    hit AS (
      SELECT tk.probe_id, ak.rn
      FROM tk JOIN ak ON tk.probe_id = ak.probe_id AND tk.vec_id = ak.vec_id),
    per AS (SELECT probe_id, COUNT(*) AS n_truth FROM tk GROUP BY probe_id),
    hs AS (SELECT probe_id, COUNT(*) AS n_hits, MIN(rn) AS first_hit_rank
           FROM hit GROUP BY probe_id)
    SELECT per.probe_id,
           CAST(per.n_truth AS BIGINT) AS n_truth,
           CAST(COALESCE(hs.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(COALESCE(hs.n_hits, 0) AS DOUBLE) / per.n_truth, 6) AS recall,
           CAST(COALESCE(hs.first_hit_rank, 0) AS BIGINT) AS first_hit_rank,
           CAST(COALESCE(floor(1000000.0 / hs.first_hit_rank), 0) AS BIGINT) AS rr_micros
    FROM per LEFT JOIN hs ON per.probe_id = hs.probe_id"""

  /** q147: nDCG@k per probe, same CTEs as q142. Position discounts are the
    * SAME Scala-computed integer micro-weights the Spark plan embeds
    * (Similarity.ndcgWeightsMicros) — dcg/idcg stay exact integer sums in
    * both engines; the single float op is floor(1e6·dcg/idcg). */
  def ndcgEvalSql(k: Int, nLists: Int, dims: Int, probeMod: Int): String = {
    val w = graft.operators.Similarity.ndcgWeightsMicros(k)
    val prefix = w.scanLeft(0L)(_ + _).drop(1)
    val wCase = (1 to k).map(r => s"WHEN ${r} THEN ${w(r - 1)}").mkString(" ")
    val idcgCase = (1 to k).map(i => s"WHEN ${i} THEN ${prefix(i - 1)}").mkString(" ")
    annEvalCtes(nLists, dims, probeMod) + s""",
    tk AS (SELECT probe_id, vec_id FROM truth WHERE rn <= $k),
    ak AS (SELECT probe_id, vec_id, rn FROM approx WHERE rn <= $k),
    hit AS (
      SELECT tk.probe_id, ak.rn
      FROM tk JOIN ak ON tk.probe_id = ak.probe_id AND tk.vec_id = ak.vec_id),
    per AS (SELECT probe_id, COUNT(*) AS n_truth FROM tk GROUP BY probe_id),
    hs AS (SELECT probe_id, COUNT(*) AS n_hits,
                  SUM(CASE rn $wCase END) AS dcg
           FROM hit GROUP BY probe_id),
    ic AS (SELECT probe_id, n_truth,
                  CASE (CASE WHEN n_truth < $k THEN n_truth ELSE $k END)
                    $idcgCase END AS idcg
           FROM per)
    SELECT ic.probe_id,
           CAST(ic.n_truth AS BIGINT) AS n_truth,
           CAST(COALESCE(hs.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(hs.dcg, 0) AS BIGINT) AS dcg_micros,
           CAST(ic.idcg AS BIGINT) AS idcg_micros,
           CAST(floor(1000000.0 * COALESCE(hs.dcg, 0) / ic.idcg) AS BIGINT)
             AS ndcg_micros
    FROM ic LEFT JOIN hs ON ic.probe_id = hs.probe_id"""
  }

  /** q149: MMR re-rank oracle — the same greedy selection unrolled as k
    * chained CTEs. Both engines first convert the round(6) cosines to exact
    * integer micro-units; 2×score = rel_u − maxsim_u is then pure BIGINT
    * arithmetic, so the per-step argmax order cannot hit a float rounding
    * boundary (the 0.5·rel − 0.5·ms float form diverged on exact 7-decimal
    * halves). */
  def mmrRerankSql(k: Int, poolSize: Int, nProbes: Int): String = {
    def cos(a: String, b: String): String =
      s"round(${dotExpr(a, b)} / (sqrt(${dotExpr(a, a)}) * sqrt(${dotExpr(b, b)})), 6)"
    val steps = (2 to k).map { t =>
      s""",
    s$t AS (
      SELECT probe_id, cand_id, rel, score2, $t AS mmr_rank FROM (
        SELECT r.probe_id, r.cand_id, r.rel,
               r.rel_u - m.ms AS score2,
               row_number() OVER (PARTITION BY r.probe_id
                                  ORDER BY r.rel_u - m.ms DESC, r.cand_id) AS rn
        FROM pool r
        JOIN (SELECT s.probe_id, s.ca AS cand_id, MAX(s.s_u) AS ms
              FROM sim s JOIN sel${t - 1} x
                ON s.probe_id = x.probe_id AND s.cb = x.cand_id
              GROUP BY s.probe_id, s.ca) m
          ON r.probe_id = m.probe_id AND r.cand_id = m.cand_id
        WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
                          WHERE x.probe_id = r.probe_id AND x.cand_id = r.cand_id)
      ) z WHERE rn = 1),
    sel$t AS (SELECT probe_id, cand_id FROM sel${t - 1}
              UNION ALL SELECT probe_id, cand_id FROM s$t)"""
    }.mkString
    val unionAll = (1 to k)
      .map(t => s"SELECT probe_id, cand_id, rel, score2, mmr_rank FROM s$t")
      .mkString("\n      UNION ALL ")
    s"""
    WITH probe AS (
      SELECT vec_id AS probe_id, embedding AS pv
      FROM embeddings ORDER BY vec_id LIMIT $nProbes),
    pcand AS (
      SELECT p.probe_id, e.vec_id AS cand_id, e.embedding,
             ${cos("e.embedding", "p.pv")} AS rel
      FROM embeddings e, probe p WHERE e.vec_id <> p.probe_id),
    ranked AS (
      SELECT probe_id, cand_id, embedding, rel,
             CAST(round(rel * 1000000) AS BIGINT) AS rel_u,
             row_number() OVER (PARTITION BY probe_id ORDER BY rel DESC, cand_id) AS rn
      FROM pcand WHERE rel IS NOT NULL),
    pool AS (SELECT probe_id, cand_id, embedding, rel, rel_u
             FROM ranked WHERE rn <= $poolSize),
    sim AS (
      SELECT a.probe_id, a.cand_id AS ca, b.cand_id AS cb,
             CAST(round(${cos("a.embedding", "b.embedding")} * 1000000) AS BIGINT) AS s_u
      FROM pool a JOIN pool b
        ON a.probe_id = b.probe_id AND a.cand_id <> b.cand_id),
    s1 AS (
      SELECT probe_id, cand_id, rel, rel_u AS score2, 1 AS mmr_rank FROM (
        SELECT probe_id, cand_id, rel, rel_u,
               row_number() OVER (PARTITION BY probe_id ORDER BY rel DESC, cand_id) AS rn
        FROM pool) z WHERE rn = 1),
    sel1 AS (SELECT probe_id, cand_id FROM s1)$steps
    SELECT probe_id, cand_id AS neighbor_id, rel,
           CAST(score2 AS BIGINT) AS mmr_score2_micros,
           CAST(mmr_rank AS BIGINT) AS mmr_rank
    FROM ($unionAll) u"""
  }

  /** q92: corpus rows (vec_id % mod <> 0) surviving semantic decontamination
    * against the benchmark split (vec_id % mod = 0) — NOT EXISTS mirrors the
    * left-anti join; NULL cosine (zero norm) fails the predicate both sides. */
  def semanticDecontaminateSql(threshold: Double, mod: Int): String = s"""
    SELECT c.vec_id, c.label
    FROM embeddings c
    WHERE c.vec_id % $mod <> 0 AND NOT EXISTS (
      SELECT 1 FROM embeddings b
      WHERE b.vec_id % $mod = 0
        AND round(${dotExpr("c.embedding", "b.embedding")}
                  / (sqrt(${dotExpr("c.embedding", "c.embedding")})
                     * sqrt(${dotExpr("b.embedding", "b.embedding")})), 6) >= $threshold)"""

  def nearDupSql(threshold: Double): String = s"""
    WITH p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(${dotExpr("a.embedding", "b.embedding")}
                   / (sqrt(${dotExpr("a.embedding", "a.embedding")})
                      * sqrt(${dotExpr("b.embedding", "b.embedding")})), 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cos FROM p WHERE cos >= $threshold"""

  // ---- SRP-LSH / IVF oracles ------------------------------------------------
  // Similarity.hyperplanes derives weight(p,d) from the first hex nibble of
  // md5("p_d") minus 7.5 — reproducible in SQL, so even the LSH/IVF ops get
  // exact oracles. Folds are written left-to-right to match DotProduct.

  private def weightSql(p: Int, d: Int): String =
    s"(CAST(('0x' || substr(md5('${p}_$d'), 1, 1)) AS INT) - 7.5)"

  /** dot(vec, plane_p) as an explicit left-assoc sum (DuckDB lists are 1-indexed). */
  private def planeDotSql(vec: String, p: Int, dims: Int): String =
    (0 until dims).map(d => s"CAST($vec[${d + 1}] AS DOUBLE) * ${weightSql(p, d)}")
      .mkString(" + ")

  /** SRP bucket id: bit p set iff dot(vec, plane_p) >= 0. */
  private def bucketSql(vec: String, numPlanes: Int, dims: Int): String =
    (0 until numPlanes).map(p =>
      s"(CASE WHEN ${planeDotSql(vec, p, dims)} >= 0.0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")

  def lshTopkSql(k: Int, numPlanes: Int, dims: Int): String = s"""
    WITH b AS (
      SELECT vec_id, embedding, ${bucketSql("embedding", numPlanes, dims)} AS bucket
      FROM embeddings),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT vec_id,
           round(${dotExpr("embedding", "qv")}
                 / (sqrt(${dotExpr("embedding", "embedding")}) * sqrt(${dotExpr("qv", "qv")})), 6) AS cos
    FROM b, q WHERE b.bucket = q.qbucket
    ORDER BY cos DESC, vec_id LIMIT $k"""

  /** IVF assignment oracle: centroids are Similarity.hyperplanes(nLists, dims);
    * d2_i = dot(v,v) - 2*dot(v,c_i) + |c_i|^2, argmin with lowest-index ties. */
  def ivfAssignSql(nLists: Int, dims: Int): String = {
    val planes = graft.operators.Similarity.hyperplanes(nLists, dims)
    val d2 = planes.zipWithIndex.map { case (c, i) =>
      val ss = c.map(x => x * x).sum
      s"(${dotExpr("embedding", "embedding")} - 2.0 * (${planeDotSql("embedding", i, dims)}) + $ss) AS d$i"
    }.mkString(",\n             ")
    val cases = (0 until nLists).map { i =>
      val conds = ((i + 1) until nLists).map(j => s"d$i <= d$j")
      if (conds.isEmpty) s"ELSE $i" else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString("\n           ")
    s"""
    WITH d AS (
      SELECT vec_id, $d2
      FROM embeddings)
    SELECT vec_id,
           CASE $cases END AS ivf_list
    FROM d"""
  }

  /** q150: per-list IVF drift report — ivfAssignSql's distances + CASE
    * argmin, plus round(LEAST(d*),6) as the assigned distance; per-row
    * distances go to exact integer micros, means are ONE floor-division of
    * the integer sums, drift is long subtraction (mirrors
    * Similarity.ivfDriftReport exactly — a decimal mean hit exact
    * 7-decimal halves where the engines' round() disagree). */
  def ivfDriftSql(nLists: Int, dims: Int, batchMod: Int,
                  scale: Double): String = {
    // centroids are the SCALED hyperplanes (Similarity.hyperplanes × scale
    // per WEIGHT, mirroring the Spark side's VF.dot(v, λc): λ applied to
    // each weight before the fold, not to the summed dot — λ·Σwx and
    // Σ(λw)x round differently in IEEE and the hash would notice). Each
    // scaled weight is embedded as a Scala-printed double literal, which
    // DuckDB parses back to the identical binary64.
    val planes = graft.operators.Similarity.hyperplanes(nLists, dims)
      .map(_.map(_ * scale))
    val d2 = planes.zipWithIndex.map { case (c, i) =>
      val ss = c.map(x => x * x).sum
      val dot = c.zipWithIndex
        .map { case (w, d) => s"CAST(embedding[${d + 1}] AS DOUBLE) * $w" }
        .mkString(" + ")
      s"(${dotExpr("embedding", "embedding")} - 2.0 * ($dot) + $ss) AS d$i"
    }.mkString(",\n             ")
    val cases = (0 until nLists).map { i =>
      val conds = ((i + 1) until nLists).map(j => s"d$i <= d$j")
      if (conds.isEmpty) s"ELSE $i" else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString("\n           ")
    val leastAll = (0 until nLists).map(i => s"d$i").mkString(", ")
    s"""
    WITH d AS (
      SELECT vec_id, $d2
      FROM embeddings),
    a AS (
      SELECT vec_id,
             CASE $cases END AS ivf_list,
             round(LEAST($leastAll), 6) AS dd
      FROM d),
    base AS (
      SELECT ivf_list, COUNT(*) AS n_base,
             SUM(CAST(round(dd * 1000000) AS BIGINT)) AS s_b, COUNT(dd) AS c_b
      FROM a WHERE vec_id % $batchMod <> 0 GROUP BY ivf_list),
    batch AS (
      SELECT ivf_list, COUNT(*) AS n_batch,
             SUM(CAST(round(dd * 1000000) AS BIGINT)) AS s_t, COUNT(dd) AS c_t
      FROM a WHERE vec_id % $batchMod = 0 GROUP BY ivf_list),
    lists AS (SELECT CAST(t.x AS INTEGER) AS ivf_list FROM range(0, $nLists) t(x))
    SELECT lists.ivf_list,
           CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
           CAST(COALESCE(n_batch, 0) AS BIGINT) AS n_batch,
           CASE WHEN COALESCE(n_base, 0) + COALESCE(n_batch, 0) = 0 THEN NULL
                ELSE round(CAST(COALESCE(n_batch, 0) AS DOUBLE)
                      / (COALESCE(n_base, 0) + COALESCE(n_batch, 0)), 6)
           END AS share_batch,
           CAST(floor(CAST(s_b AS DOUBLE) / c_b) AS BIGINT) AS mean_d2_micros_base,
           CAST(floor(CAST(s_t AS DOUBLE) / c_t) AS BIGINT) AS mean_d2_micros_batch,
           CAST(floor(CAST(s_t AS DOUBLE) / c_t) AS BIGINT)
             - CAST(floor(CAST(s_b AS DOUBLE) / c_b) AS BIGINT) AS drift_d2_micros
    FROM lists LEFT JOIN base ON lists.ivf_list = base.ivf_list
               LEFT JOIN batch ON lists.ivf_list = batch.ivf_list"""
  }

  /** q151: VectorLake's batch-ingest keep decision (the REAL gate —
    * SparkEntry calls VectorLake.ingestDecision, which shares the private
    * gateFrames implementation with ingest itself). Stored = vec_id %
    * batchMod <> 0, batch = the rest. Per batch vector: its `gateProbes`
    * NEAREST lists (ranked (d_i, i) ascending — exactly ivfGateLists'
    * array_sort over (d2, i) structs); drop it if a stored vector in any
    * gate list, or a LOWER-id batch vector sharing any gate list, has
    * round(cosine, 6) >= threshold. Output: (vec_id, ivf_list, keep) for
    * every batch vector, ivf_list the nearest (storage) list. Centroids are
    * the scaled hyperplanes embedded as Scala-printed double literals
    * (ivfDriftSql's parity contract — scale applied per WEIGHT before the
    * fold). */
  def vectorIngestGateSql(nLists: Int, dims: Int, scale: Double,
                          batchMod: Int, threshold: Double,
                          gateProbes: Int): String = {
    val planes = graft.operators.Similarity.hyperplanes(nLists, dims)
      .map(_.map(_ * scale))
    val d2 = planes.zipWithIndex.map { case (c, i) =>
      val ss = c.map(x => x * x).sum
      val dot = c.zipWithIndex
        .map { case (w, d) => s"CAST(embedding[${d + 1}] AS DOUBLE) * $w" }
        .mkString(" + ")
      s"(${dotExpr("embedding", "embedding")} - 2.0 * ($dot) + $ss) AS d$i"
    }.mkString(",\n             ")
    val cases = (0 until nLists).map { i =>
      val conds = ((i + 1) until nLists).map(j => s"d$i <= d$j")
      if (conds.isEmpty) s"ELSE $i" else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString("\n           ")
    val dByIdx = (0 until nLists).map(i => s"WHEN $i THEN d$i").mkString(" ")
    def cos(a: String, b: String): String =
      s"""round(${dotExpr(s"$a.embedding", s"$b.embedding")}
                 / (sqrt(${dotExpr(s"$a.embedding", s"$a.embedding")})
                    * sqrt(${dotExpr(s"$b.embedding", s"$b.embedding")})), 6)"""
    s"""
    WITH d AS (
      SELECT vec_id, embedding, $d2
      FROM embeddings),
    a AS (
      SELECT vec_id, embedding,
             CASE $cases END AS ivf_list,
             ${(0 until nLists).map(i => s"d$i").mkString(", ")}
      FROM d),
    gr AS (
      SELECT a.vec_id, a.embedding, t.i AS gate_list,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY CASE t.i $dByIdx END, t.i) AS rk
      FROM a, (VALUES ${(0 until nLists).map(i => s"($i)").mkString(",")}) t(i)
      WHERE a.vec_id % $batchMod = 0),
    g AS (SELECT vec_id, embedding, gate_list FROM gr WHERE rk <= $gateProbes),
    vsidx AS (
      SELECT DISTINCT g.vec_id
      FROM a s JOIN g ON s.ivf_list = g.gate_list
      WHERE s.vec_id % $batchMod <> 0
        AND ${cos("s", "g")} >= $threshold),
    inb AS (
      SELECT DISTINCT gb.vec_id
      FROM g ga JOIN g gb
        ON ga.gate_list = gb.gate_list AND ga.vec_id < gb.vec_id
      WHERE ${cos("ga", "gb")} >= $threshold),
    drops AS (SELECT vec_id FROM vsidx UNION SELECT vec_id FROM inb)
    SELECT a.vec_id, a.ivf_list, (drops.vec_id IS NULL) AS keep
    FROM a LEFT JOIN drops ON a.vec_id = drops.vec_id
    WHERE a.vec_id % $batchMod = 0"""
  }

  /** q152: int8 scalar-quantization recall@k vs exact search. Mirrors
    * Similarity.sqRecallEval: per-dim (min, max) over the corpus, code =
    * greatest(0, least(255, floor((x − mn)·255/(mx − mn)))) (constant dims
    * → 0; the 0-clamp is a no-op on corpus vectors, in-range by training),
    * dequant = mn + code·(mx − mn)/255, then both top-k rankings by
    * (round(cos, 6) DESC, vec_id) with self excluded, and per-probe
    * |exact ∩ sq|. min/max of floats are exact doubles, so both engines'
    * quantization grids are bit-identical; the dim-explode here is
    * oracle-side only (the Spark stats pass is 2·dims aggregates, no
    * explode). */
  def sqRecallSql(k: Int, nProbes: Int, dims: Int): String = s"""
    WITH dimstats AS (
      SELECT t.d,
             min(CAST(embedding[t.d] AS DOUBLE)) AS mn,
             max(CAST(embedding[t.d] AS DOUBLE)) AS mx
      FROM embeddings, range(1, ${dims + 1}) t(d)
      GROUP BY t.d),
    lut AS (
      SELECT list(mn ORDER BY d) AS mn_l,
             list(CASE WHEN mx = mn THEN 0.0 ELSE 255.0 / (mx - mn) END
                  ORDER BY d) AS sc_l,
             list(CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END
                  ORDER BY d) AS iv_l
      FROM dimstats),
    dq AS (
      SELECT e.vec_id,
             list_transform(range(1, ${dims + 1}), d ->
               mn_l[d] + greatest(0.0, least(255.0,
                 floor((CAST(e.embedding[d] AS DOUBLE) - mn_l[d]) * sc_l[d])))
               * iv_l[d]) AS dqv
      FROM embeddings e, lut),
    probe AS (
      SELECT vec_id AS probe_id, embedding AS pv
      FROM embeddings ORDER BY vec_id LIMIT $nProbes),
    exact_k AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT probe_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM (
          SELECT p.probe_id, e.vec_id AS neighbor_id,
                 round(${dotExpr("e.embedding", "p.pv")}
                       / (sqrt(${dotExpr("e.embedding", "e.embedding")})
                          * sqrt(${dotExpr("p.pv", "p.pv")})), 6) AS cos
          FROM embeddings e, probe p
          WHERE e.vec_id <> p.probe_id)
        WHERE cos IS NOT NULL)
      WHERE rank <= $k),
    sq_k AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT probe_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM (
          SELECT p.probe_id, q.vec_id AS neighbor_id,
                 round(${dotExpr("q.dqv", "p.pv")}
                       / (sqrt(${dotExpr("q.dqv", "q.dqv")})
                          * sqrt(${dotExpr("p.pv", "p.pv")})), 6) AS cos
          FROM dq q, probe p
          WHERE q.vec_id <> p.probe_id)
        WHERE cos IS NOT NULL)
      WHERE rank <= $k)
    SELECT e.probe_id,
           CAST(COUNT(s.neighbor_id) AS BIGINT) AS n_hit,
           round(CAST(COUNT(s.neighbor_id) AS DOUBLE)
                 / CAST($k AS DOUBLE), 6) AS recall
    FROM exact_k e LEFT JOIN sq_k s
      ON e.probe_id = s.probe_id AND e.neighbor_id = s.neighbor_id
    GROUP BY e.probe_id"""

  /** q154: IVF + int8 scalar-quantization probing search. Coarse pruning
    * identical to ivfTopkSql (RAW-vector CASE argmin, probes = the nprobe
    * centroids nearest the query); scoring identical to sqRecallSql's SQ
    * side (per-dim min/max over the corpus EXCLUDING the query row — the
    * Spark side trains sqMinMax on the corpus frame — dequantized cosine,
    * query at full precision). Ties (cos DESC, vec_id). */
  def ivfSqTopkSql(k: Int, nLists: Int, dims: Int, nprobe: Int): String = {
    val planes = graft.operators.Similarity.hyperplanes(nLists, dims)
    val d2cols = planes.zipWithIndex.map { case (c, i) =>
      val ss = c.map(x => x * x).sum
      s"(${dotExpr("embedding", "embedding")} - 2.0 * (${planeDotSql("embedding", i, dims)}) + $ss) AS d$i"
    }.mkString(",\n             ")
    val cases = (0 until nLists).map { i =>
      val conds = ((i + 1) until nLists).map(j => s"d$i <= d$j")
      if (conds.isEmpty) s"ELSE $i" else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString("\n           ")
    val probeCase = (0 until nLists).map(i => s"WHEN $i THEN d$i").mkString(" ")
    s"""
    WITH dimstats AS (
      SELECT t.d,
             min(CAST(embedding[t.d] AS DOUBLE)) AS mn,
             max(CAST(embedding[t.d] AS DOUBLE)) AS mx
      FROM embeddings, range(1, ${dims + 1}) t(d)
      WHERE vec_id <> 0
      GROUP BY t.d),
    lut AS (
      SELECT list(mn ORDER BY d) AS mn_l,
             list(CASE WHEN mx = mn THEN 0.0 ELSE 255.0 / (mx - mn) END
                  ORDER BY d) AS sc_l,
             list(CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END
                  ORDER BY d) AS iv_l
      FROM dimstats),
    dq AS (
      SELECT e.vec_id,
             list_transform(range(1, ${dims + 1}), d ->
               mn_l[d] + greatest(0.0, least(255.0,
                 floor((CAST(e.embedding[d] AS DOUBLE) - mn_l[d]) * sc_l[d])))
               * iv_l[d]) AS dqv
      FROM embeddings e, lut
      WHERE e.vec_id <> 0),
    d AS (
      SELECT vec_id, embedding, $d2cols
      FROM embeddings),
    a AS (SELECT vec_id, embedding,
                 CASE $cases END AS ivf_list,
                 ${(0 until nLists).map(i => s"d$i").mkString(", ")}
          FROM d),
    qrow AS (SELECT * FROM a WHERE vec_id = 0),
    probes AS (
      SELECT t.i FROM qrow, (VALUES ${(0 until nLists).map(i => s"($i)").mkString(",")}) t(i)
      ORDER BY CASE t.i $probeCase END, t.i
      LIMIT $nprobe)
    SELECT a.vec_id,
           round(${dotExpr("q.dqv", "qrow.embedding")}
                 / (sqrt(${dotExpr("q.dqv", "q.dqv")})
                    * sqrt(${dotExpr("qrow.embedding", "qrow.embedding")})), 6) AS cos
    FROM a JOIN dq q ON a.vec_id = q.vec_id, qrow
    WHERE a.ivf_list IN (SELECT i FROM probes) AND a.vec_id <> 0
    ORDER BY cos DESC, a.vec_id LIMIT $k"""
  }

  /** q153: the SRP-banded within-list near-dup REPAIR decision —
    * VectorLake.reconcile's repair pass as a pure query (blockCols =
    * ivf_list). Assignment = scaled-hyperplane CASE argmin (as q150/q151);
    * band b's bucket = Σ_q [dot(v, plane_{b·P+q}) ≥ 0]·2^q over the RAW
    * md5 hyperplane family (banding is scale-free — only the centroids are
    * scaled); candidates share (ivf_list, band, bucket); a vector DROPS iff
    * some qualifying partner (round(cos, 6) ≥ threshold) has a smaller id —
    * exactly the repair's `dups → left_anti` rule, ties and all. */
  def bandedRepairSql(nLists: Int, dims: Int, scale: Double,
                      threshold: Double, bands: Int,
                      planesPerBand: Int): String = {
    val planes = graft.operators.Similarity.hyperplanes(nLists, dims)
      .map(_.map(_ * scale))
    val d2 = planes.zipWithIndex.map { case (c, i) =>
      val ss = c.map(x => x * x).sum
      val dot = c.zipWithIndex
        .map { case (w, d) => s"CAST(embedding[${d + 1}] AS DOUBLE) * $w" }
        .mkString(" + ")
      s"(${dotExpr("embedding", "embedding")} - 2.0 * ($dot) + $ss) AS d$i"
    }.mkString(",\n             ")
    val cases = (0 until nLists).map { i =>
      val conds = ((i + 1) until nLists).map(j => s"d$i <= d$j")
      if (conds.isEmpty) s"ELSE $i" else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString("\n           ")
    val bandBuckets = (0 until bands).map { b =>
      val bits = (0 until planesPerBand).map { q =>
        s"(CASE WHEN ${planeDotSql("embedding", b * planesPerBand + q, dims)} >= 0.0 " +
          s"THEN CAST(${1L << q} AS BIGINT) ELSE 0 END)"
      }.mkString(" + ")
      s"WHEN $b THEN $bits"
    }.mkString("\n             ")
    s"""
    WITH d AS (
      SELECT vec_id, embedding, $d2
      FROM embeddings),
    a AS (
      SELECT vec_id, embedding,
             CASE $cases END AS ivf_list
      FROM d),
    bb AS (
      SELECT vec_id, embedding, ivf_list, t.band,
             CASE t.band $bandBuckets END AS bkt
      FROM a, (VALUES ${(0 until bands).map(b => s"($b)").mkString(",")}) t(band)),
    dups AS (
      SELECT DISTINCT y.vec_id AS id_b
      FROM bb x JOIN bb y
        ON x.ivf_list = y.ivf_list AND x.band = y.band AND x.bkt = y.bkt
          AND x.vec_id < y.vec_id
      WHERE round(${dotExpr("x.embedding", "y.embedding")}
                  / (sqrt(${dotExpr("x.embedding", "x.embedding")})
                     * sqrt(${dotExpr("y.embedding", "y.embedding")})), 6)
            >= $threshold)
    SELECT a.vec_id, a.ivf_list, (dups.id_b IS NULL) AS keep
    FROM a LEFT JOIN dups ON a.vec_id = dups.id_b"""
  }

  /** IVF probing-search oracle: per-vector distances + CASE-argmin assignment
    * (as ivfAssignSql), probe set = the nprobe centroids nearest the QUERY
    * (ranked in SQL, ties to the lower index), then cosine top-k over the
    * probed lists only — verifies probe selection, not just assignment. */
  def ivfTopkSql(k: Int, nLists: Int, dims: Int, nprobe: Int): String = {
    val planes = graft.operators.Similarity.hyperplanes(nLists, dims)
    val d2cols = planes.zipWithIndex.map { case (c, i) =>
      val ss = c.map(x => x * x).sum
      s"(${dotExpr("embedding", "embedding")} - 2.0 * (${planeDotSql("embedding", i, dims)}) + $ss) AS d$i"
    }.mkString(",\n             ")
    val cases = (0 until nLists).map { i =>
      val conds = ((i + 1) until nLists).map(j => s"d$i <= d$j")
      if (conds.isEmpty) s"ELSE $i" else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString("\n           ")
    val probeCase = (0 until nLists).map(i => s"WHEN $i THEN d$i").mkString(" ")
    s"""
    WITH d AS (
      SELECT vec_id, embedding, $d2cols
      FROM embeddings),
    a AS (SELECT vec_id, embedding,
                 CASE $cases END AS ivf_list,
                 ${(0 until nLists).map(i => s"d$i").mkString(", ")}
          FROM d),
    qrow AS (SELECT * FROM a WHERE vec_id = 0),
    probes AS (
      SELECT t.i FROM qrow, (VALUES ${(0 until nLists).map(i => s"($i)").mkString(",")}) t(i)
      ORDER BY CASE t.i $probeCase END, t.i
      LIMIT $nprobe)
    SELECT a.vec_id,
           round(${dotExpr("a.embedding", "qrow.embedding")}
                 / (sqrt(${dotExpr("a.embedding", "a.embedding")})
                    * sqrt(${dotExpr("qrow.embedding", "qrow.embedding")})), 6) AS cos
    FROM a, qrow
    WHERE a.ivf_list IN (SELECT i FROM probes) AND a.vec_id <> 0
    ORDER BY cos DESC, a.vec_id LIMIT $k"""
  }

  /** Batch kNN join: probe set = every `probeMod`-th vector; per-probe
    * cosine rank over the full corpus (self excluded), row_number ties to
    * the lower neighbor id — mirrors Similarity.knnJoin's (cos desc, id asc)
    * order over the 6-decimal-rounded score. */
  def knnJoinSql(k: Int, probeMod: Int): String = s"""
    WITH probe AS (
      SELECT vec_id AS probe_id, embedding AS pv
      FROM embeddings WHERE vec_id % $probeMod = 0),
    cand AS (
      SELECT p.probe_id, e.vec_id,
             round(${dotExpr("e.embedding", "p.pv")}
                   / (sqrt(${dotExpr("e.embedding", "e.embedding")})
                      * sqrt(${dotExpr("p.pv", "p.pv")})), 6) AS cos
      FROM embeddings e, probe p
      WHERE e.vec_id <> p.probe_id),
    ranked AS (
      SELECT probe_id, vec_id AS neighbor_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM cand WHERE cos IS NOT NULL)
    SELECT probe_id, neighbor_id, cos, rank FROM ranked WHERE rank <= $k"""

  /** Fixed-probe-batch kNN SERVING (q144): the `nProbes` smallest vec_ids
    * as the constant probe set; otherwise identical to [[knnJoinSql]]. */
  def knnServeSql(k: Int, nProbes: Int): String = s"""
    WITH probe AS (
      SELECT vec_id AS probe_id, embedding AS pv
      FROM embeddings ORDER BY vec_id LIMIT $nProbes),
    cand AS (
      SELECT p.probe_id, e.vec_id,
             round(${dotExpr("e.embedding", "p.pv")}
                   / (sqrt(${dotExpr("e.embedding", "e.embedding")})
                      * sqrt(${dotExpr("p.pv", "p.pv")})), 6) AS cos
      FROM embeddings e, probe p
      WHERE e.vec_id <> p.probe_id),
    ranked AS (
      SELECT probe_id, vec_id AS neighbor_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM cand WHERE cos IS NOT NULL)
    SELECT probe_id, neighbor_id, cos, rank FROM ranked WHERE rank <= $k"""

  // the shared multi-probe batched-serving skeleton of q155/q156: scaled-
  // hyperplane CASE-argmin assignment, constant nProbes probe batch with
  // per-probe gate lists (rank (d_i, i) ascending — ivfGateLists' order),
  // candidates = stored list IN gate lists, per-probe top-k by
  // (round(cos,6) DESC, vec_id). ONE implementation, parameterized by the
  // corpus-side scoring (raw embeddings vs SQ8-dequantized) — a fix to the
  // gate/tie rules lands in both oracles at once (r9 review: the two
  // generators had drifted-prone verbatim copies).
  private def multiProbeServeSkeleton(k: Int, nLists: Int, dims: Int,
                                      scale: Double, nprobe: Int,
                                      nProbes: Int, prefixCtes: String,
                                      candFrom: String,
                                      scoreVec: String,
                                      tailSql: Option[String] = None,
                                      extraCandCond: String = ""): String = {
    val planes = graft.operators.Similarity.hyperplanes(nLists, dims)
      .map(_.map(_ * scale))
    val d2 = planes.zipWithIndex.map { case (c, i) =>
      val ss = c.map(x => x * x).sum
      val dot = c.zipWithIndex
        .map { case (w, d) => s"CAST(embedding[${d + 1}] AS DOUBLE) * $w" }
        .mkString(" + ")
      s"(${dotExpr("embedding", "embedding")} - 2.0 * ($dot) + $ss) AS d$i"
    }.mkString(",\n             ")
    val cases = (0 until nLists).map { i =>
      val conds = ((i + 1) until nLists).map(j => s"d$i <= d$j")
      if (conds.isEmpty) s"ELSE $i" else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString("\n           ")
    val dByIdx = (0 until nLists).map(i => s"WHEN $i THEN d$i").mkString(" ")
    s"""
    WITH $prefixCtes d AS (
      SELECT vec_id, embedding, $d2
      FROM embeddings),
    a AS (
      SELECT vec_id, embedding,
             CASE $cases END AS ivf_list,
             ${(0 until nLists).map(i => s"d$i").mkString(", ")}
      FROM d),
    pb AS (SELECT * FROM a ORDER BY vec_id LIMIT $nProbes),
    gr AS (
      SELECT pb.vec_id, pb.embedding, t.i AS gate_list,
             row_number() OVER (PARTITION BY pb.vec_id
               ORDER BY CASE t.i $dByIdx END, t.i) AS rk
      FROM pb, (VALUES ${(0 until nLists).map(i => s"($i)").mkString(",")}) t(i)),
    g AS (SELECT vec_id AS probe_id, embedding AS pv, gate_list
          FROM gr WHERE rk <= $nprobe),
    cand AS (
      SELECT g.probe_id, a.vec_id AS neighbor_id,
             round(${dotExpr(scoreVec, "g.pv")}
                   / (sqrt(${dotExpr(scoreVec, scoreVec)})
                      * sqrt(${dotExpr("g.pv", "g.pv")})), 6) AS cos
      FROM $candFrom JOIN g ON a.ivf_list = g.gate_list
      WHERE a.vec_id <> g.probe_id$extraCandCond),
    ranked AS (
      SELECT probe_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM cand WHERE cos IS NOT NULL)${tailSql.getOrElse(s"""
    SELECT probe_id, neighbor_id, cos, rank FROM ranked WHERE rank <= $k""")}"""
  }

  /** q155: the BATCHED multi-probe IVF serving search (VectorLake
    * .searchBatch's core, Similarity.ivfMultiProbeKnnJoin): corpus rows
    * carry their write-time (nearest-centroid) list; each of the `nProbes`
    * constant probes ranks only the rows stored in its `nprobe` nearest
    * lists. Centroids are the scaled hyperplanes as Scala-printed double
    * literals (q150/q151's parity contract). */
  def multiProbeKnnServeSql(k: Int, nLists: Int, dims: Int, scale: Double,
                            nprobe: Int, nProbes: Int): String =
    multiProbeServeSkeleton(k, nLists, dims, scale, nprobe, nProbes,
      prefixCtes = "", candFrom = "a", scoreVec = "a.embedding")

  /** q156: the SQ8-resident BATCHED serving search — the same skeleton
    * scoring against the q152-grid dequantized corpus (stored codes,
    * asymmetric: probes full-precision). Codes are
    * greatest(0, least(255, floor(...))) per dim; the Spark side stores
    * them tinyint-offset and undoes the offset at dequant, which is
    * bit-exact, so this oracle's direct code·inv form matches. */
  def sq8ServeBatchSql(k: Int, nLists: Int, dims: Int, scale: Double,
                       nprobe: Int, nProbes: Int): String = {
    val prefix = s"""dimstats AS (
      SELECT t.d,
             min(CAST(embedding[t.d] AS DOUBLE)) AS mn,
             max(CAST(embedding[t.d] AS DOUBLE)) AS mx
      FROM embeddings, range(1, ${dims + 1}) t(d)
      GROUP BY t.d),
    lut AS (
      SELECT list(mn ORDER BY d) AS mn_l,
             list(CASE WHEN mx = mn THEN 0.0 ELSE 255.0 / (mx - mn) END
                  ORDER BY d) AS sc_l,
             list(CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END
                  ORDER BY d) AS iv_l
      FROM dimstats),
    dq AS (
      SELECT e.vec_id,
             list_transform(range(1, ${dims + 1}), dd ->
               mn_l[dd] + greatest(0.0, least(255.0,
                 floor((CAST(e.embedding[dd] AS DOUBLE) - mn_l[dd]) * sc_l[dd])))
               * iv_l[dd]) AS dqv
      FROM embeddings e, lut),"""
    multiProbeServeSkeleton(k, nLists, dims, scale, nprobe, nProbes,
      prefixCtes = prefix, candFrom = "a JOIN dq q ON a.vec_id = q.vec_id",
      scoreVec = "q.dqv")
  }

  /** q157: the quantized-scan + FLOAT-REFINE serving read
    * (VectorLake.searchBatch(quantized = true, refineFactor = r),
    * Similarity.ivfSqRefineKnnJoin) — q156's SQ8 asymmetric scan widened to
    * each probe's top-(k·r) CANDIDATES, then ONLY those k·r rows rescored
    * against the full-precision embeddings and re-ranked exact. The final
    * `cos` is the EXACT float score; candidate-cut ties break by
    * (sq-cos DESC, vec_id) exactly like the Spark heap, so the refine set
    * is deterministic across engines. */
  def sq8RefineServeSql(k: Int, refineFactor: Int, nLists: Int, dims: Int,
                        scale: Double, nprobe: Int, nProbes: Int): String = {
    val prefix = s"""dimstats AS (
      SELECT t.d,
             min(CAST(embedding[t.d] AS DOUBLE)) AS mn,
             max(CAST(embedding[t.d] AS DOUBLE)) AS mx
      FROM embeddings, range(1, ${dims + 1}) t(d)
      GROUP BY t.d),
    lut AS (
      SELECT list(mn ORDER BY d) AS mn_l,
             list(CASE WHEN mx = mn THEN 0.0 ELSE 255.0 / (mx - mn) END
                  ORDER BY d) AS sc_l,
             list(CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END
                  ORDER BY d) AS iv_l
      FROM dimstats),
    dq AS (
      SELECT e.vec_id,
             list_transform(range(1, ${dims + 1}), dd ->
               mn_l[dd] + greatest(0.0, least(255.0,
                 floor((CAST(e.embedding[dd] AS DOUBLE) - mn_l[dd]) * sc_l[dd])))
               * iv_l[dd]) AS dqv
      FROM embeddings e, lut),"""
    val tail = s""",
    refine AS (
      SELECT probe_id, neighbor_id FROM ranked
      WHERE rank <= ${k * refineFactor}),
    ex AS (
      SELECT r.probe_id, r.neighbor_id,
             round(${dotExpr("a.embedding", "pb.embedding")}
                   / (sqrt(${dotExpr("a.embedding", "a.embedding")})
                      * sqrt(${dotExpr("pb.embedding", "pb.embedding")})), 6)
               AS cos
      FROM refine r
      JOIN a ON a.vec_id = r.neighbor_id
      JOIN pb ON pb.vec_id = r.probe_id),
    refined AS (
      SELECT probe_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM ex WHERE cos IS NOT NULL)
    SELECT probe_id, neighbor_id, cos, rank FROM refined WHERE rank <= $k"""
    multiProbeServeSkeleton(k, nLists, dims, scale, nprobe, nProbes,
      prefixCtes = prefix, candFrom = "a JOIN dq q ON a.vec_id = q.vec_id",
      scoreVec = "q.dqv", tailSql = Some(tail))
  }

  /** q158: FILTERED vector search — the multi-probe batched serve
    * restricted to corpus rows passing a metadata predicate (label =
    * `label`), the filter every production vector store bolts onto kNN
    * ("nearest docs WITH license X / language Y"). Probes stay the
    * unfiltered constant batch; only the candidate side filters, exactly
    * like the Spark plan, where the predicate pushes into the pruned
    * parquet scan (plan-spec-pinned PushedFilters). */
  def filteredKnnServeSql(k: Int, nLists: Int, dims: Int, scale: Double,
                          nprobe: Int, nProbes: Int, label: Int): String =
    multiProbeServeSkeleton(k, nLists, dims, scale, nprobe, nProbes,
      prefixCtes = "",
      candFrom = "a JOIN embeddings ee ON a.vec_id = ee.vec_id",
      scoreVec = "a.embedding",
      extraCandCond = s" AND ee.label = $label")

  /** q159: HYBRID retrieval by reciprocal-rank fusion
    * (Similarity.rrfFuse) — the batched multi-probe vector serve (q155's
    * skeleton, top-`kVec` per probe) merged with the query-global BM25
    * top-`nLex` lexical list (q67's CTEs, doc_id = vec_id by the testdata
    * contract): per (probe, candidate) `rrf_micros =
    * floor(1e6/(kRrf+rank_vec)) + floor(1e6/(kRrf+rank_lex))`, absence
    * contributing 0 — exact integer micro-units, so the fused order never
    * compares accumulated float sums — re-ranked by (rrf_micros DESC,
    * neighbor_id) and cut at `k`. */
  def hybridRrfServeSql(k: Int, kVec: Int, nLex: Int, kRrf: Int,
                        nLists: Int, dims: Int, scale: Double, nprobe: Int,
                        nProbes: Int, terms: Seq[String],
                        k1: Double = 1.2, b: Double = 0.75): String = {
    val tail = s""",
    vtop AS (SELECT probe_id, neighbor_id, rank FROM ranked
             WHERE rank <= $kVec),
    lexr AS (SELECT neighbor_id, rl FROM (
      SELECT doc_id AS neighbor_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rl
      FROM bmscore) WHERE rl <= $nLex),
    lexp AS (SELECT pb.vec_id AS probe_id, lexr.neighbor_id, lexr.rl
             FROM pb, lexr),
    fused AS (
      SELECT COALESCE(v.probe_id, l.probe_id) AS probe_id,
             COALESCE(v.neighbor_id, l.neighbor_id) AS neighbor_id,
             COALESCE(CAST(floor(1000000.0 / ($kRrf + v.rank)) AS BIGINT), 0)
             + COALESCE(CAST(floor(1000000.0 / ($kRrf + l.rl)) AS BIGINT), 0)
               AS rrf_micros
      FROM vtop v FULL OUTER JOIN lexp l
        ON v.probe_id = l.probe_id AND v.neighbor_id = l.neighbor_id),
    fr AS (
      SELECT probe_id, neighbor_id, rrf_micros,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY rrf_micros DESC, neighbor_id) AS rank
      FROM fused)
    SELECT probe_id, neighbor_id, rrf_micros, rank FROM fr WHERE rank <= $k"""
    multiProbeServeSkeleton(kVec, nLists, dims, scale, nprobe, nProbes,
      prefixCtes = bm25Ctes(terms, k1, b) + ",", candFrom = "a",
      scoreVec = "a.embedding", tailSql = Some(tail))
  }

  /** q160: THREE-WAY fusion (Similarity.rrfFuseAll) — q159's hybrid plus a
    * query-global QUALITY prior (q26's score transcription, top-`nQual`):
    * the vector + lexical + prior stack a production retrieval endpoint
    * actually serves. Chained FULL OUTER JOIN ... USING coalesces the keys
    * exactly like Spark's column-list full outer; the three micro-unit
    * reciprocals are integer summands, so addition order cannot drift the
    * fused total. */
  def rrf3ServeSql(k: Int, kVec: Int, nLex: Int, nQual: Int, kRrf: Int,
                   nLists: Int, dims: Int, scale: Double, nprobe: Int,
                   nProbes: Int, terms: Seq[String],
                   k1: Double = 1.2, b: Double = 0.75): String = {
    def rrT(c: String) =
      s"COALESCE(CAST(floor(1000000.0 / ($kRrf + $c)) AS BIGINT), 0)"
    val tail = s""",
    vtop AS (SELECT probe_id, neighbor_id, rank AS rv FROM ranked
             WHERE rank <= $kVec),
    lexr AS (SELECT neighbor_id, rl FROM (
      SELECT doc_id AS neighbor_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rl
      FROM bmscore) WHERE rl <= $nLex),
    lexp AS (SELECT pb.vec_id AS probe_id, lexr.neighbor_id, lexr.rl
             FROM pb, lexr),
    qualr AS (SELECT neighbor_id, rq FROM (
      SELECT doc_id AS neighbor_id,
             row_number() OVER (ORDER BY q DESC, doc_id) AS rq
      FROM (SELECT doc_id, $qualityFromRawSql AS q
            FROM (SELECT doc_id, text, $prawSql AS praw, $srawSql AS sraw
                  FROM documents
                  WHERE text IS NOT NULL AND length(trim(text)) > 0)))
      WHERE rq <= $nQual),
    qualp AS (SELECT pb.vec_id AS probe_id, qualr.neighbor_id, qualr.rq
              FROM pb, qualr),
    f2 AS (SELECT probe_id, neighbor_id, rv, rl
           FROM vtop FULL OUTER JOIN lexp USING (probe_id, neighbor_id)),
    f3 AS (SELECT probe_id, neighbor_id, rv, rl, rq
           FROM f2 FULL OUTER JOIN qualp USING (probe_id, neighbor_id)),
    fused AS (
      SELECT probe_id, neighbor_id,
             ${rrT("rv")} + ${rrT("rl")} + ${rrT("rq")} AS rrf_micros
      FROM f3),
    fr AS (
      SELECT probe_id, neighbor_id, rrf_micros,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY rrf_micros DESC, neighbor_id) AS rank
      FROM fused)
    SELECT probe_id, neighbor_id, rrf_micros, rank FROM fr WHERE rank <= $k"""
    multiProbeServeSkeleton(kVec, nLists, dims, scale, nprobe, nProbes,
      prefixCtes = bm25Ctes(terms, k1, b) + ",", candFrom = "a",
      scoreVec = "a.embedding", tailSql = Some(tail))
  }

  /** q141: the relational skeleton of the multimodal curation pipeline on
    * the embeddings table — component-spike quality gate → pairwise
    * near-dup with the drop-later rule → self-kNN of the survivors. Gate
    * and cosine math mirror the Spark side exactly (identical double casts,
    * LTR dot folds, round 6), so verdicts agree bit-for-bit. */
  def mediaCurationSql(maxComp: Double, threshold: Double,
                       probeMod: Int, k: Int): String = s"""
    WITH gated AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) <= $maxComp),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(${dotExpr("a.embedding", "b.embedding")}
                   / (sqrt(${dotExpr("a.embedding", "a.embedding")})
                      * sqrt(${dotExpr("b.embedding", "b.embedding")})), 6) AS cos
      FROM gated a JOIN gated b ON a.vec_id < b.vec_id),
    dup_b AS (SELECT DISTINCT id_b FROM pairs WHERE cos >= $threshold),
    kept AS (
      SELECT g.vec_id, g.embedding FROM gated g
      LEFT JOIN dup_b d ON g.vec_id = d.id_b WHERE d.id_b IS NULL),
    probe AS (
      SELECT vec_id AS probe_id, embedding AS pv
      FROM kept WHERE vec_id % $probeMod = 0),
    cand AS (
      SELECT p.probe_id, e.vec_id,
             round(${dotExpr("e.embedding", "p.pv")}
                   / (sqrt(${dotExpr("e.embedding", "e.embedding")})
                      * sqrt(${dotExpr("p.pv", "p.pv")})), 6) AS cos
      FROM kept e, probe p
      WHERE e.vec_id <> p.probe_id),
    ranked AS (
      SELECT probe_id, vec_id AS neighbor_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM cand WHERE cos IS NOT NULL)
    SELECT probe_id, neighbor_id, cos, rank FROM ranked WHERE rank <= $k"""

  /** Hard-negative mining oracle (q105): knnJoinSql restricted to candidate
    * pairs whose labels DIFFER (null labels never confirm a mismatch, so
    * they drop — same three-valued `<>` in both engines). */
  def hardNegativesSql(k: Int, probeMod: Int): String = s"""
    WITH probe AS (
      SELECT vec_id AS probe_id, embedding AS pv, label AS pl
      FROM embeddings WHERE vec_id % $probeMod = 0),
    cand AS (
      SELECT p.probe_id, e.vec_id,
             round(${dotExpr("e.embedding", "p.pv")}
                   / (sqrt(${dotExpr("e.embedding", "e.embedding")})
                      * sqrt(${dotExpr("p.pv", "p.pv")})), 6) AS cos
      FROM embeddings e, probe p
      WHERE e.label <> p.pl),
    ranked AS (
      SELECT probe_id, vec_id AS neighbor_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM cand WHERE cos IS NOT NULL)
    SELECT probe_id, neighbor_id, cos, rank FROM ranked WHERE rank <= $k"""

  /** IVF-blocked batch kNN join oracle: every vector gets the ivfAssignSql
    * d²/CASE-argmin list, candidates must share the probe's list (nprobe=1
    * blocking), then the same per-probe row_number rank as knnJoinSql. */
  def ivfKnnJoinSql(k: Int, nLists: Int, dims: Int, probeMod: Int): String = {
    val planes = graft.operators.Similarity.hyperplanes(nLists, dims)
    val d2 = planes.zipWithIndex.map { case (c, i) =>
      val ss = c.map(x => x * x).sum
      s"(${dotExpr("embedding", "embedding")} - 2.0 * (${planeDotSql("embedding", i, dims)}) + $ss) AS d$i"
    }.mkString(",\n             ")
    val cases = (0 until nLists).map { i =>
      val conds = ((i + 1) until nLists).map(j => s"d$i <= d$j")
      if (conds.isEmpty) s"ELSE $i" else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString("\n           ")
    s"""
    WITH d AS (
      SELECT vec_id, embedding, $d2
      FROM embeddings),
    a AS (SELECT vec_id, embedding, CASE $cases END AS ivf_list FROM d),
    probe AS (
      SELECT vec_id AS probe_id, embedding AS pv, ivf_list
      FROM a WHERE vec_id % $probeMod = 0),
    cand AS (
      SELECT p.probe_id, e.vec_id,
             round(${dotExpr("e.embedding", "p.pv")}
                   / (sqrt(${dotExpr("e.embedding", "e.embedding")})
                      * sqrt(${dotExpr("p.pv", "p.pv")})), 6) AS cos
      FROM a e JOIN probe p ON e.ivf_list = p.ivf_list
      WHERE e.vec_id <> p.probe_id),
    ranked AS (
      SELECT probe_id, vec_id AS neighbor_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM cand WHERE cos IS NOT NULL)
    SELECT probe_id, neighbor_id, cos, rank FROM ranked WHERE rank <= $k"""
  }

  /** PQ code assignment: per subspace, the same d² + CASE-argmin construction
    * as ivfAssignSql, over the embedding slice for that subspace. */
  /** Per-(subspace, centroid) squared-distance columns d{m}_{i} of
    * `vecExpr` against the PQ codebook literals — shared by the assignment
    * and ADC oracles. */
  private def pqDistCols(numSub: Int, ksub: Int, subDims: Int,
                         vecExpr: String): String =
    (for { m <- 0 until numSub; i <- 0 until ksub } yield {
      val off = m * subDims
      val c = graft.operators.Similarity.pqCodebooks(numSub, ksub, subDims)(m)(i)
      val ss = c.map(x => x * x).sum
      val sliceStr = s"$vecExpr[${off + 1}:${off + subDims}]"
      val cdot = (0 until subDims)
        .map(d => s"CAST($vecExpr[${off + d + 1}] AS DOUBLE) * ${c(d)}").mkString(" + ")
      s"(${dotExpr(sliceStr, sliceStr)} - 2.0 * ($cdot) + $ss) AS d${m}_$i"
    }).mkString(",\n             ")

  /** code{m} argmin CASEs over pqDistCols (low index wins ties), NULL for
    * vectors shorter than the PQ geometry — as pqAssign. */
  private def pqCodeCases(numSub: Int, ksub: Int, subDims: Int): String =
    (0 until numSub).map { m =>
      val cases = (0 until ksub).map { i =>
        val conds = ((i + 1) until ksub).map(j => s"d${m}_$i <= d${m}_$j")
        if (conds.isEmpty) s"ELSE $i" else s"WHEN ${conds.mkString(" AND ")} THEN $i"
      }.mkString("\n           ")
      s"CASE WHEN len(embedding) >= ${numSub * subDims} THEN (CASE $cases END) END AS code$m"
    }.mkString(",\n           ")

  def pqAssignSql(numSub: Int, ksub: Int, subDims: Int): String = s"""
    WITH d AS (
      SELECT vec_id, embedding, ${pqDistCols(numSub, ksub, subDims, "embedding")}
      FROM embeddings)
    SELECT vec_id, ${pqCodeCases(numSub, ksub, subDims)}
    FROM d"""

  /** lut{m} list columns of probe-vs-codebook subspace distances over probe
    * column `q` — shared by the ADC oracles. */
  private def pqLutSqlCols(numSub: Int, ksub: Int, subDims: Int): String = {
    val books = graft.operators.Similarity.pqCodebooks(numSub, ksub, subDims)
    (0 until numSub).map { m =>
      val off = m * subDims
      val sliceStr = s"q[${off + 1}:${off + subDims}]"
      val entries = (0 until ksub).map { i =>
        val c = books(m)(i)
        val ss = c.map(x => x * x).sum
        val cdot = (0 until subDims)
          .map(d => s"CAST(q[${off + d + 1}] AS DOUBLE) * ${c(d)}").mkString(" + ")
        s"${dotExpr(sliceStr, sliceStr)} - 2.0 * ($cdot) + $ss"
      }.mkString(", ")
      s"list_value($entries) AS lut$m"
    }.mkString(",\n           ")
  }

  private def adcDistSql(numSub: Int): String =
    (0 until numSub).map(m => s"lut$m[code$m + 1]").mkString(" + ")

  /** PQ ADC top-k (q121): probe-vs-codebook distance table computed once in
    * a 1-row CTE (mirrors the broadcast LUT frame), corpus rows pay list
    * lookups + adds only. */
  def pqAdcTopkSql(numSub: Int, ksub: Int, subDims: Int, probeId: Long,
                   k: Int): String = {
    val dist = adcDistSql(numSub)
    s"""
    WITH pd AS (
      SELECT vec_id, embedding, ${pqDistCols(numSub, ksub, subDims, "embedding")}
      FROM embeddings WHERE vec_id <> $probeId),
    codes AS (SELECT vec_id, ${pqCodeCases(numSub, ksub, subDims)} FROM pd),
    probe AS (SELECT embedding AS q FROM embeddings WHERE vec_id = $probeId),
    lut AS (SELECT ${pqLutSqlCols(numSub, ksub, subDims)} FROM probe)
    SELECT vec_id, $dist AS adc_d2
    FROM codes, lut
    WHERE $dist IS NOT NULL
    ORDER BY adc_d2, vec_id LIMIT $k"""
  }

  /** IVF-pruned ADC top-k (q122): coarse assignment + probe-list choice as
    * ivfTopkSql, then the ADC rank over the pruned lists only. */
  def ivfPqTopkSql(nLists: Int, dims: Int, nprobe: Int, numSub: Int,
                   ksub: Int, subDims: Int, probeId: Long, k: Int): String = {
    val planes = graft.operators.Similarity.hyperplanes(nLists, dims)
    val d2cols = planes.zipWithIndex.map { case (c, i) =>
      val ss = c.map(x => x * x).sum
      s"(${dotExpr("embedding", "embedding")} - 2.0 * (${planeDotSql("embedding", i, dims)}) + $ss) AS iv$i"
    }.mkString(",\n             ")
    val cases = (0 until nLists).map { i =>
      val conds = ((i + 1) until nLists).map(j => s"iv$i <= iv$j")
      if (conds.isEmpty) s"ELSE $i" else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString("\n           ")
    val probeCase = (0 until nLists).map(i => s"WHEN $i THEN iv$i").mkString(" ")
    val dist = adcDistSql(numSub)
    s"""
    WITH iv AS (
      SELECT vec_id, embedding, $d2cols
      FROM embeddings),
    a AS (SELECT vec_id, embedding, CASE $cases END AS ivf_list,
                 ${(0 until nLists).map(i => s"iv$i").mkString(", ")}
          FROM iv),
    qrow AS (SELECT * FROM a WHERE vec_id = $probeId),
    probes AS (
      SELECT t.i FROM qrow, (VALUES ${(0 until nLists).map(i => s"($i)").mkString(",")}) t(i)
      ORDER BY CASE t.i $probeCase END, t.i
      LIMIT $nprobe),
    pruned AS (
      SELECT vec_id, embedding FROM a
      WHERE vec_id <> $probeId AND ivf_list IN (SELECT i FROM probes)),
    pd AS (
      SELECT vec_id, embedding, ${pqDistCols(numSub, ksub, subDims, "embedding")}
      FROM pruned),
    codes AS (SELECT vec_id, ${pqCodeCases(numSub, ksub, subDims)} FROM pd),
    probe AS (SELECT embedding AS q FROM embeddings WHERE vec_id = $probeId),
    lut AS (SELECT ${pqLutSqlCols(numSub, ksub, subDims)} FROM probe)
    SELECT vec_id, $dist AS adc_d2
    FROM codes, lut
    WHERE $dist IS NOT NULL
    ORDER BY adc_d2, vec_id LIMIT $k"""
  }

  /** Lloyd k-means transcription, CTE chain per round: assignment = LTR
    * per-dim fold (list_sum), update = exact DECIMAL(25,10) means — mirrors
    * Clustering.kmeansLloyd op for op (see its determinism notes). Returns
    * the full CTE body (no WITH) ending in a$iters(vec_id, cluster), shared
    * by the plain k-means query and the semantic-dedup composition. */
  private def kmeansCtes(k: Int, iters: Int, dims: Int): String =
    kmeansCtesExpr(k.toString, iters, dims)

  /** As [[kmeansCtes]] but k is an arbitrary SQL expression (used by the
    * auto-k SemDeDup oracle, where k derives from count(*) exactly as
    * Clustering.autoK does). DuckDB accepts a scalar subquery in LIMIT. */
  private def kmeansCtesExpr(kExpr: String, iters: Int, dims: Int): String = {
    def assignCtes(r: Int, cPrev: String): String = s"""
    d$r AS (
      SELECT e.vec_id, $cPrev.cluster,
             list_sum(list_transform(range(1, ${dims + 1}),
               i -> (CAST(e.embedding[i] AS DOUBLE) - $cPrev.c[i])
                    * (CAST(e.embedding[i] AS DOUBLE) - $cPrev.c[i]))) AS d2
      FROM e CROSS JOIN $cPrev),
    a$r AS (
      SELECT vec_id, cluster, d2 FROM (
        SELECT vec_id, cluster, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        FROM d$r) WHERE rn = 1)"""
    def updateCtes(r: Int): String = s"""
    u$r AS (
      SELECT cluster, dim, CAST(SUM(val) AS DOUBLE) / COUNT(*) AS cd
      FROM (SELECT a$r.cluster, t.i AS dim, CAST(e.embedding[t.i] AS DECIMAL(25,10)) AS val
            FROM e JOIN a$r USING (vec_id), range(1, ${dims + 1}) t(i))
      GROUP BY cluster, dim),
    c$r AS (SELECT cluster, list(cd ORDER BY dim) AS c FROM u$r GROUP BY cluster)"""
    val rounds = (1 to iters).map { r =>
      val prev = if (r == 1) "c0" else s"c${r - 1}"
      assignCtes(r, prev) + (if (r < iters) "," + updateCtes(r) else "")
    }.mkString(",")
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
    c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
           FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $kExpr)),$rounds"""
  }

  def kmeansSql(k: Int, iters: Int, dims: Int): String = s"""
    WITH ${kmeansCtes(k, iters, dims)}
    SELECT vec_id, cluster FROM a$iters"""

  /** Centroid-outlier (prototypicality) report: final k-means assignment
    * with its d² to the assigned centroid in integer micro-units
    * (floor(d²·10⁶) — IEEE-exact, unlike decimal rounding of a double),
    * flagged against the per-cluster q-th DISCRETE percentile. */
  def centroidOutliersSql(k: Int, iters: Int, dims: Int, q: Double): String = s"""
    WITH ${kmeansCtes(k, iters, dims)},
    wd AS (SELECT vec_id, cluster,
                  CAST(floor(d2 * 1000000.0) AS BIGINT) AS d2_micro
           FROM a$iters),
    b AS (SELECT cluster, quantile_disc(d2_micro, $q) AS hi FROM wd GROUP BY cluster)
    SELECT wd.vec_id, wd.cluster, wd.d2_micro, wd.d2_micro > b.hi AS is_outlier
    FROM wd JOIN b USING (cluster)"""

  /** SemDeDup-style composition (Abbas et al. 2023): k-means as the blocking
    * function, exact cosine pairs WITHIN clusters only. Same cosine formula
    * as nearDupSql. k mirrors Clustering.autoK — derived from count(*) with
    * the same ceiling-division formula, so the oracle tracks the engine at
    * ANY scale factor instead of pinning the sf0.01 value. */
  def semanticDedupAutoKSql(targetClusterSize: Long, kMin: Int, iters: Int,
                            dims: Int, threshold: Double): String =
    semanticDedupBody(
      s"(SELECT GREATEST($kMin, CAST(ceil(count(*) / $targetClusterSize.0) AS BIGINT)) FROM embeddings)",
      iters, dims, threshold)

  def semanticDedupSql(k: Int, iters: Int, dims: Int, threshold: Double): String =
    semanticDedupBody(k.toString, iters, dims, threshold)

  private def semanticDedupBody(kExpr: String, iters: Int, dims: Int,
                                threshold: Double): String = s"""
    WITH ${kmeansCtesExpr(kExpr, iters, dims)},
    lbl AS (SELECT e.vec_id, e.embedding, a$iters.cluster
            FROM e JOIN a$iters USING (vec_id)),
    p AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.cluster,
             round(${dotExpr("x.embedding", "y.embedding")}
                   / (sqrt(${dotExpr("x.embedding", "x.embedding")})
                      * sqrt(${dotExpr("y.embedding", "y.embedding")})), 6) AS cos
      FROM lbl x JOIN lbl y ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
    SELECT id_a, id_b, cluster, cos FROM p WHERE cos >= $threshold"""

  /** CTE chain ending in lid(doc_id, lang, lang_pred) — shared by the langid
    * query and the clean-corpus composition. */
  private def langIdCtes: String = {
    val langs = Seq("en", "de", "fr", "es")
    val hitCols = langs.map(l =>
      s"len(list_filter(toks, x -> x IN (${stopList(l)}))) AS h_$l").mkString(",\n             ")
    val cases = langs.map(l => s"WHEN best > 0 AND h_$l = best THEN '$l'").mkString("\n           ")
    s"""lt AS (
      SELECT doc_id, lang,
             list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x)) AS toks
      FROM documents),
    lh AS (SELECT doc_id, lang, $hitCols
           FROM lt),
    lg AS (SELECT doc_id, lang, h_en, h_de, h_fr, h_es,
                  greatest(h_en, h_de, h_fr, h_es) AS best FROM lh),
    lid AS (SELECT doc_id, lang,
                   CASE $cases
                   ELSE 'und' END AS lang_pred
            FROM lg)"""
  }

  def langIdSql: String =
    s"""
    WITH $langIdCtes
    SELECT doc_id, lang, lang_pred FROM lid"""

  /** DuckDB equivalents of the TF.qualityScore components — ONE
    * transcription each, shared by the q26 and q63 oracles. */
  def prawSql: String =
    "CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)"
  def srawSql: String =
    s"CAST(len(list_filter(list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x)), " +
      s"x -> x IN ($enStop))) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+'))"
  def qualityFromRawSql: String =
    "round(least(length(text) / 500.0, 1.0) * 0.4 + least(sraw * 4.0, 1.0) * 0.4" +
      " + (1.0 - least(praw * 4.0, 1.0)) * 0.2, 6)"

  // ---- Corpus-statistics oracles (TextStats / Sampling round-3 ops) --------

  /** Non-empty whitespace tokens of documents.text — matches TF.tokens over
    * non-null, non-blank docs (the domain every TextStats op filters to). */
  private def toksCteFrom(source: String): String = s"""
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM $source WHERE text IS NOT NULL AND length(trim(text)) > 0)"""
  private val toksCte: String = toksCteFrom("documents")

  /** The q161 deterministic overlay-fold rules as reusable CTEs ending in
    * `folded(doc_id, text)` — the LOGICAL corpus the lake serves between
    * mutations and their fold: doc_id ≡ 3 (mod 11) re-written upper-case,
    * ≡ 0 (mod 97) also inserted under id+10⁶, ≡ 5 (mod 13) purged. Shared
    * by every oracle that states a lake serve's overlay semantics in pure
    * form (q169 proximity, q171 PRF). */
  private val overlayFoldCtes: String = """
    edits AS (
      SELECT doc_id, upper(text) AS text FROM documents WHERE doc_id % 11 = 3
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             'inserted:' || CAST(doc_id AS VARCHAR) AS text
      FROM documents WHERE doc_id % 97 = 0
    ), tomb AS (
      SELECT doc_id FROM documents WHERE doc_id % 13 = 5
    ), folded0 AS (
      SELECT a.doc_id, a.text FROM documents a
      WHERE NOT EXISTS (SELECT 1 FROM edits e WHERE e.doc_id = a.doc_id)
      UNION ALL
      SELECT doc_id, text FROM edits
    ), folded AS (
      SELECT f.doc_id, f.text FROM folded0 f
      WHERE NOT EXISTS (SELECT 1 FROM tomb t WHERE t.doc_id = f.doc_id))"""

  /** Word-bigram MULTISET (duplicates kept) — the DuckDB transcription of
    * TF.shinglesAll(_, 2). ONE copy of the gram generation, shared by every
    * oracle that consumes raw bigrams (repetition, vocabulary mining). */
  private val bigramMultisetCte: String = """
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents))"""

  def repetitionSql: String = s"""
    WITH $bigramMultisetCte
    SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT g) AS n_distinct,
           round(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6) AS dup_frac
    FROM g GROUP BY doc_id"""

  /** Corpus-wide most-frequent word bigrams (q74). */
  def ngramVocabSql(limit: Int): String = s"""
    WITH $bigramMultisetCte
    SELECT g AS gram, COUNT(*) AS n FROM g GROUP BY gram
    ORDER BY n DESC, gram LIMIT $limit"""

  def tfidfSql(k: Int): String = s"""
    WITH $toksCte,
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
    sc AS (
      SELECT doc_id, term, round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
    r AS (SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
          FROM sc)
    SELECT doc_id, term, tfidf, rank FROM r WHERE rank <= $k"""

  /** The BM25 computation as a reusable CTE chain ending in
    * `bmscore(doc_id, bm25)` — shared by the standalone q67 statement and
    * the hybrid-fusion oracle (q159), which composes it with the vector
    * serving skeleton in one WITH. */
  private def bm25Ctes(terms: Seq[String], k1: Double, b: Double): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val sCols = terms.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN term = '$t' THEN sc END) AS s$i"
    }.mkString(",\n             ")
    val total = terms.indices.map(i => s"coalesce(s$i, 0.0)").mkString(" + ")
    s"""$toksCte,
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN ($termList) GROUP BY doc_id, term),
    tfd AS (SELECT tf.doc_id, tf.term, tf.tf, df.df
            FROM tf JOIN (SELECT term, COUNT(*) AS df FROM tf GROUP BY term) df USING (term)),
    sc AS (
      SELECT dl.doc_id, tfd.term,
             ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
             * ((tf * CAST(${k1 + 1} AS DOUBLE)) / (tf + $k1 * (${1 - b} + $b * (dl / (CAST(total_dl AS DOUBLE) / n_docs))))) AS sc
      FROM dl LEFT JOIN tfd ON tfd.doc_id = dl.doc_id CROSS JOIN stats),
    agg AS (SELECT doc_id, $sCols
            FROM sc GROUP BY doc_id),
    bmscore AS (SELECT doc_id, round($total, 6) AS bm25 FROM agg)"""
  }

  /** BM25 with per-term CASE columns summed in fixed order — the same
    * left-to-right double addition as TextStats.bm25's reduceLeft. */
  def bm25Sql(terms: Seq[String], k1: Double, b: Double): String = s"""
    WITH ${bm25Ctes(terms, k1, b)}
    SELECT doc_id, bm25 FROM bmscore"""

  /** The per-query BM25 chain as reusable CTEs ending in
    * `lexranked(probe_id, doc_id, bm25_micros, rank)` with rank <= n —
    * shared by the standalone q162 statement and the per-probe hybrid
    * fusion (q163). CTE names are disjoint from multiProbeServeSkeleton's
    * so the two compose in one WITH. Per-(doc, term) scores convert to
    * exact integer micros BEFORE the per-query sum (order-independent);
    * the per-term score expression is the bm25Ctes formula verbatim; SUM
    * over BIGINT is cast back from DuckDB's HUGEINT. */
  private def bm25PerQueryCtes(queries: Seq[(Long, Seq[String])], n: Int,
                               k1: Double, b: Double,
                               source: String = "documents"): String = {
    // the terms interpolate into SQL string literals — the same character
    // guard TextStats.bm25 applies to its generated column names, so a
    // quote can neither break nor inject into the oracle statement
    require(queries.forall(_._2.forall(_.matches("[A-Za-z0-9_-]+"))),
      s"query terms must be [A-Za-z0-9_-]+: ${queries.flatMap(_._2)}")
    val values = queries.map { case (id, ts) =>
      s"($id, [${ts.map(t => s"'$t'").mkString(", ")}])"
    }.mkString(",\n             ")
    s"""${toksCteFrom(source)},
    q AS (SELECT DISTINCT probe_id, term FROM (
      SELECT probe_id, unnest(terms) AS term
      FROM (VALUES $values) v(probe_id, terms))),
    ldl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    lstats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM ldl),
    ltf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
            WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
    ldf AS (SELECT term, COUNT(*) AS df FROM ltf GROUP BY term),
    posted AS (
      SELECT ltf.term, ltf.doc_id,
             CAST(round(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
               * ((tf * CAST(${k1 + 1} AS DOUBLE)) / (tf + $k1 * (${1 - b} + $b * (dl / (CAST(total_dl AS DOUBLE) / n_docs)))))
               * 1000000.0, 0) AS BIGINT) AS s_micros
      FROM ltf JOIN ldf USING (term) JOIN ldl USING (doc_id) CROSS JOIN lstats),
    lsc AS (SELECT probe_id, doc_id, CAST(SUM(s_micros) AS BIGINT) AS bm25_micros
            FROM posted JOIN q USING (term) GROUP BY probe_id, doc_id),
    lexranked AS (SELECT * FROM (
      SELECT probe_id, doc_id, bm25_micros,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY bm25_micros DESC, doc_id) AS rank
      FROM lsc) WHERE rank <= $n)"""
  }

  /** PER-QUERY BM25 (TextStats.bm25PerQuery): the posting-list join over a
    * fixed query batch — see [[bm25PerQueryCtes]]. */
  def bm25PerQuerySql(queries: Seq[(Long, Seq[String])], n: Int,
                      k1: Double, b: Double): String = s"""
    WITH ${bm25PerQueryCtes(queries, n, k1, b)}
    SELECT probe_id, doc_id, bm25_micros, rank FROM lexranked"""

  /** q167: exact phrase match (TextStats.phraseMatch). The oracle takes the
    * window-equality form (a k-token window's joined text equals the
    * phrase literal — the windowCtes idiom), which is definitionally the
    * same predicate as the engine's positional adjacency join. */
  def phraseMatchSql(phrase: Seq[String]): String = {
    require(phrase.nonEmpty && phrase.forall(_.matches("[A-Za-z0-9_-]+")),
      s"phrase tokens must be [A-Za-z0-9_-]+: $phrase")
    val k = phrase.size
    s"""
    WITH b AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    w AS (SELECT doc_id, s, t FROM (
            SELECT doc_id, t, unnest(range(1, len(t) - ${k - 1} + 1)) AS s
            FROM b WHERE len(t) >= $k))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS occurrences
    FROM w WHERE array_to_string(t[s:s + ${k - 1}], ' ') = '${phrase.mkString(" ")}'
    GROUP BY doc_id"""
  }

  /** q168: windowed proximity co-occurrence (TextStats.proximityPairs) —
    * per doc, position pairs of the two terms within w tokens. The oracle
    * is the naive positional self-join with the ABS band predicate; the
    * engine's bucket-blocked equi-join computes the identical pair set. */
  def proximityPairsSql(termA: String, termB: String, w: Int): String = {
    require(Seq(termA, termB).forall(_.matches("[A-Za-z0-9_-]+")),
      s"terms must be [A-Za-z0-9_-]+: $termA, $termB")
    val selfEx = if (termA == termB) "AND pa.pos <> pb.pos" else ""
    s"""
    WITH b AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    p AS (SELECT doc_id, u.term, u.pos
          FROM b, LATERAL (SELECT unnest(t) AS term,
                                  generate_subscripts(t, 1) AS pos) u)
    SELECT pa.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM (SELECT doc_id, pos FROM p WHERE term = '$termA') pa
    JOIN (SELECT doc_id, pos FROM p WHERE term = '$termB') pb
      ON pa.doc_id = pb.doc_id AND abs(pa.pos - pb.pos) <= $w $selfEx
    GROUP BY 1"""
  }

  /** q169: windowed proximity over the LOGICAL (overlay-folded) corpus —
    * the pure oracle form of [[graft.domain.LexLake.proximityServeBatch]]'s
    * per-probe semantics: the q161 deterministic edit/insert/tombstone
    * rules fold the corpus first, then [[proximityPairsSql]]'s naive band
    * join runs over the folded rows (the engine's bucket-blocked equi-join
    * computes the identical pair set over the same fold). */
  def proximityOverlaySql(termA: String, termB: String, w: Int): String = {
    require(Seq(termA, termB).forall(_.matches("[A-Za-z0-9_-]+")),
      s"terms must be [A-Za-z0-9_-]+: $termA, $termB")
    val selfEx = if (termA == termB) "AND pa.pos <> pb.pos" else ""
    s"""
    WITH $overlayFoldCtes, b AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM folded WHERE text IS NOT NULL AND length(trim(text)) > 0),
    p AS (SELECT doc_id, u.term, u.pos
          FROM b, LATERAL (SELECT unnest(t) AS term,
                                  generate_subscripts(t, 1) AS pos) u)
    SELECT pa.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM (SELECT doc_id, pos FROM p WHERE term = '$termA') pa
    JOIN (SELECT doc_id, pos FROM p WHERE term = '$termB') pb
      ON pa.doc_id = pb.doc_id AND abs(pa.pos - pb.pos) <= $w $selfEx
    GROUP BY 1"""
  }

  /** q170: the multi-term proximity MATRIX (TextStats.proximityMatrix) —
    * corpus totals of within-w position pairs for every unordered pair of
    * distinct query terms. The oracle is the naive positional join with
    * the band + term-order predicates; the engine's 3×-replicated
    * bucket-blocked equi-join computes the identical matrix. */
  def proximityMatrixSql(terms: Seq[String], w: Int): String = {
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9_-]+")),
      s"terms must be [A-Za-z0-9_-]+: $terms")
    val termList = terms.distinct.map(t => s"'$t'").mkString(", ")
    s"""
    WITH b AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    p AS (SELECT doc_id, u.term, u.pos
          FROM b, LATERAL (SELECT unnest(t) AS term,
                                  generate_subscripts(t, 1) AS pos) u
          WHERE u.term IN ($termList))
    SELECT pa.term AS term_a, pb.term AS term_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p pa JOIN p pb
      ON pa.doc_id = pb.doc_id AND pa.term < pb.term
     AND abs(pa.pos - pb.pos) <= $w
    GROUP BY 1, 2"""
  }

  /** [[overlayFoldCtes]] as a WITH-prefix — q171 composes it with
    * [[bm25PrfSql]] (source = "folded") to state
    * [[graft.domain.LexLake.prfServe]]'s overlay semantics in pure form. */
  def overlayFoldPrefix: String = overlayFoldCtes + ","

  /** q173: BEST PASSAGE WINDOW (TextStats.bestPassageWindow) — per doc,
    * the max distinct query terms covered by any width-w window anchored
    * at a query-term position. The oracle is the naive one-sided band
    * join; the engine's 2×-replicated bucket-blocked equi-join computes
    * the identical maxima. */
  def bestPassageWindowSql(terms: Seq[String], w: Int): String = {
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9_-]+")),
      s"terms must be [A-Za-z0-9_-]+: $terms")
    val termList = terms.distinct.map(t => s"'$t'").mkString(", ")
    s"""
    WITH b AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    p AS (SELECT doc_id, u.term, u.pos
          FROM b, LATERAL (SELECT unnest(t) AS term,
                                  generate_subscripts(t, 1) AS pos) u
          WHERE u.term IN ($termList)),
    win AS (SELECT st.doc_id, st.pos AS s,
                   COUNT(DISTINCT q.term) AS nt
            FROM p st JOIN p q
              ON q.doc_id = st.doc_id
             AND q.pos >= st.pos AND q.pos < st.pos + $w
            GROUP BY 1, 2)
    SELECT doc_id, CAST(MAX(nt) AS BIGINT) AS best_window_terms
    FROM win GROUP BY 1"""
  }

  /** q174: BATCHED exact phrase occurrences (TextStats.phraseMatchBatch —
    * [[graft.domain.LexLake.phraseServeBatch]]'s pure twin): per probe,
    * [[phraseMatchSql]]'s window-equality predicate with the probe id
    * carried, stated as one UNION ALL over the batch (phrase lengths
    * differ per probe, so each branch scopes its own window CTEs). */
  def phraseMatchBatchSql(probes: Seq[(Long, Seq[String])]): String = {
    require(probes.nonEmpty, "probes must be non-empty")
    probes.map { case (id, phrase) =>
      require(phrase.nonEmpty && phrase.forall(_.matches("[A-Za-z0-9_-]+")),
        s"phrase tokens must be [A-Za-z0-9_-]+: $phrase")
      val k = phrase.size
      s"""SELECT CAST($id AS BIGINT) AS probe_id, doc_id, occurrences FROM (
      WITH b AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      w AS (SELECT doc_id, s, t FROM (
              SELECT doc_id, t, unnest(range(1, len(t) - ${k - 1} + 1)) AS s
              FROM b WHERE len(t) >= $k))
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS occurrences
      FROM w WHERE array_to_string(t[s:s + ${k - 1}], ' ') = '${phrase.mkString(" ")}'
      GROUP BY doc_id)"""
    }.mkString("\n    UNION ALL\n    ")
  }

  /** q175: BATCHED windowed proximity (TextStats.proximityPairsBatch —
    * [[graft.domain.LexLake.proximityServeBatch]]'s pure twin): per probe,
    * [[proximityPairsSql]]'s naive ABS band join with the probe id
    * carried, one UNION ALL over the batch. */
  def proximityPairsBatchSql(probes: Seq[(Long, String, String)],
                             w: Int): String = {
    require(probes.nonEmpty, "probes must be non-empty")
    probes.map { case (id, termA, termB) =>
      require(Seq(termA, termB).forall(_.matches("[A-Za-z0-9_-]+")),
        s"terms must be [A-Za-z0-9_-]+: $termA, $termB")
      val selfEx = if (termA == termB) "AND pa.pos <> pb.pos" else ""
      s"""SELECT CAST($id AS BIGINT) AS probe_id, doc_id, n_pairs FROM (
      WITH b AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      p AS (SELECT doc_id, u.term, u.pos
            FROM b, LATERAL (SELECT unnest(t) AS term,
                                    generate_subscripts(t, 1) AS pos) u)
      SELECT pa.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM (SELECT doc_id, pos FROM p WHERE term = '$termA') pa
      JOIN (SELECT doc_id, pos FROM p WHERE term = '$termB') pb
        ON pa.doc_id = pb.doc_id AND abs(pa.pos - pb.pos) <= $w $selfEx
      GROUP BY 1)"""
    }.mkString("\n    UNION ALL\n    ")
  }

  /** q176: BATCHED best passage window (TextStats.bestPassageWindowBatch —
    * [[graft.domain.LexLake.passageServeBatch]]'s pure twin): per probe,
    * [[bestPassageWindowSql]]'s one-sided band join with the probe id
    * carried, one UNION ALL over the batch. */
  def bestPassageWindowBatchSql(probes: Seq[(Long, Seq[String])],
                                w: Int): String = {
    require(probes.nonEmpty, "probes must be non-empty")
    probes.map { case (id, terms) =>
      require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9_-]+")),
        s"terms must be [A-Za-z0-9_-]+: $terms")
      val termList = terms.distinct.map(t => s"'$t'").mkString(", ")
      s"""SELECT CAST($id AS BIGINT) AS probe_id, doc_id, best_window_terms FROM (
      WITH b AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      p AS (SELECT doc_id, u.term, u.pos
            FROM b, LATERAL (SELECT unnest(t) AS term,
                                    generate_subscripts(t, 1) AS pos) u
            WHERE u.term IN ($termList)),
      win AS (SELECT st.doc_id, st.pos AS s,
                     COUNT(DISTINCT q.term) AS nt
              FROM p st JOIN p q
                ON q.doc_id = st.doc_id
               AND q.pos >= st.pos AND q.pos < st.pos + $w
              GROUP BY 1, 2)
      SELECT doc_id, CAST(MAX(nt) AS BIGINT) AS best_window_terms
      FROM win GROUP BY 1)"""
    }.mkString("\n    UNION ALL\n    ")
  }

  /** q177: PROXIMITY-WEIGHTED BM25 ranking (TextStats.bm25ProximityRank —
    * [[graft.domain.LexLake.proximityRankServe]]'s pure twin): per probe,
    * the unranked BM25 sums (the bm25PerQueryCtes `lsc` stage) plus a
    * bonus of round(proxWeight·ln(1+n_pairs)·10⁶) per unordered pair of
    * the probe's distinct terms within `w` tokens, ranked top-`n` by
    * (score desc, doc_id). The pair counts are the naive ABS band join;
    * the engine's bucket-blocked equi-join computes the identical
    * matrix. */
  def bm25ProximityRankSql(queries: Seq[(Long, Seq[String])], n: Int, w: Int,
                           k1: Double, b: Double,
                           proxWeight: Double): String = s"""
    WITH ${bm25PerQueryCtes(queries, n, k1, b)},
    qp AS (SELECT a.probe_id, a.term AS term_a, b.term AS term_b
           FROM q a JOIN q b ON a.probe_id = b.probe_id AND a.term < b.term),
    ppos AS (SELECT doc_id, u.term, u.pos
             FROM (SELECT doc_id,
                          regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM documents
                   WHERE text IS NOT NULL AND length(trim(text)) > 0) bb,
                  LATERAL (SELECT unnest(t) AS term,
                                  generate_subscripts(t, 1) AS pos) u
             WHERE u.term IN (SELECT term FROM q)),
    pc AS (SELECT pa.doc_id, pa.term AS term_a, pb.term AS term_b,
                  COUNT(*) AS n_pairs
           FROM ppos pa JOIN ppos pb
             ON pa.doc_id = pb.doc_id AND pa.term < pb.term
            AND abs(pa.pos - pb.pos) <= $w
           GROUP BY 1, 2, 3),
    bst AS (SELECT qp.probe_id, pc.doc_id,
                   CAST(SUM(CAST(round(ln(1.0 + pc.n_pairs)
                     * ${proxWeight * 1000000.0}, 0) AS BIGINT)) AS BIGINT)
                     AS prox_micros
            FROM pc JOIN qp
              ON pc.term_a = qp.term_a AND pc.term_b = qp.term_b
            GROUP BY 1, 2),
    fin AS (SELECT lsc.probe_id, lsc.doc_id,
                   CAST(lsc.bm25_micros + COALESCE(bst.prox_micros, 0)
                     AS BIGINT) AS score_micros
            FROM lsc LEFT JOIN bst
              ON lsc.probe_id = bst.probe_id AND lsc.doc_id = bst.doc_id)
    SELECT probe_id, doc_id, score_micros, rank FROM (
      SELECT probe_id, doc_id, score_micros,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY score_micros DESC, doc_id) AS rank
      FROM fin) WHERE rank <= $n"""

  /** q166: pseudo-relevance-feedback query EXPANSION
    * (TextStats.bm25PrfExpand, RM3-style simplified to expand-and-requery):
    * stage 1 = the per-query BM25 top-fbDocs (bm25PerQueryCtes with
    * n = fbDocs), expansion weights = Σ_d floor(tf·10⁶/dl) over the
    * feedback docs with the probe's own terms excluded, top-fbTerms by
    * (weight desc, term asc) union the original terms, stage 2 rescores
    * the expanded term sets with the identical scoring chain. */
  def bm25PrfSql(queries: Seq[(Long, Seq[String])], n: Int,
                 fbDocs: Int, fbTerms: Int,
                 k1: Double, b: Double,
                 source: String = "documents",
                 prefixCtes: String = ""): String = s"""
    WITH $prefixCtes${bm25PerQueryCtes(queries, fbDocs, k1, b, source)},
    fb AS (SELECT probe_id, doc_id FROM lexranked),
    fbtf AS (SELECT t.doc_id, t.term, COUNT(*) AS tf FROM toks t
             WHERE t.doc_id IN (SELECT doc_id FROM fb) GROUP BY 1, 2),
    fw AS (SELECT fb.probe_id, fbtf.term,
                  CAST(SUM(CAST(floor(fbtf.tf * 1000000.0 / ldl.dl)
                    AS BIGINT)) AS BIGINT) AS w_micros
           FROM fb JOIN fbtf ON fb.doc_id = fbtf.doc_id
                JOIN ldl ON fbtf.doc_id = ldl.doc_id
           WHERE NOT EXISTS (SELECT 1 FROM q
                             WHERE q.probe_id = fb.probe_id
                               AND q.term = fbtf.term)
           GROUP BY 1, 2),
    expn AS (SELECT probe_id, term FROM (
               SELECT probe_id, term,
                      row_number() OVER (PARTITION BY probe_id
                        ORDER BY w_micros DESC, term) AS rn
               FROM fw) WHERE rn <= $fbTerms),
    q2 AS (SELECT probe_id, term FROM q
           UNION SELECT probe_id, term FROM expn),
    ltf2 AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             WHERE term IN (SELECT DISTINCT term FROM q2) GROUP BY 1, 2),
    ldf2 AS (SELECT term, COUNT(*) AS df FROM ltf2 GROUP BY 1),
    posted2 AS (
      SELECT ltf2.term, ltf2.doc_id,
             CAST(round(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
               * ((tf * CAST(${k1 + 1} AS DOUBLE)) / (tf + $k1 * (${1 - b} + $b * (dl / (CAST(total_dl AS DOUBLE) / n_docs)))))
               * 1000000.0, 0) AS BIGINT) AS s_micros
      FROM ltf2 JOIN ldf2 USING (term) JOIN ldl USING (doc_id)
           CROSS JOIN lstats),
    lsc2 AS (SELECT probe_id, doc_id,
                    CAST(SUM(s_micros) AS BIGINT) AS bm25_micros
             FROM posted2 JOIN q2 USING (term) GROUP BY probe_id, doc_id)
    SELECT * FROM (
      SELECT probe_id, doc_id, bm25_micros,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY bm25_micros DESC, doc_id) AS rank
      FROM lsc2) WHERE rank <= $n"""

  /** q165: the IMPACT-TIER recall report — TextStats.bm25PerQueryImpact
    * (per-term truncated posting lists for df > `t`, top-`m` by s_micros
    * desc, doc_id asc; scoring otherwise unchanged) evaluated against the
    * exact bm25PerQuery as truth via the retrievalEval shape (n_truth,
    * n_hits, recall, first_hit_rank, rr_micros per probe). The measured
    * agreement IS the serving tier's adoption gate quantity. */
  def bm25ImpactRecallSql(queries: Seq[(Long, Seq[String])], n: Int,
                          m: Int, t: Long,
                          k1: Double, b: Double): String = s"""
    WITH ${bm25PerQueryCtes(queries, n, k1, b)},
    postedf AS (SELECT p.term, p.doc_id, p.s_micros, d.df
                FROM posted p JOIN ldf d USING (term)),
    imp AS (SELECT term, doc_id, s_micros FROM (
              SELECT term, doc_id, s_micros, df,
                     row_number() OVER (PARTITION BY term
                       ORDER BY s_micros DESC, doc_id) AS trn
              FROM postedf)
            WHERE df <= $t OR trn <= $m),
    isc AS (SELECT probe_id, doc_id,
                   CAST(SUM(s_micros) AS BIGINT) AS bm25_micros
            FROM imp JOIN q USING (term) GROUP BY probe_id, doc_id),
    impranked AS (SELECT * FROM (
      SELECT probe_id, doc_id, bm25_micros,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY bm25_micros DESC, doc_id) AS rank
      FROM isc) WHERE rank <= $n)
    SELECT f.probe_id,
           COUNT(*) AS n_truth,
           COUNT(i.doc_id) AS n_hits,
           round(COUNT(i.doc_id) * 1.0 / COUNT(*), 6) AS recall,
           COALESCE(MIN(i.rank), 0) AS first_hit_rank,
           COALESCE(CAST(floor(1000000.0 / MIN(i.rank)) AS BIGINT), 0)
             AS rr_micros
    FROM lexranked f LEFT JOIN impranked i
      ON f.probe_id = i.probe_id AND f.doc_id = i.doc_id
    GROUP BY 1"""

  /** q164: the per-bucket lexical HEALTH report (LexLake.healthOfPostings'
    * pure form) — per term-hash bucket: posting-row count, distinct terms,
    * the top-df term (tie: term asc) with its exact corpus share in integer
    * micros (integer division), and the overlay mass the q161-style
    * deterministic tombstone/edit rules would leave pending. Buckets =
    * md5-prefix32(term) % nBuckets, the layout function verbatim. */
  def lexHealthSql(nBuckets: Int, staleFoldMod: Int = 7,
                   staleDfThreshold: Long = 50L): String = s"""
    WITH $toksCte,
    post AS (SELECT term, doc_id,
               CAST(CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT)
                 % $nBuckets AS INTEGER) AS tbucket
             FROM toks GROUP BY term, doc_id),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks),
    bt AS (SELECT tbucket, term, COUNT(*) AS df FROM post GROUP BY 1, 2),
    per AS (SELECT tbucket, CAST(SUM(df) AS BIGINT) AS n_postings,
                   COUNT(*) AS n_terms, MAX(df) AS top_df
            FROM bt GROUP BY 1),
    topt AS (SELECT bt.tbucket, MIN(bt.term) AS top_term
             FROM bt JOIN per ON bt.tbucket = per.tbucket
                             AND bt.df = per.top_df
             GROUP BY 1),
    tomb AS (SELECT tbucket, COUNT(*) AS tomb_postings FROM post
             WHERE doc_id % 13 = 5 GROUP BY 1),
    etoks AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(upper(text)), '\\s+')) AS term
              FROM documents
              WHERE doc_id % 11 = 3 AND text IS NOT NULL
                AND length(trim(text)) > 0),
    epost AS (SELECT term, doc_id,
                CAST(CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT)
                  % $nBuckets AS INTEGER) AS tbucket
              FROM etoks GROUP BY term, doc_id),
    emass AS (SELECT tbucket, COUNT(*) AS edit_postings FROM epost GROUP BY 1),
    tier AS (SELECT term, COUNT(*) AS fold_df FROM post
             WHERE doc_id % $staleFoldMod <> 0
             GROUP BY term HAVING COUNT(*) > $staleDfThreshold),
    stale AS (SELECT bt.tbucket,
                     CAST(SUM(bt.df - tier.fold_df) AS BIGINT)
                       AS impact_stale_postings
              FROM bt JOIN tier USING (term) GROUP BY 1)
    SELECT per.tbucket, n_postings, n_terms, top_term, top_df,
           CAST((top_df * 1000000) // n AS BIGINT) AS top_share_micros,
           COALESCE(tomb_postings, 0) AS tomb_postings,
           COALESCE(edit_postings, 0) AS edit_postings,
           COALESCE(impact_stale_postings, 0) AS impact_stale_postings
    FROM per JOIN topt ON per.tbucket = topt.tbucket CROSS JOIN nd
    LEFT JOIN tomb ON per.tbucket = tomb.tbucket
    LEFT JOIN emass ON per.tbucket = emass.tbucket
    LEFT JOIN stale ON per.tbucket = stale.tbucket"""

  /** q163: hybrid fusion with PER-PROBE lexical lists — q159's shape with
    * the global fixed-term BM25 replaced by the posting-list per-query
    * retriever (each probe fuses ITS OWN term list's top-n; a probe whose
    * terms miss the corpus fuses vector-only — the rrfFuseAll absence
    * arm). */
  def hybridPerQueryRrfSql(queries: Seq[(Long, Seq[String])], k: Int,
                           kVec: Int, nLex: Int, kRrf: Int,
                           nLists: Int, dims: Int, scale: Double,
                           nprobe: Int, nProbes: Int,
                           k1: Double = 1.2, b: Double = 0.75): String = {
    val tail = s""",
    vtop AS (SELECT probe_id, neighbor_id, rank AS rv FROM ranked
             WHERE rank <= $kVec),
    lext AS (SELECT probe_id, doc_id AS neighbor_id, rank AS rl
             FROM lexranked),
    fused AS (
      SELECT COALESCE(v.probe_id, l.probe_id) AS probe_id,
             COALESCE(v.neighbor_id, l.neighbor_id) AS neighbor_id,
             COALESCE(CAST(floor(1000000.0 / ($kRrf + v.rv)) AS BIGINT), 0)
             + COALESCE(CAST(floor(1000000.0 / ($kRrf + l.rl)) AS BIGINT), 0)
               AS rrf_micros
      FROM vtop v FULL OUTER JOIN lext l
        ON v.probe_id = l.probe_id AND v.neighbor_id = l.neighbor_id),
    fr AS (
      SELECT probe_id, neighbor_id, rrf_micros,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY rrf_micros DESC, neighbor_id) AS rank
      FROM fused)
    SELECT probe_id, neighbor_id, rrf_micros, rank FROM fr WHERE rank <= $k"""
    multiProbeServeSkeleton(kVec, nLists, dims, scale, nprobe, nProbes,
      prefixCtes = bm25PerQueryCtes(queries, nLex, k1, b) + ",",
      candFrom = "a", scoreVec = "a.embedding", tailSql = Some(tail))
  }

  /** q172: PHRASE-CONSTRAINED hybrid fusion — q163's per-probe
    * vector+lexical RRF with the exact-phrase doc set (q167's
    * window-equality predicate) gating the fused candidates BEFORE the
    * final rank: each probe's top-k is taken over quote-bearing docs only,
    * the "exact quote + semantic" serving query. */
  def hybridPhraseRrfSql(queries: Seq[(Long, Seq[String])],
                         phrase: Seq[String], k: Int,
                         kVec: Int, nLex: Int, kRrf: Int,
                         nLists: Int, dims: Int, scale: Double,
                         nprobe: Int, nProbes: Int,
                         k1: Double = 1.2, b: Double = 0.75): String = {
    require(phrase.nonEmpty && phrase.forall(_.matches("[A-Za-z0-9_-]+")),
      s"phrase tokens must be [A-Za-z0-9_-]+: $phrase")
    val kk = phrase.size
    val phraseCtes = s"""
    phb AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    phw AS (SELECT doc_id, s, t FROM (
              SELECT doc_id, t, unnest(range(1, len(t) - ${kk - 1} + 1)) AS s
              FROM phb WHERE len(t) >= $kk)),
    phd AS (SELECT DISTINCT doc_id FROM phw
            WHERE array_to_string(t[s:s + ${kk - 1}], ' ')
                    = '${phrase.mkString(" ")}'),"""
    val tail = s""",
    vtop AS (SELECT probe_id, neighbor_id, rank AS rv FROM ranked
             WHERE rank <= $kVec),
    lext AS (SELECT probe_id, doc_id AS neighbor_id, rank AS rl
             FROM lexranked),
    fused AS (
      SELECT COALESCE(v.probe_id, l.probe_id) AS probe_id,
             COALESCE(v.neighbor_id, l.neighbor_id) AS neighbor_id,
             COALESCE(CAST(floor(1000000.0 / ($kRrf + v.rv)) AS BIGINT), 0)
             + COALESCE(CAST(floor(1000000.0 / ($kRrf + l.rl)) AS BIGINT), 0)
               AS rrf_micros
      FROM vtop v FULL OUTER JOIN lext l
        ON v.probe_id = l.probe_id AND v.neighbor_id = l.neighbor_id),
    fgate AS (
      SELECT f.* FROM fused f
      WHERE EXISTS (SELECT 1 FROM phd p WHERE p.doc_id = f.neighbor_id)),
    fr AS (
      SELECT probe_id, neighbor_id, rrf_micros,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY rrf_micros DESC, neighbor_id) AS rank
      FROM fgate)
    SELECT probe_id, neighbor_id, rrf_micros, rank FROM fr WHERE rank <= $k"""
    multiProbeServeSkeleton(kVec, nLists, dims, scale, nprobe, nProbes,
      prefixCtes = bm25PerQueryCtes(queries, nLex, k1, b) + "," + phraseCtes,
      candFrom = "a", scoreVec = "a.embedding", tailSql = Some(tail))
  }

  def rollingHashSql(base: Long, mod: Long): String = s"""
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(
               CASE WHEN text IS NULL OR trim(text) = '' THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\\s+') END,
               tk -> CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT))),
             (acc, x) -> (acc * $base + x) % $mod) AS roll_hash
    FROM documents"""

  /** Chunk CTEs over `src`(doc_id, text) ending in cs(doc_id, t, s), plus
    * the projection fragment — ONE transcription of the chunk scheme,
    * shared by q68 and the q75 pipeline composition. */
  private def chunkCtes(src: String, stride: Int): String = s"""
    ct AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM $src WHERE text IS NOT NULL AND length(trim(text)) > 0),
    cs AS (SELECT doc_id, t, unnest(range(1, len(t) + 1, $stride)) AS s FROM ct)"""

  private def chunkCols(chunkSize: Int, stride: Int): String =
    s"""doc_id, (s - 1) // $stride AS chunk_idx,
           CAST(len(t[s:s + ${chunkSize - 1}]) AS BIGINT) AS n_tokens,
           md5(array_to_string(t[s:s + ${chunkSize - 1}], ' ')) AS chunk_hash"""

  def chunkSql(chunkSize: Int, stride: Int): String = s"""
    WITH ${chunkCtes("documents", stride)}
    SELECT ${chunkCols(chunkSize, stride)}
    FROM cs"""

  /** Interpolated add-one bigram NLL (q110): λ=1/2 Jelinek-Mercer over the
    * corpus's own unigram + bigram counts; per-gram ln rounds to 6 and sums
    * in exact decimal, the TOTAL reported — q77's determinism pattern. */
  def bigramNllSql: String = s"""
    WITH $toksCte,
    vc AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v FROM vc),
    $bigramMultisetCte,
    bc AS (SELECT g AS bg, COUNT(*) AS cb FROM g GROUP BY g),
    lp AS (
      SELECT g.doc_id,
             CAST(round(ln(0.5 * (CAST(vcur.c + 1 AS DOUBLE) / CAST(tot.n + tot.v AS DOUBLE))
                           + 0.5 * (CAST(bc.cb + 1 AS DOUBLE) / CAST(vprev.c + tot.v AS DOUBLE))), 6)
                  AS DECIMAL(18,6)) AS lp
      FROM g
      JOIN bc ON bc.bg = g.g
      JOIN vc vcur ON vcur.term = string_split(g.g, ' ')[2]
      JOIN vc vprev ON vprev.term = string_split(g.g, ' ')[1]
      CROSS JOIN tot)
    SELECT doc_id, COUNT(*) AS n_bigrams, CAST(-SUM(lp) AS DOUBLE) AS nll_total
    FROM lp GROUP BY doc_id"""

  /** OOV rate vs the corpus top-`vocabSize` tokens (q111): vocabulary cut by
    * (count desc, token asc) — a total order, so the boundary is exact. */
  def oovRateSql(vocabSize: Int): String = s"""
    WITH $toksCte,
    vc AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    vocab AS (SELECT term FROM vc ORDER BY c DESC, term LIMIT $vocabSize),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM toks LEFT JOIN vocab v USING (term)
      GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_oov,
           round(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate
    FROM agg"""

  /** Split-leakage audit (q109): LSH candidate pairs whose endpoints land in
    * DIFFERENT hashSplit splits. */
  def splitLeakageSql(numHashes: Int, bandRows: Int,
                      cuts: Seq[(String, Int)]): String = s"""
    WITH ${candCtes(numHashes, bandRows)},
    sp AS (SELECT doc_id, ${splitCaseSql("doc_id", cuts)} AS split FROM documents)
    SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b
    FROM cand
    JOIN sp sa ON sa.doc_id = doc_a
    JOIN sp sb ON sb.doc_id = doc_b
    WHERE sa.split <> sb.split"""

  /** Corpus drift (q113): total log-likelihood ratio of snapshot A's tokens
    * under A's vs B's add-one unigram model; exact-decimal count·lnratio
    * products summed order-independently. A = even doc ids, B = odd. */
  def corpusDriftSql(aPred: String, bPred: String): String = s"""
    WITH ta AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents
      WHERE ($aPred) AND text IS NOT NULL AND length(trim(text)) > 0),
    tb AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents
      WHERE ($bPred) AND text IS NOT NULL AND length(trim(text)) > 0),
    ca AS (SELECT term, COUNT(*) AS c FROM ta GROUP BY term),
    cb AS (SELECT term, COUNT(*) AS c FROM tb GROUP BY term),
    j AS (
      SELECT coalesce(ca.c, 0) AS cca, coalesce(cb.c, 0) AS ccb
      FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
    tot AS (SELECT CAST(SUM(cca) AS BIGINT) AS na, CAST(SUM(ccb) AS BIGINT) AS nb,
                   COUNT(*) AS v
            FROM j)
    SELECT COUNT(*) AS n_terms, CAST(SUM(cca) AS BIGINT) AS n_tokens_a,
           CAST(SUM(CAST(cca AS DECIMAL(18,0))
                    * CAST(round(ln((CAST(cca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
                                    / (CAST(ccb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE))), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) AS total_llr
    FROM j CROSS JOIN tot"""

  /** Vocabulary coverage curve (q114): bigram occurrence mass covered by the
    * top-k bigrams, ranked (count desc, gram asc). */
  def coverageCurveSql(ks: Seq[Int]): String = s"""
    WITH $bigramMultisetCte,
    bc AS (SELECT g, COUNT(*) AS c FROM g GROUP BY g),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM bc),
    r AS (SELECT c, row_number() OVER (ORDER BY c DESC, g) AS rn FROM bc),
    ks(k) AS (VALUES ${ks.map(k => s"($k)").mkString(", ")})
    SELECT ks.k, CAST(SUM(r.c) AS BIGINT) AS covered_occurrences,
           tot.t AS total_occurrences,
           round(CAST(CAST(SUM(r.c) AS BIGINT) AS DOUBLE) / tot.t, 6) AS coverage
    FROM ks JOIN r ON r.rn <= ks.k CROSS JOIN tot
    GROUP BY ks.k, tot.t"""

  /** Language label-vs-prediction audit (q115): docs whose declared lang
    * disagrees with the confident (non-'und') heuristic prediction. */
  def langMismatchSql: String = s"""
    WITH $langIdCtes
    SELECT doc_id, lang, lang_pred FROM lid
    WHERE lang_pred <> lang AND lang_pred <> 'und'"""

  /** hashSplit CASE over an id expression — ONE transcription of the
    * md5-bucket split (q59 and the q75 pipeline composition). `cuts` are
    * (name, percent) applied in order, as Sampling.hashSplit. */
  def splitCaseSql(idExpr: String, cuts: Seq[(String, Int)]): String = {
    require(cuts.map(_._2).sum == 100 && cuts.forall(_._2 > 0))
    val bucket = s"CAST(('0x' || substr(md5(CAST($idExpr AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
    val whens = cuts.dropRight(1).zip(cuts.scanLeft(0)(_ + _._2).tail)
      .map { case ((name, _), upTo) => s"WHEN $bucket < $upTo THEN '$name'" }
      .mkString("\n                ")
    s"""CASE $whens
                ELSE '${cuts.last._1}' END"""
  }

  def stratifiedSampleSql(num: Int, den: Int): String = s"""
    WITH q AS (
      SELECT doc_id, lang, $qualityFromRawSql AS quality
      FROM (SELECT doc_id, lang, text, $prawSql AS praw, $srawSql AS sraw
            FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)),
    r AS (SELECT doc_id, lang, quality,
                 row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM q)
    SELECT doc_id, lang, quality FROM r WHERE rn * $den <= n * $num"""

  /** The synthetic corpus carries no PII, so the scan target is text plus a
    * deterministic doc_id-derived contact tail on a subset of rows — positives
    * AND negatives both occur; the regex layer under test is generic. */
  def piiSql: String = {
    val email = TextFunctions.emailPattern
    val phone = TextFunctions.phonePattern
    s"""
    WITH c AS (
      SELECT doc_id,
             text || (CASE WHEN doc_id % 3 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                           ELSE '' END)
                  || (CASE WHEN doc_id % 5 = 0
                           THEN ' call 555-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END) AS ct
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id,
           CAST(len(regexp_extract_all(ct, '$email')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(ct, '$phone')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(ct, '$email', '[EMAIL]', 'g'), '$phone', '[PHONE]', 'g')) AS red_hash
    FROM c"""
  }

  /** The full training-data pipeline in ONE verified query: language/quality
    * clean → exact dedup ∧ MinHash-LSH near-dup clustering, keep each
    * cluster's min-id representative → overlapping context-window chunking →
    * growth-stable hash split. The exact stage is NOT subsumed by LSH: docs
    * with < shingleN tokens emit no shingles and never band, so identical
    * short docs need the md5 pass. Every stage reuses the stage oracles'
    * shared CTE transcriptions. */
  def trainingPipelineSql(minQuality: Double, chunkSize: Int, stride: Int,
                          numHashes: Int, bandRows: Int,
                          cuts: Seq[(String, Int)]): String = s"""
    WITH RECURSIVE $langIdCtes,
    q AS (
      SELECT doc_id, $qualityFromRawSql AS quality
      FROM (SELECT doc_id, text, $prawSql AS praw, $srawSql AS sraw
            FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)),
    clean AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN lid ON lid.doc_id = d.doc_id
      JOIN q ON q.doc_id = d.doc_id
      WHERE lid.lang_pred = 'en' AND q.quality >= $minQuality),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY md5(text)),
    ${candCtesFrom(numHashes, bandRows, "clean")},
    $closureCtes,
    reps AS (
      SELECT c.doc_id, c.text FROM clean c
      JOIN keep ON keep.doc_id = c.doc_id
      LEFT JOIN lbl ON lbl.id = c.doc_id
      WHERE lbl.id IS NULL OR lbl.cluster_id = c.doc_id),
    ${chunkCtes("reps", stride)}
    SELECT ${chunkCols(chunkSize, stride)},
           ${splitCaseSql("doc_id", cuts)} AS split
    FROM cs"""

  /** Cross-document duplicated k-token windows (q76) — TextStats.dupSpans. */
  def dupSpansSql(k: Int): String = s"""
    WITH ${windowCtes(k)},
    ph AS (SELECT wh, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY wh),
    f AS (SELECT doc_id, COUNT(*) AS nw,
                 SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS ndup
          FROM w JOIN ph USING (wh) GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(coalesce(nw, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(ndup, 0) AS BIGINT) AS n_dup,
           CASE WHEN coalesce(nw, 0) > 0
                THEN round(CAST(ndup AS DOUBLE) / nw, 6) ELSE 0.0 END AS dup_frac
    FROM b LEFT JOIN f USING (doc_id)"""

  /** b/w CTEs shared by the span ops (q76/q82) — ONE transcription of
    * TextStats.tokenWindows: b = tokenized non-empty docs, w = stride-1
    * k-token windows (doc_id, s, wh). */
  private def windowCtes(k: Int): String = s"""
    b AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    w AS (
      SELECT doc_id, s, md5(array_to_string(t[s:s + ${k - 1}], ' ')) AS wh
      FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${k - 1} + 1)) AS s
            FROM b WHERE len(t) >= $k))"""

  /** Duplicated-span removal (q82) — TextStats.removeDupSpans. Canonical
    * occurrence resolved in two steps (min doc, then min start within it)
    * so both engines agree without struct-min semantics. */
  def removeDupSpansSql(k: Int): String = s"""
    WITH ${windowCtes(k)},
    m1 AS (SELECT wh, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS cdoc
           FROM w GROUP BY wh),
    m2 AS (SELECT wh, MIN(s) AS cpos FROM w JOIN m1 USING (wh)
           WHERE doc_id = cdoc GROUP BY wh),
    fl AS (SELECT doc_id, s FROM w JOIN m1 USING (wh) JOIN m2 USING (wh)
           WHERE nd > 1 AND NOT (doc_id = cdoc AND s = cpos)),
    dr AS (SELECT DISTINCT doc_id, p
           FROM (SELECT doc_id, unnest(range(s, s + $k)) AS p FROM fl)),
    tk AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS p FROM b),
    kept AS (
      SELECT tk.doc_id, COUNT(*) AS n_kept,
             md5(array_to_string(list(tok ORDER BY tk.p), ' ')) AS kept_hash
      FROM tk LEFT JOIN dr ON tk.doc_id = dr.doc_id AND tk.p = dr.p
      WHERE dr.p IS NULL GROUP BY tk.doc_id)
    SELECT b.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(kept_hash, md5('')) AS kept_hash
    FROM b LEFT JOIN kept USING (doc_id)"""

  /** Corpus-unigram-LM NLL per doc (q77) — TextStats.unigramNll. Token
    * log-probs are rounded to 6dp then summed as DECIMAL: exact and
    * order-independent, the float-determinism pattern of the header. The
    * TOTAL is reported (exact decimal→double), never the mean — total/n
    * can be an exact decimal half-tie where engine round rules differ. */
  def unigramNllSql: String = s"""
    WITH $toksCte,
    vc AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v FROM vc),
    lp AS (
      SELECT doc_id,
             CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) AS lp
      FROM toks JOIN vc USING (term) CROSS JOIN tot)
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(-SUM(lp) AS DOUBLE) AS nll_total
    FROM lp GROUP BY doc_id"""

  /** Scalar int8 quantization codes + reconstruction error (q78) —
    * Similarity.int8Quantize. Per-dim expressions are generated (like the
    * kmeans/pq oracles); the error sum is written left-associative to match
    * the engine's LTR aggregate fold. */
  def int8QuantizeSql(dims: Int): String = {
    def x(d: Int) = s"CAST(embedding[$d] AS DOUBLE)"
    val statCols = (1 to dims).map(d =>
      s"MIN(${x(d)}) AS mn$d, MAX(${x(d)}) AS mx$d").mkString(",\n             ")
    val codeCols = (1 to dims).map(d =>
      s"CASE WHEN mx$d - mn$d = 0.0 THEN 0 ELSE " +
        s"CAST(round((${x(d)} - mn$d) * 255.0 / (mx$d - mn$d), 0) AS INT) END AS c$d")
      .mkString(",\n             ")
    val codeList = (1 to dims).map(d => s"c$d").mkString(", ")
    val errSum = (1 to dims).map { d =>
      val r = s"(mn$d + CAST(c$d AS DOUBLE) * (mx$d - mn$d) / 255.0)"
      s"(${x(d)} - $r) * (${x(d)} - $r)"
    }.mkString(" + ")
    s"""
    WITH s AS (
      SELECT $statCols
      FROM embeddings),
    c AS (
      SELECT vec_id, embedding,
             $codeCols
      FROM embeddings CROSS JOIN s)
    SELECT vec_id,
           md5(concat_ws(' ', $codeList)) AS code_hash,
           round(0.0 + $errSum, 6) AS recon_err
    FROM c CROSS JOIN s"""
  }

  /** Deterministic mixture balancing (q79) — Sampling.mixtureBalance.
    * Integer (//) threshold arithmetic mirrors the engine's `div`. */
  def mixtureBalanceSql(weights: Seq[(String, Int)]): String = {
    val values = weights.map { case (s, p) => s"('$s', $p)" }.mkString(", ")
    s"""
    WITH w(source, pct) AS (VALUES $values),
    n AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY source),
    j AS (SELECT w.source, pct, coalesce(ns, 0) AS ns
          FROM w LEFT JOIN n USING (source)),
    c AS (SELECT MIN((100 * ns) // pct) AS cf FROM j),
    t AS (SELECT source, (pct * 10000 * cf) // ns AS th
          FROM j CROSS JOIN c WHERE ns > 0)
    SELECT d.doc_id, d.source
    FROM documents d JOIN t USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 1000000 < th"""
  }

  /** DSIR importance weights (q81) — TextStats.dsirWeights with the target
    * defined as lang = '<targetLang>'. Feature hashing, the smoothed ratio
    * chain, and the decimal sum mirror the engine expression for expression. */
  def dsirWeightsSql(targetLang: String, buckets: Int): String = s"""
    WITH b0 AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    f AS (
      SELECT doc_id, is_t,
             CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % $buckets AS b
      FROM (SELECT doc_id, (lang = '$targetLang') AS is_t,
                   unnest(list_concat(t,
                     list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS g
            FROM b0)),
    c AS (SELECT b, COUNT(*) AS cs,
                 SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
          FROM f GROUP BY b),
    tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS ns, CAST(SUM(ct) AS BIGINT) AS nt FROM c),
    lr AS (
      SELECT doc_id,
             CAST(round(ln(
               (CAST(ct + 1 AS DOUBLE) / CAST(nt + $buckets AS DOUBLE)) /
               (CAST(cs + 1 AS DOUBLE) / CAST(ns + $buckets AS DOUBLE))), 6)
               AS DECIMAL(18,6)) AS lr
      FROM f JOIN c USING (b) CROSS JOIN tot)
    SELECT doc_id, COUNT(*) AS n_feats, CAST(SUM(lr) AS DOUBLE) AS dsir_total
    FROM lr GROUP BY doc_id"""

  /** Gopher rule flags (q80) — TextStats.gopherRules. */
  def gopherRulesSql(minWords: Int, maxWords: Int): String = s"""
    WITH b AS (
      SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(t, tk -> CAST(length(tk) AS BIGINT))),
                         (a, q) -> a + q) AS DOUBLE) / len(t) END AS mean_len,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(t, tk -> regexp_matches(tk, '[A-Za-z]')))
                       AS DOUBLE) / len(t) END AS alpha_frac,
             (length(text) - length(replace(text, '#', ''))) +
               (length(text) - length(replace(text, '...', ''))) / 3 AS n_sym,
             len(list_filter(t, tk -> lower(tk) IN ($enStop))) AS stop_hits
      FROM b),
    f AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words >= $minWords AND n_words <= $maxWords THEN 1 ELSE 0 END AS r_words,
             CASE WHEN mean_len >= 3.0 AND mean_len <= 10.0 THEN 1 ELSE 0 END AS r_mean_len,
             CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS r_alpha,
             CASE WHEN (CASE WHEN n_words = 0 THEN 0.0
                             ELSE CAST(n_sym AS DOUBLE) / n_words END) <= 0.1
                  THEN 1 ELSE 0 END AS r_symbol,
             CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r_stop
      FROM m)
    SELECT doc_id, n_words, r_words, r_mean_len, r_alpha, r_symbol, r_stop,
           r_words * r_mean_len * r_alpha * r_symbol * r_stop AS keep
    FROM f"""

  /** Composed LLM-data cleaning pass: exact-dup removal (keep min id per
    * content hash) ∧ predicted-English ∧ quality >= threshold. Reuses the
    * q26/q27 expression idioms verbatim so the composition stays
    * hash-exact. */
  def cleanCorpusSql(minQuality: Double): String = s"""
    WITH $langIdCtes,
    keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    q AS (
      SELECT doc_id, $qualityFromRawSql AS quality
      FROM (SELECT doc_id, text, $prawSql AS praw, $srawSql AS sraw
            FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0))
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    JOIN keep ON keep.doc_id = d.doc_id
    JOIN lid ON lid.doc_id = d.doc_id
    JOIN q ON q.doc_id = d.doc_id
    WHERE lid.lang_pred = 'en' AND q.quality >= $minQuality"""
}
