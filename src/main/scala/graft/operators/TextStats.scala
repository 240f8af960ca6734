package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-statistics operators for training-data curation: repetition
  * filtering, TF-IDF / BM25 term scoring, rolling-hash fingerprints, and
  * overlapping context-window chunking. All pure DataFrame plans — shuffles
  * keyed on (doc) or (term) with map-side partial aggregation, no driver
  * materialization — so every one of them runs at corpus scale.
  *
  * Determinism: scores are a fixed-order chain of IEEE double ops rounded to
  * 6 places at the end; hashes are md5-derived. Engine-independent, which is
  * what makes the exact DuckDB oracles in TextOracle possible.
  *
  * ==Caching contract==
  * Several operators here `persist` a bounded, term-pruned intermediate
  * (positional frames, posting tables) that the RETURNED lazy plan
  * references more than once — without the cache the corpus tokenize would
  * re-run per reference. Because the result is lazy, the operator cannot
  * unpersist it itself: the blocks live until the CALLER reclaims them
  * with `spark.catalog.clearCache()` (what Bench/Verify do between
  * queries). A long-lived serving application invoking these operators
  * repeatedly MUST do the same between corpora, or the accumulated blocks
  * will eventually pressure executor memory. Operators whose pins this
  * applies to: [[phraseMatch]], [[phraseMatchBatch]], [[proximityPairs]],
  * [[proximityPairsBatch]], [[proximityMatrix]], [[bestPassageWindow]],
  * [[bestPassageWindowBatch]], [[bm25ProximityRank]],
  * [[bm25PerQueryImpact]], [[bm25PerQueryWithImpact]] (and, outside this
  * object, Dedup.lshQualityReport / ngramJaccardPairs / containmentPairs
  * and Similarity.retrievalEval / ndcgEval — same rule).
  *
  * `clearCache` reclaims `persist` pins only. The eager `localCheckpoint`
  * pins of [[bm25PrfExpand]], [[bigramNll]] and [[dsirWeights]] are not in
  * the SQL cache: their blocks stay until the checkpointed RDD is garbage
  * collected, whatever the caller clears. An owned pin scope that releases
  * them is ROADMAP item 2.
  */
object TextStats {

  /** Hashed bag-of-words LINEAR classifier scoring — the quality-classifier
    * filter stage of GPT-3/CCNet-style pipelines (Brown 2020 appendix A:
    * a linear classifier scores every crawl doc; low scorers drop), with
    * the feature hashing trick (Weinberger 2009) so the weight space is a
    * FIXED `buckets`-wide table regardless of vocabulary. Weights here are
    * md5-derived stand-ins (training is upstream; serving is the engine's
    * job) in integer MICRO-units, so the per-doc logit is an exact integer
    * sum — order-independent, bit-identical in any engine — where float
    * weights would make Σ order-dependent. Plan: one token explode + one
    * partial-agg groupBy(doc); weights are computed IN the scan from the
    * bucket id (two md5s per token), so nothing joins, broadcasts, or
    * shuffles but the per-doc sums. Output: (id, n_tokens, logit_micro,
    * kept = logit > 0). */
  def linearQualityScore(docs: DataFrame, idCol: String, textCol: String,
                         buckets: Int, biasMicro: Long): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val toks = docs.select(col(idCol), explode(TF.tokens(col(textCol))).as("__tk"))
    // md5Prefix32 < 2^32 is non-negative, so % stays non-negative in every engine
    val bucket = TF.md5Prefix32(col("__tk")) % buckets
    val wt = conv(substring(md5(concat(lit("w"), bucket.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 2001L - 1000L
    toks.select(col(idCol), wt.as("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("__w")) + biasMicro).as("logit_micro"))
      .withColumn("kept", col("logit_micro") > 0L)
  }

  /** Per-document NOVELTY: the fraction of a doc's distinct shingles whose
    * FIRST occurrence (minimum doc id) is this doc — boilerplate-heavy docs
    * score near 0, genuinely new content near 1. The order-by-id convention
    * matches ingestion order ids; a production run substitutes crawl
    * timestamps. Shape: one groupBy(shingle) with partial min (the
    * first-seen table), one join back on the shingle key — the first-seen
    * side is ONE row per shingle, so a boilerplate shingle shared by 10⁶
    * docs fans out linearly (10⁶ rows), never quadratically — then one
    * per-doc partial-agg count. Linear in corpus shingles throughout. */
  def noveltyScore(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 2): DataFrame = {
    val sh = docs.select(col(idCol), explode(TF.shingles(col(textCol), shingleN)).as("__sh"))
    // (id, __sh) rows are DISTINCT (TF.shingles array_distincts per doc), so
    // a doc's first-seen count is exactly the number of shingles whose
    // corpus-min id is that doc — i.e. a count over the firsts table keyed
    // by __first. That replaces the old shingle-keyed join of the FULL
    // corpus shingle table back onto the firsts (the one corpus-sized
    // shuffle this operator had) with two map-side-combining aggs and a
    // doc-keyed join (guide §2.4: remove the shuffle outright).
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val firsts = sh.groupBy(col("__sh")).agg(min(col(idCol)).as("__first"))
      .groupBy(col("__first").as(idCol)).agg(count(lit(1)).as("__nf"))
    counts.join(firsts, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("__nf"), lit(0L)).as("n_first"))
      .withColumn("novelty",
        round(col("n_first").cast("double") / col("n_shingles"), 6))
  }

  /** Gopher-style repetition signal (Rae et al. 2021, "Scaling Language
    * Models", table A1): fraction of duplicate word n-grams per document.
    * Templated/boilerplate docs score high and get filtered before training.
    * One explode + one groupBy(doc): n_grams = total n-grams, n_distinct =
    * distinct, dup_frac = 1 - distinct/total. Docs with < n tokens emit no
    * n-grams and are absent (nothing to judge). */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int): DataFrame =
    docs.select(col(idCol), explode(TF.shinglesAll(col(textCol), shingleN)).as("__sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), countDistinct(col("__sh")).as("n_distinct"))
      .withColumn("dup_frac",
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6))

  /** Per-document Shannon entropy over the CHARACTER distribution, in bits —
    * the cheap stand-in for a compression-ratio quality signal: template
    * boilerplate and repeated-character junk score LOW, while binary spill /
    * random noise scores abnormally HIGH; prose sits in a narrow band
    * (~3.5-4.5 bits for English). The signal no tokenizer can fake, which is
    * why it complements the token-level filters (q26/q80).
    * Determinism (the q77 NLL pattern): each p·ln p term rounds to 9 dp and
    * sums as exact DECIMAL — order-independent, so shuffle order can't move
    * the hash — then ONE double division by the ln 2 literal converts nats
    * to bits. Scale: characters collapse to an alphabet-bounded histogram in
    * the map-side partial agg (shuffle rows ≤ |alphabet| per doc, NOT
    * |text|), then a doc-keyed join of two doc-bounded frames. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ln2 = 0.6931471805599453 // same literal transcribed in the oracle
    val counts = docs
      .filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol), explode(split(col(textCol), "")).as("__ch"))
      // Java's regex split keeps a trailing empty match on some versions;
      // DuckDB's string_split never does — drop it so both engines count
      // the same multiset
      .filter(col("__ch") =!= "")
      .groupBy(col(idCol), col("__ch")).agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy(col(idCol)).agg(
      sum(col("__c")).cast("double").as("__n"),
      count(lit(1)).as("n_distinct_chars"))
    counts.join(totals, idCol)
      .select(col(idCol), col("n_distinct_chars"),
        round((col("__c") / col("__n")) * log(col("__c") / col("__n")), 9)
          .cast(DecimalType(28, 9)).as("__t"))
      .groupBy(col(idCol), col("n_distinct_chars"))
      .agg(round((-sum(col("__t"))).cast("double") / lit(ln2), 6).as("entropy_bits"))
  }

  /** N-gram DIVERSITY per group (source / shard / model-output batch): the
    * distinct-over-total n-gram ratio — the corpus-level repetitiveness
    * measure behind Self-BLEU-style mode-collapse checks (Zhu et al. 2018)
    * and the "how templated is this crawl source" triage that decides which
    * sources need aggressive span dedup (q76/q93) before training. 1.0 =
    * every n-gram unique; low = the group recycles the same phrasing.
    * One (group, gram)-keyed partial agg — multiset counts collapse
    * map-side — then a group-keyed rollup; diversity is one exact
    * integer-ratio division rounded at the end. */
  def ngramDiversity(docs: DataFrame, groupCol: String, textCol: String,
                     n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    docs.filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(groupCol), explode(TF.shinglesAll(col(textCol), n)).as("__g"))
      .groupBy(col(groupCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(sum(col("__c")).cast("long").as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"))
      .withColumn("diversity",
        round(col("distinct_ngrams").cast("double") / col("total_ngrams"), 6))
  }

  /** Exact top-k tokens per group with a TOTAL-ORDER tie-break (count desc,
    * token asc) — the heavy-hitter report per source/language that drives
    * stopword lists, contamination spot-checks, and domain fingerprinting.
    * Exact, not sketched: the (group, token) partial agg collapses map-side
    * to vocab-bounded rows, and the rank window partitions on the group key
    * only — the same one-exchange shape as q17. [[DeterministicSketches]]'
    * Count-Min is the bounded-memory twin when even the vocab is too big. */
  def topTokensPerGroup(docs: DataFrame, groupCol: String, textCol: String,
                        k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(groupCol), explode(TF.tokens(col(textCol))).as("token"))
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("n").desc, col("token").asc)
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** C4-style blocklist filter (Raffel et al. 2020 §2.2 drop pages containing
    * any word on a bad-word list): keep only docs whose token set is disjoint
    * from `blocked`. The list is bounded by construction (curated wordlists,
    * 10^2–10^4 entries), so it rides the plan as an array literal — one
    * codegen'd scan, no shuffle, no broadcast table. NULL text yields NULL
    * overlap and is dropped, matching SQL three-valued logic on both sides. */
  def blocklistFilter(docs: DataFrame, textCol: String,
                      blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "blocklist must not be empty")
    docs.filter(!arrays_overlap(TF.tokens(col(textCol)), typedLit(blocked)))
  }

  /** Top-k terms per document by TF-IDF (raw term count × ln(N/df)).
    * Shuffle shape: one groupBy(doc, term) for tf, one groupBy(term) for df
    * (both with partial aggs — the hot-term skew of natural text collapses
    * map-side), a broadcast of the 1-row corpus count, and one window over
    * doc. Ranking orders by the ROUNDED score (then term) so the total order
    * is engine-exact. */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val toks = docs.select(col(idCol).as("doc_id"), explode(TF.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = toks.select("doc_id").distinct().agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tfidf", "rank")
  }

  /** BM25's per-(term, doc) score (Robertson & Zaragoza 2009, §3.4): the ONE
    * transcription every lexical scorer calls, pure or lake-resident. The
    * pure operators pass their 1-row stats columns (`col("n_docs")`,
    * [[statsAvgdl]]); [[graft.domain.LexLake]] passes its ledger-derived
    * literals. The IEEE operation order is fixed — [[graft.TextOracle]]
    * transcribes it verbatim — so the score is engine-exact. */
  private[graft] def bm25TermScore(tf: Column, df: Column, dl: Column,
                                   nDocs: Column, avgdl: Column,
                                   k1: Double, b: Double): Column = {
    val idf = log((nDocs.cast("double") - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
    idf * ((tf * lit(k1 + 1)) /
      (tf + lit(k1) * (lit(1 - b) + lit(b) * (dl / avgdl))))
  }

  /** [[bm25TermScore]] as EXACT integer micros (rounded half-up), the unit
    * every per-query sum and rank works in. */
  private[graft] def bm25TermMicros(tf: Column, df: Column, dl: Column,
                                    nDocs: Column, avgdl: Column,
                                    k1: Double, b: Double): Column =
    round(bm25TermScore(tf, df, dl, nDocs, avgdl, k1, b) * lit(1000000.0), 0)
      .cast("long")

  /** avgdl off the crossJoined 1-row (n_docs, total_dl) corpus stats. */
  private def statsAvgdl: Column =
    col("total_dl").cast("double") / col("n_docs")

  /** BM25 relevance of every document for a fixed query-term set (Robertson &
    * Zaragoza 2009, §3.4). Per-term partial scores land in FIXED columns (one
    * per query term, via conditional agg) and are summed left-to-right, so the
    * floating-point addition order is identical in every engine — a plain
    * SUM() over a group would be partition-order-dependent.
    * Shuffles: groupBy(doc) for lengths, groupBy(doc, term) for tf (the tf
    * scan pre-filters to the query terms — at 100 TB the filter prunes the
    * explode output to ~nothing before any exchange), broadcast 1-row corpus
    * stats. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct)
    // terms feed generated column names and oracle SQL string literals —
    // keep them free of quoting/field-access metacharacters
    require(queryTerms.forall(_.matches("[A-Za-z0-9_-]+")),
      s"query terms must be [A-Za-z0-9_-]+: $queryTerms")
    // dl is the token COUNT — size(tokens) per row, no explode + corpus-wide
    // (doc)-keyed aggregation needed (zero-token docs drop, matching the
    // explode domain). Saves one full tokenize + hash-agg + exchange pass per
    // scoring call; doc ids are unique by the corpus contract, so the per-row
    // count IS the per-doc count.
    val dl = docs.select(col(idCol).as("doc_id"),
      TF.tokenCount(col(textCol)).as("dl")).filter(col("dl") > 0)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(TF.tokens(col(textCol))).as("term"))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = dl.join(tf.join(dfT, "term"), Seq("doc_id"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("s", bm25TermScore(col("tf"), col("df"), col("dl"),
        col("n_docs"), statsAvgdl, k1, b))
    // positional column names (s0, s1, ...) — a term is data, not an
    // identifier; this also matches the oracle transcription exactly
    val termCols = queryTerms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("s"))).as(s"s$i")
    }
    val total = queryTerms.indices.map(i => coalesce(col(s"s$i"), lit(0.0))).reduceLeft(_ + _)
    scored.groupBy("doc_id").agg(termCols.head, termCols.tail: _*)
      .select(col("doc_id"), round(total, 6).as("bm25"))
  }

  /** PER-QUERY BM25 over a query BATCH — the posting-list join a
    * multi-query lexical endpoint actually runs (the [[bm25]] fixed-term
    * form scores ONE query against the corpus; a serving batch carries
    * many, each with its own terms). Queries are (queryId, terms array);
    * output is each query's top-`n` (probe_id, doc_id, bm25_micros, rank)
    * over the docs containing AT LEAST ONE of its terms — a non-matching
    * doc contributes no row (the posting-join contract: at 100 TB you
    * never enumerate non-matches per query), and a query whose terms miss
    * the corpus entirely yields no rows.
    *
    * Scale shape: the corpus-sided work is query-INDEPENDENT — one
    * explode + (doc)-keyed length agg, one (doc, term)-keyed tf agg
    * PRE-PRUNED by a broadcast semi-join on the batch's distinct term
    * universe (bounded by contract, ENFORCED), one (term)-keyed df agg —
    * then the bounded (probe_id, term) frame broadcasts onto the pruned
    * postings, the per-(probe, doc) sum runs map-side-combining over
    * posting-match-sized rows, and the per-probe rank is the BOUNDED-HEAP
    * aggregation ([[Serving.rankTopNMicros]] — partial agg caps the keyed
    * exchange at probes x partitions x n rows; a probe_id-keyed window
    * would haul a frequent term's whole candidate set to one reducer).
    * Adding a query to the batch adds NO corpus scan.
    *
    * Determinism: per-(doc, term) partial scores convert to EXACT integer
    * micro-units BEFORE the per-query sum (round half-up — both engines
    * agree on positives), so the sum is order-independent integer
    * arithmetic and the rank's total order (micros desc, doc_id asc)
    * never compares accumulated floats — the rr_micros idiom applied to
    * the retriever itself. Duplicate terms within a query deduplicate (a
    * term contributes once, the standard bag-of-words query form). */
  def bm25PerQuery(docs: DataFrame, idCol: String, textCol: String,
                   queries: DataFrame, queryIdCol: String, termsCol: String,
                   n: Int, k1: Double = 1.2, b: Double = 0.75,
                   maxBroadcastQueryTerms: Long = 1L << 20): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // the shared serving-batch gate (Serving): duplicate-probe refusal +
    // exploded broadcast cap in ONE agg, returning the deduplicated
    // (probe_id, term) frame that broadcasts onto the postings
    val qterms = Serving.queryTermsBatch(queries, queryIdCol, termsCol,
      maxBroadcastQueryTerms)
    // per-probe rank via the bounded heap (Serving.rankTopNMicros), never a
    // probe_id-keyed window: a frequent term's candidate set is O(corpus)
    // rows, and a single-key row_number hauls ALL of them to one reducer —
    // the heap's partial agg caps the exchange at probes x partitions x n
    // (the r10 verdict's top finding). Scores are exact integer micros with
    // the (micros desc, doc_id asc) total order, so output is
    // hash-identical to the window form.
    Serving.rankTopNMicros(bm25ScoredPerQuery(docs, idCol, textCol, qterms,
      k1, b), n, "doc_id", "bm25_micros")
  }

  /** The 1-row (n_docs, total_dl) corpus stats every BM25 pass crossJoins —
    * factored out so a multi-pass caller ([[bm25PrfExpand]]) computes the
    * corpus-length pass ONCE and shares the materialized row. */
  private def corpusDlStats(docs: DataFrame, textCol: String): DataFrame =
    docs.select(TF.tokenCount(col(textCol)).as("dl"))
      .filter(col("dl") > 0)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))

  /** The query-term-PRUNED (doc_id, dl, term, tf) frame every per-query
    * scorer starts from: ONE corpus explode, semi-join pruned to the
    * batch's term universe before the aggregation. dl = size(tokens) per
    * row (no explode + (doc)-keyed corpus agg: the per-row token count IS
    * the doc length under the unique-doc-id corpus contract; zero-token
    * docs drop, matching the explode domain), and it rides THROUGH the tf
    * aggregation as a grouping column (functionally dependent on doc_id) —
    * paying neither a second tokenize pass nor a (doc)-keyed re-attach
    * join (guide §2.3/§2.4). The token ARRAY binds once per doc in its own
    * projection (CollapseProject keeps a non-cheap expression referenced
    * twice in its own project), so dl = size(attr) is O(1) per exploded
    * row. */
  private def prunedTermFreqs(docs: DataFrame, idCol: String,
                              textCol: String, qterms: DataFrame): DataFrame =
    termFreqsOf(docs.select(col(idCol).as("doc_id"),
        TF.tokens(col(textCol)).as("__t")))(
      _.join(broadcast(qterms.select("term").distinct()), Seq("term"), "left_semi"))

  /** (doc_id, dl, term, tf) of a (doc_id, __t token array) frame; `prune`
    * cuts the exploded (doc_id, dl, term) rows before the aggregation. */
  private def termFreqsOf(tokens: DataFrame)(
      prune: DataFrame => DataFrame): DataFrame =
    prune(tokens.select(col("doc_id"), size(col("__t")).cast("long").as("dl"),
        explode(col("__t")).as("term")))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))

  /** (term, doc_id, s_micros, df): per-(doc, term) BM25 contributions in
    * EXACT integer micros over a pruned tf frame — the shared tail of the
    * full, impact and proximity-ranked serving paths (one transcription,
    * so an eval composing two of them shares ONE corpus pass). */
  private def scoredPostings(tf: DataFrame, stats: DataFrame,
                             k1: Double, b: Double): DataFrame = {
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfT, "term")
      .crossJoin(broadcast(stats))
      .withColumn("s_micros", bm25TermMicros(col("tf"), col("df"), col("dl"),
        col("n_docs"), statsAvgdl, k1, b))
      .select("term", "doc_id", "s_micros", "df")
  }

  /** Per-(probe, doc) summed micros from a (term, doc_id, s_micros) posting
    * frame and the gated (probe_id, term) batch. */
  private[graft] def sumPerProbe(posted: DataFrame,
                                 qterms: DataFrame): DataFrame =
    posted.select("term", "doc_id", "s_micros")
      .join(broadcast(qterms), Seq("term"))
      .groupBy("probe_id", "doc_id")
      .agg(sum(col("s_micros")).as("bm25_micros"))

  /** [[bm25PerQuery]]'s summed (probe_id, doc_id, bm25_micros) frame
    * WITHOUT the rank cut — shared with [[bm25ProximityRank]], which
    * combines it with the proximity bonus before ONE final rank. `qterms`
    * is the already-gated exploded (probe_id, term) frame. */
  private def bm25ScoredPerQuery(docs: DataFrame, idCol: String,
                                 textCol: String, qterms: DataFrame,
                                 k1: Double, b: Double,
                                 sharedStats: Option[DataFrame] = None,
                                 sharedTf: Option[DataFrame] = None)
      : DataFrame = {
    val stats = sharedStats.getOrElse(corpusDlStats(docs, textCol))
    // sharedTf: a caller that already materialized the pruned positional
    // frame (bm25ProximityRank) derives the identical (doc_id, dl, term,
    // tf) multiset from it instead of paying a second corpus explode
    val tf = sharedTf.getOrElse(prunedTermFreqs(docs, idCol, textCol, qterms))
    sumPerProbe(scoredPostings(tf, stats, k1, b), qterms)
  }

  /** [[bm25PerQuery]] served from IMPACT-ORDERED TRUNCATED posting lists —
    * the pure form of [[graft.domain.LexLake]]'s impact serving tier (r10
    * verdict ask #2), the static analog of Block-Max-WAND's impact files
    * (Ding & Suel 2011): for every term whose df exceeds `dfThreshold`,
    * only its top-`impactPostings` postings by per-posting score
    * (s_micros desc, doc_id asc — BM25's per-term contribution under the
    * corpus-wide avgdl, EXACT integer micros) remain readable; low-df
    * terms keep full lists. A stop-word-frequency term then costs
    * O(impactPostings) instead of O(corpus) at serve time. Scoring is
    * UNCHANGED (true df, global stats — truncation drops rows, never
    * rescales), so a result differs from [[bm25PerQuery]] only where a
    * doc's capped-term contribution fell below the term's impact cut —
    * the approximation a recall gate certifies (q165 measures it).
    * Truncation itself runs through the bounded per-TERM heap
    * ([[Serving.rankTopNMicros]] keyed by term) — building the tier never
    * hauls a frequent term's full list to one reducer either. The impact
    * half of [[bm25PerQueryWithImpact]]: the full half stays an unexecuted
    * plan. */
  def bm25PerQueryImpact(docs: DataFrame, idCol: String, textCol: String,
                         queries: DataFrame, queryIdCol: String,
                         termsCol: String, n: Int,
                         impactPostings: Int, dfThreshold: Long,
                         k1: Double = 1.2, b: Double = 0.75,
                         maxBroadcastQueryTerms: Long = 1L << 20): DataFrame =
    bm25PerQueryWithImpact(docs, idCol, textCol, queries, queryIdCol,
      termsCol, n, impactPostings, dfThreshold, k1, b,
      maxBroadcastQueryTerms)._2

  /** The per-term truncation shared by [[bm25PerQueryImpact]] and
    * [[bm25PerQueryWithImpact]]: terms with df > `dfThreshold` keep only
    * their top-`impactPostings` rows by (s_micros desc, doc_id asc) through
    * the bounded per-TERM heap; low-df terms pass through whole. */
  private def impactCut(posted: DataFrame, impactPostings: Int,
                        dfThreshold: Long): DataFrame =
    Serving.rankTopNMicros(posted.filter(col("df") > dfThreshold),
        impactPostings, "doc_id", "s_micros", keyCol = "term")
      .select("term", "doc_id", "s_micros")
      .unionByName(posted.filter(col("df") <= dfThreshold)
        .select("term", "doc_id", "s_micros"))

  /** [[bm25PerQuery]] AND [[bm25PerQueryImpact]] over ONE shared posting
    * pass — the impact-agreement eval (q165) compares the two serves on
    * the same batch, and composed from the public operators it pays the
    * batch gate and the corpus tokenize+score pipeline TWICE (the tf/df/
    * posted subtree is identical until the impact cut; r13's deferred
    * optimization). Here the batch gates once and `posted` persists once;
    * the full serve ranks it whole, the impact serve ranks the truncated
    * cut. Results are identical to the two public operators by
    * construction (same transcription, shared subtree). Returns
    * (full, impact). */
  def bm25PerQueryWithImpact(docs: DataFrame, idCol: String, textCol: String,
                             queries: DataFrame, queryIdCol: String,
                             termsCol: String, n: Int,
                             impactPostings: Int, dfThreshold: Long,
                             k1: Double = 1.2, b: Double = 0.75,
                             maxBroadcastQueryTerms: Long = 1L << 20)
      : (DataFrame, DataFrame) = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(impactPostings >= 1,
      s"impactPostings must be >= 1, got $impactPostings")
    require(dfThreshold >= 0, s"dfThreshold must be >= 0, got $dfThreshold")
    val qterms = Serving.queryTermsBatch(queries, queryIdCol, termsCol,
      maxBroadcastQueryTerms)
    val postedP = scoredPostings(
        prunedTermFreqs(docs, idCol, textCol, qterms),
        corpusDlStats(docs, textCol), k1, b)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def rank(kept: DataFrame): DataFrame =
      Serving.rankTopNMicros(sumPerProbe(kept, qterms), n,
        "doc_id", "bm25_micros")
    (rank(postedP),
      rank(impactCut(postedP, impactPostings, dfThreshold)))
  }

  /** PSEUDO-RELEVANCE-FEEDBACK query expansion over the posting-join
    * retriever (RM3-style: Lavrenko & Croft 2001 relevance models; the
    * interpolation simplified to a deterministic expand-and-requery): each
    * probe's first-pass BM25 top-`fbDocs` documents nominate expansion
    * terms, weighted by Σ_d floor(tf(t,d)·10⁶ / dl(d)) — the per-doc term
    * frequency normalized by doc length, floored to exact integer micros
    * BEFORE the sum so the weight is order-independent — the probe's
    * original terms excluded; the top-`fbTerms` by (weight desc, term asc)
    * join the query and the EXPANDED batch rescores top-`n`. A probe whose
    * first pass finds nothing requeries unexpanded (and an unmatched term
    * still yields no rows).
    *
    * Scale shape: stage 1 is [[bm25PerQuery]] (scale-audited); the
    * feedback tf agg is PRUNED to the feedback docs by a literal IN filter
    * on the bounded probes×fbDocs id set — never a corpus (doc, term) agg;
    * [[prfExpandedTerms]] (shared with the lake) selects the expansion
    * through the bounded STRING heap per probe and pins the expanded
    * batch so stage 1 never re-runs behind stage 2's bm25PerQuery. Adding
    * a probe adds no corpus scan beyond the two passes every PRF endpoint
    * pays. */
  def bm25PrfExpand(docs: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, queryIdCol: String, termsCol: String,
                    n: Int, fbDocs: Int, fbTerms: Int,
                    k1: Double = 1.2, b: Double = 0.75,
                    maxBroadcastQueryTerms: Long = 1L << 20): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(fbDocs >= 1, s"fbDocs must be >= 1, got $fbDocs")
    require(fbTerms >= 1, s"fbTerms must be >= 1, got $fbTerms")
    // ONE pinned gate for both passes (an unpinned non-deterministic source
    // could gate one term set and score another), run CONCURRENTLY with the
    // corpus dl/stats pass both passes share: the two eager pins touch
    // disjoint inputs, so their scheduler round-trips overlap (guide §2.6)
    val (qterms, stats) = Serving.inParallel(
      Serving.queryTermsBatch(queries, queryIdCol, termsCol,
        maxBroadcastQueryTerms, pin = true),
      corpusDlStats(docs, textCol).localCheckpoint(true))
    val fb = Serving.rankTopNMicros(
        bm25ScoredPerQuery(docs, idCol, textCol, qterms, k1, b,
          sharedStats = Some(stats)),
        fbDocs, "doc_id", "bm25_micros")
      .select("probe_id", "doc_id")
      .localCheckpoint(true)
    // the feedback docs' postings, pruned BEFORE the tokenize by a LITERAL
    // IN filter: the pinned id set is bounded at probes × fbDocs, so the
    // collect is one bounded cache read, and unlike a semi-join the IN
    // pushes into the parquet scan (PushedFilters: In(doc_id); guide §6)
    val fbIdSeq = fb.select("doc_id").distinct().collect().map(_.get(0)).toSeq
    val fbRows = termFreqsOf(docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .filter(if (fbIdSeq.isEmpty) lit(false)
        else col("doc_id").isInCollection(fbIdSeq))
      .select(col("doc_id"), TF.tokens(col("__text")).as("__t")))(identity)
    val expandedTerms = prfExpandedTerms(fb, fbRows, qterms, fbTerms,
      maxBroadcastQueryTerms)
    Serving.rankTopNMicros(
      bm25ScoredPerQuery(docs, idCol, textCol, expandedTerms, k1, b,
        sharedStats = Some(stats)),
      n, "doc_id", "bm25_micros")
  }

  /** The expansion step of BOTH PRF serves ([[bm25PrfExpand]] and
    * [[graft.domain.LexLake.prfServe]] differ only in where `fbRows`, the
    * feedback docs' (term, doc_id, tf, dl) postings, come from). `fb` is
    * the pinned pass-1 (probe_id, doc_id) frame, `qterms` the gated batch.
    * Returns the PINNED expanded (probe_id, term) batch pass 2 scores
    * directly — a disjoint union needing no distinct or re-gate (unique
    * probe ids, one heap row per (probe, term), originals anti-joined out).
    * The expansion adds up to probes × fbTerms rows past the gate's bound,
    * so the pinned batch is re-counted against `maxBroadcastQueryTerms`. */
  private[graft] def prfExpandedTerms(fb: DataFrame, fbRows: DataFrame,
                                      qterms: DataFrame, fbTerms: Int,
                                      maxBroadcastQueryTerms: Long): DataFrame = {
    val weights = fb.join(fbRows, Seq("doc_id"))
      .join(qterms, Seq("probe_id", "term"), "left_anti")
      .withColumn("__w",
        floor(col("tf") * lit(1000000.0) / col("dl")).cast("long"))
      .groupBy("probe_id", "term")
      .agg(sum(col("__w")).as("w_micros"))
    val expanded = qterms
      .unionByName(Serving.rankTopNMicrosStr(weights, fbTerms, "term",
        "w_micros").select("probe_id", "term"))
      .localCheckpoint(true)
    val nExpanded = expanded.count()
    require(nExpanded <= maxBroadcastQueryTerms,
      s"expanded query batch carries $nExpanded (probe, term) rows > " +
        s"maxBroadcastQueryTerms=$maxBroadcastQueryTerms — it BROADCASTS " +
        "onto the postings in the requery pass. Shrink the batch or " +
        "fbTerms, or raise the cap if executors are sized for it.")
    expanded
  }

  /** EXACT PHRASE match — the positional posting join (the classic
    * inverted-index phrase query; [[graft.domain.LexLake.phraseServeBatch]]
    * is its lake-resident twin over stored positional postings): a document
    * matches the k-token phrase where token positions p, p+1, …, p+k−1
    * hold exactly phrase(0..k−1). Output: (doc_id, occurrences) for
    * matching docs only.
    *
    * Scale shape: the corpus tokenizes once with positions and is
    * immediately FILTERED to the phrase's terms (at a lake this is the
    * pruned positional-postings read); a conjunctive gate (one partial
    * agg: docs containing every distinct phrase term) cuts the position
    * frames before the adjacency fold — a phrase led by a frequent word
    * is gated by its RAREST word, the standard phrase-query optimization
    * — then k−1 (doc_id, start)-keyed semi-joins verify adjacency. Every
    * exchange is keyed on (doc, position): no window, no sort, no
    * all-pairs. Duplicate words in the phrase ("the the") fall out of the
    * fold naturally. */
  def phraseMatch(docs: DataFrame, idCol: String, textCol: String,
                  phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must carry at least one token")
    // the phrase interpolates into the oracle SQL as a literal — same
    // character guard as the other lexical entry points
    require(phrase.forall(_.matches("[A-Za-z0-9_-]+")),
      s"phrase tokens must be [A-Za-z0-9_-]+: $phrase")
    val k = phrase.size
    val terms = phrase.distinct
    // pos0 is referenced k+1 times below (the conjunctive gate plus one
    // adjacency arm per slot) — persist the term-pruned frame so the corpus
    // tokenize runs ONCE per call, not once per reference (lazy; bounded by
    // the phrase terms' frequency; callers reclaim via clearCache)
    val pos0 = docs.select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isInCollection(terms))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = pos0.groupBy("doc_id")
      .agg(count_distinct(col("term")).as("__nt"))
      .filter(col("__nt") === terms.size).select("doc_id")
    val pp = pos0.join(cand, Seq("doc_id"), "left_semi")
    val s0 = pp.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos").cast("long").as("start"))
    val starts = (1 until k).foldLeft(s0) { (acc, i) =>
      acc.join(pp.filter(col("term") === phrase(i))
          .select(col("doc_id"), (col("pos") - i).cast("long").as("start")),
        Seq("doc_id", "start"), "left_semi")
    }
    starts.groupBy("doc_id").agg(count(lit(1)).as("occurrences"))
  }

  /** WINDOWED PROXIMITY co-occurrence of two terms — per document, the
    * number of position pairs (pa, pb) with |pa − pb| <= w (and pa != pb
    * when the terms are equal): the collocation/PMI-input statistic and
    * the proximity-scoring primitive positional indexes exist for.
    *
    * Scale shape: a naive |pa − pb| <= w predicate is a BAND join (a
    * non-equi range condition Spark would plan as a broadcast nested
    * loop over corpus-sized position sets). Instead positions BLOCK into
    * width-w buckets (bucket = floor(p / w)) and term B replicates into
    * its own bucket and both neighbors — any pair within w shares one of
    * the three (doc, bucket) keys, so the join is a plain EQUI-join on
    * (doc_id, bucket) with the exact |pa − pb| <= w filter applied after
    * (the salting/banding idiom the dedup suite uses, applied to token
    * positions). 3× replication of one side buys a keyed hash join with
    * no nested loop and no skew beyond the terms' own frequency. */
  def proximityPairs(docs: DataFrame, idCol: String, textCol: String,
                     termA: String, termB: String, w: Int): DataFrame = {
    require(Seq(termA, termB).forall(_.matches("[A-Za-z0-9_-]+")),
      s"terms must be [A-Za-z0-9_-]+: $termA, $termB")
    require(w >= 1, s"w must be >= 1, got $w")
    val pos = docs.select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isInCollection(Seq(termA, termB).distinct))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pa = pos.filter(col("term") === termA)
      .select(col("doc_id"), col("pos").cast("long").as("pa"),
        floor(col("pos") / w).cast("long").as("__bk"))
    val pb = pos.filter(col("term") === termB)
      .select(col("doc_id"), col("pos").cast("long").as("pb"),
        explode(array((floor(col("pos") / w) - 1).cast("long"),
          floor(col("pos") / w).cast("long"),
          (floor(col("pos") / w) + 1).cast("long"))).as("__bk"))
    pa.join(pb, Seq("doc_id", "__bk"))
      .filter(abs(col("pa") - col("pb")) <= w &&
        (lit(termA != termB) || col("pa") =!= col("pb")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_pairs"))
  }

  /** MULTI-TERM windowed proximity — the full PMI-INPUT MATRIX over a term
    * set (r11 verdict ask #8, [[proximityPairs]] generalized): for every
    * UNORDERED pair of distinct query terms (term_a < term_b), the corpus
    * total of position pairs within `w` tokens — the co-occurrence matrix
    * collocation/PMI scoring consumes. Output: (term_a, term_b, n_pairs),
    * pairs that never co-occur absent.
    *
    * Scale shape: ONE tokenize pass filtered to the (bounded, literal)
    * term set; positions block into width-w buckets with one side
    * 3×-replicated (the [[proximityPairs]] banding idiom — any pair within
    * w shares a (doc, bucket) key), so the |terms|² pairing is a plain
    * (doc_id, bucket) EQUI-join with the exact band + term-order filters
    * after — never a nested loop, and the matrix agg's key space is
    * ≤ |terms|² rows. */
  def proximityMatrix(docs: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String], w: Int): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.forall(_.matches("[A-Za-z0-9_-]+")),
      s"terms must be [A-Za-z0-9_-]+: $terms")
    val ts = terms.distinct
    val pos = docs.select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isInCollection(ts))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pa = pos.select(col("doc_id"), col("term").as("term_a"),
      col("pos").cast("long").as("pa"),
      floor(col("pos") / w).cast("long").as("__bk"))
    val pb = pos.select(col("doc_id"), col("term").as("term_b"),
      col("pos").cast("long").as("pb"),
      explode(array((floor(col("pos") / w) - 1).cast("long"),
        floor(col("pos") / w).cast("long"),
        (floor(col("pos") / w) + 1).cast("long"))).as("__bk"))
    pa.join(pb, Seq("doc_id", "__bk"))
      .filter(col("term_a") < col("term_b") &&
        abs(col("pa") - col("pb")) <= w)
      .groupBy("term_a", "term_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** BEST PASSAGE WINDOW — per document, the maximum number of DISTINCT
    * query terms covered by any width-`w` token window (windows anchored
    * at query-term positions; an optimal window can always start on one):
    * the passage-retrieval primitive positional indexes serve ("which doc
    * has a tight span covering most of the query"), the multi-term
    * generalization of [[proximityPairs]] the r11 verdict named. Output:
    * (doc_id, best_window_terms) for docs containing >= 1 query term.
    *
    * Scale shape: one tokenize pass filtered to the bounded term set; a
    * window start s only needs positions q with s <= q < s+w, and
    * floor(s/w) ∈ {floor(q/w)−1, floor(q/w)} — so each position
    * 2×-replicates into its own and the PREVIOUS width-w bucket and the
    * start×position pairing is a plain (doc, bucket) EQUI-join with the
    * exact one-sided band filter after (the [[proximityPairs]] banding
    * idiom, one-sided). Never a nested loop; the per-(doc, start)
    * distinct-count agg is keyed on positions the terms actually occupy. */
  def bestPassageWindow(docs: DataFrame, idCol: String, textCol: String,
                        terms: Seq[String], w: Int): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.forall(_.matches("[A-Za-z0-9_-]+")),
      s"terms must be [A-Za-z0-9_-]+: $terms")
    val pos = docs.select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isInCollection(terms.distinct))
      .select(col("doc_id"), col("term"), col("pos").cast("long").as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val starts = pos.select(col("doc_id"), col("pos").as("s"),
      floor(col("pos") / w).cast("long").as("__bk"))
    val members = pos.select(col("doc_id"), col("term"),
      col("pos").as("q"),
      explode(array(floor(col("pos") / w).cast("long"),
        (floor(col("pos") / w) - 1).cast("long"))).as("__bk"))
    starts.join(members, Seq("doc_id", "__bk"))
      .filter(col("q") >= col("s") && col("q") < col("s") + w)
      .groupBy("doc_id", "s")
      .agg(count_distinct(col("term")).as("__nt"))
      .groupBy("doc_id")
      .agg(max(col("__nt")).as("best_window_terms"))
  }

  // ---- BATCHED positional serving transcriptions (r12 verdict ask #1) ----
  // The per-query positional ops above answer ONE phrase/pair/term-set per
  // Spark job — a ~0.1 s scheduling floor each, the same ~10 QPS ceiling
  // VectorLake.searchBatch closed for vector serving in r9. They stay as
  // the pure scalar operators (q167, q168, q169, q172, q173 — no eager job)
  // and as the per-probe reference the lake parity specs check against.
  // The batched forms take a (probe_id, …) batch and answer every probe
  // from ONE plan; the lake serves (LexLake.phraseServeBatch et al., the
  // lake's only positional serves — a single probe is a batch of one)
  // share these exact transcriptions over ONE bucket-pruned read of the
  // union of all probes' terms.

  /** Batched EXACT PHRASE occurrences over a pre-exploded (doc_id, term,
    * pos) position frame and an exploded (probe_id, slot, term) phrase-slot
    * frame (slot 0-based; one row per slot) — the ONE transcription
    * [[phraseMatchBatch]] and [[graft.domain.LexLake.phraseServeBatch]]
    * share. A phrase occurrence at start s exists iff every slot i holds
    * its term at position s + i; the per-(probe, doc, start) DISTINCT-slot
    * count reaching the probe's slot count states that predicate as ONE
    * keyed aggregation — no per-phrase fold chain, so one plan serves
    * phrases of EVERY length in the batch (duplicate words fall out
    * naturally: each slot needs its own aligned position). The per-probe
    * conjunctive gate (docs holding every distinct phrase term — the
    * rarest-word optimization, batched) cuts the start frame first. Every
    * exchange is keyed on (probe, doc[, start]): no window, no sort, no
    * all-pairs. Output: (probe_id, doc_id, occurrences), matches only. */
  def phraseOccurrencesBatchFromPositions(pos: DataFrame,
                                          slots: DataFrame): DataFrame = {
    val k = slots.groupBy("probe_id").agg(count(lit(1)).as("__k"),
      count_distinct(col("term")).as("__ntq"))
    val cand = pos
      .join(broadcast(slots.select("probe_id", "term").distinct()),
        Seq("term"))
      .select("probe_id", "doc_id", "term").distinct()
      .groupBy("probe_id", "doc_id")
      .agg(count(lit(1)).as("__nt"))
      .join(broadcast(k), Seq("probe_id"))
      .filter(col("__nt") === col("__ntq"))
      .select("probe_id", "doc_id")
    pos.join(broadcast(slots), Seq("term"))
      .join(cand, Seq("probe_id", "doc_id"), "left_semi")
      .select(col("probe_id"), col("doc_id"),
        (col("pos") - col("slot")).cast("long").as("start"), col("slot"))
      .filter(col("start") >= 0)
      .groupBy("probe_id", "doc_id", "start")
      .agg(count_distinct(col("slot")).as("__ns"))
      .join(broadcast(k), Seq("probe_id"))
      .filter(col("__ns") === col("__k"))
      .groupBy("probe_id", "doc_id")
      .agg(count(lit(1)).as("occurrences"))
  }

  /** Batched [[phraseMatch]]: one tokenize pass filtered to the UNION of
    * all probes' phrase terms, then [[phraseOccurrencesBatchFromPositions]]
    * — adding a probe to the batch adds no corpus work. `probes` is
    * (probe_id, phrase array<string>), ids unique, phrases non-empty
    * (refused loudly via [[Serving.phraseSlotsBatch]]). */
  def phraseMatchBatch(docs: DataFrame, idCol: String, textCol: String,
                       probes: DataFrame,
                       probeIdCol: String = "probe_id",
                       phraseCol: String = "phrase",
                       maxBroadcastQueryTerms: Long = 1L << 20): DataFrame = {
    val slots = Serving.phraseSlotsBatch(probes, probeIdCol, phraseCol,
      maxBroadcastQueryTerms)
    val universe = slots.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    val pos = docs.select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos", "term")))
      // an EMPTY probe batch has no universe; isInCollection needs a
      // non-empty literal set, so prune to nothing explicitly
      .filter(if (universe.isEmpty) lit(false)
        else col("term").isInCollection(universe))
      .select(col("doc_id"), col("term"), col("pos").cast("long").as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    phraseOccurrencesBatchFromPositions(pos, slots)
  }

  /** Batched twin of [[proximityPairs]]' blocked join over a pinned
    * (probe_id, term_a, term_b) probe frame — per probe AND doc, the
    * position pairs of its two terms within `w` tokens (pa != pb when the
    * probe's terms are equal). The width-w bucket blocking is unchanged
    * (one side 3×-replicated ⇒ plain equi-join, now keyed on
    * (probe, doc, bucket)); a term queried by many probes fans its
    * positions out once per probe via the broadcast probe join, never a
    * corpus re-scan. Output: (probe_id, doc_id, n_pairs). */
  def proximityPairsBatchFromPositions(pos: DataFrame, probes: DataFrame,
                                       w: Int): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    val pa = pos
      .join(broadcast(probes.select(col("probe_id"),
        col("term_a").as("term"))), Seq("term"))
      .select(col("probe_id"), col("doc_id"),
        col("pos").cast("long").as("pa"),
        floor(col("pos") / w).cast("long").as("__bk"))
    val pb = pos
      .join(broadcast(probes.select(col("probe_id"),
        col("term_b").as("term"))), Seq("term"))
      .select(col("probe_id"), col("doc_id"),
        col("pos").cast("long").as("pb"),
        explode(array((floor(col("pos") / w) - 1).cast("long"),
          floor(col("pos") / w).cast("long"),
          (floor(col("pos") / w) + 1).cast("long"))).as("__bk"))
    pa.join(pb, Seq("probe_id", "doc_id", "__bk"))
      .join(broadcast(probes.select(col("probe_id"),
        (col("term_a") === col("term_b")).as("__same"))), Seq("probe_id"))
      .filter(abs(col("pa") - col("pb")) <= w &&
        (!col("__same") || col("pa") =!= col("pb")))
      .groupBy("probe_id", "doc_id").agg(count(lit(1)).as("n_pairs"))
  }

  /** Batched [[proximityPairs]]: one tokenize pass filtered to the union
    * of all probes' terms, then [[proximityPairsBatchFromPositions]].
    * `probes` is (probe_id, term_a, term_b), ids unique (refused loudly),
    * terms [A-Za-z0-9_-]+. */
  def proximityPairsBatch(docs: DataFrame, idCol: String, textCol: String,
                          probes: DataFrame, w: Int): DataFrame = {
    val p = Serving.termPairProbes(probes)
    val universe = p.select(col("term_a").as("term"))
      .unionByName(p.select(col("term_b").as("term")))
      .distinct().collect().map(_.getString(0)).toSeq
    val pos = docs.select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(if (universe.isEmpty) lit(false)
        else col("term").isInCollection(universe))
      .select(col("doc_id"), col("term"), col("pos").cast("long").as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    proximityPairsBatchFromPositions(pos, p, w)
  }

  /** Batched twin of [[bestPassageWindow]]'s blocked join over an exploded
    * (probe_id, term) query frame: per probe and doc, the max distinct
    * query terms any width-`w` window covers. The one-sided blocking is
    * unchanged, keyed on (probe, doc, bucket). Output:
    * (probe_id, doc_id, best_window_terms), docs holding >= 1 term only. */
  def bestPassageWindowBatchFromPositions(pos: DataFrame, qterms: DataFrame,
                                          w: Int): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    val p = pos.join(broadcast(qterms), Seq("term"))
    val starts = p.select(col("probe_id"), col("doc_id"),
      col("pos").as("s"), floor(col("pos") / w).cast("long").as("__bk"))
    val members = p.select(col("probe_id"), col("doc_id"), col("term"),
      col("pos").as("q"),
      explode(array(floor(col("pos") / w).cast("long"),
        (floor(col("pos") / w) - 1).cast("long"))).as("__bk"))
    starts.join(members, Seq("probe_id", "doc_id", "__bk"))
      .filter(col("q") >= col("s") && col("q") < col("s") + w)
      .groupBy("probe_id", "doc_id", "s")
      .agg(count_distinct(col("term")).as("__nt"))
      .groupBy("probe_id", "doc_id")
      .agg(max(col("__nt")).as("best_window_terms"))
  }

  /** Batched [[bestPassageWindow]]: `probes` is (probe_id, terms
    * array<string>) through the shared serving-batch gate, one tokenize
    * pass over the union of terms. */
  def bestPassageWindowBatch(docs: DataFrame, idCol: String, textCol: String,
                             probes: DataFrame, w: Int,
                             probeIdCol: String = "probe_id",
                             termsCol: String = "terms",
                             maxBroadcastQueryTerms: Long = 1L << 20)
      : DataFrame = {
    val qterms = Serving.queryTermsBatch(probes, probeIdCol, termsCol,
      maxBroadcastQueryTerms, pin = true)
    Serving.requireTermCharset(qterms, "term", "passage batch")
    val universe = qterms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    val pos = docs.select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(if (universe.isEmpty) lit(false)
        else col("term").isInCollection(universe))
      .select(col("doc_id"), col("term"), col("pos").cast("long").as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bestPassageWindowBatchFromPositions(pos, qterms, w)
  }

  /** PER-DOC proximity pair matrix over a pre-filtered (doc_id, term, pos)
    * frame — [[proximityMatrix]]'s blocked join resolved per document
    * instead of corpus-total: (doc_id, term_a, term_b, n_pairs) for every
    * unordered pair of DISTINCT terms within `w` tokens. The shared
    * transcription of [[bm25ProximityRank]]'s bonus arm and
    * [[graft.domain.LexLake.proximityRankServe]]'s. */
  def proximityPairMatrixPerDocFromPositions(pos: DataFrame,
                                             w: Int): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    val pa = pos.select(col("doc_id"), col("term").as("term_a"),
      col("pos").cast("long").as("pa"),
      floor(col("pos") / w).cast("long").as("__bk"))
    val pb = pos.select(col("doc_id"), col("term").as("term_b"),
      col("pos").cast("long").as("pb"),
      explode(array((floor(col("pos") / w) - 1).cast("long"),
        floor(col("pos") / w).cast("long"),
        (floor(col("pos") / w) + 1).cast("long"))).as("__bk"))
    pa.join(pb, Seq("doc_id", "__bk"))
      .filter(col("term_a") < col("term_b") &&
        abs(col("pa") - col("pb")) <= w)
      .groupBy("doc_id", "term_a", "term_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The BM25 + proximity-bonus combine-and-rank — ONE transcription
    * shared by [[bm25ProximityRank]] and
    * [[graft.domain.LexLake.proximityRankServe]] so parity holds by
    * construction. `bmsc` = (probe_id, doc_id, bm25_micros) unranked;
    * `pairCounts` = the per-doc pair matrix; `qterms` = the exploded
    * (probe_id, term) batch. Per probe and doc:
    * score = bm25 + Σ over the probe's own term pairs of
    * round(proxWeight · ln(1 + n_pairs) · 10⁶) — the saturating
    * log-shaped proximity boost, in exact integer micros so the rank's
    * (score desc, doc_id asc) total order is engine-independent. A doc
    * with pairs necessarily holds both terms, so it is already a BM25
    * candidate — the left join loses nothing. */
  def proximityRankFold(bmsc: DataFrame, pairCounts: DataFrame,
                        qterms: DataFrame, n: Int,
                        proxWeight: Double): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val qp = qterms.select(col("probe_id"), col("term").as("term_a"))
      .join(qterms.select(col("probe_id"), col("term").as("term_b")),
        Seq("probe_id"))
      .filter(col("term_a") < col("term_b"))
    val boost = pairCounts
      .join(broadcast(qp), Seq("term_a", "term_b"))
      .withColumn("__b",
        round(log(lit(1.0) + col("n_pairs"))
          * lit(proxWeight * 1000000.0), 0).cast("long"))
      .groupBy("probe_id", "doc_id")
      .agg(sum(col("__b")).as("prox_micros"))
    Serving.rankTopNMicros(
      bmsc.join(boost, Seq("probe_id", "doc_id"), "left")
        .withColumn("score_micros",
          col("bm25_micros") + coalesce(col("prox_micros"), lit(0L)))
        .select("probe_id", "doc_id", "score_micros"),
      n, "doc_id", "score_micros")
  }

  /** PROXIMITY-WEIGHTED BM25 ranking (r12 verdict ask #6) — the pure twin
    * of [[graft.domain.LexLake.proximityRankServe]]: per probe, BM25 over
    * its terms PLUS a bonus of round(proxWeight · ln(1 + n_pairs) · 10⁶)
    * for every unordered pair of its distinct terms co-occurring within
    * `w` tokens — "boost tight phrases, don't just gate on them", the
    * middle ground between plain BM25 (q162) and the hard phrase gate
    * (q172). Exact integer micros end to end; top-`n` through the bounded
    * heap. Scale shape: one tokenize pass (positions) filtered to the
    * batch's term union; the pair arm is the width-`w` bucket-blocked
    * equi-join (never a nested loop); both aggs (probe, doc)-keyed with
    * map-side partials. Output: (probe_id, doc_id, score_micros, rank). */
  def bm25ProximityRank(docs: DataFrame, idCol: String, textCol: String,
                        queries: DataFrame, queryIdCol: String,
                        termsCol: String, n: Int, w: Int,
                        k1: Double = 1.2, b: Double = 0.75,
                        proxWeight: Double = 1.0,
                        maxBroadcastQueryTerms: Long = 1L << 20): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(w >= 1, s"w must be >= 1, got $w")
    require(proxWeight >= 0, s"proxWeight must be >= 0, got $proxWeight")
    // pinned: the frame feeds the BM25 arm, the pair arm's probe pairs,
    // and the universe filter
    val qterms = Serving.queryTermsBatch(queries, queryIdCol, termsCol,
      maxBroadcastQueryTerms, pin = true)
    val universe = qterms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    // ONE corpus positional pass feeds BOTH arms (r14): the pruned
    // positions carry dl (the token array binds once per doc, so
    // size(attr) is O(1) per exploded row), and the BM25 arm's
    // (doc, dl, term, tf) frame is the per-(doc, term) row count of the
    // SAME pruned positions — the separate tf explode the old shape paid
    // is gone (guide §2.3/§2.4: one corpus pass, not two).
    val pos = docs.select(col(idCol).as("doc_id"),
        TF.tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("dl"),
        posexplode(col("__t")).as(Seq("pos", "term")))
      .filter(if (universe.isEmpty) lit(false)
        else col("term").isInCollection(universe))
      .select(col("doc_id"), col("dl"), col("term"),
        col("pos").cast("long").as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tfFromPos = pos.groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val bmsc = bm25ScoredPerQuery(docs, idCol, textCol, qterms, k1, b,
      sharedTf = Some(tfFromPos))
    proximityRankFold(bmsc,
      proximityPairMatrixPerDocFromPositions(
        pos.select("doc_id", "term", "pos"), w),
      qterms, n, proxWeight)
  }

  /** Polynomial rolling-hash document fingerprint (Rabin-Karp / Karp-Rabin
    * 1987): fold (acc·base + h(token)) mod M left-to-right over the token
    * stream, h = first 8 md5 hex digits. ORDER-SENSITIVE, unlike the set
    * fingerprints (q28/q32) — token reorderings produce different hashes.
    * Pure codegen'd expression, no shuffle at all; all arithmetic stays below
    * 2^36 (acc < M < 2^30, h < 2^32), so no overflow in any engine. */
  def rollingHash(docs: DataFrame, idCol: String, textCol: String,
                  base: Long = 31L, mod: Long = 1000000007L): DataFrame = {
    // acc < mod, token hash < 2^32: acc*base + h must fit a signed 64-bit —
    // checked with division (a product-form guard would itself overflow)
    require(base > 0 && mod > 1 &&
      mod - 1 <= (Long.MaxValue - ((1L << 32) - 1)) / base,
      s"base=$base mod=$mod can overflow the 64-bit fold")
    docs.select(col(idCol),
      aggregate(
        transform(TF.tokens(col(textCol)), t => TF.md5Prefix32(t)),
        lit(0L),
        (acc, x) => (acc * base + x) % mod).as("roll_hash"))
  }

  /** ONE transcription of the k-token window geometry shared by the span
    * ops (q76 signal / q82 transform): `base` = non-empty docs with their
    * token arrays, `windows` = stride-1 k-token windows as (id, __s start,
    * __wh md5-of-window-text). Mirrored by TextOracle.windowCtes. */
  private def tokenWindows(docs: DataFrame, idCol: String, textCol: String,
                           k: Int): (DataFrame, DataFrame) = {
    val base = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), TF.tokens(col(textCol)).as("__t"))
    val windows = base
      .filter(size(col("__t")) >= k)
      .select(col(idCol), col("__t"),
        explode(sequence(lit(1), size(col("__t")) - (k - 1))).as("__s"))
      .select(col(idCol), col("__s"),
        md5(concat_ws(" ", slice(col("__t"), col("__s"), lit(k)))).as("__wh"))
    (base, windows)
  }

  /** Cross-document duplicated-span signal (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — the exact-substring pass,
    * approximated at token granularity): hash every k-token window (stride 1);
    * a window whose hash occurs in more than one DISTINCT document is a
    * duplicated span. Per doc: window count, duplicated-window count, dup
    * fraction. This catches partial copies that whole-doc fingerprints
    * (q28/q29) and set-similarity (q30/q31) miss — a page that quotes three
    * boilerplate paragraphs dups those windows only.
    * Scale: window rows ≈ token count (linear, stride 1); the per-hash
    * distinct-doc agg is map-side combinable (hot boilerplate collapses
    * early); the flag join-back keys on the window hash with ONE row per hash
    * on the aggregated side — fan-out stays linear, residual hot-key skew is
    * AQE's skew-join case. Docs shorter than k tokens emit no windows and
    * report (0, 0, 0.0) — they are whole-doc dedup's job, not span dedup's. */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val (base, windows) = tokenWindows(docs, idCol, textCol, k)
    val perHash = windows.groupBy(col("__wh"))
      .agg(countDistinct(col(idCol)).as("__nd"))
    val perDoc = windows.join(perHash, "__wh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_dup"))
    base.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_windows"), lit(0L)) > 0,
          round(col("n_dup").cast("double") / col("n_windows"), 6))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Duplicated-span REMOVAL — the transform half of [[dupSpans]] (Lee et
    * al. 2021 keep-one-occurrence semantics, token-granular): for every
    * k-token window hash, the canonical occurrence is the least
    * (doc, start); token positions covered by any NON-canonical duplicated
    * window are dropped and the text is rebuilt from the survivors.
    * Approximation note (documented, deterministic): the canonical
    * occurrence itself can be partially eaten when it overlaps a DIFFERENT
    * duplicated span — exact one-copy preservation needs interval
    * stitching, which this operator trades away for pure keyed-shuffle
    * shapes. Output: token counts before/after and an md5 of the rebuilt
    * text (content stays hashed, never re-materialized wholesale).
    * Scale: window and token rows are both linear in corpus tokens; every
    * exchange is keyed (window hash / doc / (doc,pos)); the rebuild is a
    * per-doc sort_array over surviving tokens — no global sort anywhere. */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val (base, windows) = tokenWindows(docs, idCol, textCol, k)
    val m1 = windows.groupBy(col("__wh"))
      .agg(countDistinct(col(idCol)).as("__nd"), min(col(idCol)).as("__cdoc"))
    val m2 = windows.join(m1, "__wh")
      .filter(col(idCol) === col("__cdoc"))
      .groupBy(col("__wh")).agg(min(col("__s")).as("__cpos"))
    val flagged = windows.join(m1, "__wh").join(m2, "__wh")
      .filter(col("__nd") > 1 &&
        !(col(idCol) === col("__cdoc") && col("__s") === col("__cpos")))
    val drops = flagged
      .select(col(idCol), explode(sequence(col("__s"), col("__s") + (k - 1))).as("__p"))
      .distinct()
    val toks = base
      .select(col(idCol), posexplode(col("__t")).as(Seq("__p0", "__tok")))
      .select(col(idCol), (col("__p0") + 1).as("__p"), col("__tok"))
    val kept = toks.join(drops, Seq(idCol, "__p"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("__p"), col("__tok")))),
            e => e.getField("__tok")))).as("kept_hash"))
    base.select(col(idCol), size(col("__t")).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_hash"), md5(lit(""))).as("kept_hash"))
  }

  /** Per-document negative log-likelihood under the corpus's own unigram LM
    * with add-one smoothing: p(t) = (count(t)+1)/(N+V). The distributed
    * stand-in for CCNet-style perplexity quality filtering (Wenzek et al.
    * 2020) — no external LM ships in this container, so the corpus itself is
    * the model; swapping in pretrained probabilities is a join-table change.
    * Low NLL ⇒ common, prose-like text; high NLL ⇒ rare-token noise.
    * Determinism: ln() is correctly rounded in both engines (verified
    * bit-identical for this value range), each token's log-prob is rounded
    * to 6dp and summed as DECIMAL(18,6) — exact and ORDER-INDEPENDENT, so
    * the shuffle's nondeterministic row order can't change the hash. The
    * output is the exact TOTAL (decimal→double, a proven-identical cast),
    * not the mean: mean = total/n can land on an exact decimal half-tie
    * (observed: 210.926201/62) where the engines' round-on-double tie rules
    * disagree — callers divide by n_tokens themselves.
    * Scale: vocab agg is map-side combinable; the token→count join fans out
    * one row per token (vocab side is 1 row/term — linear, stopword-key skew
    * is AQE's case); corpus totals are a 1-row broadcast. */
  def unigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(TF.tokens(col(textCol))).as("__tk"))
    val vocab = toks.groupBy(col("__tk")).agg(count(lit(1)).as("__c"))
    val totals = vocab.agg(sum(col("__c")).cast("long").as("__n"), count(lit(1)).as("__v"))
    toks.join(vocab, "__tk")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        round(log((col("__c") + 1).cast("double") / (col("__n") + col("__v")).cast("double")), 6)
          .cast(DecimalType(18, 6)).as("__lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        (-sum(col("__lp"))).cast("double").as("nll_total"))
  }

  /** Interpolated add-one BIGRAM negative log-likelihood — [[unigramNll]]'s
    * context-aware sibling (Jelinek-Mercer interpolation at λ = 1/2, the
    * textbook smoothing of Chen & Goodman 1999): per ordered bigram (p, w),
    * score −ln(½·P_uni(w) + ½·P_bi(w|p)) with both models add-one smoothed
    * over the corpus's own counts. Catches word-salad documents whose
    * unigram profile looks normal but whose transitions are noise — the
    * next filter rung above q77. Per-gram log-probs round to 6 decimals and
    * sum in exact DECIMAL (order-independent); the TOTAL is reported, not
    * the mean (total/n can land on an engine-divergent decimal half-tie).
    * The λ-interpolation is one fixed-shape IEEE expression — ½·a + ½·b —
    * identical in any engine. Scale: two term-keyed joins (unigram + bigram
    * counts) against the exploded gram stream, the same open-vocabulary
    * shuffle shape as q77; [[dsirWeights]] is the bounded-feature-space
    * variant when the vocab itself is the bottleneck. Docs with < 2 tokens
    * have no bigrams and no row. */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nonBlank = docs.filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
    // ONE corpus explode builds BOTH count tables (r14; the old shape paid
    // a tokenize pass for the unigram pin and a shingle pass for the bigram
    // pin): a unigram never contains a space and a 2-gram always does, so
    // the concatenated gram stream partitions exactly by instr(' ') — one
    // pinned (gram, count) table, one checkpoint job, the vocabulary-sized
    // split done on the pinned rows (guide §2.3/§2.4).
    val base = nonBlank.select(col(idCol), TF.tokens(col(textCol)).as("__t"))
    def bigrams(t: Column): Column = {
      val m = greatest(size(t) - 1, lit(0))
      zip_with(slice(t, lit(1), m), slice(t, lit(2), m),
        (a, b) => concat(a, lit(" "), b))
    }
    val counts = base
      .select(explode(concat(col("__t"), bigrams(col("__t")))).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val uni = counts.filter(!col("__g").contains(" "))
      .select(col("__g").as("__tk"), col("__c"))
    val totals = uni.agg(sum(col("__c")).cast("long").as("__n"), count(lit(1)).as("__v"))
    val grams = base
      .select(col(idCol), explode(bigrams(col("__t"))).as("__g"))
      .withColumn("__prev", element_at(split(col("__g"), " "), 1))
      .withColumn("__cur", element_at(split(col("__g"), " "), 2))
    val big = counts.filter(col("__g").contains(" "))
      .select(col("__g"), col("__c").as("__cb"))
    grams
      .join(big, "__g")
      .join(uni.select(col("__tk").as("__cur"), col("__c").as("__cu_cur")), Seq("__cur"))
      .join(uni.select(col("__tk").as("__prev"), col("__c").as("__cu_prev")), Seq("__prev"))
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        round(log(
          lit(0.5) * ((col("__cu_cur") + 1).cast("double")
            / (col("__n") + col("__v")).cast("double"))
            + lit(0.5) * ((col("__cb") + 1).cast("double")
            / (col("__cu_prev") + col("__v")).cast("double"))), 6)
          .cast(DecimalType(18, 6)).as("__lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum(col("__lp"))).cast("double").as("nll_total"))
  }

  /** Out-of-vocabulary rate against the corpus's own top-`vocabSize` tokens
    * (by count desc, token asc — a total order, so the vocabulary cut is
    * engine-exact): the tokenizer-coverage diagnostic run before committing
    * to a vocab size, and a quality signal in its own right (high OOV =
    * junk, code, or the wrong language). The vocabulary is a TakeOrdered of
    * the term-count table — k rows, never a global sort — broadcast back
    * onto the token stream; one term-keyed count shuffle total. Output:
    * (id, n_tokens, n_oov, oov_rate), rate = one exact-integer division
    * rounded to 6. */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val toks = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(TF.tokens(col(textCol))).as("__tk"))
    val vocab = toks.groupBy(col("__tk")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__tk")).limit(vocabSize)
      .select(col("__tk"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("__tk"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).cast("long").as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** Corpus drift report between two document sets (the monitoring check a
    * recurring crawl runs before appending a new snapshot): the total
    * log-likelihood ratio of A's tokens under A's own add-one unigram model
    * vs B's — Σ_t c_A(t)·ln(p_A(t)/p_B(t)), the n·D_KL-shaped statistic
    * (exact KL up to smoothing), reported with the union-vocab size and
    * A's token mass. Zero-ish total = same distribution; large positive =
    * the new crawl drifted. Determinism: per-term ln ratio rounds to 6 and
    * multiplies the exact integer count INSIDE the decimal domain, so the
    * sum is order-independent — the TOTAL is reported, never a mean (q77's
    * rule). One full-outer term join of two bounded-by-vocab count tables;
    * token streams never shuffle beyond their per-term partial aggs. */
  def corpusDrift(a: DataFrame, b: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    def termCounts(df: DataFrame): DataFrame = df
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(explode(TF.tokens(col(textCol))).as("__tk"))
      .groupBy(col("__tk")).agg(count(lit(1)).as("__c"))
    val ca = termCounts(a)
    val cb = termCounts(b)
    val joined = ca.withColumnRenamed("__c", "__ca")
      .join(cb.withColumnRenamed("__c", "__cb"), Seq("__tk"), "full_outer")
      .select(col("__tk"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val totals = joined.agg(
      sum(col("__ca")).cast("long").as("__na"),
      sum(col("__cb")).cast("long").as("__nb"),
      count(lit(1)).as("__v"))
    joined.crossJoin(broadcast(totals))
      .select(col("__ca"),
        round(log(((col("__ca") + 1).cast("double") / (col("__na") + col("__v")).cast("double"))
          / ((col("__cb") + 1).cast("double") / (col("__nb") + col("__v")).cast("double"))), 6)
          .cast(DecimalType(18, 6)).as("__lr"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__ca")).cast("long").as("n_tokens_a"),
        // (18,0)·(18,6) → DECIMAL(37,6): inside the 38-digit cap of BOTH
        // engines, so the product is exact — a (38,6) operand would trip
        // engine-specific overflow scale-adjustment rules
        sum(col("__ca").cast(DecimalType(18, 0)) * col("__lr")).cast("double")
          .as("total_llr"))
  }

  /** Vocabulary coverage curve: for each k in `ks`, the fraction of the
    * corpus's BIGRAM occurrence mass covered by the top-k most frequent
    * bigrams — the diagnostic behind vocab-size choices (where the Zipf
    * curve flattens is where a bigger vocab stops paying). The ranked head
    * is a TakeOrdered of max(ks) rows (never a global sort); the per-k sums
    * run over that bounded head, so the whole curve costs one term-count
    * shuffle + k·|head| driver-side-free arithmetic. Fractions are one
    * exact-integer division rounded to 6. */
  def coverageCurve(docs: DataFrame, idCol: String, textCol: String,
                    ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be positive, got $ks")
    val kMax = ks.max
    val grams = docs
      .select(explode(TF.shinglesAll(col(textCol), 2)).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__c"))
    val total = grams.agg(sum(col("__c")).cast("long").as("__t"))
    val head = grams.orderBy(col("__c").desc, col("__g")).limit(kMax)
      .select(col("__g"), col("__c"),
        row_number().over(Window.orderBy(col("__c").desc, col("__g"))).as("__rn"))
    val kdf = docs.sparkSession.createDataFrame(
      ks.map(k => Tuple1(k))).toDF("k")
    kdf.crossJoin(head).filter(col("__rn") <= col("k"))
      .groupBy(col("k"))
      .agg(sum(col("__c")).cast("long").as("covered_occurrences"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("covered_occurrences"),
        col("__t").as("total_occurrences"),
        round(col("covered_occurrences").cast("double") / col("__t"), 6)
          .as("coverage"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): per-doc log-likelihood ratio of a
    * TARGET bag-of-hashed-ngrams model vs the SOURCE (whole-corpus) model,
    * features = unigrams ∪ bigrams hashed into `buckets` bins, both models
    * add-one smoothed. Docs whose feature profile looks like the target
    * (rows matching `targetFilter`) get positive weights; downstream
    * resamples ∝ exp(weight). Unlike [[unigramNll]]'s open vocabulary, the
    * feature table is BOUNDED at `buckets` rows — it broadcasts at any
    * corpus size, so scoring is one scan + one broadcast join + one doc agg,
    * no skew-prone term shuffle. The exploded gram stream is deliberately
    * computed TWICE (once for bucket counts, once for scoring) rather than
    * materialized through a keyed exchange: the rescan is map-only and
    * embarrassingly parallel, while shuffling gram-volume rows (~tokens per
    * corpus) is the actual scale killer. Same decimal-sum determinism as
    * q77. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetFilter: Column, buckets: Int): DataFrame = {
    require(buckets >= 2)
    val feats = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), targetFilter.as("__is_t"),
        explode(concat(TF.tokens(col(textCol)), TF.shinglesAll(col(textCol), 2))).as("__g"))
      .select(col(idCol), col("__is_t"),
        pmod(TF.md5Prefix32(col("__g")), lit(buckets.toLong)).as("__b"))
    // ONE gram pass (r13 optimization): reduce the exploded grams to
    // per-(doc, bucket) counts first — the bucket count table AND the
    // per-doc weight sum both fold out of that frame, where the old shape
    // re-ran the explode + per-gram md5 for each (guide §2.3: the md5 over
    // every token+bigram is the expensive map work here; pay it once).
    // Pinned (localCheckpoint) because its two consumers would otherwise
    // each re-execute the gram pass; the frame is docs × ≤buckets rows of
    // four narrow columns — the §8 "decide on small rows" shape, orders of
    // magnitude under the gram count it replaces. Grouping by __is_t is
    // free: it is functionally dependent on the doc id.
    val db = feats.groupBy(col(idCol), col("__is_t"), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val counts = db.groupBy(col("__b"))
      .agg(sum(col("__c")).as("__cs"),
        sum(when(col("__is_t"), col("__c")).otherwise(0L)).as("__ct"))
    val totals = counts.agg(sum(col("__cs")).cast("long").as("__ns"),
      sum(col("__ct")).cast("long").as("__nt"))
    db.join(broadcast(counts), "__b")
      .crossJoin(broadcast(totals))
      .select(col(idCol), col("__c"),
        round(log(
          ((col("__ct") + 1).cast("double") / (col("__nt") + buckets).cast("double")) /
          ((col("__cs") + 1).cast("double") / (col("__ns") + buckets).cast("double"))), 6)
          .cast(DecimalType(18, 6)).as("__lr"))
      .groupBy(col(idCol))
      // sum(__lr · __c) ≡ the old per-gram sum(__lr): __c identical decimal
      // addends collapse to one exact decimal multiply — same value, exact
      .agg(sum(col("__c")).as("n_feats"),
        sum(col("__lr") * col("__c")).cast("double").as("dsir_total"))
  }

  /** Gopher quality-rule suite (Rae et al. 2021, table A1): the standard
    * hand-tuned pre-training document filters, each reported as its own 0/1
    * flag plus the conjunction, so downstream can audit WHY a doc was cut.
    * Rules: word count in [minWords, maxWords]; mean word length in [3, 10];
    * ≥80% of words contain an alphabetic char; symbol-to-word ratio (# and
    * … sequences) ≤ 0.1; ≥2 English stopwords. Pure per-row expression
    * trees — no shuffle, whole-stage codegen end to end. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 20, maxWords: Int = 1000): DataFrame = {
    val t = col(textCol)
    val toks = TF.tokens(t)
    val nWords = size(toks).cast("long")
    val flag = (c: Column) => when(c, 1).otherwise(0)
    val meanLen = TF.meanTokenLen(t)
    val alphaFrac = when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, tk => tk.rlike("[A-Za-z]"))).cast("double") / size(toks))
    // occurrences of '#' plus occurrences of the three-dot ellipsis
    val nSym = (length(t) - length(regexp_replace(t, "#", ""))) +
      (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val symRatio = when(nWords === 0, lit(0.0))
      .otherwise(nSym.cast("double") / nWords)
    // stopwordHits lowercases each token itself — no pre-transform needed
    val stopHits = TF.stopwordHits(toks, TF.stopwords("en"))
    docs
      .filter(t.isNotNull && length(trim(t)) > 0)
      .select(col(idCol), nWords.as("n_words"),
        flag(nWords >= minWords && nWords <= maxWords).as("r_words"),
        flag(meanLen >= 3.0 && meanLen <= 10.0).as("r_mean_len"),
        flag(alphaFrac >= 0.8).as("r_alpha"),
        flag(symRatio <= 0.1).as("r_symbol"),
        flag(stopHits >= 2).as("r_stop"))
      .withColumn("keep",
        col("r_words") * col("r_mean_len") * col("r_alpha") * col("r_symbol") * col("r_stop"))
  }

  /** Overlapping context-window chunking: token windows of `chunkSize` every
    * `stride` tokens (stride < chunkSize ⇒ overlap), the standard prep step
    * for fixed-context training and embedding indexing. One explode per
    * chunk-start — rows scale with chunks, not chunks × chunkSize; the chunk
    * content itself stays an md5, not materialized text. No shuffle. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1)
    val chunk = slice(col("__t"), col("__s"), lit(chunkSize))
    docs.select(col(idCol), TF.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 1)
      .select(col(idCol), col("__t"),
        explode(sequence(lit(1), size(col("__t")), lit(stride))).as("__s"))
      .select(col(idCol),
        ((col("__s") - 1) / stride).cast("long").as("chunk_idx"),
        size(chunk).cast("long").as("n_tokens"),
        md5(concat_ws(" ", chunk)).as("chunk_hash"))
  }

  /** One BPE merge applied to a segmentation, left-to-right non-overlapping —
    * the reference semantics of Sennrich et al. 2016's merge step. */
  private[operators] def mergeOnce(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** BPE tokenizer TRAINING (Sennrich, Haddow & Birch 2016, "Neural Machine
    * Translation of Rare Words with Subword Units"): learn `numMerges` merge
    * rules from the corpus. ONE corpus pass builds the word-frequency dict —
    * the classical BPE training set, bounded by VOCABULARY size, not corpus
    * size, so at 100 TB the iteration runs over a table of unique words with
    * map-side-combined counts, never the corpus. Each round is one
    * distributed aggregation over the dict (adjacent symbol pairs weighted
    * by word freq), a 1-ROW driver pick of the global best pair (count desc,
    * then lexicographic (left, right) — fully deterministic), and a narrow
    * rewrite of the segmentations; rounds are pinned through InternalRow
    * RDDs (O(1) plan, previous round's blocks freed). Words carry the
    * Sennrich end-of-word marker "</w>" as a separate final symbol. Stops early when no pair occurs twice.
    * Returns the ordered merge table (rank, left, right, pair_count). */
  /** The train/encode contract for a word's initial segmentation: one symbol
    * per character plus the Sennrich end-of-word marker as a separate final
    * symbol. Shared so train and encode can never disagree. */
  private[operators] def toSyms(w: String): Seq[String] =
    w.split("").toSeq :+ "</w>"

  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    import org.apache.spark.storage.StorageLevel
    val explodeSyms = udf((w: String) => toSyms(w))
    def pin(df: DataFrame) =
      org.apache.spark.sql.GraftBridge.pinInternal(df, StorageLevel.MEMORY_AND_DISK)
    var (words, wordsRdd) = pin(
      docs.select(explode(TF.tokens(col(textCol))).as("__w"))
        .groupBy("__w").agg(count(lit(1)).as("freq"))
        .select(explodeSyms(col("__w")).as("syms"), col("freq")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pairs = words
        .select(explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
      // the global argmax is ONE row — the only driver materialization
      val best = pairs.orderBy(col("n").desc, col("l"), col("r")).limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < 2) done = true
      else {
        val (l, r, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, l, r, n))
        rank += 1
        // the rewrite only feeds the NEXT round's pair count — skip it after
        // the final accepted merge (a whole dict pass on large numMerges)
        if (rank < numMerges) {
          val applyMerge = udf((syms: Seq[String]) => mergeOnce(syms, l, r))
          val (next, nextRdd) = pin(words.select(applyMerge(col("syms")).as("syms"), col("freq")))
          next.count() // materialize before freeing the previous round
          wordsRdd.unpersist(blocking = false)
          words = next
          wordsRdd = nextRdd
        }
      }
    }
    wordsRdd.unpersist(blocking = false)
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** BPE ENCODE with a learned merge table: tokenize, split each word via
    * [[toSyms]], replay the merges in rank order, count the resulting
    * subword units per document. The merge list is a driver-side constant
    * shipped in the closure (vocabulary-bounded by construction); the
    * encode is one narrow scan — no shuffle. Repeated words resolve from a
    * per-partition memo (Zipf makes the hit rate extreme), so the
    * merge-replay cost is per DISTINCT word per partition, not per
    * occurrence. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val ms = merges.toIndexedSeq
    import docs.sparkSession.implicits._
    val encoded = docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, Long]()
        it.map { case (id, text) =>
          val toks =
            if (text == null || text.trim.isEmpty) Seq.empty[String]
            else text.trim.split("\\s+").toSeq
          var total = 0L
          toks.foreach { w =>
            val nUnits =
              if (memo.containsKey(w)) memo.get(w)
              else {
                var syms: Seq[String] = toSyms(w)
                ms.foreach { case (l, r) => syms = mergeOnce(syms, l, r) }
                memo.put(w, syms.length.toLong)
                syms.length.toLong
              }
            total += nUnits
          }
          (id, total)
        }
      }
    encoded.toDF(idCol, "n_bpe_tokens")
  }
}
