package graft.operators

import graft.SparkSpec
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("repetitionStats: dup_frac separates repeated from unique bigram docs") {
    val docs = Seq(
      (1L, "a b a b a b"),   // bigrams: ab ba ab ba ab -> 5 total, 2 distinct
      (2L, "p q r s"),       // 3 distinct of 3
      (3L, "solo"),          // 1 token -> no bigrams -> absent
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionStats(docs, "doc_id", "text", shingleN = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((5L, 2L, 0.6)))
    assert(out(2L) == ((3L, 3L, 0.0)))
    assert(!out.contains(3L) && !out.contains(4L))
  }

  test("tfidfTopK: corpus-wide terms score 0, rare terms rank first, k respected") {
    val docs = Seq(
      (1L, "shared rare1 rare1 shared shared"),
      (2L, "shared mid mid"),
      (3L, "shared mid rare2")
    ).toDF("doc_id", "text")
    val rows = TextStats.tfidfTopK(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    // 'shared' is in every doc -> idf 0 -> never beats a rare term where one exists
    val d1 = rows.filter(_._1 == 1L).sortBy(_._4)
    assert(d1.head._2 == "rare1" && d1.head._3 > 0.0)
    assert(rows.groupBy(_._1).forall(_._2.size <= 2))
    // rank is dense 1..k per doc
    assert(rows.filter(_._1 == 3L).map(_._4).sorted.sameElements(Array(1, 2)))
  }

  test("bm25: query-term docs score positive, others exactly 0; longer docs damped") {
    val docs = Seq(
      (1L, "spark spark spark pad"),                     // high tf, short
      (2L, "spark " + ("pad " * 40).trim),               // same term, long doc
      (3L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val out = TextStats.bm25(docs, "doc_id", "text", Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(3L) == 0.0)
    assert(out(1L) > out(2L) && out(2L) > 0.0)
  }

  test("rollingHash: order-sensitive (unlike set fingerprints), empty/null -> 0") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha"), // same token SET, different order
      (3L, "alpha beta gamma"),
      (4L, ""), (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val h = TextStats.rollingHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(3L) && h(1L) != h(2L))
    assert(h(4L) == 0L && h(5L) == 0L)
    // the set fingerprint CANNOT see the reorder — that's the gap this op fills
    val fp = docs.select(col("doc_id"), TF.fingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) != fp(2L) || h(1L) != h(2L))
  }

  test("chunkTokens: stride windows overlap, tails clamp, short docs get one chunk") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens, chunk 4 stride 3
      (2L, "a b"),                                    // 2 tokens -> single short chunk
      (3L, "")
    ).toDF("doc_id", "text")
    val rows = TextStats.chunkTokens(docs, "doc_id", "text", chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val d1 = rows.filter(_._1 == 1L).sortBy(_._2)
    // starts at tokens 1,4,7,10 -> sizes 4,4,4,1
    assert(d1.map(_._2).sameElements(Array(0L, 1L, 2L, 3L)))
    assert(d1.map(_._3).sameElements(Array(4L, 4L, 4L, 1L)))
    // overlap: chunk 0 = t1..t4, chunk 1 = t4..t7 (share t4) — hashes differ
    assert(d1.map(_._4).distinct.length == 4)
    assert(rows.filter(_._1 == 2L).map(_._3).sameElements(Array(2L)))
    assert(!rows.exists(_._1 == 3L))
  }

  test("stratifiedTopFrac: integer-exact per-stratum cut, stable ties") {
    val df = (1 to 20).map(i => (i.toLong, if (i <= 10) "a" else "b", (i % 5).toDouble))
      .toDF("id", "grp", "score")
    val kept = Sampling.stratifiedTopFrac(df, "grp", col("score"), "id", 2, 5)
      .collect().map(r => (r.getString(1), r.getLong(0))).toList
    // 10 rows per stratum * 2/5 = exactly 4 kept in each
    assert(kept.count(_._1 == "a") == 4 && kept.count(_._1 == "b") == 4)
    // ties on score resolve by id: the kept set is the same on rerun
    val again = Sampling.stratifiedTopFrac(df, "grp", col("score"), "id", 2, 5)
      .collect().map(r => (r.getString(1), r.getLong(0))).toList
    assert(kept.toSet == again.toSet)
    intercept[IllegalArgumentException] {
      Sampling.stratifiedTopFrac(df, "grp", col("score"), "id", 3, 2)
    }
  }

  test("chunkTokens properties: full coverage, stride-exact overlap, budget cap (many shapes)") {
    val sizes = Seq(1, 2, 3, 47, 48, 49, 63, 64, 65, 100, 200)
    val docs = sizes.zipWithIndex
      .map { case (n, i) => (i.toLong, (1 to n).map(t => s"w$t").mkString(" ")) }
      .toDF("doc_id", "text")
    val rows = TextStats.chunkTokens(docs, "doc_id", "text", chunkSize = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for ((n, i) <- sizes.zipWithIndex) {
      val cs = rows.filter(_._1 == i.toLong).sortBy(_._2)
      val expectChunks = (n + 47) / 48  // ceil(n/stride): starts at 1, 49, ...
      assert(cs.length == expectChunks, s"n=$n")
      // contiguous 0-based chunk indexes; each chunk ≤ 64 tokens; the token
      // count across chunks covers every token at least once (overlap ≥ 0)
      assert(cs.map(_._2).sameElements(cs.indices.map(_.toLong)), s"n=$n")
      assert(cs.forall(_._3 <= 64), s"n=$n")
      val covered = cs.zipWithIndex.map { case ((_, _, len), k) => k * 48L + len }.max
      assert(covered >= n, s"n=$n: last covered token $covered")
    }
  }

  test("rollingHash differential vs plain-Scala reference over token shapes") {
    def md5p32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    def ref(text: String): Long = {
      val toks = text.trim match { case "" => Nil; case t => t.split("\\s+").toList }
      toks.foldLeft(0L)((acc, t) => (acc * 31L + md5p32(t)) % 1000000007L)
    }
    val texts = Seq("", "  ", "one", "one two three", "a a a a a",
      "Unicode tökens ünd émojis", "x " * 300 + "tail", "  padded   inside  ")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextStats.rollingHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((t, i) <- texts.zipWithIndex)
      assert(got(i.toLong) == ref(t), s"text '$t'")
  }

  test("pii scan: counts and redaction agree; clean text untouched") {
    val df = Seq(
      (1L, "mail me at a.b+c@site-x.io or 555-1234 now"),
      (2L, "no contact info at all"),
      (3L, "two mails x@y.com z@w.org and 555-0000 555-9999")
    ).toDF("id", "t")
    val out = df.select(col("id"),
        TF.piiCount(col("t"), TF.emailPattern).as("e"),
        TF.piiCount(col("t"), TF.phonePattern).as("p"),
        TF.redactPii(col("t")).as("red"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L)._1 == 1 && out(1L)._2 == 1)
    assert(out(1L)._3 == "mail me at [EMAIL] or [PHONE] now")
    assert(out(2L) == ((0L, 0L, "no contact info at all")))
    assert(out(3L) == ((2L, 2L, "two mails [EMAIL] [EMAIL] and [PHONE] [PHONE]")))
  }

  test("dupSpans: cross-doc shared windows flagged, within-doc repeats are not dups") {
    val docs = Seq(
      (1L, "a b c d e f"),      // k=3 windows: abc bcd cde def
      (2L, "x y a b c d q"),    // xya yab abc bcd cdq — shares abc, bcd with doc 1
      (3L, "m n o m n o m n"),  // 6 windows, all repeats of mno/nom/onm WITHIN doc 3 only
      (4L, "p q"),              // < k tokens -> zero windows, zero dups
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextStats.dupSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 2L, 0.5)))
    assert(out(2L) == ((5L, 2L, 0.4)))
    // within-doc repetition is q64's signal, not a cross-doc dup
    assert(out(3L) == ((6L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
    assert(!out.contains(5L))
  }

  test("removeDupSpans: canonical occurrence survives, copies are cut, rebuild is exact") {
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    val docs = Seq(
      (1L, "a b c d e f"),          // canonical owner (min doc) of the shared spans
      (2L, "z z a b c d z q w"),    // embeds "a b c d" -> its positions 3..6 cut
      (3L, "a b c d e f"),          // full copy of doc 1 -> fully cut
      (4L, "x y"),                  // < k tokens: no windows, untouched
      (5L, "m n o p m n o p")       // within-doc repeat only: nd=1, untouched
    ).toDF("doc_id", "text")
    val out = TextStats.removeDupSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((6L, 6L, md5("a b c d e f"))))
    assert(out(2L) == ((9L, 5L, md5("z z z q w"))))
    assert(out(3L) == ((6L, 0L, md5(""))))
    assert(out(4L) == ((2L, 2L, md5("x y"))))
    assert(out(5L) == ((8L, 8L, md5("m n o p m n o p"))))
  }

  test("unigramNll: exact add-one totals; rare tokens cost more than common ones") {
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, " "), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // counts: a=2 b=2 c=1; N=5, V=3
    def lp(c: Long): BigDecimal =
      BigDecimal(math.log((c + 1).toDouble / 8.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val out = TextStats.unigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((3L, (-(lp(2) * 3)).toDouble)))            // a a b, all count 2
    assert(out(2L) == ((2L, (-(lp(2) + lp(1))).toDouble)))        // b(2) c(1)
    assert(!out.contains(3L) && !out.contains(4L))                // blank/null filtered
    // per-token cost of the rare token exceeds the common one
    assert(-lp(1) > -lp(2))
  }

  test("dsirWeights: exact replay of the hashed-ngram likelihood ratio; target-like docs score higher") {
    val B = 101
    val docs = Seq(
      (1L, "en", "alpha beta alpha"),
      (2L, "en", "alpha beta"),
      (3L, "de", "zeta eta theta"),
      (4L, "de", "alpha beta alpha")) // same text as doc 1, non-target lang
      .toDF("doc_id", "lang", "text")
    def bucket(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(g.getBytes("UTF-8")).map(b => f"$b%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % B
    }
    def feats(text: String): Seq[Long] = {
      val t = text.split("\\s+").toSeq
      (t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))).map(bucket)
    }
    val all = Seq(1L -> ("en", "alpha beta alpha"), 2L -> ("en", "alpha beta"),
      3L -> ("de", "zeta eta theta"), 4L -> ("de", "alpha beta alpha"))
    val cs = all.flatMap { case (_, (_, tx)) => feats(tx) }.groupBy(identity).view.mapValues(_.size)
    val ct = all.filter(_._2._1 == "en").flatMap { case (_, (_, tx)) => feats(tx) }
      .groupBy(identity).view.mapValues(_.size)
    val ns = cs.values.sum.toLong; val nt = ct.values.sum.toLong
    def lr(b: Long): BigDecimal = BigDecimal(math.log(
      ((ct.getOrElse(b, 0) + 1).toDouble / (nt + B)) /
      ((cs(b) + 1).toDouble / (ns + B))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expect = all.map { case (id, (_, tx)) =>
      id -> ((feats(tx).size.toLong, feats(tx).map(lr).sum.toDouble))
    }.toMap
    val out = TextStats.dsirWeights(docs, "doc_id", "text", col("lang") === "en", B)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == expect)
    // target-vocab text outscores non-target vocab; identical text scores
    // identically regardless of ITS OWN label (the model is corpus-level)
    assert(out(1L)._2 > out(3L)._2)
    assert(out(1L)._2 == out(4L)._2)
  }

  test("gopherRules: each rule trips on its own pathology; clean prose passes all") {
    val good = "the quick brown fox and the lazy dog ran down to the " +
      "river for a long cool drink of water in the morning sun today" // 25 words, stopwords, alpha
    val docs = Seq(
      (1L, good),
      (2L, "too short for the corpus"),                        // 5 words -> r_words=0
      (3L, ("superlongword " * 25).trim),                      // mean len 13 -> r_mean_len=0
      (4L, ("1 2 3 4 5 " * 5).trim + " " + good),              // 25 of 50 words numeric
      (5L, ("# " * 10).trim + " " + good),                     // 10 of 35 words are '#'
      (6L, ("lorem ipsum dolor sit amet " * 5).trim)           // no stopwords -> r_stop=0
    ).toDF("doc_id", "text")
    val out = TextStats.gopherRules(docs, "doc_id", "text", minWords = 20, maxWords = 1000)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))).toMap
    assert(out(1L) == ((1, 1, 1, 1, 1, 1)))
    assert(out(2L)._1 == 0 && out(2L)._6 == 0)
    assert(out(3L)._2 == 0)
    assert(out(4L)._3 == 0 && out(4L)._6 == 0)  // 25/50 alpha words < 0.8
    assert(out(5L)._4 == 0)                     // 10 symbols / 35 words > 0.1
    assert(out(6L)._5 == 0)
  }

  test("bpeTrain learns the classic Sennrich merges in deterministic order") {
    // word freqs: low:5 lower:2 newest:6 widest:3 — the paper's worked
    // example. (e,s)/(s,t)/(t,</w>) all count 9; lexicographic tie-break
    // picks (e,s) first, then (es,t), then (est,</w>), then the l-o chain.
    val docs = Seq((1L, Array.fill(5)("low").mkString(" ")),
      (2L, "lower lower"),
      (3L, Array.fill(6)("newest").mkString(" ")),
      (4L, "widest widest widest")).toDF("doc_id", "text")
    val m = TextStats.bpeTrain(docs, "text", numMerges = 5)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq(
      (0, "e", "s", 9L), (1, "es", "t", 9L), (2, "est", "</w>", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L)))
  }

  test("bpeTrain stops early when no pair repeats; bpeEncode replays merges") {
    val tiny = Seq((1L, "ab cd")).toDF("doc_id", "text") // every pair count 1
    assert(TextStats.bpeTrain(tiny, "text", numMerges = 10).count() == 0)
    val merges = Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w"))
    val enc = TextStats.bpeEncode(
      Seq((1L, "newest low"), (2L, ""), (3L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"),
      "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // newest -> n,e,w,est</w> (4); low -> low,</w> (2)
    assert(enc(1L) == 6L)
    assert(enc(2L) == 0L && enc(3L) == 0L)
  }

  test("PRF expansion reaches docs the original terms never matched; an empty first pass requeries unexpanded") {
    // doc 1 matches "spark" and teaches the expansion "lakehouse"; docs 3/4
    // contain ONLY "lakehouse" — reachable strictly through the feedback
    // loop. The probe's own term is never its own expansion, and a probe
    // whose first pass finds nothing yields nothing.
    val docs = Seq(
      (1L, "spark lakehouse lakehouse"),
      (2L, "unrelated filler body here"),
      (3L, "lakehouse engine"),
      (4L, "lakehouse lakehouse lakehouse")).toDF("doc_id", "text")
    val queries = Seq(
      (7L, Seq("spark")),
      (8L, Seq("zzznothere"))).toDF("probe_id", "terms")
    val out = TextStats.bm25PrfExpand(docs, "doc_id", "text", queries,
        "probe_id", "terms", n = 10, fbDocs = 2, fbTerms = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit7 = out.collect { case (7L, d) => d }
    assert(hit7.contains(3L) && hit7.contains(4L),
      s"expansion must reach lakehouse-only docs: $out")
    assert(!out.exists(_._1 == 8L), "no feedback -> unexpanded -> no rows")
  }

  test("proximity pairs: each in-band pair counted exactly once; equal terms drop self-pairs; distance == w included") {
    // doc 1: 'a' at 0,3,5 — a-a pairs within 3 are (0,3) and (3,5), ordered
    // both ways = 4, self-pairs excluded; a-y: y at 4 pairs with 3 and 5.
    // doc 2: 'b' at 1 and 4 — distance EXACTLY w, crossing a bucket
    // boundary (floor(1/3)=0 vs floor(4/3)=1): the neighbor replication
    // must catch it, and catch it exactly once.
    val docs = Seq(
      (1L, "a x x a y a"),
      (2L, "c b c c b")).toDF("doc_id", "text")
    def got(a: String, b: String): Map[Long, Long] =
      TextStats.proximityPairs(docs, "doc_id", "text", a, b, w = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got("a", "a") == Map(1L -> 4L))
    assert(got("a", "y") == Map(1L -> 2L))
    assert(got("b", "b") == Map(2L -> 2L))
    assert(got("a", "zzz").isEmpty)
    // the batched form over the same four pairs, one probe each: the same
    // exact counts per probe
    val batch = TextStats.proximityPairsBatch(docs, "doc_id", "text",
        Seq((0L, "a", "a"), (1L, "a", "y"), (2L, "b", "b"), (3L, "a", "zzz"))
          .toDF("probe_id", "term_a", "term_b"), w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def gotBatch(probe: Long): Map[Long, Long] =
      batch.filter(_._1 == probe).map(r => r._2 -> r._3).toMap
    assert(gotBatch(0L) == Map(1L -> 4L))
    assert(gotBatch(1L) == Map(1L -> 2L))
    assert(gotBatch(2L) == Map(2L -> 2L))
    assert(gotBatch(3L).isEmpty)
  }

  test("bm25PerQuery refuses duplicate probe ids instead of silently merging their term sets") {
    val docs = Seq((1L, "spark query merge"), (2L, "spark spark window"))
      .toDF("doc_id", "text")
    val dup = Seq((7L, Seq("spark")), (7L, Seq("window")))
      .toDF("probe_id", "terms")
    val e = intercept[IllegalArgumentException] {
      TextStats.bm25PerQuery(docs, "doc_id", "text", dup,
        "probe_id", "terms", n = 5)
    }
    assert(e.getMessage.contains("duplicate probe_id"), e.getMessage)
  }
}
