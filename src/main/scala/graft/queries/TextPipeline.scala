package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` table:
  * exact dedup, token counting, quality scoring, n-gram Jaccard
  * near-dup, language ID, document fingerprinting, MinHash-LSH and
  * SimHash near-dup candidates.
  *
  * Scale notes (100 TB design intent):
  *  - q04: dedup shuffles ONLY (md5, doc_id) — never the document
  *    bodies. groupBy(md5) has map-side partial agg.
  *  - q05/q06/q11/q14: embarrassingly parallel scans, single
  *    projection, no shuffle except the final tiny per-lang agg; all
  *    text math is codegen'd `functions._` (no UDFs).
  *  - q07: the shingle self-join is the classic hot-key risk; AQE
  *    skew-join handles moderate skew. q07 stays uncapped (it is the
  *    exact baseline); q18 is the scale-safe variant with the
  *    document-frequency cap (shingles in > 10 docs carry no
  *    near-dup signal and are the guaranteed O(k²) hot keys).
  *  - q12: MinHash signatures are computed in ONE groupBy with 32
  *    min() aggregates (partial agg ⇒ one shuffle of 32 longs per
  *    doc, not 32 passes); LSH banding turns the O(n²) pair space
  *    into per-bucket joins; shingle/token hashing is the codegen'd
  *    poly_hash, oracle-mirrored in DuckDB.
  */
object TextPipeline {

  private val SP = "\\s+"
  /** Tokens of a trimmed document; empty doc → empty array (both
    * engines: `CASE WHEN length(trim(text))=0 THEN []`). */
  private def toks(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), SP))
  private val toksSql =
    "CASE WHEN length(trim(text))=0 THEN [] ELSE string_split_regex(trim(text), '\\s+') END"

  /** Exact dedup by content hash: canonical id + duplicate count per
    * distinct text. Only the 32-char hash is shuffled. */
  val q04 = Q(
    "q04_dedup_exact",
    """SELECT md5(text) AS h, MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
      |FROM documents GROUP BY md5(text) ORDER BY canonical_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_count"))
      .orderBy(col("canonical_id"))
  }

  /** Token statistics per language (corpus accounting). */
  val q05 = Q(
    "q05_token_stats",
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
       |  CAST(SUM(nc) AS BIGINT) AS total_chars,
       |  CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS avg_tokens
       |FROM (SELECT lang, len($toksSql) AS nt, length(text) AS nc FROM documents)
       |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), size(toks(col("text"))).cast("long").as("nt"),
        length(col("text")).cast("long").as("nc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        sum(col("nc")).as("total_chars"),
        (sum(col("nt")).cast("double") / count(lit(1))).as("avg_tokens"))
      .orderBy(col("lang"))
  }

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is")
  private def stopListSql = stopEn.map(w => s"'$w'").mkString("[", ",", "]")

  /** Per-document quality scoring: length/punctuation/stopword
    * ratios + a boolean keep-flag — all exact int/int arithmetic so
    * the DOUBLE ratios are bitwise-identical to the oracle. */
  val q06 = Q(
    "q06_quality_score",
    s"""SELECT doc_id,
       |  CAST(nc AS BIGINT) AS n_chars_t,
       |  CAST(nt AS BIGINT) AS n_tokens,
       |  CAST(np AS BIGINT) AS n_punct,
       |  CASE WHEN nc=0 THEN NULL ELSE CAST(np AS DOUBLE)/CAST(nc AS DOUBLE) END AS punct_ratio,
       |  CASE WHEN nt=0 THEN NULL ELSE CAST(nw AS DOUBLE)/CAST(nt AS DOUBLE) END AS mean_word_len,
       |  CASE WHEN nt=0 THEN NULL ELSE CAST(ns AS DOUBLE)/CAST(nt AS DOUBLE) END AS stopword_ratio,
       |  (nt >= 5 AND nt <= 20000
       |   AND CASE WHEN nt=0 THEN 0.0 ELSE CAST(nw AS DOUBLE)/CAST(nt AS DOUBLE) END BETWEEN 2.0 AND 12.0) AS quality_ok
       |FROM (SELECT doc_id, length(text) AS nc, len(tk) AS nt,
       |        length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS np,
       |        length(regexp_replace(text, '\\s', '', 'g')) AS nw,
       |        len(list_filter(tk, t -> list_contains($stopListSql, t))) AS ns
       |      FROM (SELECT doc_id, text, $toksSql AS tk FROM documents))
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val base = Tables.parallelize(Tables.documents(s, d)).select(
      col("doc_id"),
      length(col("text")).cast("long").as("nc"),
      size(toks(col("text"))).cast("long").as("nt"),
      length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("long").as("np"),
      length(regexp_replace(col("text"), "\\s", "")).cast("long").as("nw"),
      size(filter(toks(col("text")), t => t.isin(stopEn: _*))).cast("long").as("ns"))
    val meanWl = when(col("nt") === 0, lit(null))
      .otherwise(col("nw").cast("double") / col("nt").cast("double"))
    base.select(
      col("doc_id"),
      col("nc").as("n_chars_t"),
      col("nt").as("n_tokens"),
      col("np").as("n_punct"),
      when(col("nc") === 0, lit(null))
        .otherwise(col("np").cast("double") / col("nc").cast("double")).as("punct_ratio"),
      meanWl.as("mean_word_len"),
      when(col("nt") === 0, lit(null))
        .otherwise(col("ns").cast("double") / col("nt").cast("double")).as("stopword_ratio"),
      (col("nt") >= 5 && col("nt") <= 20000 &&
        coalesce(meanWl, lit(0.0)).between(2.0, 12.0)).as("quality_ok")
    ).orderBy(col("doc_id"))
  }

  /** Portable polynomial string hash (left fold over codepoints) —
    * IDENTICAL integer arithmetic in Spark and DuckDB, so the
    * hash-dependent near-dup operators (q12 MinHash, q13 SimHash)
    * carry full value oracles (round 1 used xxhash64, which DuckDB
    * cannot compute ⇒ rows-only checks). Same scheme as q14's
    * document fingerprint. acc < mod ≤ 2^31 and base ≤ 131 keep every
    * intermediate < 2^39 — no 64-bit overflow in either engine. */
  private def fpCol(c: Column, base: Long, mod: Long): Column =
    call_function("poly_hash", c, lit(base), lit(mod)) // codegen'd left fold
  private def fpSql(e: String, base: Long, mod: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_filter(string_split($e, ''), c -> len(c) > 0), " +
      s"c -> CAST(unicode(c) AS BIGINT))), (a, b) -> (a*$base + b) % $mod)"

  /** Distinct word-3-gram shingles per document (shared by q07/q12/q18).
    *
    * Round-7 (guide §2.4): the dedup key is (doc_id, shingle) and the
    * shingle list is per-doc by construction, so the dedup happens
    * INSIDE each row (array_distinct over the per-doc shingle array)
    * instead of a global `.distinct()` — that exchange shuffled every
    * posting string across the cluster to deduplicate sets that never
    * left their row. Output rows are identical; every shingle query
    * (q07/q18/q36/q38/q41/q43/q47) loses one full-posting shuffle.
    * Per-row memory is bounded by document length — the same contract
    * the token array `w` already had. */
  private[graft] def shingles(df: DataFrame): DataFrame =
    df.select(col("doc_id"), toks(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(array_distinct(shingleArr(col("w")))).as("shingle"))

  /** The word-3-grams of token array `w` in document order, repeats
    * kept (q46 counts them); `w` must hold ≥ 3 tokens. */
  private def shingleArr(w: Column): Column =
    transform(sequence(lit(1), size(w) - 2), i => concat_ws(" ", slice(w, i, lit(3))))
  private val shinglesSql =
    s"""words AS (SELECT doc_id, $toksSql AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
       |       FROM words, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** N-gram Jaccard near-dup detection: shingle self-join →
    * pairwise intersection counts → exact Jaccard ≥ 0.5. */
  val q07 = Q(
    "q07_shingle_jaccard",
    s"""WITH $shinglesSql,
       |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT doc1, doc2, common,
       |  CAST(common AS DOUBLE)/CAST(c1.n + c2.n - common AS DOUBLE) AS jaccard
       |FROM pairs JOIN cnt c1 ON doc1 = c1.doc_id JOIN cnt c2 ON doc2 = c2.doc_id
       |WHERE CAST(common AS DOUBLE)/CAST(c1.n + c2.n - common AS DOUBLE) >= 0.5
       |ORDER BY doc1, doc2""".stripMargin) { (s, d) =>
    // pinned, not cached: cnt and the two pair-join sides materialize
    // CONCURRENTLY under AQE, racing a lazy cache into duplicate
    // shingle builds (the q45 lesson, see TempCaches.pinned)
    val sh = TempCaches.pinned(shingles(Tables.parallelize(Tables.documents(s, d))))
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    jaccardAtLeastHalf(commonCounts(sh, sh), cnt)
      .orderBy(col("doc1"), col("doc2"))
  }

  /** Shared-shingle counts of every doc pair (doc1 from `a` < doc2
    * from `b`) joined by at least one shingle: (doc1, doc2, common).
    * Both sides are (doc_id, shingle) postings. */
  private def commonCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.as("a").join(b.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("common"))

  /** The near-dup verdict: attach exact Jaccard = common / |union|
    * to each (doc1, doc2, common) pair from the per-doc set sizes
    * (doc_id, n) and keep the pairs with Jaccard ≥ 0.5. */
  private def jaccardAtLeastHalf(common: DataFrame, sizes: DataFrame): DataFrame = {
    val jac = col("common").cast("double") /
      (col("n1") + col("n2") - col("common")).cast("double")
    common
      .join(sizes.select(col("doc_id").as("doc1"), col("n").as("n1")), "doc1")
      .join(sizes.select(col("doc_id").as("doc2"), col("n").as("n2")), "doc2")
      .select(col("doc1"), col("doc2"), col("common"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Shingles present in more than this many documents are dropped by
    * q18 — stop-phrase shingles ("the of the") carry no near-dup
    * signal but are the guaranteed hot keys of the self-join at
    * scale (one key joining k docs costs O(k²) pairs). */
  private val HotShingleDfCap = 10

  /** The (doc_id, shingle) postings of `docs` without the hot
    * shingles (df > [[HotShingleDfCap]]); pinned. */
  private def cappedPostings(docs: DataFrame): DataFrame = {
    // pinned: the shingle set feeds BOTH the df computation and the
    // capped join input — those materialize concurrently under AQE
    // and race a lazy cache into duplicate tokenization
    val sh = TempCaches.pinned(shingles(docs))
    // df per shingle, then an inner (semi-style) join keeps cold ones;
    // at scale this is one extra groupBy on the SAME key the join
    // shuffles on, and it removes the quadratic hot-key blowup
    val keep = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= HotShingleDfCap)
      .select(col("shingle"))
    // pinned: the capped postings feed the set-size agg and every pair
    // side — lineage truncation keeps AQE re-optimization of the deep
    // self-join trees cheap (see TempCaches.pinned)
    TempCaches.pinned(sh.join(keep, "shingle"))
  }

  /** Capped-Jaccard near-dup pairs (the q18/q36 engine) over any
    * (doc_id, text) table: shingle → df-cap hot shingles → self-join →
    * exact Jaccard ≥ 0.5 on the capped sets. */
  private def cappedJaccardPairs(docs: DataFrame): DataFrame = {
    val shc = cappedPostings(docs)
    val cnt = shc.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    jaccardAtLeastHalf(commonCounts(shc, shc), cnt)
  }

  /** Probe-restricted capped-Jaccard pairs: the subset of
    * cappedJaccardPairs(u) touching at least one `probeDocs` doc, but
    * the pair join NEVER materializes store×store candidates — each
    * of the two terms reduces one join side to the probe postings
    * (term 1: any-lower × probe-higher, covering probe×probe; term
    * 2: probe-lower × any-higher, its probe×probe overlap removed
    * post-agg). For a daily ingest where |batch| ≪ |store| the
    * near-dup candidate stream scales with |batch|·postings, not
    * |corpus|² — the whole point of dedup-on-resume. The df cap and
    * per-doc shingle counts are
    * still computed over the FULL union, so every emitted pair is
    * value-identical to the unrestricted machinery (the q41 oracle
    * generates ALL pairs and filters; only probe-touching pairs can
    * drop anything, so results match).
    *
    * PRECONDITION: doc_ids are unique in `u`, and every `probeDocs`
    * row is a row of `u` (same doc_id, same text). The probe postings
    * are read off `u`'s postings by doc_id, so a probe doc missing
    * from `u` is silently ignored and a duplicated doc_id merges two
    * shingle sets. Not checked at run time: that would cost q41 an
    * extra Spark job; incrementalIngest builds `u` as store ∪ batch
    * over disjoint ids. */
  private def cappedJaccardPairsProbe(u: DataFrame, probeDocs: DataFrame): DataFrame = {
    val shc = cappedPostings(u)
    // probe postings = the capped union postings restricted to probe
    // docs. shingles() is per-doc, so this is ROW-IDENTICAL to the
    // round-6 form (re-shingle the probe slice, re-apply the cap) but
    // reads the already-cached shc instead of re-tokenizing the batch
    // and re-running the df-cap join — two fewer stages, and the
    // probe-id semi-join broadcasts (|batch| ids), so no shuffle of
    // the postings is added
    val shp = TempCaches.cached(
      shc.join(probeDocs.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    val cnt = shc.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // term 1: any-lower × probe-higher (includes probe×probe, counted here)
    val t1 = commonCounts(shc, shp)
    // term 2: probe-lower × any-higher; its probe×probe overlap with
    // term 1 is removed POST-aggregation (the pair table is tiny next
    // to the candidate stream, so the doc_id-keyed anti-join is cheap)
    val probeIds = probeDocs.select(col("doc_id"))
    val t2 = commonCounts(shp, shc)
      .join(probeIds.select(col("doc_id").as("doc2")), Seq("doc2"), "left_anti")
    jaccardAtLeastHalf(t1.unionAll(t2.select(col("doc1"), col("doc2"), col("common"))), cnt)
  }

  /** The q18/q36 pair CTEs over a source relation `src` that provides
    * (doc_id, text). */
  private def cappedPairsSql(src: String): String =
    s"""words AS (SELECT doc_id, $toksSql AS w FROM $src),
       |sh0 AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
       |        FROM words, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
       |keep AS (SELECT shingle FROM sh0 GROUP BY shingle
       |         HAVING COUNT(*) <= $HotShingleDfCap),
       |sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |pairs0 AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
       |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2),
       |pairs AS (SELECT doc1, doc2, common,
       |    CAST(common AS DOUBLE)/CAST(c1.n + c2.n - common AS DOUBLE) AS jaccard
       |  FROM pairs0 JOIN cnt c1 ON doc1 = c1.doc_id JOIN cnt c2 ON doc2 = c2.doc_id
       |  WHERE CAST(common AS DOUBLE)/CAST(c1.n + c2.n - common AS DOUBLE) >= 0.5)""".stripMargin

  /** q07 with the hot-shingle document-frequency cap — the
    * scale-safe variant (q07's own scale note, round-1 VERDICT #7).
    * Per-doc set sizes are recomputed on the CAPPED sets so Jaccard
    * stays a true set similarity of what was joined. Kept as a
    * separate query (own oracle) so q07's uncapped oracle parity is
    * untouched. */
  val q18 = Q(
    "q18_shingle_jaccard_capped",
    s"""WITH ${cappedPairsSql("documents")}
       |SELECT doc1, doc2, common, jaccard FROM pairs
       |ORDER BY doc1, doc2""".stripMargin) { (s, d) =>
    cappedJaccardPairs(Tables.parallelize(Tables.documents(s, d)))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** End-to-end corpus cleaning — the composite a training-data user
    * actually runs, as ONE oracle-bearing query: quality gate (q06's
    * exact keep criteria) → exact dedup (q04: keep the min doc_id per
    * content hash) → capped-Jaccard near-dup removal (q18's pairs on
    * the surviving set; the higher doc_id of each pair is dropped).
    * Scale shape: the quality gate is a scan predicate, exact dedup
    * shuffles only (md5, doc_id), near-dup runs the df-capped join,
    * and both removal steps are anti-joins on doc_id. */
  val q36 = Q(
    "q36_corpus_clean",
    s"""WITH q AS (SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text, len($toksSql) AS nt,
       |           length(regexp_replace(text, '\\s', '', 'g')) AS nw
       |    FROM documents)
       |  WHERE nt >= 5 AND nt <= 20000
       |    AND (CASE WHEN nt=0 THEN 0.0 ELSE CAST(nw AS DOUBLE)/CAST(nt AS DOUBLE) END)
       |        BETWEEN 2.0 AND 12.0),
       |ex AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
       |s AS (SELECT q.* FROM q JOIN ex USING (doc_id)),
       |${cappedPairsSql("s")},
       |nd AS (SELECT DISTINCT doc2 AS doc_id FROM pairs)
       |SELECT s.doc_id, s.lang, CAST(length(s.text) AS BIGINT) AS n_chars_t
       |FROM s LEFT JOIN nd ON s.doc_id = nd.doc_id
       |WHERE nd.doc_id IS NULL
       |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
    corpusClean(Tables.parallelize(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))))
  }

  /** The q36 cleaning stages over ANY (doc_id, `label`, text) frame —
    * quality gate (scan predicate) → exact dedup (min doc_id per
    * content md5; only (md5, doc_id) shuffles) → capped-Jaccard
    * near-dup removal (df ≤ 10 join; the higher doc_id of each pair
    * dropped via anti-join). Factored out so q38 can run the SAME
    * oracle-verified stages over EXTRACTED text (round-4 VERDICT #6).
    * Returns (doc_id, `label`, n_chars_t) ordered by doc_id. */
  private[graft] def corpusClean(in: DataFrame, label: String = "lang"): DataFrame = {
    val base = in.select(
      col("doc_id"), col(label), col("text"),
      size(toks(col("text"))).cast("long").as("nt"),
      length(regexp_replace(col("text"), "\\s", "")).cast("long").as("nw"))
    val meanWl = when(col("nt") === 0, lit(null))
      .otherwise(col("nw").cast("double") / col("nt").cast("double"))
    // pinned (eager): the quality gate's tokenization + whitespace
    // regex feed BOTH the dedup-canonical side and the survivor side;
    // uncached the full heavy projection ran twice, and a lazy cache
    // is raced by the two sides materializing concurrently under AQE
    // — for q38 that race duplicated the EXTRACTION feeding this
    val quality = TempCaches.pinned(base.filter(col("nt") >= 5 && col("nt") <= 20000 &&
      coalesce(meanWl, lit(0.0)).between(2.0, 12.0)))
    val canon = quality
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    // pinned: survivors feed the near-dup machinery, the final
    // anti-join AND the output projection — three deep references
    val surv = TempCaches.pinned(
      quality.join(canon.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    val nd = cappedJaccardPairs(surv.select(col("doc_id"), col("text")))
      .select(col("doc2").as("doc_id")).distinct()
    surv.join(nd, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col(label),
        length(col("text")).cast("long").as("n_chars_t"))
      .orderBy(col("doc_id"))
  }

  private val stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "los", "de", "que", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "un", "est"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有"))
  private val langs = stopwords.keys.toSeq.sorted // de, en, es, fr, zh

  /** Language ID by stopword-hit scoring with a deterministic
    * alphabetical tiebreak (synthetic corpus ⇒ determinism, not
    * accuracy, is the contract). */
  val q11 = Q(
    "q11_lang_id", {
      val scoreSql = langs.map { l =>
        val lst = stopwords(l).map(w => s"'$w'").mkString("[", ",", "]")
        s"CAST(len(list_filter(tk, t -> list_contains($lst, t))) AS BIGINT) AS s_$l"
      }.mkString(",\n  ")
      val caseSql =
        """CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
          |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
          |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
          |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END""".stripMargin
      s"""SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh, $caseSql AS predicted
         |FROM (SELECT doc_id, lang,
         |  $scoreSql
         |FROM (SELECT doc_id, lang, $toksSql AS tk FROM documents)) ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    val scored = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), toks(col("text")).as("tk"))
      .select(
        col("doc_id") +: col("lang") +: langs.map { l =>
          size(filter(col("tk"), t => t.isin(stopwords(l): _*)))
            .cast("long").as(s"s_$l")
        }: _*)
    val p =
      when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") &&
           col("s_de") >= col("s_fr") && col("s_de") >= col("s_zh"), "de")
      .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
            col("s_en") >= col("s_zh"), "en")
      .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
      .when(col("s_fr") >= col("s_zh"), "fr")
      .otherwise("zh")
    scored.withColumn("predicted", p).orderBy(col("doc_id"))
  }

  /** Polynomial rolling-hash document fingerprint (Karp-Rabin style,
    * base 31 mod 1e9+7 over codepoints) — pure codegen'd
    * higher-order functions, no UDF. */
  val q14 = Q(
    "q14_fingerprint",
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(list_filter(string_split(text, ''), c -> len(c) > 0),
      |                   c -> CAST(unicode(c) AS BIGINT))),
      |    (a, b) -> (a*31 + b) % 1000000007) AS fp,
      |  CAST(length(text) AS BIGINT) AS n_chars_t
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.parallelize(Tables.documents(s, d)).select(
      col("doc_id"),
      aggregate(
        transform(filter(split(col("text"), ""), c => length(c) > 0),
          c => ascii(c).cast("long")),
        lit(0L),
        (acc, x) => (acc * 31L + x) % 1000000007L).as("fp"),
      length(col("text")).cast("long").as("n_chars_t"))
      .orderBy(col("doc_id"))
  }

  private val MinhashPerms = 32
  private val Bands = 8 // 8 bands x 4 rows
  /** Per-permutation affine constants over the q14 prime field,
    * inlined as literals into BOTH the Spark plan and the oracle SQL
    * (so they agree by construction). Every multiplier is nonzero
    * mod P (the require below). */
  private val P = 1000000007L
  private def mhA(i: Int): Long = ((i + 1) * 2654435761L) % P
  private def mhB(i: Int): Long = ((i + 1) * 2654777831L) % P
  require((0 until MinhashPerms).forall(i => mhA(i) != 0L),
    "degenerate MinHash permutation (multiplier ≡ 0 mod P)")

  /** 3-gram fingerprint combine base (token fps composed positionally
    * instead of re-hashing the joined shingle string — each char is
    * hashed ONCE per doc, and no shingle strings are materialized). */
  private val K3 = 1000003L

  private val q12Sql: String = {
    val mins = (0 until MinhashPerms)
      .map(i => s"MIN((${mhA(i)}*sfp + ${mhB(i)}) % $P) AS mh$i").mkString(",\n  ")
    val bands = (0 until Bands).map { b =>
      val bh = (0 until MinhashPerms / Bands)
        .map(r => s"mh${b * (MinhashPerms / Bands) + r}")
        .foldLeft("CAST(0 AS BIGINT)")((acc, v) => s"(($acc)*131 + $v) % $P")
      s"SELECT doc_id, $b AS band, $bh AS bh FROM sig"
    }.mkString("\nUNION ALL ")
    s"""WITH words AS (SELECT doc_id, $toksSql AS w FROM documents),
       |tf AS (SELECT doc_id, list_transform(w, t -> ${fpSql("t", 31L, P)}) AS f
       |       FROM words WHERE len(w) >= 3),
       |sh AS (SELECT DISTINCT doc_id,
       |         ((((f[i]*$K3 + f[i+1]) % $P) * $K3 + f[i+2]) % $P) AS sfp
       |       FROM tf, UNNEST(range(1, len(f)-1)) AS t(i)),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |sig AS (SELECT doc_id,
       |  $mins
       |FROM sh GROUP BY doc_id),
       |buckets AS ($bands),
       |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
       |         FROM buckets a JOIN buckets b
       |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |common AS (SELECT doc1, doc2, COUNT(*) AS common
       |           FROM cand
       |           JOIN sh s1 ON s1.doc_id = doc1
       |           JOIN sh s2 ON s2.doc_id = doc2 AND s2.sfp = s1.sfp
       |           GROUP BY doc1, doc2)
       |SELECT doc1, doc2, common,
       |  CAST(common AS DOUBLE)/CAST(c1.n + c2.n - common AS DOUBLE) AS jaccard
       |FROM common JOIN cnt c1 ON doc1 = c1.doc_id JOIN cnt c2 ON doc2 = c2.doc_id
       |WHERE CAST(common AS DOUBLE)/CAST(c1.n + c2.n - common AS DOUBLE) >= 0.5
       |ORDER BY doc1, doc2""".stripMargin
  }

  /** MinHash + LSH near-dup candidates, verified with exact Jaccard
    * over the fingerprinted shingle sets. Full DuckDB oracle: shingle
    * fingerprints and the 32 affine permutations use the portable
    * prime-field hash (fpCol/fpSql) instead of round-1's xxhash64.
    * Shingle fps are composed POSITIONALLY from per-token fps (each
    * char hashed once per doc, no shingle strings materialized, and
    * the only set-dedup shuffle carries one LONG per shingle);
    * fp collisions (~n²/2P) would fold two shingles — the oracle
    * mirrors the same arithmetic, so parity is exact. */
  val q12 = Q("q12_minhash_lsh", q12Sql) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val tf = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), toks(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        transform(col("w"), t => fpCol(t, 31L, P)).as("f"))
    // Round-7 (guide §2.4, remove shuffles outright): the shingle-fp
    // DEDUP happens INSIDE each row (array_distinct over the per-doc
    // fp array) instead of a global `distinct()` — the set is per-doc
    // by construction, so the (doc_id, sfp) dedup exchange carried no
    // information the row didn't already have. Likewise the MinHash
    // signature is 32 array_min folds over that same array (narrow,
    // codegen) instead of a groupBy(doc_id) with 32 min() aggregates —
    // the round-6 shape paid TWO full shuffles (distinct + signature)
    // before the first banding row existed; this shape pays ZERO until
    // the bucket self-join. Same arithmetic, same distinct set ⇒
    // bitwise-identical signatures (oracle unchanged). Per-doc arrays
    // are bounded by document length — the same memory contract `f`
    // already had.
    // pinned (eager): signatures, set sizes and the candidate-verify
    // postings consume this concurrently — a lazy cache gets raced
    val sfpArr = TempCaches.pinned(tf
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(1), size(col("f")) - 2), i =>
          ((((element_at(col("f"), i) * K3 + element_at(col("f"), i + 1)) % P)
            * K3 + element_at(col("f"), i + 2)) % P))).as("sfps")))
    val aggs = (0 until MinhashPerms)
      .map(i => array_min(transform(col("sfps"),
        sfp => (lit(mhA(i)) * sfp + lit(mhB(i))) % P)).as(s"mh$i"))
    val sig = sfpArr.select(col("doc_id") +: aggs: _*)
    val rowsPerBand = MinhashPerms / Bands
    val bandHashes = (0 until Bands).map { b =>
      (0 until rowsPerBand)
        .map(r => col(s"mh${b * rowsPerBand + r}"))
        .foldLeft(lit(0L): Column)((acc, v) => (acc * 131L + v) % P)
    }
    // the bucket table is tiny (Bands rows per doc)
    val buckets = Lsh.bandTable(sig, "doc_id", "bh", bandHashes)
    // pinned: the candidates feed the doc-id reduction AND the verify
    // join, so the band self-join runs once, not once per consumer
    val cand = TempCaches.pinned(Lsh.bucketPairs(buckets, "doc_id", "bh", "doc1", "doc2"))
    // verify candidates with exact Jaccard — but FIRST semi-join-
    // reduce the shingle table to candidate doc_ids: candidates are a
    // vanishing fraction of the corpus at scale (that is the point of
    // LSH), so the two verify joins and the set-size agg below read
    // |candidate docs| shingle rows instead of the full corpus.
    // Candidates with no common shingles have jaccard 0 < 0.5 — the
    // inner join drops them, same as the oracle.
    val candDocs = cand.select(col("doc1").as("doc_id"))
      .union(cand.select(col("doc2").as("doc_id")))
      .distinct()
    // exploded postings only for candidate docs (semi-join-reduced as
    // before); per-doc set sizes come straight off the cached array —
    // no counting aggregation at all
    val shCand = TempCaches.pinned(
      sfpArr.join(candDocs, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), explode(col("sfps")).as("sfp")))
    val cnt = sfpArr.select(col("doc_id"), size(col("sfps")).cast("long").as("n"))
    val common = cand
      .join(shCand.select(col("doc_id").as("doc1"), col("sfp")), "doc1")
      .join(shCand.select(col("doc_id").as("doc2"), col("sfp")), Seq("doc2", "sfp"))
      .groupBy(col("doc1"), col("doc2")).agg(count(lit(1)).as("common"))
    jaccardAtLeastHalf(common, cnt)
      .orderBy(col("doc1"), col("doc2"))
  }

  /** 31-bit prime modulus for the two token-hash halves (q13). */
  private val M31 = 2147483647L
  /** Per-bit affine decorrelation constants (< 2^20 so
    * A·h1 + C·h2 + B stays < 2^52 — no overflow in either engine).
    * Polynomial hashes of SIMILAR tokens are numerically close, so
    * raw bits of (h1,h2) correlate across tokens; bit b instead reads
    * the low bit of an independent affine map of both halves. */
  private val Q13M = 1048573L // prime < 2^20
  private def bA(b: Int): Long = ((b + 1) * 2654435761L) % Q13M
  private def bC(b: Int): Long = ((b + 1) * 2654777831L) % Q13M
  private def bB(b: Int): Long = ((b + 1) * 40503L) % Q13M

  private val q13Sql: String = {
    val sums = (0 until 62)
      .map(b => s"SUM(CASE WHEN ((${bA(b)}*h1 + ${bC(b)}*h2 + ${bB(b)}) % $M31) & 1 = 1 THEN cnt ELSE -cnt END) AS s_$b")
      .mkString(",\n  ")
    val orBits = (0 until 62)
      .map(b => s"(CASE WHEN s_$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" | ")
    s"""WITH tok AS (SELECT doc_id, t, COUNT(*) AS cnt
       |  FROM (SELECT doc_id, UNNEST(w) AS t
       |        FROM (SELECT doc_id, $toksSql AS w FROM documents))
       |  GROUP BY doc_id, t),
       |th AS (SELECT doc_id,
       |  ${fpSql("t", 31L, M31)} AS h1, ${fpSql("t", 131L, M31)} AS h2,
       |  cnt FROM tok),
       |sums AS (SELECT doc_id,
       |  $sums
       |FROM th GROUP BY doc_id),
       |sim AS (SELECT doc_id, $orBits AS simhash FROM sums),
       |chunks AS (SELECT doc_id, simhash, c, (simhash >> (c*16)) & 65535 AS chunk
       |           FROM sim CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS c) u),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
       |                 a.simhash AS sh1, b.simhash AS sh2
       |          FROM chunks a JOIN chunks b
       |            ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT doc1, doc2, CAST(bit_count(xor(sh1, sh2)) AS BIGINT) AS hamming
       |FROM pairs WHERE bit_count(xor(sh1, sh2)) <= 3
       |ORDER BY doc1, doc2""".stripMargin
  }

  /** 62-bit SimHash per document + near-dup pairs (Hamming ≤ 3,
    * the standard web-dedup threshold — Manku et al., "Detecting
    * Near-Duplicates for Web Crawling"; measured on this corpus,
    * Hamming ≤ 2 pairs have Jaccard 0.84-0.98 while Hamming 5-6
    * pairs are noise at ~0.002) found via 16-bit chunk banding:
    * 4 chunks, and 3 differing bits can dirty at most 3 of them —
    * every Hamming ≤ 3 pair shares at least one exact chunk
    * (pigeonhole). Full DuckDB oracle via the portable token hash
    * (two 31-bit prime-field halves + per-bit affine decorrelation,
    * see Q13M).
    *
    * One-pass signature build: the 62 per-bit contribution sums are
    * 62 SUM(CASE..) aggregates in a single groupBy(doc_id) — one
    * shuffle row per (doc, token), with map-side partial aggregation
    * (round 1 exploded sequence(0,63) per token: 64× the shuffle
    * input for the same result). */
  val q13 = Q("q13_simhash_dup", q13Sql) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    // Round-7 (guide §2.4): the (doc_id, token) pre-count shuffle is
    // gone — Σ_distinct-tokens cnt·sign(t) ≡ Σ_token-instances sign(t)
    // exactly (integer ±1 per instance), so the per-bit sums aggregate
    // STRAIGHT from the exploded token stream with map-side partial
    // aggregation: one shuffle of 62 longs per doc instead of two
    // full passes (the old shape shuffled every distinct (doc, token)
    // string first). Token hashes are now computed per instance on the
    // scan side — parallel after the input rebalance, and cheaper than
    // the string shuffle they replace. The oracle keeps the
    // cnt-weighted form; the integers are identical.
    val tok = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
      .select(col("doc_id"),
        fpCol(col("t"), 31L, M31).as("h1"), fpCol(col("t"), 131L, M31).as("h2"))
    val sumCols = (0 until 62).map { b =>
      val bit = (lit(bA(b)) * col("h1") + lit(bC(b)) * col("h2") + lit(bB(b))) % M31
      sum(when(bit.bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"s_$b")
    }
    val simhashCol = (0 until 62).map { b =>
      when(col(s"s_$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    // pinned: one row per doc; feeds both sides of the chunk
    // self-join — eager so the 62-aggregate signature build can never
    // run more than once
    val sim = TempCaches.pinned(
      tok.groupBy(col("doc_id")).agg(sumCols.head, sumCols.tail: _*)
        .select(col("doc_id"), simhashCol.as("simhash")))
    val chunks = sim.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .select(col("doc_id"), col("simhash"), col("c"),
        expr("shiftright(simhash, c * 16) & 65535").as("chunk"))
    val pairs = chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        col("a.simhash").as("sh1"), col("b.simhash").as("sh2"))
      .distinct()
    pairs
      .withColumn("hamming",
        bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("doc1"), col("doc2"), col("hamming"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** Per-language vocabulary accounting — the corpus statistic every
    * tokenizer-training / data-mixing decision starts from. Scale
    * shape: the token explode is wordcount-shaped — map-side partial
    * aggregation collapses (lang, token) to vocabulary cardinality
    * before the shuffle, so shuffled rows are vocab-bound, not
    * token-count-bound; COUNT(DISTINCT) runs on the same keys. The
    * type-token ratio is int/int double division (exact in both
    * engines). Empty documents contribute nothing (explode of an
    * empty array emits no rows; UNNEST([]) likewise). */
  val q39 = Q(
    "q39_vocab_stats",
    s"""SELECT lang, COUNT(DISTINCT t) AS vocab,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(DISTINCT t) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS type_token_ratio
       |FROM (SELECT lang, UNNEST(tk) AS t FROM
       |      (SELECT lang, $toksSql AS tk FROM documents))
       |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), explode(toks(col("text"))).as("t"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("t")).as("vocab"),
        count(lit(1)).as("n_tokens"))
      .select(col("lang"), col("vocab"), col("n_tokens"),
        (col("vocab").cast("double") / col("n_tokens").cast("double"))
          .as("type_token_ratio"))
      .orderBy(col("lang"))
  }

  /** Top-5 terms per language by frequency (deterministic term
    * tiebreak). Scale shape: the window ranks the POST-AGGREGATION
    * (lang, term, count) table — vocabulary-sized, not
    * token-count-sized — so unlike the candidate-scoring paths
    * (q10/q15, where TopNeighbors replaced the window) a per-lang
    * window sort here is bounded by vocab and is the simplest
    * correct plan. */
  val q40 = Q(
    "q40_top_terms",
    s"""WITH cnt AS (
       |  SELECT lang, t AS term, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT lang, UNNEST(tk) AS t FROM
       |        (SELECT lang, $toksSql AS tk FROM documents))
       |  GROUP BY lang, t)
       |SELECT lang, term, c, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, term) AS rank
       |  FROM cnt)
       |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val cnt = Tables.documents(s, d)
      .select(col("lang"), explode(toks(col("text"))).as("term"))
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("c"))
    cnt.withColumn("rank", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("c").desc, col("term"))))
      .filter(col("rank") <= 5)
      // BIGINT rank: DuckDB's ROW_NUMBER is int64, Spark's is int32
      .select(col("lang"), col("term"), col("c"), col("rank").cast("long").as("rank"))
      .orderBy(col("lang"), col("rank"))
  }

  // ------------------------------------------------------------------
  // q41 — incremental ingest dedup-on-resume: the operator a daily
  // 100 TB pipeline actually runs. A NEW batch is admitted against a
  // COMMITTED store: (1) exact dedup vs the store's content-hash set
  // (anti-join on md5 — only (md5, doc_id) shuffles, never bodies),
  // (2) exact dedup within the batch (min doc_id per hash), (3)
  // near-dup check against committed survivors AND lower-id batch
  // docs with the df-capped shingle machinery (q18/q36 engine).
  // Table-scale sequel to §2.10's "dedup / idempotent resume"
  // (reference analogue: re-ingest of an already-extracted URL, see
  // SURVEY.md §2.10; round-5 VERDICT Next #3).
  //
  // The sandbox corpus has NO exact duplicates (q04: 500 distinct
  // hashes over 500 docs), so the batch is the doc_id%10∈{8,9} slice
  // PLUS a deterministic re-ingest of store docs (doc_id%25=0,
  // re-keyed +1e6) — the crawler-refetch case; those rows make the
  // store anti-join provably non-vacuous (they must all be dropped).
  // ------------------------------------------------------------------

  /** Admit `batch` against committed `store0` (both (doc_id, text)):
    * store is exact-deduped to canonicals; batch rows whose content
    * hash exists in the store are dropped (anti-join), then batch is
    * internally exact-deduped, then a batch doc near-dupping
    * (capped Jaccard ≥ 0.5) ANY store doc or a LOWER-id batch doc is
    * dropped. One-shot pair rule as in q36 (the higher side of each
    * pair drops even if the lower side was itself dropped — mirrored
    * exactly in the oracle). Returns admitted (doc_id, n_chars_t).
    *
    * PRECONDITION (round-6 ADVICE): store and batch doc_id sets must
    * be DISJOINT — the union's shingle postings and per-doc counts are
    * keyed by doc_id, so a batch row reusing a store doc_id with
    * different text would merge both docs' sets and corrupt Jaccard
    * values. All callers satisfy this (q41 re-keys refetches +1e6;
    * StoreSpec offsets xxhash-derived ids). */
  private[graft] def incrementalIngest(store0: DataFrame, batch: DataFrame): DataFrame = {
    // cached: the (h, canonical doc_id) table feeds BOTH the store
    // canonicalization semi-join and the batch hash anti-join —
    // uncached the md5 scan + groupBy shuffle of store0 ran twice
    val storeK = TempCaches.cached(store0
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")))
    val store = TempCaches.pinned(
      store0.join(storeK.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    // the store's distinct content hashes ARE storeK's group keys
    // (one canonical row per hash) — reusing them removes a second
    // full md5 pass over the store plus a distinct exchange
    val storeH = storeK.select(col("h"))
    // the store-hash anti-join: at scale this is the committed
    // snapshot's hash column (TranscriptStore) — a keyed shuffle of
    // 32-char hashes, the batch bodies never move for it
    val bx0 = batch.withColumn("h", md5(col("text").cast("binary")))
      .join(storeH, Seq("h"), "left_anti")
    val bk = bx0.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    val bx = TempCaches.pinned(bx0
      .join(bk.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text")))
    val u = store.select(col("doc_id"), col("text"))
      .unionAll(bx.select(col("doc_id"), col("text")))
    val pairs = TempCaches.pinned(cappedJaccardPairsProbe(u, bx))
    // drop a batch doc pairing with anyone lower (store or batch)...
    val drop1 = pairs.join(bx.select(col("doc_id").as("doc2")), Seq("doc2"), "left_semi")
      .select(col("doc2").as("doc_id"))
    // ...or with a higher-id STORE doc (store membership wins any tie)
    val drop2 = pairs.join(bx.select(col("doc_id").as("doc1")), Seq("doc1"), "left_semi")
      .join(store.select(col("doc_id").as("doc2")), Seq("doc2"), "left_semi")
      .select(col("doc1").as("doc_id"))
    bx.join(drop1.union(drop2).distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_t"))
      .orderBy(col("doc_id"))
  }

  val q41 = Q(
    "q41_ingest_dedup",
    s"""WITH store0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
       |sk AS (SELECT MIN(doc_id) AS doc_id FROM store0 GROUP BY md5(text)),
       |store AS (SELECT s.doc_id, s.text FROM store0 s JOIN sk USING (doc_id)),
       |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
       |          UNION ALL
       |          SELECT doc_id + 1000000 AS doc_id, text FROM documents
       |          WHERE doc_id % 10 < 8 AND doc_id % 25 = 0),
       |sh2 AS (SELECT DISTINCT md5(text) AS h FROM store),
       |bx0 AS (SELECT b.doc_id, b.text FROM batch b
       |        LEFT JOIN sh2 ON md5(b.text) = sh2.h WHERE sh2.h IS NULL),
       |bk AS (SELECT MIN(doc_id) AS doc_id FROM bx0 GROUP BY md5(text)),
       |bx AS (SELECT b.doc_id, b.text FROM bx0 b JOIN bk USING (doc_id)),
       |u AS (SELECT doc_id, text FROM store UNION ALL SELECT doc_id, text FROM bx),
       |${cappedPairsSql("u")},
       |drop1 AS (SELECT DISTINCT p.doc2 AS doc_id FROM pairs p JOIN bx ON p.doc2 = bx.doc_id),
       |drop2 AS (SELECT DISTINCT p.doc1 AS doc_id FROM pairs p
       |          JOIN bx ON p.doc1 = bx.doc_id
       |          JOIN store st ON p.doc2 = st.doc_id),
       |dropped AS (SELECT doc_id FROM drop1 UNION SELECT doc_id FROM drop2)
       |SELECT bx.doc_id, CAST(length(bx.text) AS BIGINT) AS n_chars_t
       |FROM bx LEFT JOIN dropped dr ON bx.doc_id = dr.doc_id
       |WHERE dr.doc_id IS NULL
       |ORDER BY bx.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.parallelize(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
    val store0 = docs.filter(col("doc_id") % 10 < 8)
    val batch = docs.filter(col("doc_id") % 10 >= 8)
      .unionAll(docs.filter(col("doc_id") % 10 < 8 && col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    incrementalIngest(store0, batch)
  }

  // ------------------------------------------------------------------
  // q42 — PII scrubbing: regex redaction of URLs, emails, and phone
  // numbers with per-doc redaction counts and the redacted text's
  // prime-field fingerprint (the q14 scheme, so downstream exact
  // dedup runs on SCRUBBED content). Scale shape: a pure codegen'd
  // projection (regexp_replace/regexp_extract_all + poly_hash) — no
  // shuffle at all except the final orderBy; at 100 TB this is a
  // scan-rate map stage.
  //
  // The synthetic corpus is PII-free (probed: zero digits, emails or
  // URLs in any `text`), so the query stages a deterministic
  // PII-BEARING frame first — a contact line derived from doc_id,
  // appended identically in both engines — and scrubs that. The
  // patterns avoid regex-dialect divergence (Java backtracking vs
  // DuckDB's RE2 leftmost-longest agree on these: greedy character
  // classes, no alternation).
  // ------------------------------------------------------------------
  private val UrlRe = "https?://\\S+"
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+?\\d[\\d-]{5,}\\d"

  /** Scrub (doc_id, text): URLs → `<URL>`, then emails → `<EMAIL>`,
    * then phones → `<PHONE>` (fixed stage order — each count is taken
    * on that stage's input, so a URL's query string never double
    * counts as an email). Returns doc_id, the three counts, the
    * redacted text, its fingerprint, and its length. */
  private[graft] def piiScrub(in: DataFrame): DataFrame = {
    val afterUrl = regexp_replace(col("text"), UrlRe, "<URL>")
    val stage1 = in.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).cast("long").as("n_url"),
      afterUrl.as("t1"))
    val stage2 = stage1.select(col("doc_id"), col("n_url"),
      size(regexp_extract_all(col("t1"), lit(EmailRe), lit(0))).cast("long").as("n_email"),
      regexp_replace(col("t1"), EmailRe, "<EMAIL>").as("t2"))
    stage2.select(col("doc_id"), col("n_url"), col("n_email"),
      size(regexp_extract_all(col("t2"), lit(PhoneRe), lit(0))).cast("long").as("n_phone"),
      regexp_replace(col("t2"), PhoneRe, "<PHONE>").as("redacted"))
  }

  /** The deterministic PII-bearing staging frame (both engines append
    * the same contact line, so the scrub has real work on every row). */
  private def piiStaged(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    docs.select(col("doc_id"), concat(col("text"),
      lit(" Contact user"), id, lit("@mail.example.com or call +1-555-"),
      id, lit("-0 now; see https://ex.example.com/d/"),
      id, lit("?ref=email for details.")).as("text"))
  }
  // single line: a multi-line value here would collide with the OUTER
  // q42 SQL's stripMargin (its '||'-leading lines lose their first '|')
  private val piiStagedSql =
    "SELECT doc_id, text || ' Contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@mail.example.com or call +1-555-' || CAST(doc_id AS VARCHAR) || " +
      "'-0 now; see https://ex.example.com/d/' || CAST(doc_id AS VARCHAR) || " +
      "'?ref=email for details.' AS text FROM documents"

  val q42 = Q(
    "q42_pii_scrub",
    s"""WITH staged AS ($piiStagedSql),
       |s1 AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '$UrlRe')) AS BIGINT) AS n_url,
       |    regexp_replace(text, '$UrlRe', '<URL>', 'g') AS t1
       |  FROM staged),
       |s2 AS (SELECT doc_id, n_url,
       |    CAST(len(regexp_extract_all(t1, '$EmailRe')) AS BIGINT) AS n_email,
       |    regexp_replace(t1, '$EmailRe', '<EMAIL>', 'g') AS t2
       |  FROM s1),
       |s3 AS (SELECT doc_id, n_url, n_email,
       |    CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS BIGINT) AS n_phone,
       |    regexp_replace(t2, '$PhoneRe', '<PHONE>', 'g') AS redacted
       |  FROM s2)
       |SELECT doc_id, n_url, n_email, n_phone,
       |  ${fpSql("redacted", 31L, P)} AS fp_red,
       |  CAST(length(redacted) AS BIGINT) AS n_chars_red
       |FROM s3 ORDER BY doc_id""".stripMargin) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    piiScrub(piiStaged(Tables.parallelize(
      Tables.documents(s, d).select(col("doc_id"), col("text")))))
      .select(col("doc_id"), col("n_url"), col("n_email"), col("n_phone"),
        fpCol(col("redacted"), 31L, P).as("fp_red"),
        length(col("redacted")).cast("long").as("n_chars_red"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // q43 — benchmark-contamination detection: flag corpus docs whose
  // word-3-gram shingle sets overlap a held-out EVAL set (every 50th
  // doc) — the decontamination sweep every training-data pipeline
  // runs before releasing a corpus (n-gram-overlap methodology as in
  // GPT-3/PaLM appendix decontamination). Scale shape: the eval
  // shingle set is a distinct projection of the (small) eval slice —
  // at 100 TB it broadcasts; the corpus side is one shingle explode +
  // a semi-style join + two wordcount-shaped aggs on doc_id. Keyed
  // joins only (PlanSpec-pinned); reuses the q07/q18 shingle
  // machinery (round-5 VERDICT Next #5).
  // ------------------------------------------------------------------

  /** Per-corpus-doc shingle overlap vs the eval set: (doc_id, n_sh,
    * n_hit, overlap=n_hit/n_sh, contaminated = overlap ≥ 0.5). Docs
    * with < 3 tokens have no shingles and are absent (as in q07). */
  private[graft] def contamination(corpus: DataFrame, evalSet: DataFrame): DataFrame = {
    // cached (lazy), deliberately NOT pinned: measured 1.28 s cached
    // vs 1.78 s pinned — the corpus shingle build here is cheap
    // enough that the eager-materialization barrier costs more than
    // the duplicate-build race it prevents
    val shc = TempCaches.cached(shingles(corpus))
    val she = shingles(evalSet).select(col("shingle")).distinct()
    val cnt = shc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hit = shc.join(she, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    val overlap = col("n_hit").cast("double") / col("n_sh").cast("double")
    cnt.join(hit, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_sh"), col("n_hit"), overlap.as("overlap"),
        (overlap >= 0.5).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  val q43 = Q(
    "q43_contamination",
    s"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
       |co AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
       |shc AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
       |        FROM (SELECT doc_id, $toksSql AS w FROM co),
       |             UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
       |she AS (SELECT DISTINCT array_to_string(w[i:i+2], ' ') AS shingle
       |        FROM (SELECT doc_id, $toksSql AS w FROM ev),
       |             UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
       |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
       |hit AS (SELECT doc_id, COUNT(*) AS n_hit
       |        FROM shc JOIN she USING (shingle) GROUP BY doc_id)
       |SELECT c.doc_id, c.n_sh, COALESCE(h.n_hit, CAST(0 AS BIGINT)) AS n_hit,
       |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE)/CAST(c.n_sh AS DOUBLE) AS overlap,
       |  (CAST(COALESCE(h.n_hit, 0) AS DOUBLE)/CAST(c.n_sh AS DOUBLE) >= 0.5) AS contaminated
       |FROM cnt c LEFT JOIN hit h ON c.doc_id = h.doc_id
       |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.parallelize(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
    contamination(docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0))
  }

  // ------------------------------------------------------------------
  // q44 — corpus mixing / quota sampling: deterministic hash-threshold
  // downsampling with per-language target weights (the data-mixing
  // step of every multi-source training pipeline — e.g. downweight
  // the dominant language, upweight the rare ones). Scale shape: the
  // weights are a TINY dim table broadcast to the scan (one
  // BroadcastHashJoin, no shuffle of the corpus), the admit decision
  // is a pure codegen'd projection (poly_hash priority mod 10 000 <
  // weight), and the only shuffle is the final (lang, source)
  // accounting agg with map-side combine. Sampling is by CONTENT-
  // INDEPENDENT key hash, so re-runs admit the identical subset
  // (idempotent resume) and the admitted fraction converges to
  // weight/10000 per language at any scale.
  // ------------------------------------------------------------------
  private val MixWeights: Seq[(String, Long)] =
    Seq("en" -> 3000L, "zh" -> 6000L, "de" -> 8000L, "fr" -> 5000L, "es" -> 7000L)
  private val MixDefaultW = 5000L

  /** Admit-flag accounting per (lang, source): total docs, admitted
    * docs under the per-language hash quota, and the admit ratio. */
  private[graft] def mixSample(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val weights = s.createDataFrame(MixWeights).toDF("lang", "w_bp")
    val pri = fpCol(concat(lit("mix:"), col("doc_id").cast("string")), 31L, P) % 10000L
    docs.join(broadcast(weights), Seq("lang"), "left_outer")
      .select(col("lang"), col("source"),
        (pri < coalesce(col("w_bp"), lit(MixDefaultW))).as("adm"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("adm"), 1L).otherwise(0L)).as("n_admitted"))
      .select(col("lang"), col("source"), col("n_total"), col("n_admitted"),
        (col("n_admitted").cast("double") / col("n_total").cast("double")).as("admit_ratio"))
      .orderBy(col("lang"), col("source"))
  }

  private val mixWeightsSql =
    MixWeights.map { case (l, w) => s"('$l', $w)" }.mkString(", ")

  val q44 = Q(
    "q44_mix_sample",
    s"""WITH weights(lang, w_bp) AS (VALUES $mixWeightsSql),
       |adm AS (SELECT d.lang, d.source,
       |    (${fpSql("'mix:' || CAST(doc_id AS VARCHAR)", 31L, P)} % 10000
       |     < COALESCE(w.w_bp, $MixDefaultW)) AS adm
       |  FROM documents d LEFT JOIN weights w ON d.lang = w.lang)
       |SELECT lang, source, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN adm THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       |  CAST(SUM(CASE WHEN adm THEN 1 ELSE 0 END) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS admit_ratio
       |FROM adm GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, d) =>
    mixSample(s, Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")))
  }

  // ------------------------------------------------------------------
  // q45 — rational TF-IDF top-3 terms per document (keyword
  // extraction / quality signal). "Rational" idf: score = tf ·
  // n_docs / df computed as an exact BIGINT numerator divided by a
  // BIGINT once — ONE IEEE division in both engines, so the doubles
  // are bitwise-identical (no log, whose libm implementations could
  // differ). Scale shape: wordcount-shaped (doc_id, term) partial
  // agg; the df table is vocab-sized (broadcastable at moderate
  // scale, term-keyed SMJ beyond); n_docs is a 1-row broadcast
  // (scalar model parameter); the row_number window partitions by
  // doc_id, bounded by per-doc vocabulary — NOT a global window
  // (contrast: candidate scoring uses TopNeighbors where the
  // partition would be unbounded).
  // ------------------------------------------------------------------
  private[graft] def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
    // pinned (eager), not cached: tf feeds the score projection, the
    // df table AND the n_docs scalar — uncached, the round-6 plan
    // re-ran the full explode + wordcount aggregation THREE times
    // (three Scan→Generate→HashAggregate chains in plans/r07
    // q45_before); a LAZY cache does not help here because the two
    // broadcast subqueries and the main branch materialize
    // CONCURRENTLY under AQE, each racing to compute the unbuilt
    // cache. localCheckpoint materializes once, before consumers run.
    val tf = TempCaches.pinned(
      words.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = tf.agg(count_distinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(dfTab, Seq("term"))
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        ((col("tf") * col("n_docs")).cast("double") / col("df").cast("double")).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      // BIGINT rank: DuckDB's ROW_NUMBER is int64, Spark's is int32
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val q45 = Q(
    "q45_tfidf_topk",
    s"""WITH words AS (SELECT doc_id, UNNEST($toksSql) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term),
       |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
       |scored AS (SELECT t.doc_id, t.term, t.tf, dft.df,
       |    CAST(t.tf * nd.n_docs AS DOUBLE)/CAST(dft.df AS DOUBLE) AS score
       |  FROM tf t JOIN dft USING (term) CROSS JOIN nd),
       |ranked AS (SELECT doc_id, term, tf, df, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
       |  FROM scored)
       |SELECT doc_id, rnk, term, tf, df, score FROM ranked
       |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    // deliberately NOT parallelize'd: the explode feeds a partial agg
    // whose map side is cheap at any split layout, and tf is pinned
    // right after — the rebalance shuffle cost more than the map-side
    // parallelism bought (measured 0.75 -> 1.4 s; reverted)
    tfidfTopK(Tables.documents(s, d).select(col("doc_id"), col("text")))
  }

  // ------------------------------------------------------------------
  // q46 — within-document repetition filter (the Gopher/MassiveText
  // "repetitious text" quality rule): per doc, the duplicate-3-gram
  // fraction (1 − distinct/total shingles) and the most-common-3-gram
  // fraction; flagged when either exceeds its threshold. Scale
  // shape: one shuffle to (doc_id, shingle) with map-side combine,
  // then a doc_id-keyed agg over per-doc vocab-sized groups — no
  // joins, no windows, no self-pairs (contrast q07/q18 which compare
  // ACROSS documents; this looks WITHIN each document and stays
  // linear in corpus size). Docs with < 3 tokens have no shingles
  // and are absent, as in q07/q43.
  // ------------------------------------------------------------------
  private[graft] def repetition(docs: DataFrame): DataFrame = {
    val shAll = docs.select(col("doc_id"), toks(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(shingleArr(col("w"))).as("shingle"))
    val perShingle = shAll.groupBy(col("doc_id"), col("shingle"))
      .agg(count(lit(1)).as("c"))
    val dupRatio = (col("n_sh") - col("n_distinct")).cast("double") / col("n_sh").cast("double")
    val topFrac = col("top_cnt").cast("double") / col("n_sh").cast("double")
    perShingle.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_sh"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_cnt"))
      .select(col("doc_id"), col("n_sh"), col("n_distinct"), col("top_cnt"),
        dupRatio.as("dup_ratio"), topFrac.as("top_frac"),
        // the top-frac rule needs a length floor: a 2-shingle doc has
        // top_frac >= 0.5 by construction (as in Gopher's per-rule
        // minimum-length preconditions)
        (dupRatio >= 0.2 || (col("n_sh") >= 30 && topFrac >= 0.1)).as("flagged"))
      .orderBy(col("doc_id"))
  }

  val q46 = Q(
    "q46_repetition",
    s"""WITH words AS (SELECT doc_id, $toksSql AS w FROM documents),
       |sh AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
       |       FROM words, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
       |g1 AS (SELECT doc_id, shingle, COUNT(*) AS c FROM sh GROUP BY doc_id, shingle),
       |g2 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_sh,
       |         COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_cnt
       |       FROM g1 GROUP BY doc_id)
       |SELECT doc_id, n_sh, n_distinct, top_cnt,
       |  CAST(n_sh - n_distinct AS DOUBLE)/CAST(n_sh AS DOUBLE) AS dup_ratio,
       |  CAST(top_cnt AS DOUBLE)/CAST(n_sh AS DOUBLE) AS top_frac,
       |  (CAST(n_sh - n_distinct AS DOUBLE)/CAST(n_sh AS DOUBLE) >= 0.2
       |   OR (n_sh >= 30 AND CAST(top_cnt AS DOUBLE)/CAST(n_sh AS DOUBLE) >= 0.1)) AS flagged
       |FROM g2 ORDER BY doc_id""".stripMargin) { (s, d) =>
    repetition(Tables.parallelize(
      Tables.documents(s, d).select(col("doc_id"), col("text"))))
  }

  // ------------------------------------------------------------------
  // q47 — train/val/test split-leakage audit: deterministic
  // hash-based split assignment (80/10/10 on a content-independent
  // key hash, the q44 idiom — stable across re-runs and engines),
  // then every capped-Jaccard near-dup pair CROSSING two different
  // splits is flagged (a val/test doc near-dupping a train doc is
  // exactly the leakage that inflates eval numbers). Scale shape:
  // the split column is a codegen'd projection; the pair machinery is
  // q18's df-capped join; the split lookup joins are doc_id-keyed
  // against the tiny pair table. Reuses cappedJaccardPairs verbatim.
  // ------------------------------------------------------------------
  private[graft] def splitOf(idCol: Column): Column = {
    val pri = fpCol(concat(lit("split:"), idCol.cast("string")), 31L, P) % 100L
    when(pri < 80, "train").when(pri < 90, "val").otherwise("test")
  }

  private[graft] def splitLeakage(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sp = docs.select(col("doc_id"), splitOf(col("doc_id")).as("split"))
    cappedJaccardPairs(docs.select(col("doc_id"), col("text")))
      .join(sp.select(col("doc_id").as("doc1"), col("split").as("split1")), "doc1")
      .join(sp.select(col("doc_id").as("doc2"), col("split").as("split2")), "doc2")
      .filter(col("split1") =!= col("split2"))
      .select(col("doc1"), col("doc2"), col("split1"), col("split2"), col("jaccard"))
      .orderBy(col("doc1"), col("doc2"))
  }

  private def splitSqlExpr(idExpr: String): String =
    s"CASE WHEN ${fpSql(s"'split:' || CAST($idExpr AS VARCHAR)", 31L, P)} % 100 < 80 THEN 'train' " +
      s"WHEN ${fpSql(s"'split:' || CAST($idExpr AS VARCHAR)", 31L, P)} % 100 < 90 THEN 'val' " +
      "ELSE 'test' END"

  val q47 = Q(
    "q47_split_leakage",
    s"""WITH ${cappedPairsSql("documents")},
       |sp AS (SELECT doc_id, ${splitSqlExpr("doc_id")} AS split FROM documents)
       |SELECT p.doc1, p.doc2, s1.split AS split1, s2.split AS split2, p.jaccard
       |FROM pairs p
       |JOIN sp s1 ON p.doc1 = s1.doc_id
       |JOIN sp s2 ON p.doc2 = s2.doc_id
       |WHERE s1.split <> s2.split
       |ORDER BY p.doc1, p.doc2""".stripMargin) { (s, d) =>
    splitLeakage(s, Tables.parallelize(
      Tables.documents(s, d).select(col("doc_id"), col("text"))))
  }

  val all: Seq[Q] =
    Seq(q04, q05, q06, q07, q11, q12, q13, q14, q18, q36, q39, q40,
      q41, q42, q43, q44, q45, q46, q47)
}
