package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.text.{ExactNearDup, MinHash, Shingles, SimHash, TextStats}

/** Text-analysis + deduplication surface over the documents table —
  * the LLM-pipeline operators (SURVEY §7.3 step 10).
  */
object TextQueries {

  /** q54's exact near-dup pairs — also the edge list for the cluster
    * step (q114). Shared so the cached shingle subplan is reused.
    *
    * SCALE NOTE: this is the EXACT twin — its output (and shuffle) is
    * inherently quadratic in corpus duplication, the right default
    * below ~10⁷ docs and the wrong tool at 100 TB. The bounded
    * equivalents are [[graft.text.MinHash]] LSH (q55_minhash_lsh /
    * q166_minhash_dedup end-to-end), [[graft.text.ExactNearDup]]
    * prefix filtering for t ≥ 0.8 (q138), and [[graft.text.SimHash]]
    * (q56); [[graft.text.PairCounts]] warns at plan-build time.
    */
  def exactPairs(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val (common, sizes) = shinglePairCounts(Tables.documents(s, d), "TextQueries.exactPairs")
    common
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .withColumn("jaccard", Num.rnd(
        col("n_shared").cast("double") / (col("n1") + col("n2") - col("n_shared")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** The shared 3-shingle pair counts of q54 (Jaccard) and q409
    * (containment): [[graft.text.PairCounts]] over the distinct-shingle
    * inverted index. Returns (common(id1, id2, n_shared),
    * sizes(doc_id, n)).
    */
  private[queries] def shinglePairCounts(docs: org.apache.spark.sql.DataFrame, op: String):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val sh = Shingles.cachedSets(docs, "doc_id", "text", 3)
      // ^ shared with q55's identical subplan via CacheManager — cache
      //   once, silently (r11: the second cache() logged a spurious
      //   "already cached" warning in the bench tail); r13: fanned out
      //   + carries the set size as a cached column (see cachedSets)
    // Keyed by the shingle STRING, deliberately: keying by xxhash64(s)
    // (8-byte shuffle keys) was measured FASTER at sf0.1 (1.54s vs
    // 1.72s warm) but 30% SLOWER on the 10×-cloned smoke corpus
    // (BASELINE.md "10× scale-up smoke (round 3)", q54 row), where the
    // pair-counting stage dominates and the extra hash projection only
    // adds scan CPU. The duplication-heavy regime is the one near-dup
    // detection exists for, so the string key stays.
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    (graft.text.PairCounts(docs, inv, op), sh.select(col("doc_id"), col("n")))
  }

  /** Oracle CTE chain ending in `pairs(id1, id2, jaccard)` — the naive
    * inverted-index algorithm; shared by q54 and q114's recursive
    * clustering oracle.
    */
  /** Shared oracle CTE: per-doc distinct 3-shingle set (≡ Shingles.shingles). */
  val shingleCte: String =
    """sh AS (
       SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
       FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
             FROM documents))"""

  val pairsOracleCtes: String = pairsOracleCtesAt("0.5")

  /** Same CTE chain with a configurable jaccard threshold. */
  def pairsOracleCtesAt(t: String): String =
    s"""$shingleCte,
     sizes AS (SELECT doc_id, len(s) AS n FROM sh),
     inv AS (SELECT doc_id, unnest(s) AS sh FROM sh),
     common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
     pairs AS (SELECT id1, id2, j AS jaccard FROM (
                 SELECT id1, id2,
                   round(c * 1.0 / (s1.n + s2.n - c), 6) AS j
                 FROM common JOIN sizes s1 ON common.id1 = s1.doc_id
                             JOIN sizes s2 ON common.id2 = s2.doc_id)
               WHERE j >= $t)"""

  /** Oracle fragment: TextStats.qualityScore over `text` (unrounded). */
  val qualitySql: String =
    """(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4
       + (len(list_filter(string_split(text, ' '),
              t -> list_contains(['a','an','the','and','or','of','in','to','is'], t))) * 1.0
          / len(string_split(text, ' '))) * 0.3
       + least((length(replace(text, ' ', '')) * 1.0
                / len(string_split(text, ' '))) / 8.0, 1.0) * 0.3)"""

  /** Oracle fragment: TextStats.fingerprint over `text`. */
  val fingerprintSql: String =
    """md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // token counting + quality metrics — single codegen'd scan pass.
    "q50_text_stats" -> QueryDef(
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        TextStats.nTokens(col("text")).as("n_tokens"),
        TextStats.nChars(col("text")).as("n_chars"),
        TextStats.regexTokenCount(col("text")).as("regex_tokens"),
        Num.rnd(TextStats.avgTokenLen(col("text")), 6).as("avg_tok_len"),
        Num.rnd(TextStats.alphaRatio(col("text")), 6).as("alpha_ratio"),
        Num.rnd(TextStats.stopwordRatio(col("text")), 6).as("stop_ratio")),
      Some("""SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             CAST(length(text) AS INTEGER) AS n_chars,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS INTEGER) AS regex_tokens,
             round(length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')), 6) AS avg_tok_len,
             round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 6) AS alpha_ratio,
             round(len(list_filter(string_split(text, ' '),
                     t -> list_contains(['a','an','the','and','or','of','in','to','is'], t))) * 1.0
                   / len(string_split(text, ' ')), 6) AS stop_ratio
             FROM documents"""),
      headline = true),

    // composite quality score (same formula mirrored in SQL).
    "q51_quality" -> QueryDef(
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        Num.rnd(TextStats.qualityScore(col("text")), 6).as("quality")),
      Some(s"""SELECT doc_id, round($qualitySql, 6) AS quality
             FROM documents""")),

    // heuristic language ID (CJK script + char-n-gram profile votes) —
    // the oracle SQL is GENERATED from the same profile table so the
    // decision procedures can't drift.
    "q52_langid" -> QueryDef(
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"), TextStats.langId(col("text")).as("lang_guess")),
      Some {
        def score(grams: Seq[String]): String = grams.map { g =>
          val q = g.replace("'", "''")
          s"(length(p) - length(replace(p, '$q', ''))) / ${g.length}"
        }.mkString(" + ")
        val s = TextStats.langProfiles.toMap
        s"""SELECT doc_id,
           CASE WHEN regexp_matches(p, '[一-鿿]') THEN 'zh'
                WHEN de > en AND de > fr AND de > es THEN 'de'
                WHEN fr > en AND fr > de AND fr > es THEN 'fr'
                WHEN es > en AND es > de AND es > fr THEN 'es'
                ELSE 'en' END AS lang_guess
           FROM (SELECT doc_id, p,
                 ${score(s("en"))} AS en, ${score(s("de"))} AS de,
                 ${score(s("fr"))} AS fr, ${score(s("es"))} AS es
                 FROM (SELECT doc_id, ' ' || text || ' ' AS p FROM documents))"""
      }),

    // exact dedup at scale: md5 fingerprint → hash-groupBy (16-byte
    // shuffle keys, not full documents).
    "q53_dedup_exact" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .groupBy(TextStats.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n")),
      Some("""SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
             min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n
             FROM documents GROUP BY 1""")),

    // exact n-gram-Jaccard near-dup pairs via inverted-index pair
    // COUNTING: |A∩B| = count of shared shingles per packed pair — the
    // shuffle carries only longs, never shingle arrays. At threshold
    // 0.5 this beats prefix filtering (text/ExactNearDup.scala — the
    // prefix is ~half of every set at t=0.5, so candidates barely
    // shrink while the verify join must move the sets themselves;
    // measured 2.1s vs 10s at sf0.1. ExactNearDup is the right tool at
    // t >= 0.8, where prefixes are tiny).
    "q54_ngram_jaccard" -> QueryDef(
      (s, d) => exactPairs(s, d),
      Some(s"WITH $pairsOracleCtes SELECT id1, id2, jaccard FROM pairs"),
      headline = true),

    // MinHash+LSH near-dup (shingle→minhash→band→bucket-join) — the
    // scale path. Candidates are exact-Jaccard VERIFIED, so the output
    // contract is "all pairs with jaccard ≥ t the LSH recalled"; with
    // 16 bands of 4 the measured recall vs the exact algorithm is 1.0
    // at sf0.01 and sf0.1 (re-checked every gate run by this oracle;
    // TextSpec pins full recall on its corpus too), making q54's exact
    // inverted-index SQL the oracle. Precision is 1.0 by construction
    // (the verify join applies the exact metric).
    "q55_minhash_lsh" -> QueryDef(
      (s, d) => MinHash.nearDuplicates(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("id1"), col("id2"), Num.rnd(col("jaccard"), 6).as("jaccard")),
      Some(s"WITH $pairsOracleCtes SELECT id1, id2, jaccard FROM pairs"),
      headline = true),

    // prefix-filtered exact near-dup (AllPairs/PPJoin family) — the
    // scalable EXACT path at high thresholds (t ≥ ~0.8, where the
    // df-ordered prefix is a small fraction of each set). Identical
    // output to the naive algorithm, so the exact-pair SQL at the same
    // threshold is the oracle; TextSpec additionally pins it against
    // brute force differentially.
    "q138_neardup_prefix" -> QueryDef(
      (s, d) => ExactNearDup.pairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.8),
      Some(s"WITH ${pairsOracleCtesAt("0.8")} SELECT id1, id2, jaccard FROM pairs")),

    // SimHash near-dup (custom Catalyst expression + 8-bit chunk
    // blocking). The per-token hash is md5-top-8-bytes (see SimHash64),
    // so the oracle recomputes the IDENTICAL fingerprints, blocking, and
    // hamming filter in SQL — the whole sketch pipeline is checked, not
    // just a property of it.
    "q56_simhash" -> QueryDef(
      (s, d) => SimHash.nearDuplicates(Tables.documents(s, d), "doc_id", "text",
          maxHamming = 12),
      Some(s"""WITH $shingleCte,
             tok AS (SELECT doc_id, unnest(s) AS t FROM sh WHERE len(s) > 0),
             hx AS (SELECT doc_id, substr(md5(t), 1, 16) AS h FROM tok),
             bits AS (SELECT doc_id, r.range AS b,
               CASE WHEN (((strpos('0123456789abcdef',
                            substr(h, CAST(16 - r.range // 4 AS INT), 1)) - 1)
                           >> CAST(r.range % 4 AS INT)) & 1) = 1
                    THEN 1 ELSE -1 END AS v
               FROM hx CROSS JOIN range(64) r),
             fp AS (SELECT doc_id, b, CASE WHEN sum(v) > 0 THEN 1 ELSE 0 END AS bit
                    FROM bits GROUP BY 1, 2),
             chunks AS (SELECT doc_id, b // 8 AS ck,
                          sum(bit << CAST(b % 8 AS INT)) AS v
                        FROM fp GROUP BY 1, 2),
             cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                      FROM chunks a JOIN chunks b
                        ON a.ck = b.ck AND a.v = b.v AND a.doc_id < b.doc_id),
             ham AS (SELECT id1, id2,
                       CAST(sum(CASE WHEN f1.bit <> f2.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
                     FROM cand JOIN fp f1 ON f1.doc_id = cand.id1
                               JOIN fp f2 ON f2.doc_id = cand.id2 AND f2.b = f1.b
                     GROUP BY 1, 2)
             SELECT id1, id2, hamming FROM ham WHERE hamming <= 12"""))
  )
}
