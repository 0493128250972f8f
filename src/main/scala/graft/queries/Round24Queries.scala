package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Num

/** Round-24 additions: PMI collocations, per-source TF-IDF keywords,
  * group skewness.
  */
object Round24Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // Collocation extraction: pointwise mutual information of word
    // bigrams, PMI = ln(T·n_ab / (n_a·n_b)) with T the bigram total —
    // phrase mining for tokenizer/vocab curation.  Counts are exact
    // longs from two explode+groupBy passes; the single ln per
    // SURVIVING bigram is 6dp-rounded (q153's transcendental
    // discipline).  min-support 5 prunes the tail before the joins.
    "q307_collocations" -> QueryDef(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(graft.text.TextStats.tokensNonEmpty(col("text")).as("t"))
        val uni = toks.select(explode(col("t")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("nw"))
        val bi = toks.select(explode(graft.text.BigramLm.bigrams(col("t"))).as("b"))
          .groupBy("b").agg(count(lit(1)).as("nab"))
          .filter(col("nab") >= 5)
        val tot = toks.select(explode(graft.text.BigramLm.bigrams(col("t"))).as("b"))
          .agg(count(lit(1)).as("tt"))
        val parts = bi.select(col("b"), col("nab"),
          split(col("b"), " ").getItem(0).as("w1"),
          split(col("b"), " ").getItem(1).as("w2"))
        val scored = parts
          .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("nw", "n1"), "w1")
          .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("nw", "n2"), "w2")
          .crossJoin(broadcast(tot))
          .select(col("b"), col("nab"),
            Num.rnd(log(col("tt").cast("double") * col("nab").cast("double")
              / (col("n1").cast("double") * col("n2").cast("double"))), 6).as("pmi"))
        graft.operators.Sorts.topK(scored, Seq("pmi", "b"), Seq(false, true), 20)
      },
      Some("""WITH tok AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents),
          bg AS (SELECT unnest(CASE WHEN len(t) < 2 THEN []
              ELSE list_transform(range(2, len(t) + 1), i -> t[i-1] || ' ' || t[i])
              END) AS b FROM tok),
          uni AS (SELECT unnest(t) AS w FROM tok),
          un AS (SELECT w, CAST(count(*) AS BIGINT) AS nw FROM uni GROUP BY 1),
          bn AS (SELECT b, CAST(count(*) AS BIGINT) AS nab FROM bg GROUP BY 1
                 HAVING count(*) >= 5),
          tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM bg),
          sc AS (SELECT bn.b, bn.nab,
              round(ln(CAST(tt.tt AS DOUBLE) * CAST(bn.nab AS DOUBLE)
                / (CAST(u1.nw AS DOUBLE) * CAST(u2.nw AS DOUBLE))) * 1e6) / 1e6 AS pmi
            FROM bn
            JOIN un u1 ON u1.w = string_split(bn.b, ' ')[1]
            JOIN un u2 ON u2.w = string_split(bn.b, ' ')[2]
            CROSS JOIN tt)
          SELECT b, nab, pmi FROM sc
          QUALIFY row_number() OVER (ORDER BY pmi DESC, b) <= 20""")),

    // Per-source TF-IDF keywords: rational TF-IDF (q118's discipline —
    // tf · (S+1)/(df+1) with S the source count, no ln) and the top-5
    // terms per source via the GroupTopK bounded heaps.
    "q308_source_keywords" -> QueryDef(
      (s, d) => {
        val sw = Tables.documents(s, d)
          .select(col("source"),
            explode(graft.text.TextStats.tokensNonEmpty(col("text"))).as("w"))
        val tf = sw.groupBy("source", "w").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
        val nS = Tables.documents(s, d).select("source").distinct()
          .agg(count(lit(1))).scalar()
        val scored = tf.join(df, "w")
          .select(col("source"), col("w"),
            (col("tf").cast("double") * ((nS + 1).cast("double")
              / (col("df") + 1).cast("double"))).as("tfidf"))
        graft.plans.GroupTopK.topKPerKey(scored, Seq("source"),
          Seq("tfidf" -> true, "w" -> false), 5)
      },
      Some("""WITH sw AS (SELECT source, unnest(list_filter(
              string_split(text, ' '), x -> x <> '')) AS w FROM documents),
          tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS tf
            FROM sw GROUP BY 1, 2),
          df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
          ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS ns FROM documents),
          sc AS (SELECT tf.source, tf.w,
              CAST(tf.tf AS DOUBLE) * (CAST(ns.ns + 1 AS DOUBLE)
                / CAST(df.df + 1 AS DOUBLE)) AS tfidf
            FROM tf JOIN df ON tf.w = df.w CROSS JOIN ns)
          SELECT source, w, tfidf FROM sc
          QUALIFY row_number() OVER (PARTITION BY source
            ORDER BY tfidf DESC, w ASC) <= 5""")),

    // Group skewness from exact decimal moments (Σv, Σv², Σv³ —
    // DECIMAL(12,6) keeps the cube inside the 38-digit cap; the
    // kurtosis fourth power would overflow, documented):
    // g1 = (M3/n) / ((M2/n)·sqrt(M2/n)) with identical double
    // expressions on both engines.
    "q309_group_skewness" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"),
            Num.rnd(col("value"), 6).cast("decimal(12,6)").as("v"))
        val m = ev.groupBy("event_type")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(col("v")).cast("double").as("s1"),
            sum(col("v") * col("v")).cast("double").as("s2"),
            sum(col("v") * col("v") * col("v")).cast("double").as("s3"))
        m.select(col("event_type"),
          Num.rnd({
            val mu = col("s1") / col("n")
            val m2 = col("s2") / col("n") - mu * mu
            val m3 = (col("s3") / col("n") - lit(3.0) * mu * (col("s2") / col("n"))) +
              lit(2.0) * mu * mu * mu
            m3 / (m2 * sqrt(m2))
          }, 6).as("skewness"))
      },
      Some("""WITH ev AS (SELECT event_type,
            CAST(round(value * 1e6) / 1e6 AS DECIMAL(12,6)) AS v
          FROM events WHERE value IS NOT NULL),
          m AS (SELECT event_type,
              CAST(count(*) AS DOUBLE) AS n,
              CAST(sum(v) AS DOUBLE) AS s1,
              CAST(sum(v * v) AS DOUBLE) AS s2,
              CAST(sum(v * v * v) AS DOUBLE) AS s3
            FROM ev GROUP BY 1)
          SELECT event_type,
            round((s3 / n - 3.0 * (s1 / n) * (s2 / n)
                + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
              / ((s2 / n - (s1 / n) * (s1 / n))
                 * sqrt(s2 / n - (s1 / n) * (s1 / n))) * 1e6) / 1e6 + 0 AS skewness
          FROM m"""))
  )
}
