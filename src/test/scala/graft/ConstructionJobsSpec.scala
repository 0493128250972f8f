package graft

/** Building a graph query fires no Spark job: PageRank, PPR, weighted
  * PageRank, HITS and label propagation (one `GraphIter` node each) and
  * the connected-components queries (one `Components` node each). Nor
  * does building a bloom-gated decontamination (q221, q224, q189): the
  * bloom is built inside its `BloomFilter` node's exec. Their tables are
  * resolved first, as any caller's are, so the count is the query's own.
  * Size-derived scalars (q354's and q405's quantiles, the sign-cell fold
  * modulus of q373, q378, q380 and q438, and the row counts of q118,
  * q293, q308, q313, q332, q345 and q348) are scalar subqueries or
  * one-row aggregates inside the plan, so those build with 0 jobs too.
  * Triangle counting (q321) still counts and collects while it is built:
  * its lazy form measured slower (see CHANGES.md).
  *
  * The pair counters (q54, q114, q169, q198) keep one construction
  * step, `PairCounts`' singleton-ratio `.head()`: the gate exists to
  * skip the duplicate-key shuffle, which AQE would run as a child stage
  * before any exec could decide to skip it. That one aggregate is at
  * most [[gateJobs]] jobs: its map stage, its result stage and, the
  * first time `Shingles.cachedSets` is filled (q54 before q114), the
  * map stage of the fan-out exchange under that cache.
  */
class ConstructionJobsSpec extends SparkSpec {

  private val gateJobs = 3

  private val lazyQueries = Seq("q263_pagerank", "q266_label_prop", "q268_ppr",
    "q294_hits", "q302_weighted_pagerank",
    "q146_embed_dedup", "q166_minhash_dedup", "q281_survivorship",
    "q221_decontaminate", "q224_gframe_curation", "q189_decontam_bloom",
    "q354_bisect_quantiles", "q405_length_filter",
    "q373_semdedup_scaled", "q378_lsh_operating_point", "q380_semdedup_banded",
    "q438_cluster_cap", "q118_tfidf", "q293_chi2", "q308_source_keywords",
    "q313_rank_pct", "q332_kl_anomaly", "q345_mutual_information",
    "q348_stopword_discovery")

  private val gatedQueries = Seq("q54_ngram_jaccard", "q114_dedup_clusters",
    "q169_substring_dup", "q198_substring_dup_winnowed")

  private def buildJobs(q: String): Int = {
    Seq("lineitem", "orders", "documents", "embeddings", "events")
      .foreach(Tables(spark, sf, _))
    jobsWhile(SparkEntry.queries(q)(spark, sf))._2
  }

  for (q <- lazyQueries) test(s"building $q fires no job") {
    val jobs = buildJobs(q)
    assert(jobs == 0, s"$q fired $jobs jobs while built")
  }

  for (q <- gatedQueries) test(s"building $q fires at most the pair gate's jobs") {
    val jobs = buildJobs(q)
    assert(jobs <= gateJobs, s"$q fired $jobs jobs while built")
  }
}
