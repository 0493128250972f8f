package graft

/** Building a graph query fires no Spark job: PageRank, PPR, weighted
  * PageRank, HITS and label propagation (one `GraphIter` node each) and
  * the connected-components queries (one `Components` node each). Their
  * tables are resolved first, as any caller's are, so the count is the
  * query's own. Triangle counting (q321) still counts and collects while
  * it is built: its lazy form measured slower (see CHANGES.md).
  */
class ConstructionJobsSpec extends SparkSpec {

  private val graphQueries = Seq("q263_pagerank", "q266_label_prop", "q268_ppr",
    "q294_hits", "q302_weighted_pagerank",
    "q146_embed_dedup", "q166_minhash_dedup", "q281_survivorship")

  for (q <- graphQueries) test(s"building $q fires no job") {
    Seq("lineitem", "orders", "documents", "embeddings").foreach(Tables(spark, sf, _))
    val (_, jobs) = jobsWhile(SparkEntry.queries(q)(spark, sf))
    assert(jobs == 0, s"$q fired $jobs jobs while built")
  }
}
