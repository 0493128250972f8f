package graft

import org.apache.spark.sql.graftbridge.CacheEntries

/** Every `.cache()` a query makes has an owner: building and collecting
  * a bloom-gated query leaves the session's CacheManager as it was.
  * Each test starts from an empty CacheManager, so a plan an earlier
  * suite cached cannot hide an entry the query adds.
  *
  * The one deliberate exception in `src/main` is `Shingles.cachedSets`
  * (q54's shingle sets, shared with q55 through `CacheBridge`), which
  * none of the queries below reaches.
  */
class CacheOwnershipSpec extends SparkSpec {

  for (q <- Seq("q221_decontaminate", "q189_decontam_bloom", "q198_substring_dup_winnowed"))
    test(s"$q built and collected leaves no cached plan behind") {
      spark.catalog.clearCache()
      Tables(spark, sf, "documents")
      val before = CacheEntries.count(spark)
      val rows = SparkEntry.queries(q)(spark, sf).collect()
      assert(rows.nonEmpty)
      assert(CacheEntries.count(spark) == before,
        s"$q left ${CacheEntries.count(spark) - before} cached plans")
    }
}
