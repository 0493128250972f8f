package graft

import org.apache.spark.sql.functions._
import graft.text.{MinHashSig, Shingles}

class MinHashSigSpec extends SparkSpec {

  test("band hashes equal the composed xxhash64 fold of composed minhashes") {
    val sh = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), Shingles.shingles(col("text"), 3).as("sh"))
    val (k, r) = (16, 4)
    val mins = (0 until k).map(i => array_min(transform(col("sh"), s => xxhash64(lit(i), s))))
    val composed = sh.select(col("doc_id"),
      array(mins.grouped(r).map(band => xxhash64(band: _*)).toSeq: _*).as("sig"))
    val custom = sh.select(col("doc_id"), MinHashSig.bandHashes(col("sh"), k, r).as("sig"))
    val a = composed.orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val b = custom.orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) => assert(x === y) }
  }

  test("band hashes: same signature → same buckets, determinism") {
    val sh = Tables.documents(spark, sf).limit(20)
      .select(col("doc_id"), Shingles.shingles(col("text"), 3).as("sh"))
    val b1 = sh.select(MinHashSig.bandHashes(col("sh")).as("b")).collect().map(_.getSeq[Long](0))
    val b2 = sh.select(MinHashSig.bandHashes(col("sh")).as("b")).collect().map(_.getSeq[Long](0))
    assert(b1.map(_.toList).toList === b2.map(_.toList).toList)
    assert(b1.head.length === 16) // 64/4 bands
  }
}
