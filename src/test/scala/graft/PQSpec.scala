package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.similarity.{IVF, IVFCentroids, PQ, PQCodebooks, Similarity}

class PQSpec extends SparkSpec {

  private val pq = PQ.Model(PQCodebooks.pretrained)
  private val coarse = IVF.Model(IVFCentroids.pretrained)

  private def driverDist2(u: Array[Double], c: Array[Double]): Double = {
    // same association order as PQ.dist2: u·u − 2·u·c + |c|², dots as
    // sequential left folds
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    dot(u, u) - 2.0 * dot(u, c) + c.map(x => x * x).sum
  }

  private def driverEncode(v: Array[Double]): Array[Int] =
    (0 until pq.m).map { s =>
      val sub = v.slice(s * pq.dsub, (s + 1) * pq.dsub)
      (0 until pq.ksub).minBy(j => (driverDist2(sub, pq.codebooks(s)(j)), j))
    }.toArray

  private def corpusSample(n: Int): Array[(Long, Array[Double])] =
    Tables.embeddings(spark, sf).filter(col("vec_id") < n)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  test("encode matches a driver-side argmin over the frozen codebooks") {
    val sample = corpusSample(64)
    val got = Tables.embeddings(spark, sf).filter(col("vec_id") < 64)
      .select(col("vec_id"), pq.encode(col("embedding")).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    sample.foreach { case (id, v) =>
      assert(got(id).toSeq === driverEncode(v).toSeq, s"vec $id")
    }
  }

  test("native encode kernel is bit-identical to the composed expression twin") {
    // real corpus floats: the native PqEncode loop and the
    // array_min-over-structs tree must agree code-for-code (same
    // arithmetic in the same fold order — PqEncodeExpr's contract).
    // Compared on the driver: a filter + count over the twin fuses it
    // into one aggregate method past Janino's 64 KB limit
    val rows = Tables.embeddings(spark, sf).filter(col("vec_id") < 256)
      .select(col("vec_id"),
        pq.encode(col("embedding")).as("native"),
        pq.encodeComposed(col("embedding")).as("composed"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"vec ${r.getLong(0)}")
    }
  }

  test("native PqLut is bit-identical to the composed lut twin") {
    // compared on the driver, bit for bit, as the encode twin is
    val rows = Tables.embeddings(spark, sf).filter(col("vec_id") < 256)
      .select(col("vec_id"),
        pq.lut(col("embedding")).as("native"),
        pq.lutComposed(col("embedding")).as("composed"))
      .collect()
    def bits(r: Row, i: Int) = Option(r.getSeq[collection.Seq[Double]](i))
      .map(_.map(_.map(java.lang.Double.doubleToLongBits)))
    assert(rows.nonEmpty)
    rows.foreach(r => assert(bits(r, 1) == bits(r, 2), s"vec ${r.getLong(0)}"))
  }

  test("ADC distance equals the exact sub-distance sum of the assigned codes") {
    val sample = corpusSample(16)
    val q = sample.head._2
    val got = Tables.embeddings(spark, sf).filter(col("vec_id") < 16)
      .select(col("vec_id"),
        pq.adcDist(pq.lut(typedlit(q.toSeq)), pq.encode(col("embedding"))).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    sample.foreach { case (id, v) =>
      val codes = driverEncode(v)
      val expect = (0 until pq.m).map { s =>
        driverDist2(q.slice(s * pq.dsub, (s + 1) * pq.dsub), pq.codebooks(s)(codes(s)))
      }.reduce(_ + _)
      assert(math.abs(got(id) - expect) < 1e-12, s"vec $id: ${got(id)} vs $expect")
    }
  }

  test("decode reconstruction beats the single-codeword quantizer") {
    val sample = corpusSample(256)
    def mse(v: Array[Double], r: Array[Double]): Double =
      v.zip(r).map { case (a, b) => (a - b) * (a - b) }.sum / v.length
    val pqMse = sample.map { case (_, v) =>
      val rec = driverEncode(v).zipWithIndex.flatMap { case (c, s) => pq.codebooks(s)(c) }
      mse(v, rec)
    }.sum / sample.length
    val zeroMse = sample.map { case (_, v) =>
      val rec = (0 until pq.m).flatMap(s => pq.codebooks(s)(0)).toArray
      mse(v, rec)
    }.sum / sample.length
    info(s"PQ reconstruction MSE $pqMse vs single-codeword $zeroMse")
    assert(pqMse < zeroMse)
    // Spark-side decode agrees with the driver-side reconstruction
    val got = Tables.embeddings(spark, sf).filter(col("vec_id") < 4)
      .select(col("vec_id"), pq.decode(pq.encode(col("embedding"))).as("rec"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    sample.take(4).foreach { case (id, v) =>
      val expect = driverEncode(v).zipWithIndex.flatMap { case (c, s) => pq.codebooks(s)(c) }
      assert(got(id).toSeq === expect.toSeq)
    }
  }

  test("IVF-PQ top-k recall vs exact L2, and a hash-join-only plan") {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 20)
    val res = PQ.ivfPqTopK(queries, e, coarse, pq, k = 5, nprobe = 4)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"expected hash-join-only plan:\n$plan")
    val got = res.select("qid", "vid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth in the SAME metric ADC approximates (exact L2):
    // recall against cosine top-k would conflate metric choice with
    // quantization loss on these unnormalized vectors.
    val all = corpusSample(Int.MaxValue)
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qs = all.filter(_._1 < 20)
    val brute = qs.flatMap { case (qid, qv) =>
      all.filter(_._1 != qid)
        .sortBy { case (vid, v) => (l2(qv, v), vid) }.take(5)
        .map { case (vid, _) => (qid, vid) }
    }.toSet
    val recall = (got & brute).size.toDouble / brute.size
    info(s"IVF-PQ recall@5 vs exact L2 (m=8, ksub=16, nprobe=4): $recall")
    // raw ADC on these near-random synthetic vectors is distortion-
    // dominated (all pairs nearly equidistant); the floor is advisory.
    assert(recall > 0.05, s"recall $recall below floor")
    // the production refinement: exact rerank of a 50-candidate ADC
    // shortlist recovers the recall the code distortion loses.
    val rr = PQ.ivfPqRerankTopK(queries, e, coarse, pq, k = 5, nprobe = 4,
        shortlist = 50)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrRecall = (rr & brute).size.toDouble / brute.size
    info(s"IVF-PQ+rerank(50) recall@5 vs exact L2: $rrRecall")
    assert(rrRecall > recall, "rerank must improve recall")
    assert(rrRecall > 0.4, s"reranked recall $rrRecall below floor")
  }

  test("online PQ.fit is deterministic and encodes the full code range") {
    val e = Tables.embeddings(spark, sf)
    val m1 = PQ.fit(e, m = 4, ksub = 4)
    val m2 = PQ.fit(e, m = 4, ksub = 4)
    assert(m1.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val codes = e.select(explode(m1.encode(col("embedding"))).as("c"))
      .agg(min("c"), max("c")).head
    assert(codes.getInt(0) >= 0 && codes.getInt(1) <= 3)
  }
}
