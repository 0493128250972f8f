package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Num

/** Round-35 wave: image hamming near-dup, interval union, exact
  * discrete quantiles. */
class Round29Spec extends SparkSpec {

  /** The discrete p-quantile of `c` in `df`, by q354's aggregate. */
  private def quantileDisc(df: DataFrame, c: String, p: Double): Long =
    df.agg(Num.quantileDisc(c, p)(0).cast("bigint")).head().getLong(0)

  test("image near-dup equals the driver brute force over all hash pairs") {
    val got = SparkEntry.queries("q352_image_neardup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hashes = SparkEntry.queries("q248_image_ahash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (d1, hi1, lo1) <- hashes; (d2, hi2, lo2) <- hashes
      if d1 < d2
      dist = java.lang.Long.bitCount(hi1 ^ hi2) + java.lang.Long.bitCount(lo1 ^ lo2)
      if dist <= 4
    } yield (d1, d2, dist.toLong)).toSet
    assert(got == brute && brute.nonEmpty)
  }

  test("interval-union islands coincide with native session_window sessions") {
    // a 5-minute-interval union is exactly a 5-minute-gap session set
    val islands = SparkEntry.queries("q353_interval_union")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val sessions = Tables.events(spark, sf)
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)))
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(islands == sessions)
  }

  test("discrete quantile aggregate equals the sort-based discrete quantile") {
    import spark.implicits._
    val vals = Seq(5L, 1L, 9L, 3L, 3L, 7L, 100L, -4L).toDF("v")
    assert(quantileDisc(vals, "v", 0.5) == 3L) // rank ceil(4)=4 → 3
    assert(quantileDisc(vals, "v", 0.9) == 100L)
    assert(quantileDisc(vals, "v", 0.0) == -4L)
    // against a driver sort of real data
    val cents = Tables.lineitem(spark, sf)
      .select(expr("cast(round(l_extendedprice * 100) as long)").as("c"))
    val med = quantileDisc(cents, "c", 0.5)
    val sorted = cents.collect().map(_.getLong(0)).sorted
    val rank = math.ceil(0.5 * sorted.length).toInt
    assert(med == sorted(rank - 1))
  }

  test("discrete quantile aggregate matches sorted-rank selection on random data") {
    import spark.implicits._
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val lists = Gen.nonEmptyListOf(Gen.chooseNum(-1000L, 1000L))
    for (seed <- 1 to 20) {
      val xs = sample(lists, seed.toLong)
      val pct = sample(Gen.chooseNum(1, 99), seed + 500L)
      val p = pct / 100.0
      val got = quantileDisc(xs.toDF("v"), "v", p)
      val sorted = xs.sorted
      val rank = math.max(1, math.ceil(p * xs.length).toInt)
      assert(got == sorted(rank - 1), s"seed $seed")
    }
  }

  test("discrete quantile aggregate ignores nulls (rank must stay reachable)") {
    import spark.implicits._
    val df = Seq(Some(1L), None, Some(2L), None, Some(3L), Some(4L)).toDF("v")
    // non-null domain {1,2,3,4}: p=0.5 → rank 2 → value 2. With nulls
    // inflating n, rank would be 3 → value 3.
    assert(quantileDisc(df, "v", 0.5) == 2L)
    assert(quantileDisc(df, "v", 1.0) == 4L)
  }

  test("streaming Benford equals the batch q330 report") {
    val stream = SparkEntry.queries("q355_stream_benford")(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q330_benford")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("hopping distinct users: every user counted in two windows per event") {
    val rows = SparkEntry.queries("q356_hopping_distinct_users")(spark, sf).collect()
    assert(rows.nonEmpty)
    // reach per window never exceeds the total population
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.forall(_.getAs[Long]("n_users") <= users))
  }

  test("cosine histogram covers exactly the in-bucket pair count") {
    val rows = SparkEntry.queries("q357_cosine_histogram")(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    val sizes = Tables.embeddings(spark, sf)
      .groupBy(pmod(col("vec_id"), lit(16))).count()
      .collect().map(_.getLong(1))
    val expected = sizes.map(n => n * (n - 1) / 2).sum
    assert(total == expected)
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 31))
  }

  test("interval union replays driver-side and bounds hold") {
    val got = SparkEntry.queries("q353_interval_union")(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("t")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(got.size == byUser.size)
    for ((u, evs) <- byUser.take(50)) {
      val iv = evs.map(_._2).distinct.sorted.map(t => (t, t + 300000000L))
      var islands = 0
      var covered = 0L
      var curS = -1L
      var curE = -1L
      for ((lo, hi) <- iv) {
        if (curE < 0 || lo > curE) {
          if (curE >= 0) covered += curE - curS
          islands += 1; curS = lo; curE = hi
        } else curE = math.max(curE, hi)
      }
      if (curE >= 0) covered += curE - curS
      assert(got(u) == ((islands.toLong, covered)), s"user $u")
      // every island covers at least one 5-minute interval
      assert(got(u)._2 >= 300000000L * got(u)._1)
    }
  }
}
