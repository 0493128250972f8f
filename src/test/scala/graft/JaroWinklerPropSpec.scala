package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the native Jaro-Winkler expression against an
  * INDEPENDENT reference implementation (different code path, naive and
  * readable).
  */
class JaroWinklerPropSpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get


  /** Naive reference Jaro-Winkler (textbook formulation). */
  private def refJw(a: String, b: String): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    val win = math.max(0, math.max(a.length, b.length) / 2 - 1)
    val aM = Array.fill(a.length)(false)
    val bM = Array.fill(b.length)(false)
    for (i <- a.indices) {
      val lo = math.max(0, i - win)
      val hi = math.min(b.length - 1, i + win)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!bM(j) && a(i) == b(j)) { aM(i) = true; bM(j) = true; done = true }
        j += 1
      }
    }
    val m = aM.count(identity)
    if (m == 0) return 0.0
    val as = a.indices.filter(aM).map(a(_))
    val bs = b.indices.filter(bM).map(b(_))
    val t = as.zip(bs).count { case (x, y) => x != y } / 2
    val j0 = (m.toDouble / a.length + m.toDouble / b.length
      + (m - t).toDouble / m) / 3.0
    if (j0 > 0.7) {
      val p = a.zip(b).take(4).takeWhile { case (x, y) => x == y }.length
      j0 + p * 0.1 * (1.0 - j0)
    } else j0
  }

  private val word = Gen.chooseNum(0, 10).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))

  test("native JW equals the naive reference on random strings") {
    import spark.implicits._
    import graft.functions.JaroWinklerSim
    val cases = (for {
      seed <- 1 to 300
    } yield {
      val rng = new scala.util.Random(seed)
      def w() = (0 until rng.nextInt(11)).map(_ => "abcd"(rng.nextInt(4))).mkString
      (w(), w())
    }).distinct
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"), JaroWinklerSim(col("a"), col("b")).as("jw"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    for ((a, b) <- cases) {
      assert(math.abs(got((a, b)) - refJw(a, b)) < 1e-12, s"'$a' vs '$b'")
    }
  }

  test("JW properties: symmetry, range, identity") {
    import spark.implicits._
    import graft.functions.JaroWinklerSim
    val cases = (1 to 100).map(i =>
      (sample(word, i.toLong), sample(word, i + 1000L)))
    val rows = cases.toDF("a", "b")
      .select(col("a"),
        JaroWinklerSim(col("a"), col("b")).as("ab"),
        JaroWinklerSim(col("b"), col("a")).as("ba"),
        JaroWinklerSim(col("a"), col("a")).as("aa")).collect()
    for (r <- rows) {
      assert(r.getDouble(1) == r.getDouble(2))            // symmetric
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getString(0).isEmpty || r.getDouble(3) == 1.0) // identity
    }
  }

  test("odd transposition counts pin to DuckDB jaro_winkler_similarity") {
    import graft.functions.JaroWinklerSim
    // constants from DuckDB v1.x jaro_winkler_similarity — a 3-cycle
    // inside the match window yields an ODD raw transposition count,
    // where engines diverge between floor(t/2) (strcmp95, DuckDB, us)
    // and exact t/2. "abcdef"/"bcadef": t=3 → floor → 0.9444…, exact
    // half would give 0.9166…. Lengths/positions are UTF-16 code units
    // (= code points for these BMP-only cases).
    val cases = Seq(
      ("abc", "bca", 0.0),                   // window 0: no matches
      ("abcdef", "bcadef", 0.9444444444444445), // 3-cycle, t odd
      ("abcde", "cabde", 0.8666666666666667),   // 3-cycle, window 1
      ("aXbYc", "bXcYa", 0.6),
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332))
    import spark.implicits._
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(JaroWinklerSim(col("a"), col("b")).as("s"))
      .collect().map(_.getDouble(0))
    for (((a, b, want), g) <- cases.zip(got))
      assert(g == want, s"jw($a, $b): got $g want $want")
  }
}
