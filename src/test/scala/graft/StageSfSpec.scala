package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.tools.{StageSf, Staging}

/** The scale tiers' copy rules: copies are disjoint, salted and rotated
  * copies keep each copy's own structure, and staged events read back
  * through `Tables.events` shifted by whole months.
  */
class StageSfSpec extends SparkSpec {
  private val mult = 2

  /** Both tiers at `mult`, staged afresh (staging keeps what it finds). */
  private lazy val (verbatim, salted) = {
    Seq(s"sf${mult}x", s"sf${mult}x_salted").map(t => Paths.get(Staging.dir(t, sf)))
      .filter(Files.exists(_)).foreach { d =>
        val walk = Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
        finally walk.close()
      }
    (StageSf.stage(spark, sf, mult), StageSf.stageSalted(spark, sf, mult))
  }

  test("copy ids are disjoint in both tiers") {
    for {
      dir <- Seq(verbatim, salted)
      (table, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id", "events" -> "event_id")
    } {
      val n = Tables.load(spark, sf, table).count()
      val staged = Tables.load(spark, dir, table)
      assert(staged.count() === mult * n, s"$dir/$table")
      assert(staged.select(id).distinct().count() === mult * n, s"$dir/$table")
    }
    val orders = Tables.orders(spark, sf).count()
    assert(Tables.orders(spark, verbatim).select("o_orderkey").distinct().count() === mult * orders)
  }

  test("every salted word carries its copy's tag") {
    val docs = Tables.documents(spark, salted).select("doc_id", "text").collect()
    assert(docs.length === mult * Tables.documents(spark, sf).count())
    assert(docs.map(_.getLong(0) / 1000000L).toSet === (0L until mult).toSet)
    for (r <- docs; w <- r.getString(1).split(" ", -1)) {
      val k = r.getLong(0) / 1000000L
      assert(w.endsWith(s"_$k"), s"doc ${r.getLong(0)}: '$w'")
    }
  }

  test("rotated copies keep norms and within-copy dot products") {
    def vectors(dir: String): Map[Long, Array[Double]] =
      Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = a.zip(b).map { case (x, y) => x * y }.sum
    val src = vectors(sf)
    val rot = vectors(salted)
    val ids = src.keys.toSeq.sorted.take(20)
    for (k <- 0 until mult; a <- ids) {
      val ra = rot(a + k * 1000000L)
      assert(math.abs(dot(ra, ra) - dot(src(a), src(a))) < 1e-9, s"norm of $a in copy $k")
      for (b <- ids)
        assert(math.abs(dot(ra, rot(b + k * 1000000L)) - dot(src(a), src(b))) < 1e-9,
          s"dot($a, $b) in copy $k")
    }
    assert(ids.exists(a => !rot(a + 1000000L).sameElements(src(a))), "copy 1 is not rotated")
  }

  test("staged events read back through Tables.events with ts shifted by exactly 31 days") {
    val src = Tables.events(spark, sf).select(col("event_id"), unix_micros(col("ts")).as("t0"))
    val copy1 = Tables.events(spark, verbatim).filter(col("event_id") >= 10000000L)
      .select((col("event_id") - 10000000L).as("event_id"), unix_micros(col("ts")).as("t1"))
    val shifts = src.join(copy1, "event_id").select(col("t1") - col("t0")).collect().map(_.getLong(0))
    assert(shifts.length === src.count())
    assert(shifts.toSet === Set(31L * 86400L * 1000000L))
  }
}
