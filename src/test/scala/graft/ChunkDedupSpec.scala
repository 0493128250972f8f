package graft

import org.apache.spark.sql.functions._

import graft.text.ChunkDedup

class ChunkDedupSpec extends SparkSpec {
  import spark.implicits._

  private def words(n: Int, tag: String): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  test("removes later occurrences, keeps first, reassembles in order") {
    // doc 1: chunks A B; doc 2: chunks B C (B repeats); doc 3: pure repeat of A
    val a = words(10, "a"); val b = words(10, "b"); val c = words(10, "c")
    val df = Seq(
      (1L, s"$a $b"),
      (2L, s"$b $c"),
      (3L, a)).toDF("doc_id", "text")
    val out = ChunkDedup.rewrite(df, "doc_id", "text", k = 10)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == s"$a $b" && out(0).getLong(2) == 2)
    assert(out(1).getString(1) == c && out(1).getLong(2) == 1 &&
      out(1).getLong(3) == 2)
    assert(out(2).getString(1) == "" && out(2).getLong(2) == 0 &&
      out(2).getLong(3) == 1)
  }

  test("within-document repeats collapse to the first chunk") {
    val a = words(10, "x")
    val df = Seq((7L, s"$a $a $a")).toDF("doc_id", "text")
    val r = ChunkDedup.rewrite(df, "doc_id", "text", k = 10).head()
    assert(r.getString(1) == a && r.getLong(2) == 1 && r.getLong(3) == 3)
  }

  test("short tail chunk and empty text handled") {
    val df = Seq((1L, "one two three"), (2L, ""), (3L, "one two three"))
      .toDF("doc_id", "text")
    val out = ChunkDedup.rewrite(df, "doc_id", "text", k = 10)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "one two three" && out(0).getLong(3) == 1)
    assert(out(1).getString(1) == "" && out(1).getLong(3) == 0)
    assert(out(2).getString(1) == "" && out(2).getLong(2) == 0)
  }

  test("idempotent: rewriting the cleaned corpus changes nothing") {
    val docs = Tables.documents(spark, sf).limit(120)
    val once = ChunkDedup.rewrite(docs, "doc_id", "text")
      .select(col("doc_id"), col("text_clean").as("text"))
    val twice = ChunkDedup.rewrite(once, "doc_id", "text")
    val changed = twice.filter(col("n_kept") =!= col("n_total")).count()
    assert(changed == 0)
    // and a duplicate-free corpus is untouched (identity on the
    // token-normalized text)
    val diff = once.alias("o")
      .join(twice.alias("t"), Seq("doc_id"))
      .filter(col("o.text") =!= col("t.text_clean")).count()
    assert(diff == 0)
  }

  // The native chunk set that ChunkDedup.chunks builds is SlidingChunkSet
  // with stride = window (non-overlapping tiling).
  test("native ChunkSet matches the composed HOF chunking (idx, chunk, hash)") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val docs = Tables.documents(spark, sf).limit(200)
      .union(Seq((-1L, "  double  spaces  and tail ", "x", "x", 0L),
        (-2L, "", "x", "x", 0L), (-3L, "   ", "x", "x", 0L),
        (-4L, "short", "x", "x", 0L)).toDF(Tables.documents(spark, sf).columns: _*))
    val k = 10
    val native = docs.select(col("doc_id"), explode(ColumnBridge.column(
        graft.text.SlidingChunkSet(ColumnBridge.expression(col("text")), k, k))).as("c"))
      .select(col("doc_id"), col("c.idx"), col("c.chunk"),
        col("c.h").as("h"))
    val composed = docs
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x != '')").as("__t"))
      .filter(size(col("__t")) > 0)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, cast((size(__t) + ${k - 1}) / $k as int) - 1), " +
          s"i -> struct(i as idx, array_join(slice(__t, i * $k + 1, $k), ' ') as chunk))")).as("c"))
      .select(col("doc_id"), col("c.idx"), col("c.chunk"),
        xxhash64(col("c.chunk")).as("h"))
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("native TokenCountWs matches size(filter(split))") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val docs = Tables.documents(spark, sf).limit(200)
      .select(col("text"))
      .union(Seq(" a  b ", "", "   ", "one").toDF("text"))
    val bad = docs.filter(
      ColumnBridge.column(graft.text.TokenCountWs(ColumnBridge.expression(col("text")))) =!=
        expr("size(filter(split(text, ' '), x -> x != ''))")).count()
    assert(bad == 0)
  }
}
