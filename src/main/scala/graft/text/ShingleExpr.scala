package graft.text

import graft.functions.NativeUnary
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass token n-gram shingle set.
  *
  * Semantically identical to the composed form
  * `array_distinct(transform(sequence(...), i -> concat_ws(" ", slice(tokens, i+1, n))))`
  * (with empty tokens filtered and the <n-token guard) — but those
  * higher-order array functions are evaluated interpreted, one lambda
  * dispatch + row wrapper per element. This expression tokenizes,
  * windows, and dedups in a single JVM loop; TextSpec pins the
  * equivalence against the composed form's outputs.
  *
  * Distinct keeps first-occurrence order, like `array_distinct`.
  */
case class ShingleSet(child: Expression, n: Int)
    extends NativeUnary[UTF8String] {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"

  def compute(text: UTF8String): ArrayData = {
    // whitespace-run tokens: split on single space, drop empties
    // (Shingles.scaladoc: the corpus convention is single-space)
    val toks = TextStats.words(text.toString)
    val seen = new java.util.LinkedHashSet[String]()
    var w = 0
    while (w + n <= toks.size) { seen.add(TextStats.gram(toks, w, n)); w += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): ShingleSet =
    copy(child = c)
}

/** All ordered pairs (a[i], a[j]) with i<j from a sorted long array,
  * packed as (a[i] << 32) | a[j] — the map-side pair expansion of an
  * inverted shingle/bucket index. Replaces the interpreted
  * `flatten(transform(ds, (x,i) -> transform(slice(...), y -> ...)))`
  * chain: one allocation, two JVM loops.
  */
case class PackedPairs(child: Expression)
    extends NativeUnary[ArrayData] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "packed_pairs"

  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val ids = arr.toLongArray()
    val out = new Array[Long](m * (m - 1) / 2)
    var k = 0
    var i = 0
    while (i < m) {
      val hi = ids(i) << 32
      var j = i + 1
      while (j < m) {
        out(k) = hi | ids(j)
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): PackedPairs =
    copy(child = c)
}

/** PPJoin candidate-pair expansion with the POSITIONAL filter — the
  * map-side pair generator of a prefix-index bucket (Xiao et al.,
  * "Efficient Similarity Joins for Near Duplicate Detection", WWW'08;
  * distributed form per Vernica/Carey/Li, SIGMOD'10).
  *
  * Input: array of (id, n, rk) structs sorted ascending by id — one
  * per document whose df-ordered PREFIX contains this bucket's
  * shingle, where `n` is the doc's shingle-set size and `rk` the
  * 1-based rank of the shingle in the doc's df-order. Output: packed
  * (id1 << 32 | id2) pairs that survive
  *
  *   1 + min(n1 − rk1, n2 − rk2)  ≥  ⌈t/(1+t) · (n1 + n2)⌉
  *
  * i.e. the overlap upper bound from this token onward must reach the
  * required overlap for J ≥ t. EXACT-safe: for a qualifying pair, its
  * FIRST shared prefix token has no shared tokens before it in either
  * doc, so the bound holds there and that bucket emits the pair —
  * later shared tokens may reject it, which only removes duplicate
  * emissions (a `distinct` follows anyway). This also subsumes the
  * length filter: at rk = 1 the bound reduces to min(n1, n2) ≥
  * t/(1+t)(n1+n2) ⟺ min ≥ t·max.
  *
  * The `ceil` is computed with a 1e-9 slack so a binary-float required
  * overlap landing a hair ABOVE an integer never rejects an exactly-
  * qualifying pair (conservative direction only).
  */
case class PrefixPairs(child: Expression, t: Double)
    extends NativeUnary[ArrayData] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "prefix_pairs"

  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val ids = new Array[Long](m)
    val tail = new Array[Int](m) // n - rk: suffix size after the token
    val ns = new Array[Int](m)
    var i = 0
    while (i < m) {
      val r = arr.getStruct(i, 3)
      ids(i) = r.getLong(0)
      val n = r.getInt(1)
      ns(i) = n
      tail(i) = n - r.getInt(2)
      i += 1
    }
    val frac = t / (1.0 + t)
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    i = 0
    while (i < m) {
      val hi = ids(i) << 32
      var j = i + 1
      while (j < m) {
        val bound = 1 + math.min(tail(i), tail(j))
        val required = math.ceil(frac * (ns(i) + ns(j)) - 1e-9)
        if (bound >= required) out += (hi | ids(j))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.result())
  }

  override protected def withNewChildInternal(c: Expression): PrefixPairs =
    copy(child = c)
}

/** The (idx, chunk, h) rows of the chunking kernels ([[SlidingChunkSet]],
  * [[CdcChunkSet]]). h = xxhash64(chunk bytes, seed 42) — the exact value
  * SQL `xxhash64(chunk)` would produce, fused into the same pass so no
  * downstream (interpreted, post-generator) projection has to re-walk
  * the string.
  */
private[text] object ChunkRows {
  val dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("chunk", StringType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)

  def row(idx: Int, chunk: String): InternalRow = {
    val u = UTF8String.fromString(chunk)
    new GenericInternalRow(Array[Any](idx, u,
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)))
  }
}

/** One-pass SLIDING-window k-token chunking with stride: chunk i covers
  * tokens [i·stride, i·stride+k). stride < k overlaps consecutive
  * chunks (context-window prep keeps boundary-crossing text learnable);
  * stride = k tiles the document into consecutive k-token chunks (the
  * [[ChunkDedup]] chunking); stride > k samples with gaps. Chunk count:
  * 0 for an empty/blank doc, 1 if n ≤ k, else ceil((n-k)/stride)+1 —
  * the last chunk may be shorter than k, and with stride > k it may
  * start past the last token and be empty. Single-space tokenization,
  * empty tokens dropped (the corpus convention, as [[ShingleSet]]), and
  * a fused xxhash64(seed 42) per chunk ([[ChunkRows]]). The composed
  * `transform(sequence(...), i -> struct(i, array_join(slice(toks, …))))`
  * twin is CodegenFallback (interpreted, one lambda dispatch per
  * element), and project-collapse re-inlines the tokenization subtree
  * into the lambda body, so each slice re-tokenizes the document:
  * O(tokens · chunks) per row. This is one JVM pass; ChunkDedupSpec pins
  * stride = k against the composed chunking, Round35Spec the overlap
  * contract.
  */
case class SlidingChunkSet(child: Expression, k: Int, stride: Int)
    extends NativeUnary[UTF8String] {

  require(k > 0, "window k must be positive")
  require(stride > 0, "stride must be positive")

  override def dataType: DataType = ChunkRows.dataType
  override def prettyName: String = "sliding_chunk_set"

  def compute(text: UTF8String): ArrayData = {
    val toks = TextStats.words(text.toString)
    val n = toks.size
    val nc = if (n == 0) 0 else if (n <= k) 1 else (n - k + stride - 1) / stride + 1
    val out = new Array[Any](nc)
    var idx = 0
    while (idx < nc) {
      val from = idx * stride // past the last token (an empty chunk) only if stride > k
      out(idx) = ChunkRows.row(idx, TextStats.gram(toks, from, math.min(k, n - from)))
      idx += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): SlidingChunkSet =
    copy(child = c)
}

/** CONTENT-DEFINED chunking (token-level Rabin-style): a token starts a
  * new chunk when its md5-derived draw hits 0 mod `modulus` — chunk
  * boundaries depend on CONTENT, not position, so inserting or deleting
  * a token perturbs only the chunk it lands in (every chunk after the
  * next boundary hashes identically), where fixed-window chunking
  * ([[SlidingChunkSet]]) shifts every downstream chunk. This is the dedup
  * chunking that survives edits — the property rsync/LBFS built on.
  *
  * Chunk index = running count of boundary tokens (≡ the SQL
  * `sum(flag) OVER (ORDER BY pos)` replay; tokens before the first
  * boundary form chunk 0, which is absent when the first token is
  * itself a boundary). Boundary draw: first 8 hex chars of md5(token)
  * as an integer, mod `modulus` — expected chunk length ≈ modulus
  * tokens. One pass, fused xxhash64(chunk) like the siblings.
  */
case class CdcChunkSet(child: Expression, modulus: Int)
    extends NativeUnary[UTF8String] {

  require(modulus > 0, "modulus must be positive")

  override def dataType: DataType = ChunkRows.dataType
  override def prettyName: String = "cdc_chunk_set"

  /** First 8 hex chars of md5(token) as a long (0..2^32). */
  private def draw(md: java.security.MessageDigest, tok: String): Long = {
    md.reset()
    val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 4 bytes = first 8 hex chars, unsigned
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  def compute(text: UTF8String): ArrayData = {
    val toks = TextStats.words(text.toString)
    val n = toks.size
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new java.util.ArrayList[Any]()
    var from = 0 // first token of the open chunk
    var idx = 0
    var t = 0
    while (t < n) {
      if (draw(md, toks.get(t)) % modulus == 0L) {
        if (t > from) out.add(ChunkRows.row(idx, TextStats.gram(toks, from, t - from)))
        from = t
        idx += 1
      }
      t += 1
    }
    if (n > from) out.add(ChunkRows.row(idx, TextStats.gram(toks, from, n - from)))
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): CdcChunkSet =
    copy(child = c)
}

/** Whitespace token count: number of single-space-separated non-empty
  * tokens — `size(filter(split(text, ' '), x -> x != ''))` without the
  * interpreted filter lambda and per-token UTF8String boxing.
  */
case class TokenCountWs(child: Expression) extends NativeUnary[UTF8String] {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_count_ws"

  def compute(text: UTF8String): Int = {
    val s = text.toString
    val len = s.length
    var n = 0
    var i = 0
    while (i < len) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = len
      if (j > i) n += 1
      i = j + 1
    }
    n
  }

  override protected def withNewChildInternal(c: Expression): TokenCountWs =
    copy(child = c)
}

/** All order-preserving token n-grams WITH repeats (space-joined) — the
  * multiset twin of [[ShingleSet]] (which dedups). Replaces
  * `transform(sequence(2, size(t)), i -> concat(element_at(t,i-1), ' ',
  * element_at(t,i)))` chains: those higher-order functions are
  * CodegenFallback, so one of them in a scan stage drops the WHOLE
  * stage out of whole-stage codegen (every md5/conv downstream then
  * evaluates interpreted), and project-collapse re-inlines the
  * tokenization into the lambda body. One JVM pass.
  *
  * n = 1 yields the token list itself: the single-space-separated
  * non-empty tokens, value-identical to `filter(split(text, ' '),
  * x -> x != '')` ([[TextStats.tokensNonEmpty]]). That composed form
  * matters beyond its own cost: ArrayFilter is CodegenFallback, and ONE
  * fallback HOF inside an explode child drops the WHOLE Generate stage
  * out of whole-stage codegen, so every `explode(tokens)` consumer
  * (heavy hitters, vocab stats, collocations) would pay an interpreted
  * stage for one lambda.
  */
case class NgramList(child: Expression, n: Int)
    extends NativeUnary[UTF8String] {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngram_list"

  def compute(text: UTF8String): ArrayData = {
    val toks = TextStats.words(text.toString)
    val out = new Array[Any](math.max(toks.size - n + 1, 0))
    var w = 0
    while (w < out.length) { out(w) = UTF8String.fromString(TextStats.gram(toks, w, n)); w += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): NgramList =
    copy(child = c)
}
