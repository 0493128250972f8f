package graft.text

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
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
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingleset", this, classOf[ShingleSet].getName)
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(text: UTF8String): ArrayData = {
    // whitespace-run tokens: split on single space, drop empties
    // (Shingles.scaladoc: the corpus convention is single-space)
    val toks = TextStats.words(text.toString)
    val m = toks.size - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    var w = 0
    while (w < m) {
      sb.setLength(0)
      var t = 0
      while (t < n) {
        if (t > 0) sb.append(' ')
        sb.append(toks.get(w + t))
        t += 1
      }
      seen.add(sb.toString)
      w += 1
    }
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
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "packed_pairs"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("packedpairs", this, classOf[PackedPairs].getName)
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

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
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "prefix_pairs"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("prefixpairs", this, classOf[PrefixPairs].getName)
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

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

/** One-pass k-token chunking: split on single space (dropping empty
  * tokens, the corpus convention — same tokenization as [[ShingleSet]])
  * and emit one (idx, chunk) struct per consecutive k-token group, the
  * last group possibly shorter. Semantically identical to the composed
  * `transform(sequence(0, ceil(n/k)-1), i -> struct(i, array_join(
  * slice(toks, i*k+1, k), ' ')))` chain — but those higher-order
  * functions are CodegenFallback (interpreted, one lambda dispatch per
  * element) and project-collapse re-inlines the tokenization subtree
  * into the lambda body, making each slice re-tokenize the document:
  * O(tokens · chunks) per row. This is one JVM pass; TextSpec pins the
  * equivalence against the composed form.
  */
case class ChunkSet(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("chunk", StringType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "chunk_set"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("chunkset", this, classOf[ChunkSet].getName)
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  // one (idx, chunk, h) row; h = xxhash64(chunk bytes, seed 42) — the
  // exact value SQL `xxhash64(chunk)` would produce, fused into the
  // same pass so no downstream (interpreted, post-generator) projection
  // has to re-walk the string.
  private def emit(out: java.util.ArrayList[Any], idx: Int,
                   sb: java.lang.StringBuilder): Unit = {
    val u = UTF8String.fromString(sb.toString)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](idx, u, h)))
  }

  def compute(text: UTF8String): ArrayData = {
    val s = text.toString
    val len = s.length
    val out = new java.util.ArrayList[Any]()
    val sb = new java.lang.StringBuilder()
    var inChunk = 0 // tokens accumulated in the current chunk
    var idx = 0
    var i = 0
    while (i < len) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = len
      if (j > i) { // non-empty token
        if (inChunk > 0) sb.append(' ')
        sb.append(s, i, j)
        inChunk += 1
        if (inChunk == k) {
          emit(out, idx, sb)
          sb.setLength(0); inChunk = 0; idx += 1
        }
      }
      i = j + 1
    }
    if (inChunk > 0) emit(out, idx, sb)
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): ChunkSet =
    copy(child = c)
}

/** One-pass SLIDING-window k-token chunking with stride: chunk i covers
  * tokens [i·stride, i·stride+k). stride < k overlaps consecutive
  * chunks (context-window prep keeps boundary-crossing text learnable);
  * stride = k degenerates to [[ChunkSet]]'s tiling; stride > k samples
  * with gaps. Chunk count: 0 for an empty/blank doc, 1 if n ≤ k, else
  * ceil((n-k)/stride)+1 — the last chunk may be shorter than k but
  * always starts within the document. Same single-space tokenization
  * and fused xxhash64(seed 42) as [[ChunkSet]]; the composed
  * transform(sequence(...), i -> slice(...)) twin re-tokenizes per
  * chunk through CodegenFallback lambdas (the ChunkSet lesson), so the
  * sliding variant gets the same native treatment. TextSpec pins the
  * stride=k case ≡ ChunkSet and the overlap invariants.
  */
case class SlidingChunkSet(child: Expression, k: Int, stride: Int)
    extends UnaryExpression {

  require(k > 0, "window k must be positive")
  require(stride > 0, "stride must be positive")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("chunk", StringType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "sliding_chunk_set"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("slidingchunkset", this,
      classOf[SlidingChunkSet].getName)
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(text: UTF8String): ArrayData = {
    val s = text.toString
    val len = s.length
    // tokenize once: record (start, end) offsets of non-empty tokens
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < len) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = len
      if (j > i) { starts.add(i); ends.add(j) }
      i = j + 1
    }
    val n = starts.size()
    val out = new java.util.ArrayList[Any]()
    if (n > 0) {
      val nc = if (n <= k) 1 else (n - k + stride - 1) / stride + 1
      var idx = 0
      while (idx < nc) {
        val from = idx * stride
        val until = math.min(from + k, n)
        val sb = new java.lang.StringBuilder()
        var t = from
        while (t < until) {
          if (t > from) sb.append(' ')
          sb.append(s, starts.get(t), ends.get(t))
          t += 1
        }
        val u = UTF8String.fromString(sb.toString)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](idx, u, h)))
        idx += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): SlidingChunkSet =
    copy(child = c)
}

/** CONTENT-DEFINED chunking (token-level Rabin-style): a token starts a
  * new chunk when its md5-derived draw hits 0 mod `modulus` — chunk
  * boundaries depend on CONTENT, not position, so inserting or deleting
  * a token perturbs only the chunk it lands in (every chunk after the
  * next boundary hashes identically), where fixed-window chunking
  * ([[ChunkSet]]) shifts every downstream chunk. This is the dedup
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
    extends UnaryExpression {

  require(modulus > 0, "modulus must be positive")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("chunk", StringType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cdc_chunk_set"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cdcchunkset", this, classOf[CdcChunkSet].getName)
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  /** First 8 hex chars of md5(token) as a long (0..2^32). */
  private def draw(md: java.security.MessageDigest, tok: String): Long = {
    md.reset()
    val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 4 bytes = first 8 hex chars, unsigned
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  def compute(text: UTF8String): ArrayData = {
    val s = text.toString
    val len = s.length
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new java.util.ArrayList[Any]()
    val sb = new java.lang.StringBuilder()
    var idx = 0
    var hasTok = false
    def flush(): Unit = {
      if (hasTok) {
        val u = UTF8String.fromString(sb.toString)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](idx, u, h)))
        sb.setLength(0); hasTok = false
      }
    }
    var i = 0
    while (i < len) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = len
      if (j > i) {
        val tok = s.substring(i, j)
        if (draw(md, tok) % modulus == 0L) { flush(); idx += 1 }
        if (hasTok) sb.append(' ')
        sb.append(tok)
        hasTok = true
      }
      i = j + 1
    }
    flush()
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): CdcChunkSet =
    copy(child = c)
}

/** Whitespace token ARRAY: the single-space-separated non-empty tokens
  * — value-identical to `filter(split(text, ' '), x -> x != '')` but
  * codegen'd. The composed form matters beyond its own cost: ArrayFilter
  * is CodegenFallback, and ONE fallback HOF inside an explode child
  * drops the WHOLE Generate stage out of whole-stage codegen (the
  * ChunkDedup/BigramLm lesson) — every `explode(tokens)` consumer
  * (heavy hitters, vocab stats, collocations) was paying an interpreted
  * stage for one lambda. TextSpec pins ≡ against the composed twin.
  */
case class TokensWs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokens_ws"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("tokensws", this, classOf[TokensWs].getName)
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(text: UTF8String): ArrayData = {
    val s = text.toString
    val len = s.length
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < len) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = len
      if (j > i) out.add(UTF8String.fromString(s.substring(i, j)))
      i = j + 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): TokensWs =
    copy(child = c)
}

/** Whitespace token count: number of single-space-separated non-empty
  * tokens — `size(filter(split(text, ' '), x -> x != ''))` without the
  * interpreted filter lambda and per-token UTF8String boxing.
  */
case class TokenCountWs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_count_ws"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("tokencountws", this, classOf[TokenCountWs].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

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
  * tokenization into the lambda body. One JVM pass; n = 1 yields the
  * token list itself.
  */
case class NgramList(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngram_list"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ngramlist", this, classOf[NgramList].getName)
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(text: UTF8String): ArrayData = {
    val toks = TextStats.words(text.toString)
    val m = toks.size - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder()
    var w = 0
    while (w < m) {
      sb.setLength(0)
      var t = 0
      while (t < n) {
        if (t > 0) sb.append(' ')
        sb.append(toks.get(w + t))
        t += 1
      }
      out(w) = UTF8String.fromString(sb.toString)
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): NgramList =
    copy(child = c)
}
