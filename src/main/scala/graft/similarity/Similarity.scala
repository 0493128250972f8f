package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the corpus; one scan, no shuffle of the corpus, per-partition
  * top-k via window over (query, sim).
  *
  * Scale path: LSH random-hyperplane bucketing ([[signBits]]): each
  * vector gets a b-bit signature from fixed pseudo-random hyperplanes;
  * candidates share a signature bucket, so the join touches only
  * same-bucket pairs. Deterministic (seeded) hyperplanes keep results
  * reproducible and oracle-checkable.
  *
  * All arithmetic in double via expression lambdas (zip_with +
  * aggregate) — stays codegen'd, no UDF.
  */
object Similarity {

  /** Sequential-order dot product in double (matches any engine that
    * left-folds the element products). Native expression
    * ([[DotProduct]]); [[dotComposed]] is its interpreted
    * differential-test twin.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Composed array-lambda formulation of [[dot]] (interpreted). */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic pseudo-random hyperplanes: plane p, dim d ∈ {-1,+1}
    * derived from a hash — reproducible across engines (the oracle can
    * inline the identical literals).
    */
  def planeLiterals(planes: Int, dims: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(planes, dims)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** b-bit hyperplane signature of an embedding column — the native
    * fused-loop expression (r11). [[signBitsComposed]] is the original
    * 32-DotProduct/when-chain composition, kept as the differential
    * twin (SignBitsSpec pins bit-equality incl. null/mismatch corners).
    */
  def signBits(vec: Column, planes: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(SignBitsExpr(ColumnBridge.expression(vec),
      planes.map(_.toSeq).toSeq))
  }

  /** Sign-signature cell of `vec` in table `t`: the 32-plane signature
    * (planes from seed 7 + t) folded mod `c`. Table 0 is
    * [[semDedupScaled]]'s; the oracle side is
    * `SimilarityQueries.sigSql32At`.
    */
  def signCell(vec: Column, t: Int, c: Column): Column =
    pmod(signBits(vec, planeLiterals(32, 64, seed = 7L + t)), c)

  /** Fold modulus C = max(1, ⌈n / targetCell⌉) over `df`'s row count, as
    * an uncorrelated scalar subquery: the count runs inside the plan
    * that reads it, not while the Dataset is built. The uses of one
    * returned Column run it once: AQE plans the others as
    * `ReusedSubquery` (SemDedupScaledSpec). A frame that later plans
    * read again (a persisted index) takes [[foldModulusOf]] instead.
    */
  def foldModulus(df: DataFrame, targetCell: Int): Column =
    df.agg(expr(s"greatest(1, (count(1) + ${targetCell - 1}) div $targetCell)"))
      .scalar()

  /** [[foldModulus]] of a row count `n` known on the driver. */
  private def foldModulusOf(n: Long, targetCell: Int): Long =
    math.max(1L, (n + targetCell - 1) / targetCell)

  /** Composed-expression twin of [[signBits]] (differential tests). */
  def signBitsComposed(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedlit(p.toSeq)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors. `sim` is rounded to 6 digits before ranking so
    * ordering is reproducible across engines; ties break on corpus id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // Norms are per-vector — compute them ONCE per side before the
    // pair join instead of inside cosine() per pair (3 dot products per
    // pair → 1). Bit-identical: dot/(qn*cn) is the same double
    // arithmetic whether the norms were computed inside or outside.
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    val c = corpus.select(col("vec_id").as("vid"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"))
    val sims = c.crossJoin(broadcast(q))
      .filter(col("vid") =!= col("qid"))
      .withColumn("sim", graft.functions.Num.rnd(
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    topKRanked(sims, k)
  }

  /** Per-query top-k + rank via GroupTopK partial heaps: the map side
    * keeps ≤ k rows per (query × partition), so the exchange carries
    * k·partitions rows instead of EVERY scored pair (the previous
    * row_number window shuffled the full |queries|×|corpus| sim set to
    * |queries| groups — the anti-pattern at 10⁹ vectors). The rank
    * column is recomputed by a window over the ≤ k·|queries| survivors.
    */
  private def topKRanked(sims: DataFrame, k: Int): DataFrame = {
    val top = graft.plans.GroupTopK.topKPerKey(
      sims.select(col("qid"), col("vid"), col("sim")),
      Seq("qid"), Seq(("sim", true), ("vid", false)), k)
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vid").asc)
    top.withColumn("rn", row_number().over(w).cast("long"))
      .select(col("qid"), col("vid"), col("sim"), col("rn"))
  }

  /** LSH-bucketed ANN: candidates must share the full b-bit bucket with
    * the query (b small → high recall / bigger buckets). One shuffle on
    * bucket ids; corpus never cross-joined.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Array[Array[Double]]): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"),
      signBits(col("embedding"), planes).as("bucket"))
    val c = corpus.select(col("vec_id").as("vid"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"),
      signBits(col("embedding"), planes).as("bucket"))
    val sims = c.join(broadcast(q), Seq("bucket"))
      .filter(col("vid") =!= col("qid"))
      .withColumn("sim", graft.functions.Num.rnd(
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    topKRanked(sims, k)
  }

  /** Embedding near-dup pairs: all (id1<id2) with cosine ≥ threshold.
    * Brute-force crossJoin — kept ONLY as the differential-testing twin
    * of [[cosinePairsTiled]]; a crossJoin materializes the corpus on
    * every partition and dies at scale.
    */
  def cosinePairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("id1"), col("embedding").as("v1"),
      norm(col("embedding")).as("n1"))
    val b = corpus.select(col("vec_id").as("id2"), col("embedding").as("v2"),
      norm(col("embedding")).as("n2"))
    a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("sim", graft.functions.Num.rnd(
        dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6))
      .filter(col("sim") >= threshold)
      .select("id1", "id2", "sim")
  }

  /** EXACT all-pairs cosine ≥ threshold via matrix tiling — the scale
    * default (identical output to [[cosinePairs]], no CartesianProduct).
    *
    * At a low threshold on dense embeddings no sketch bucketing has
    * recall 1 (the borderline pairs sit at ~66° for t=0.4, where
    * hyperplane collision odds are coin-flips), so exact semantics
    * genuinely require all O(n²) similarity evaluations. What does NOT
    * scale is the crossJoin's data movement: a broadcast/nested-loop
    * plan ships the whole corpus to every task. Tiling fixes the
    * movement without approximating: block vectors into B groups
    * (pmod(vec_id, B)); a vector in block g is shuffled to the B−g
    * tiles (g, j≥g) as the left side and the g+1 tiles (i≤g, g) as the
    * right — O(n·B) replication, one hash-shuffle join on B(B+1)/2
    * bounded tile keys, each tile an (n/B)² partition-local pair block.
    * Compute parallelism = #tiles, shuffle volume linear in n·B: the
    * standard distributed exact all-pairs layout.
    */
  def cosinePairsTiled(corpus: DataFrame, threshold: Double, blocks: Int = 8): DataFrame = {
    val B = blocks
    val v = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      pmod(col("vec_id"), lit(B)).cast("int").as("g"))
    val left = v.select(col("vec_id").as("ida"), col("embedding").as("va"),
        col("nrm").as("na"),
        explode(transform(sequence(col("g"), lit(B - 1)),
          j => col("g") * B + j)).as("tile"))
    val right = v.select(col("vec_id").as("idb"), col("embedding").as("vb"),
        col("nrm").as("nb"),
        explode(transform(sequence(lit(0), col("g")),
          i => i * B + col("g"))).as("tile"))
    left.join(right, "tile")
      // diagonal tiles see every intra-block pair from both sides; keep
      // one. Mixed tiles see each cross-block pair exactly once — keep
      // it whichever way the ids compare.
      .filter((col("tile") / B).cast("int") =!= (col("tile") % B).cast("int")
        || col("ida") < col("idb"))
      .filter(col("ida") =!= col("idb"))
      .withColumn("sim", graft.functions.Num.rnd(
        dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"), col("sim"))
  }

  /** [[cosinePairsTiled]] with a per-tile primitive kernel — identical
    * output, ~10× less overhead at scale.
    *
    * The tiled JOIN is movement-optimal but materializes every candidate
    * pair as a row (two 64-float arrays through the shuffle per pair:
    * the 10× smoke pays 45s for 1.25G pair rows). Here the same tile
    * layout shuffles only the n·B tagged VECTORS; the O((n/B)²) pair
    * loop runs inside `mapPartitions` over primitive float arrays and
    * emits only survivors. This is the documented last-resort
    * `mapPartitions` case: a genuinely imperative BLAS-style block
    * kernel no join/expression shape can express without row-expanding
    * the quadratic candidate space.
    *
    * Bit-compatibility with the expression path (and so the DuckDB
    * oracle): the kernel repeats [[DotProduct]]'s exact fold —
    * `acc += a(i).toDouble * b(i).toDouble` left to right, norm =
    * `sqrt(selfDot)`, sim = `dot / (na * nb)` — so the emitted double
    * is the identical IEEE value; rounding and the final threshold are
    * applied afterwards BY the Spark expression (`Num.rnd`), with the
    * kernel pre-filtering on `raw ≥ t − 1e-6` (rounding to 6dp moves a
    * value by at most 5e-7, so the superset is exact).
    */
  def cosinePairsTiledKernel(corpus: DataFrame, threshold: Double,
                             blocks: Int = 8): DataFrame = {
    val B = blocks
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = corpus.select(col("vec_id"), col("embedding"),
      pmod(col("vec_id"), lit(B)).cast("int").as("g"))
    val left = v.select(
      explode(transform(sequence(col("g"), lit(B - 1)),
        j => col("g") * B + j)).as("tile"),
      lit(true).as("isLeft"), col("vec_id"), col("embedding"))
    val right = v.select(
      explode(transform(sequence(lit(0), col("g")),
        i => i * B + col("g"))).as("tile"),
      lit(false).as("isLeft"), col("vec_id"), col("embedding"))
    val tagged = left.unionByName(right)
      .as[(Int, Boolean, Long, Array[Float])]
      .repartition(col("tile"))
    val cut = threshold - 1e-6
    val pairs = tagged.mapPartitions { it =>
      import scala.collection.mutable
      final case class V(id: Long, a: Array[Float], nrm: Double)
      val ls = mutable.HashMap[Int, mutable.ArrayBuffer[V]]()
      val rs = mutable.HashMap[Int, mutable.ArrayBuffer[V]]()
      it.foreach { case (tile, isL, id, arr) =>
        if (arr != null) {
          // norm exactly as the expression path: sqrt of the self-dot fold
          var sd = 0.0
          var i = 0
          while (i < arr.length) { sd += arr(i).toDouble * arr(i).toDouble; i += 1 }
          val side = if (isL) ls else rs
          side.getOrElseUpdate(tile, mutable.ArrayBuffer.empty) +=
            V(id, arr, math.sqrt(sd))
        }
      }
      // LAZY emission: survivors stream straight out of the pair loop.
      // Only the tile's input VECTORS are buffered (inherent to the
      // block kernel); a skewed or low-threshold tile never holds its
      // O((n/B)²) output rows in task heap — Spark pulls one row at a
      // time through the shuffle writer.
      val tileIt = ls.iterator
      new Iterator[(Long, Long, Double)] {
        private var la: mutable.ArrayBuffer[V] = _
        private var rb: mutable.ArrayBuffer[V] = _
        private var diag = false
        private var ai = 0
        private var bi = 0
        private var out: (Long, Long, Double) = _
        private def advance(): Unit = {
          while (out == null) {
            if (la == null) {
              if (!tileIt.hasNext) return
              val (tile, l) = tileIt.next()
              la = l
              rb = rs.getOrElse(tile, mutable.ArrayBuffer.empty)
              diag = tile / B == tile % B
              ai = 0; bi = 0
            }
            if (la.isEmpty || bi >= rb.length) la = null
            else {
              val b = rb(bi)
              while (out == null && ai < la.length) {
                val a = la(ai)
                ai += 1
                if (a.id != b.id && (!diag || a.id < b.id)
                    && b.a.length == a.a.length) {
                  var acc = 0.0
                  var i = 0
                  val n = a.a.length
                  while (i < n) { acc += a.a(i).toDouble * b.a(i).toDouble; i += 1 }
                  val sim = acc / (a.nrm * b.nrm)
                  if (sim >= cut)
                    out = (math.min(a.id, b.id), math.max(a.id, b.id), sim)
                }
              }
              if (ai >= la.length) { ai = 0; bi += 1 }
            }
          }
        }
        def hasNext: Boolean = { if (out == null) advance(); out != null }
        def next(): (Long, Long, Double) = {
          if (out == null) advance()
          if (out == null) throw new NoSuchElementException
          val r = out; out = null; r
        }
      }
    }.toDF("id1", "id2", "simRaw")
    pairs
      .withColumn("sim", graft.functions.Num.rnd(col("simRaw"), 6))
      .filter(col("sim") >= threshold)
      .select("id1", "id2", "sim")
  }

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): assign every vector to its nearest pretrained
    * centroid cell, search for duplicates ONLY within the cell, and
    * keep the lowest-id member of each threshold neighborhood.
    *
    * Why this is the 100 TB semantic-dedup route: the quadratic pair
    * search is confined to a cell (corpus/k rows), cells are processed
    * independently (one equi-join shuffle on `cell`, pair enumeration
    * partition-local with the cosine residual evaluated as rows
    * stream — nothing corpus-wide is ever materialized), and k grows
    * with the corpus so cell size stays bounded. Contrast q57/q146's
    * exact all-pairs tiling, which is corpus-quadratic by contract.
    *
    * Election rule: a vector is dropped iff SOME lower-id vector in its
    * cell is ≥ `threshold`-similar (min-id dominance) — deterministic
    * and single-join, where the paper elects by distance-to-centroid
    * within an ε-ball; either way one representative per duplicate
    * neighborhood survives. Similarity is rounded to 6 digits before
    * the threshold compare (same boundary contract as [[cosinePairs]]).
    *
    * Returns (vec_id, cell, kept).
    */
  /** Scale-safe SemDeDup variant: cells from an LSH sign-signature
    * folded to C = ⌈n / targetCell⌉ buckets, so expected cell size stays
    * `targetCell` at ANY corpus size — unlike [[semDedup]] with a frozen
    * centroid model, where cell population grows linearly with the
    * corpus and per-cell pair work is quadratic by construction.
    *
    * Shape: C is a count subquery ([[foldModulus]]), then cell =
    * (32-bit Rademacher signature) mod C — a per-row scan-stage hash,
    * NO assignment join (nearest-of-k-centroids with k ∝ n would cost
    * n·k = n²/targetCell; this costs n) — then the same min-id dominance
    * election as [[semDedup]] confined to a cell. Total candidate-pair
    * work ≈ n · targetCell (linear). A per-cell candidate cap
    * (`maxCell`, rank by vec_id) bounds the worst case under signature
    * skew at O(maxCell²) per cell — rows past the cap stay un-deduped
    * (kept), the same conservative guard as MinHash's maxBucket.
    *
    * The mod-C fold trades recall for boundedness the standard LSH way
    * (more effective bits per bucket → lower per-pair recall at a fixed
    * threshold); production sweeps would run R independent tables like
    * q55's MinHash bands. The 32-bit signature supports ~2^32·targetCell
    * ≈ 10^12 vectors before distinct signatures, not C, bound the cell
    * count.
    *
    * Returns (vec_id, cell, kept) like [[semDedup]].
    */
  def semDedupScaled(corpus: DataFrame, threshold: Double,
      targetCell: Int = 256, maxCell: Int = 1000): DataFrame = {
    // r11 shape: scan -> cell assignment (fold modulus from a count
    // subquery) -> single hash exchange on cell -> partition-local
    // election kernel ([[semDedupKernel]]). No caches (nothing to
    // release - closes the r10 cache-ownership advice), no pair join,
    // no candidate-fetch joins: each embedding crosses the wire ONCE.
    val proj = corpus.select(col("vec_id"), col("embedding"))
    val c = foldModulus(proj, targetCell)
    val assigned = proj.select(col("vec_id"),
      signCell(col("embedding"), 0, c).as("cell"), col("embedding"))
    semDedupKernel(assigned, threshold, maxCell)
  }

  /** Partition-local min-id dominance election: rows arrive grouped by
    * `cell` (one hash exchange), the kernel buffers each cell, sorts by
    * vec_id, and emits per row the MAX raw cosine against lower-id
    * participants (sentinel -2.0 for none). `kept` is decided OUTSIDE
    * by `Num.rnd(m, 6) >= threshold` - max commutes with the monotone
    * rounding threshold, so the election is bit-identical to the pair-
    * join formulation (exists lower-id pair with rnd(sim) >= t  iff
    * rnd(max) >= t). Arithmetic replicates the expression path exactly
    * (sequential float->double product fold, norm = sqrt(self-dot),
    * sim = dot / (nrmI * nrmJ)) - the [[cosinePairsTiledKernel]]
    * discipline; the inner loop may stop early once m >= t + 1e-6
    * (already decidedly dominated after rounding).
    *
    * Rows past `maxCell` (in vec_id rank order) neither dominate nor
    * get dominated - the same conservative skew guard as the r10 split
    * path, now without its anti/semi joins and window. Task memory
    * holds the partition's vectors (cells are hash-distributed across
    * partitions; expected cell size is the caller's targetCell).
    */
  private def semDedupKernel(assigned: DataFrame, threshold: Double,
      maxCell: Int): DataFrame =
    semDedupScored(assigned, maxCell, earlyExitAt = threshold + 1e-6)
      .select(col("vec_id"), col("cell"),
        (!(graft.functions.Num.rnd(col("m"), 6) >= lit(threshold))).as("kept"))

  /** The raw election scores: (vec_id, cell, m = max raw cosine vs
    * lower-id participants, sentinel -2.0). [[semDedupBanded]] folds
    * these across tables before thresholding, so no early exit there
    * (the true max must survive the cross-table max).
    */
  private def semDedupScored(assigned: DataFrame, maxCell: Int,
      earlyExitAt: Double = Double.MaxValue): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cut = earlyExitAt
    // Rows arrive clustered AND sorted (cell, vec_id) within each task:
    // the kernel streams one cell at a time, so task memory is bounded
    // by ONE cell's vectors (≈ targetCell · dim · 4B), NOT the
    // partition's row count — at 10^11 vectors the partition holds many
    // cells but the buffer never exceeds the largest cell. The sort
    // also delivers vec_id order for free (participant rank = arrival
    // order, no per-cell sortBy).
    assigned
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("embedding"))
      .as[(Long, Long, Array[Float])]
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .mapPartitions { it =>
        val source = it.buffered
        new Iterator[(Long, Long, Double)] {
          private var out: Iterator[(Long, Long, Double)] = Iterator.empty

          /** Election over one complete cell (rows already id-sorted). */
          private def election(cell: Long,
              rows: scala.collection.mutable.ArrayBuffer[(Long, Array[Float])])
              : Iterator[(Long, Long, Double)] = {
            val k = math.min(rows.length, maxCell)
            val nrm = new Array[Double](k)
            var i = 0
            while (i < k) {
              val arr = rows(i)._2
              if (arr != null) {
                var sd = 0.0; var d = 0
                while (d < arr.length) { sd += arr(d).toDouble * arr(d).toDouble; d += 1 }
                nrm(i) = math.sqrt(sd)
              }
              i += 1
            }
            val res = new Array[(Long, Long, Double)](rows.length)
            var j = 0
            while (j < rows.length) {
              val (idJ, aJ) = rows(j)
              var m = -2.0
              if (j < k && aJ != null) {
                var i2 = 0
                while (i2 < j && m < cut) {
                  val aI = rows(i2)._2
                  if (aI != null && aI.length == aJ.length) {
                    var acc = 0.0; var d = 0
                    while (d < aJ.length) { acc += aI(d).toDouble * aJ(d).toDouble; d += 1 }
                    val sim = acc / (nrm(i2) * nrm(j))
                    // NaN (a zero-norm side: 0/0) DOMINATES in the pair
                    // formulation this kernel must match bit-for-bit —
                    // Spark and DuckDB order NaN above every number, so
                    // the old filter's rnd(NaN) >= t was TRUE. Emit NaN
                    // as the max (the outside rnd-threshold keeps the
                    // same total order); `NaN < cut` is false, so the
                    // early-exit loop guard also stops here.
                    if (java.lang.Double.isNaN(sim)) m = Double.NaN
                    else if (sim > m) m = sim
                  }
                  i2 += 1
                }
              }
              res(j) = (idJ, cell, m)
              j += 1
            }
            res.iterator
          }

          private def advance(): Unit = {
            while (!out.hasNext && source.hasNext) {
              val cell = source.head._2
              val buf = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
              while (source.hasNext && source.head._2 == cell) {
                val (id, _, arr) = source.next()
                buf += ((id, arr))
              }
              out = election(cell, buf)
            }
          }

          def hasNext: Boolean = { advance(); out.hasNext }
          def next(): (Long, Long, Double) = {
            advance()
            out.next()
          }
        }
      }.toDF("vec_id", "cell", "m")
  }

  /** Candidate pairs from R INDEPENDENT sign-signature tables, unioned
    * and deduplicated — the banded-repetition answer to the single-table
    * recall ceiling q378 measures (0.25 at cos ≥ 0.4): a pair is a
    * candidate if it shares a cell in ANY table, so miss probability
    * compounds as (1−r₁)^R while candidate volume grows only ~R-fold
    * (R · n · targetCell — still linear in n). Table t draws its 32
    * planes from seed `7 + t` (t = 0 is exactly [[semDedupScaled]]'s
    * table, so R = 1 reproduces its blocking).
    */
  def bandedCandidatePairs(corpus: DataFrame, tables: Int,
      targetCell: Int = 256): DataFrame = {
    // No cache of the projection: the count subquery reads no column,
    // and a traced sf0.1 A/B of q379 measured the cached variant no
    // faster. The pair set is localCheckpointed: callers read it more
    // than once (q379: the candidate count and the truth semi-join).
    val proj = corpus.select(col("vec_id"), col("embedding"))
    val c = foldModulus(proj, targetCell)
    val perTable = (0 until tables).map { t =>
      val assigned = proj.select(col("vec_id"),
        signCell(col("embedding"), t, c).as("cell"))
      assigned.as("x").join(
          assigned.select(col("vec_id").as("vid2"), col("cell").as("cell2")),
          col("cell") === col("cell2") && col("vec_id") < col("vid2"))
        .select(col("vec_id").as("id1"), col("vid2").as("id2"))
    }
    perTable.reduce(_.unionAll(_)).distinct().localCheckpoint(true)
  }

  /** Persistable sign-signature cell index of a deduplicated corpus —
    * the embedding twin of MinHash.bucketIndex's incremental-curation
    * contract: a 100 TB corpus is semantically deduped ONCE, then every
    * new crawl batch probes this index instead of re-embedding-scanning
    * the corpus. One (t, cell, vec_id) row per vector per table (R rows
    * total), plus the fold modulus C frozen as a column so probes hash
    * batches identically after the corpus count is long gone. Write
    * partitioned by (t, cell) and the probe's bucket join prunes.
    */
  def embedCellIndex(corpus: DataFrame, tables: Int = 4,
      targetCell: Int = 256, frozenC: Option[Long] = None): DataFrame = {
    // frozenC reuses an EXISTING index's modulus (for rebuild-equivalence
    // checks against [[mergeEmbedIndex]]); the default derives it from
    // the corpus count as at first build. Either way C is a literal: the
    // index is read by several plans (indexMeta, each probe), and a count
    // subquery would rerun with every one of them.
    val c = frozenC.getOrElse(foldModulusOf(corpus.count(), targetCell))
    (0 until tables).map { t =>
      corpus.select(lit(t).as("t"), signCell(col("embedding"), t, lit(c)).as("cell"),
        col("vec_id"), lit(c).as("c"))
    }.reduce(_.unionAll(_))
  }

  /** Probe a NEW batch against a persisted [[embedCellIndex]]: batch
    * vectors hash with the INDEX's frozen modulus (read from the `c`
    * column), candidates are corpus vectors sharing any table's cell,
    * and only candidates pay the exact-cosine verify (join sized by
    * candidate count, not corpus size). Returns
    * (new_id, n_matches, is_dup) per batch vector.
    */
  /** Frozen modulus + table count of a persisted [[embedCellIndex]].
    * Both are READ FROM THE INDEX (one bounded agg), never trusted from
    * a caller: a `tables` guess larger than the index's real table set
    * would emit probes matching nothing and silently degrade recall.
    * Fails with a clear message on an empty index.
    */
  private[graft] def indexMeta(index: DataFrame): (Long, Int) = {
    val row = index.agg(max(col("t")).as("maxT"), max(col("c")).as("c")).collect()(0)
    require(!row.isNullAt(1),
      "embed cell index is empty — build it with embedCellIndex over a non-empty corpus first")
    (row.getLong(1), row.getInt(0) + 1)
  }

  /** RETENTION delete for the persisted cell index (the GDPR/tombstone
    * leg — the embedding twin of GramIndex.retentionRepair): index rows
    * carry their vec_id, so deletion is ONE index-only anti-join —
    * no corpus re-scan, and (unlike the gram index's owner election)
    * no repair pass, because cell rows are independent. The frozen
    * modulus column survives untouched: probes after deletion still
    * hash with the BUILD-time modulus (the retention contract — the
    * index never silently re-derives C from a shrunken corpus).
    */
  def retentionDeleteEmbedIndex(index: DataFrame, deleted: DataFrame): DataFrame =
    index.join(deleted.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(index.columns.map(col).toIndexedSeq: _*) // keep the index's column order

  def probeEmbedIndex(index: DataFrame, batch: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame = {
    val (c, tables) = indexMeta(index)
    val probes = (0 until tables).map { t =>
      batch.select(col("vec_id").as("new_id"), lit(t).as("t"),
        signCell(col("embedding"), t, lit(c)).as("cell"))
    }.reduce(_.unionAll(_))
    val cand = probes
      .join(index.select(col("t"), col("cell"), col("vec_id").as("corpus_id")),
        Seq("t", "cell"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id")).distinct()
    val matches = cand
      .join(batch.select(col("vec_id").as("new_id"), col("embedding").as("nb")),
        Seq("new_id"))
      .join(corpus.select(col("vec_id").as("corpus_id"), col("embedding").as("cb")),
        Seq("corpus_id"))
      .filter(graft.functions.Num.rnd(cosine(col("nb"), col("cb")), 6)
        >= lit(threshold))
      .groupBy("new_id").agg(count(lit(1)).as("n_matches"))
    batch.select(col("vec_id").as("new_id"))
      .join(matches, Seq("new_id"), "left_outer")
      .select(col("new_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("is_dup"))
  }

  /** Operating-point SWEEP for banded sign-signature blocking: for each
    * (targetCell, R) in the grid, the q378/q379-style report
    * (n_truth, n_cand, n_tp, precision, recall) — the table a 100 TB
    * run reads to pick its R before paying for the candidate volume.
    *
    * Cost discipline: ground truth (exact tiled all-pairs at
    * `threshold`) is computed ONCE; per targetCell the max(R)-table
    * pair set is computed ONCE with each pair carrying min(table) of
    * first collision, so every R answers by FILTER (mt < R), not a
    * re-join — the R axis of the grid is free. The sweep itself is a
    * SAMPLED report: run it on a representative slice, then curate the
    * full corpus with the chosen point ([[autoR]]).
    */
  def bandedSweep(corpus: DataFrame, threshold: Double,
      rs: Seq[Int] = Seq(1, 2, 4, 8),
      cells: Seq[Int] = Seq(128, 256, 512)): DataFrame = {
    import corpus.sparkSession.implicits._
    // read by the count, the truth pass and each grid cell's R tables;
    // one count derives every grid cell's fold modulus
    val proj = corpus.select(col("vec_id"), col("embedding")).cache()
    val n = proj.count()
    val truth = cosinePairsTiledKernel(proj, threshold)
      .select(col("id1"), col("id2"), lit(1L).as("__tp"))
      .localCheckpoint(true)
    val nTruth = truth.count()
    val maxR = rs.max
    val rsDf = rs.toDF("r")
    val perCell = cells.map { targetCell =>
      val c = lit(foldModulusOf(n, targetCell))
      val sigs = (0 until maxR).map { t =>
        proj.select(col("vec_id"), lit(t).as("t"),
          signCell(col("embedding"), t, c).as("cell"))
      }.reduce(_.unionAll(_))
      // min first-colliding table per pair: R covers the pair iff mt < R
      val firstT = sigs.as("x")
        .join(sigs.select(col("vec_id").as("id2"), col("t").as("t2"),
            col("cell").as("cell2")),
          col("t") === col("t2") && col("cell") === col("cell2")
            && col("vec_id") < col("id2"))
        .groupBy(col("vec_id").as("id1"), col("id2"))
        .agg(min(col("t")).as("mt"))
      firstT.join(truth, Seq("id1", "id2"), "left_outer")
        .crossJoin(broadcast(rsDf))
        .filter(col("mt") < col("r"))
        .groupBy(col("r"))
        .agg(count(lit(1)).as("n_cand"),
          coalesce(sum(col("__tp")), lit(0L)).as("n_tp"))
        .select(lit(targetCell).as("target_cell"), col("r"),
          col("n_cand"), col("n_tp"))
    }
    // COMPLETE the grid: a point with zero colliding pairs would emit
    // no aggregation row at all — left-join the counts back onto the
    // full (targetCell × R) grid so consumers (autoR, grid readers) see
    // every point, with n_cand = 0 and NULL ratios where undefined
    // (never a NaN-poisoned recall on an empty truth set).
    val grid = cells.flatMap(c => rs.map(r => (c, r)))
      .toDF("target_cell", "r")
    val counts = perCell.reduce(_.unionAll(_))
    val result = grid.join(counts, Seq("target_cell", "r"), "left_outer")
      .select(col("target_cell"), col("r"), lit(nTruth).as("n_truth"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_tp"), lit(0L)).as("n_tp"))
      .select(col("target_cell"), col("r"), col("n_truth"), col("n_cand"),
        col("n_tp"),
        when(col("n_cand") > 0, graft.functions.Num.rnd(
          col("n_tp").cast("double") / col("n_cand").cast("double"), 6))
          .as("precision"),
        when(lit(nTruth) > 0, graft.functions.Num.rnd(
          col("n_tp").cast("double") / lit(nTruth.toDouble), 6))
          .as("recall"))
      .localCheckpoint(true)
    proj.unpersist(blocking = false)
    result
  }

  /** Choose the CHEAPEST measured operating point meeting a recall
    * target from a [[bandedSweep]] table: min candidate volume first
    * (that is what a 100 TB run pays for), then min R. Returns
    * (targetCell, r); fails with the best-available recall in the
    * message if no point reaches the target.
    */
  def autoR(sweep: DataFrame, targetRecall: Double): (Int, Int) = {
    val rows = sweep.select(col("target_cell"), col("r"), col("n_cand"),
        col("recall")).collect()
    require(rows.nonEmpty, "autoR: empty sweep table")
    val measured = rows.filter(!_.isNullAt(3))
    require(measured.nonEmpty,
      "autoR: sweep has no measured recall (empty truth set) — the " +
        "threshold finds no true pairs on this sample, nothing to tune")
    val ok = measured.filter(_.getDouble(3) >= targetRecall)
    require(ok.nonEmpty,
      s"autoR: no operating point reaches recall $targetRecall " +
        s"(best measured: ${measured.map(_.getDouble(3)).max})")
    val best = ok.minBy(r => (r.getLong(2), r.getInt(1)))
    (best.getInt(0), best.getInt(1))
  }

  /** Sweep-then-dedup: measure the operating grid, choose the CHEAPEST
    * point meeting `targetRecall` ([[autoR]]), then run
    * [[semDedupBanded]] at that point over the full corpus. Returns
    * ((targetCell, r), keptFrame).
    *
    * The sweep's ground-truth pass is exact all-pairs — QUADRATIC in
    * the swept rows. The default (sampleMod = 1) sweeps the full
    * corpus, which is only appropriate at report scale; at corpus
    * scale PASS `sampleMod` > 1 so the truth pass runs on the 1/mod
    * deterministic id-hash sample (the choice stays reproducible and
    * the full corpus is still deduped at the chosen point).
    */
  def semDedupAuto(corpus: DataFrame, threshold: Double,
      targetRecall: Double, sampleMod: Int = 1,
      rs: Seq[Int] = Seq(1, 2, 4, 8),
      cells: Seq[Int] = Seq(128, 256, 512)): ((Int, Int), DataFrame) = {
    val sample =
      if (sampleMod <= 1) corpus
      else corpus.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
    val sweep = bandedSweep(sample, threshold, rs, cells)
    val (cell, r) = autoR(sweep, targetRecall)
    ((cell, r), semDedupBanded(corpus, threshold, tables = r, targetCell = cell))
  }

  /** Append a probed-and-ACCEPTED batch INTO a persisted
    * [[embedCellIndex]] — the last arc of the incremental-curation
    * contract (the embedding twin of MinHash.bucketIndex +
    * DocStreams.incrementalDedup): dedup the corpus ONCE, then per
    * crawl batch probe → accept the non-dups → merge them so the NEXT
    * batch dedups against them too, never re-scanning the corpus. The
    * batch hashes with the index's OWN frozen modulus and table set
    * ([[indexMeta]] — read from the index, never re-derived from a
    * count), so cell assignment is stable as the index grows:
    * `probe(merge(index, b1), b2)` ≡ probing an index rebuilt over
    * corpus ∪ b1 with the same frozen modulus
    * (`embedCellIndex(…, frozenC = Some(c))`), row for row. Output
    * keeps the (t, cell, vec_id, c) schema; write back partitioned by
    * (t, cell) like the original build and probes keep pruning.
    */
  def mergeEmbedIndex(index: DataFrame, accepted: DataFrame): DataFrame = {
    val (c, tables) = indexMeta(index)
    val batchRows = (0 until tables).map { t =>
      accepted.select(lit(t).as("t"), signCell(col("embedding"), t, lit(c)).as("cell"),
        col("vec_id"), lit(c).as("c"))
    }.reduce(_.unionAll(_))
    index.unionByName(batchRows)
  }

  /** Banded-repetition SemDeDup: [[semDedupScaled]]'s election over the
    * R-table candidate set — a vector is dropped iff a lower-id vector
    * shares ANY table's cell with it at ≥ `threshold` similarity.
    * Returns (vec_id, kept).
    *
    * r11 shape: one per-(table, cell) election kernel pass (cells made
    * disjoint across tables by offsetting table t's cells by t·C) and a
    * max-per-vector fold — "dominated in any table" ≡ rnd(max over
    * tables of per-table max sim, 6) ≥ t. Two exchanges total
    * (cell repartition + the (vec_id) agg), R·n kernel rows, no pair
    * join, no caches.
    */
  def semDedupBanded(corpus: DataFrame, threshold: Double,
      tables: Int = 4, targetCell: Int = 256): DataFrame = {
    val proj = corpus.select(col("vec_id"), col("embedding"))
    val c = foldModulus(proj, targetCell)
    val perTable = (0 until tables).map { t =>
      proj.select(col("vec_id"),
        (signCell(col("embedding"), t, c) + lit(t) * c).as("cell"),
        col("embedding"))
    }.reduce(_.unionAll(_))
    semDedupScored(perTable, maxCell = Int.MaxValue)
      .groupBy(col("vec_id"))
      .agg(max(col("m")).as("m"))
      .select(col("vec_id"),
        (!(graft.functions.Num.rnd(col("m"), 6) >= lit(threshold))).as("kept"))
  }

  /** SemDeDup against a FROZEN IVF model's cells (the Abbas et al.
    * formulation: cluster, then drop near-dups within each cluster).
    *
    * r11 shape: frozen-model cell assignment is a scan-stage
    * expression; the election is the same partition-local kernel as
    * [[semDedupScaled]] (one exchange, no pair join, no caches).
    *
    * MEMORY CONTRACT: the kernel buffers ONE CELL's vectors in a single
    * task (O(|cell|·dim) heap) and compares O(|cell|²) pairs. By
    * default (`maxCell = Int.MaxValue`) cells carry their full
    * population — exact parity with the original pair-join formulation,
    * but a heavily skewed model cell that the join formulation would
    * have spilled through shuffle is instead bounded by one task's
    * heap. If the model's cell histogram is skewed (or unknown), pass
    * an explicit `maxCell`: rows past the cap (in vec_id rank order)
    * neither dominate nor get dropped, the same documented degradation
    * as [[semDedupScaled]]. [[semDedupScaled]] is the default
    * 100 TB path precisely because its cells are sized ∝ n/targetCell
    * by construction.
    */
  def semDedup(corpus: DataFrame, model: IVF.Model, threshold: Double,
      maxCell: Int = Int.MaxValue): DataFrame = {
    val assigned = corpus.select(col("vec_id"),
      model.cell(col("embedding")).cast("int").as("cell"), col("embedding"))
    semDedupKernel(assigned, threshold, maxCell)
      .select(col("vec_id"), col("cell").cast("int").as("cell"), col("kept"))
  }
}
