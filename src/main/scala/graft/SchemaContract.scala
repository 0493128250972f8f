package graft

import org.apache.spark.sql.SparkSession

/** Pins the dtype contract of the driver-generated testdata corpus
  * (TESTDATA.md) so a driver-side regeneration with changed physical
  * types fails LOUDLY in one obvious place instead of as dozens of
  * scattered query/spec failures (the round-8 lesson: events.ts moved
  * from int64-ns to TIMESTAMP(MICROS) and 38 gates went red/missing
  * with no single pointer at the cause).
  *
  * The contract is over the RAW `spark.read.parquet` schema — what the
  * scan hands the engine before any per-table normalization
  * ([[Tables.events]] then casts ts to the session TimestampType).
  */
object SchemaContract {

  /** Per-table expected (column, simpleString-dtype) in order.
    * `events.ts` admits the unit variants [[Tables.events]] can
    * normalize: µs timestamp (current corpus), or int64 under the
    * legacy nanos-as-long conf (older drops).
    */
  val expected: Map[String, Seq[(String, Set[String])]] = {
    def one(pairs: (String, String)*): Seq[(String, Set[String])] =
      pairs.map { case (n, t) => n -> Set(t) }
    Map(
      "region" -> one("r_regionkey" -> "int", "r_name" -> "string"),
      "nation" -> one("n_nationkey" -> "int", "n_name" -> "string",
        "n_regionkey" -> "int"),
      "customer" -> one("c_custkey" -> "bigint", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "double",
        "c_mktsegment" -> "string"),
      "supplier" -> one("s_suppkey" -> "bigint", "s_name" -> "string",
        "s_nationkey" -> "int", "s_acctbal" -> "double"),
      "part" -> one("p_partkey" -> "bigint", "p_name" -> "string",
        "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
        "p_retailprice" -> "double"),
      "orders" -> one("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_orderstatus" -> "string", "o_totalprice" -> "double",
        "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"),
      "lineitem" -> one("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int",
        "l_quantity" -> "double", "l_extendedprice" -> "double",
        "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string",
        "l_shipdate" -> "timestamp_ntz"),
      "events" -> Seq(
        "event_id" -> Set("bigint"),
        "ts" -> Set("timestamp_ntz", "timestamp", "bigint"),
        "user_id" -> Set("bigint"), "event_type" -> Set("string"),
        "value" -> Set("double"), "props" -> Set("string")),
      "documents" -> one("doc_id" -> "bigint", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> one("vec_id" -> "bigint",
        "embedding" -> "array<float>", "label" -> "int"))
  }

  /** Footer-only check of every table under `sfDir`; throws one
    * exception naming ALL mismatches (missing/extra/retyped columns).
    */
  def check(spark: SparkSession, sfDir: String): Unit = {
    val problems = Tables.names.flatMap { t =>
      val want = expected(t)
      try {
        val got = spark.read.parquet(s"$sfDir/$t.parquet")
          .schema.map(f => f.name -> f.dataType.simpleString)
        if (got.map(_._1) != want.map(_._1))
          Seq(s"$t: columns ${got.map(_._1).mkString("[", ",", "]")} != " +
            s"expected ${want.map(_._1).mkString("[", ",", "]")}")
        else got.zip(want).collect {
          case ((n, gt), (_, wts)) if !wts.contains(gt) =>
            s"$t.$n: dtype $gt not in allowed ${wts.mkString("{", ",", "}")}"
        }
      } catch {
        case e: Exception => Seq(s"$t: unreadable (${e.getMessage})")
      }
    }
    if (problems.nonEmpty) throw new IllegalStateException(
      s"testdata schema contract violated under $sfDir — the corpus was " +
        s"likely regenerated with changed types; update SchemaContract + " +
        s"the per-table readers TOGETHER:\n  ${problems.mkString("\n  ")}")
  }
}
