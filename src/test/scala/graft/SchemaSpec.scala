package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

/** Pins the post-normalization schema of every driver table. The testdata
  * has been regenerated mid-round with a different `events.ts` physical
  * encoding (TIMESTAMP(NANOS) → untagged TIMESTAMP(MICROS), which Spark 4
  * would infer as TIMESTAMP_NTZ) — that drift surfaced as seven scattered
  * runtime failures. This spec turns the next drift into one named failure:
  * whatever the parquet encoding, `Tables` must resolve each column to the
  * engine-facing type below (timestamps always plain TimestampType).
  */
class SchemaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sfDir = core.Env.current.sfDir.getOrElse(s"${core.Env.TestData}/sf0.001")

  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  for (t <- core.Tables.names)
    test(s"$t resolves to the pinned engine-facing schema") {
      val got = core.Tables(spark, sfDir, t).schema
        .map(f => f.name -> f.dataType)
      val want = expected(t)
      assert(got == want,
        s"\n  got:  ${got.mkString(", ")}\n  want: ${want.mkString(", ")}")
    }

  test("ts normalization absorbs an NTZ-typed frame (not just reader config)") {
    import spark.implicits._
    val ntz = Seq(1L, 2L).toDF("v")
      .selectExpr("v", "cast(timestamp_micros(v * 1000000) as timestamp_ntz) as ts")
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    val fixed = core.Tables.normalizeTs(ntz)
    assert(fixed.schema("ts").dataType == TimestampType)
    assert(fixed.selectExpr("unix_micros(ts)").as[Long].collect().sorted
      === Array(1000000L, 2000000L))
  }

  test("registry: pack keys are disjoint, every oracle names a query, 238 queries") {
    def shared(keySets: Seq[Set[String]]) =
      keySets.flatten.groupBy(identity).collect { case (k, n) if n.size > 1 => k }
    val inTwoPacks = shared(SparkEntry.packs.map(_.queries.keySet))
    assert(inTwoPacks.isEmpty, s"queries in more than one pack: $inTwoPacks")
    val oraclesInTwo = shared(SparkEntry.packs.map(_.oracles.keySet))
    assert(oraclesInTwo.isEmpty, s"oracles in more than one pack: $oraclesInTwo")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
    assert(SparkEntry.queries.size == 238)
  }

  test("materializeCtes hints every CTE, skips WINDOW clauses and non-WITH statements") {
    val m = SparkEntry.materializeCtes _
    assert(m("WITH a AS (SELECT 1), b AS (SELECT 2) SELECT * FROM a") ==
      "WITH a AS MATERIALIZED (SELECT 1), b AS MATERIALIZED (SELECT 2) SELECT * FROM a")
    // WINDOW clause untouched; CAST(x AS ...) and recursive column lists never match
    assert(m("WITH c AS (SELECT 1)\nSELECT n FROM t WINDOW w AS (PARTITION BY k)") ==
      "WITH c AS MATERIALIZED (SELECT 1)\nSELECT n FROM t WINDOW w AS (PARTITION BY k)")
    assert(m("WITH RECURSIVE reach(id, r) AS (SELECT 1, 1) SELECT * FROM reach")
      .contains("reach(id, r) AS (SELECT"))
    // parenthesized set-op statements (the DuckDB binder-bug shape) pass through
    val p = "(WITH src AS (SELECT 1) SELECT * FROM src) UNION ALL (SELECT 2)"
    assert(m(p) == p)
    // every shipped oracle stays parseable-shaped: balanced parens preserved
    SparkEntry.oracleSql.values.foreach { sql =>
      assert(sql.count(_ == '(') == sql.count(_ == ')'), sql.take(80)) }
  }

  test("exactDecimalCasts routes decimal-sum finals through VARCHAR, leaves the rest") {
    val e = SparkEntry.exactDecimalCasts _
    // the dsumSql shape — VARCHAR-routed (DuckDB's direct DECIMAL→DOUBLE
    // drifts 1 ulp past 15 significant digits; string parse is correct)
    assert(e("CAST(SUM(CAST((a * (1 - b)) AS DECIMAL(30,6))) AS DOUBLE) AS x") ==
      "CAST(CAST(SUM(CAST((a * (1 - b)) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS x")
    // nested inside larger expressions: each occurrence independently
    val two = "(CAST(SUM(CAST((q) AS DECIMAL(30,6))) AS DOUBLE) / COUNT(q))"
    assert(e(two) ==
      "(CAST(CAST(SUM(CAST((q) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) / COUNT(q))")
    // non-decimal inner casts and non-DOUBLE outers untouched
    val intSum = "CAST(SUM(CAST(x AS INT)) AS DOUBLE)"
    assert(e(intSum) == intSum)
    val toBig = "CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DECIMAL(38,6))"
    assert(e(toBig) == toBig)
    // shipped oracles keep balanced parens after BOTH rewrites
    SparkEntry.oracleSql.values.foreach { sql =>
      assert(sql.count(_ == '(') == sql.count(_ == ')'), sql.take(80)) }
  }
}
