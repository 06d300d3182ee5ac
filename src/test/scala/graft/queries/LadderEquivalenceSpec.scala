package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.ml.{Forest, HistTree}

/** Equivalence specs for the EP2 ladder's shared fit and literal
  * scoring:
  *  - the per-node class counts a fit records ≡ a groupBy over the train
  *    rows routed through each prefix of the tree (unweighted for the
  *    plain tree, bootstrap-weighted for forest trees), on both the
  *    full-data and the subsampled route;
  *  - literal leaf-map scoring ≡ a broadcast-join scoring over the
  *    routed train rows (the reference form, rebuilt here), bit for bit,
  *    including leaves only test rows reach (the prior and abstain
  *    paths).
  */
class LadderEquivalenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Seed = 42
  private val NTrials = 8

  /** Binary labels on 4 integer features (dims 0 and 2 carry the class);
    * fold 0 (a fifth of the rows) is the holdout. */
  private def fixture(n: Int): DataFrame = {
    val rng = new scala.util.Random(17)
    (0 until n).map { i =>
      val c = rng.nextInt(2)
      (i.toLong, c, i % 5, Seq(c * 50.0 + rng.nextInt(80),
        rng.nextInt(200).toDouble, c * 30.0 + rng.nextInt(100),
        rng.nextInt(50).toDouble))
    }.toDF("id", "y", "fold", "xs")
      .select(col("id"), col("y"), col("fold"),
        col("xs").cast("array<double>").as("x"))
  }

  /** Row weight of a fit member: 1 for the plain tree, the bootstrap
    * weight of forest tree t. */
  private def weight(tree: Option[Int]): Column =
    tree.fold(lit(1L))(t =>
      Forest.weightExpr("id", lit(t), Seed, NTrials).cast("long"))

  /** (weighted) class counts of `rows` grouped by their leaf in the
    * depth-`dep` prefix of `m`. */
  private def routedCounts(rows: DataFrame, m: HistTree.TreeModel, dep: Int,
                           w: Column): Map[Int, Map[Int, Long]] =
    rows.select(m.prefix(dep).leafExpr("x").as("leaf"), col("y"), w.as("w"))
      .filter(col("w") > 0)
      .groupBy("leaf", "y").agg(sum(col("w")).as("c"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (leaf, rs) => leaf -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap }

  private def fitBoth(df: DataFrame, sampleCap: Long = 200000) =
    Forest.fitCvWithTree(df, "id", "x", "y", "fold", nFolds = 1, d = 4,
      nTrees = 4, depth = 3, bins = 32, mtry = 2, seed = Seed,
      nTrials = NTrials, sampleCap = sampleCap).head

  test("fitted per-node class counts ≡ groupBy over routed train rows at " +
    "every prefix depth (plain and bootstrap members, full and subsampled)") {
    val df = fixture(400).localCheckpoint(true)
    val train = df.filter(col("fold") =!= 0)
    // 320 train rows: cap 150 takes the subsampled route
    for (cap <- Seq(200000L, 150L)) {
      val (tree, fm) = fitBoth(df, cap)
      assert(tree.splits.nonEmpty && fm.trees.forall(_.splits.nonEmpty))
      val members = (None, tree) +: fm.trees.zipWithIndex.map {
        case (t, i) => (Some(i), t) }
      for ((id, m) <- members; dep <- 0 to 3) {
        val expected = routedCounts(train, m, dep, weight(id))
        val leaves = m.prefix(dep).leaves.keySet
        assert(leaves == expected.keySet, s"member $id depth $dep (cap $cap)")
        assert(leaves.map(n => n -> m.classCounts(n)).toMap == expected,
          s"member $id depth $dep (cap $cap)")
      }
    }
  }

  /** The reference scoring: per-leaf train counts aggregated from the
    * routed rows, broadcast-joined back onto every row. */
  private def joinTreeProb(df: DataFrame, m: HistTree.TreeModel, dep: Int,
                           prior: Double): DataFrame = {
    val leafed = df.select(col("id"), col("fold"), col("y"),
      m.prefix(dep).leafExpr("x").as("leaf"))
    val st = leafed.filter(col("fold") =!= 0).groupBy("leaf")
      .agg(sum(col("y")).cast("long").as("n1"), count(lit(1)).as("n"))
    leafed.join(broadcast(st), Seq("leaf"), "left")
      .select(col("id"), coalesce(col("n1").cast("double") /
        col("n").cast("double"), lit(prior)).as("prob"))
  }

  private def joinForestProb(df: DataFrame, trees: Seq[HistTree.TreeModel],
                             dep: Int, prior: Double): DataFrame = {
    val tUse = trees.size
    val leafed = df.select(Seq(col("id"), col("fold"), col("y")) ++
      trees.zipWithIndex.map { case (t, i) =>
        t.prefix(dep).leafExpr("x").as(s"leaf_$i") }: _*)
    val st = leafed.filter(col("fold") =!= 0)
      .select(col("id"), col("y"),
        posexplode(array((0 until tUse).map(t => col(s"leaf_$t")): _*))
          .as(Seq("t", "leaf")))
      .withColumn("w",
        Forest.weightExpr("id", col("t"), Seed, NTrials).cast("long"))
      .filter(col("w") > 0)
      .groupBy("t", "leaf")
      .agg(sum(col("w") * col("y")).as("w1"), sum(col("w")).as("wt"))
    var cur = leafed
    for (t <- 0 until tUse)
      cur = cur.join(broadcast(st.filter(col("t") === t)
        .select(col("leaf").as(s"leaf_$t"),
          (col("w1").cast("double") / col("wt").cast("double")).as(s"p_$t"))),
        Seq(s"leaf_$t"), "left")
    val sumP = (0 until tUse).map(t => coalesce(col(s"p_$t"), lit(0.0)))
      .reduce(_ + _)
    val cntP = (0 until tUse)
      .map(t => when(col(s"p_$t").isNotNull, 1).otherwise(0)).reduce(_ + _)
    cur.select(col("id"), when(cntP === 0, lit(prior))
      .otherwise(sumP / cntP.cast("double")).as("prob"))
  }

  private def literalForestProb(df: DataFrame, trees: Seq[HistTree.TreeModel],
                                dep: Int, prior: Double): DataFrame =
    df.select(col("id") +: trees.zipWithIndex.map { case (t, i) =>
        Ep2Queries.leafRate(t, dep).as(s"p_$i") }: _*)
      .select(col("id"), Ep2Queries.meanRate(
        trees.indices.map(i => col(s"p_$i")), prior).as("prob"))

  private def bits(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) ->
      java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap

  private def assertSameBits(literal: DataFrame, joined: DataFrame,
                             what: String): Unit = {
    val (a, b) = (bits(literal), bits(joined))
    assert(a.size == b.size && a.nonEmpty, what)
    val diff = a.filter { case (id, v) => !b.get(id).contains(v) }
    assert(diff.isEmpty, s"$what: ${diff.take(5)}")
  }

  test("literal leaf-map scoring ≡ broadcast-join scoring, bit for bit") {
    val df = fixture(400).localCheckpoint(true)
    val (tree, fm) = fitBoth(df)
    val root = tree.classCounts(0)
    val prior = root.getOrElse(1, 0L).toDouble / root.values.sum.toDouble
    for (dep <- 1 to 3)
      assertSameBits(
        df.select(col("id"),
          coalesce(Ep2Queries.leafRate(tree, dep), lit(prior)).as("prob")),
        joinTreeProb(df, tree, dep, prior), s"tree depth $dep")
    for ((tUse, dep) <- Seq(2 -> 2, 4 -> 2, 4 -> 3)) {
      val trees = fm.trees.take(tUse)
      assertSameBits(literalForestProb(df, trees, dep, prior),
        joinForestProb(df, trees, dep, prior), s"forest t$tUse d$dep")
    }
  }

  test("literal scoring ≡ join scoring on leaves only test rows reach " +
    "(prior and abstain paths)") {
    // train rows (folds 1-4) have x0 < 50, test rows (fold 0) x0 ≥ 50: a
    // root split at bin 1 of 4 over [0, 99] sends every train row left,
    // so the right leaf is reached by test rows only
    val rng = new scala.util.Random(5)
    val df = (0 until 200).map { i =>
      val fold = i % 5
      (i.toLong, rng.nextInt(2), fold,
        Seq((if (fold == 0) 50 else 0) + rng.nextInt(50).toDouble, 1.0,
          1.0, 1.0))
    }.toDF("id", "y", "fold", "xs")
      .select(col("id"), col("y"), col("fold"),
        col("xs").cast("array<double>").as("x"))
      .localCheckpoint(true)
    val train = df.filter(col("fold") =!= 0)
    val shape = HistTree.TreeModel(Seq(HistTree.Split(0, 0, 1, 0L, 0L, 0.0)),
      Map.empty, Array(0L, 0L, 0L, 0L), Array(99L, 9L, 9L, 9L), 4)
    val flat = shape.copy(splits = Nil)
    /** `m` with the class counts its fit would record on `train`. */
    def counted(m: HistTree.TreeModel, w: Column): HistTree.TreeModel =
      m.copy(classCounts =
        (0 to 1).map(dep => routedCounts(train, m, dep, w)).reduce(_ ++ _))
    val tree = counted(shape, weight(None))
    assert(!tree.prefix(1).leaves.contains(2), "right leaf must be unreached")
    val prior = 0.25
    assertSameBits(
      df.select(col("id"),
        coalesce(Ep2Queries.leafRate(tree, 1), lit(prior)).as("prob")),
      joinTreeProb(df, tree, 1, prior), "tree with an unreached leaf")
    // both trees abstain on test rows -> prior; one abstains -> the
    // other's rate alone
    val stumps = Seq(0, 1).map(t => counted(shape, weight(Some(t))))
    val mixed = Seq(stumps.head, counted(flat, weight(Some(1))))
    for ((trees, what) <- Seq(stumps -> "all abstain", mixed -> "one abstains"))
      assertSameBits(literalForestProb(df, trees, 1, prior),
        joinForestProb(df, trees, 1, prior), s"forest, $what")
  }
}
