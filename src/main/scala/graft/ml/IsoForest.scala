package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Isolation forest (Liu et al. 2008), made deterministic and therefore
  * hash-exact — the anomaly-detection member of the from-scratch model
  * family (GNB → CART → forest → GBDT recipe):
  *
  *   - per-tree subsample: md5-uniform("ifs:seed:tree:id") < frac — no
  *     RNG state, identical sample on any engine/partitioning;
  *   - split feature at (tree, node): md5("iff:seed:tree:node") mod d;
  *     split threshold: node-min + u·(node-max − node-min) with
  *     u = md5-uniform("ifu:seed:tree:node") — both pure functions of
  *     the node address, so the whole fit is replayable;
  *   - a node terminalizes when it has ≤ 1 subsample row, its chosen
  *     feature is constant, or the depth cap is hit;
  *   - anomaly score: average per-tree path length, exit depth plus
  *     sklearn's average-path adjustment c(m) (0 for m=1, 1 for m=2,
  *     else 2(ln(m−1)+γ) − 2(m−1)/m) — the ln goes through the
  *     DECIMAL(30,12) discipline; per-row sums accumulate in DECIMAL so
  *     the score is order-independent. Smallest average path = most
  *     anomalous (monotone in the classic 2^(−E[h]/c(ψ)) score, without
  *     its extra constant).
  *
  * Scale shape: fit = one (tree, node) min/max/count aggregation per
  * LEVEL over the melted (row × tree) subsample relation — the PLANET
  * histogram discipline with the tree dimension in the key; only
  * O(trees·2^depth·d) stats rows reach the driver. Scoring routes by
  * LEVEL-wise broadcast joins on (tree, node) — never one giant inlined
  * cascade (the measured m14 expression-compile trap).
  */
object IsoForest {

  /** Euler–Mascheroni, the exact double both engines parse. */
  val Gamma = 0.5772156649015329

  case class ISplit(tree: Int, node: Int, feature: Int, tau: Double)

  case class IModel(splits: Seq[ISplit], leafSizes: Seq[(Int, Int, Long)],
                    trees: Int, depth: Int)

  private def md5Long(md: java.security.MessageDigest, s: String): Long =
    java.lang.Long.parseLong(graft.text.TextOps.md5Hex(md, s).take(8), 16)

  /** md5-uniform in (0,1) as a column, over the exact concat_ws text the
    * oracle reproduces. */
  private def uniformCol(parts: Column*): Column =
    (conv(substring(md5(concat_ws(":", parts: _*)), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)

  def fit(df: DataFrame, idCol: String, arrCol: String, d: Int,
          trees: Int = 4, depth: Int = 5, seed: Int = 42,
          sampleFrac: Double = 0.5): IModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val treesDf = spark.range(trees).select(col("id").cast("int").as("tree"))
    var assign = df.select(col(idCol).as("__id"), col(arrCol).as("__x"))
      .crossJoin(broadcast(treesDf))
      .filter(uniformCol(lit("ifs"), lit(seed), col("tree"), col("__id"))
        < sampleFrac)
      .withColumn("node", lit(0))
    val md = java.security.MessageDigest.getInstance("MD5")
    val splits = scala.collection.mutable.ArrayBuffer[ISplit]()
    var live = true
    for (l <- 0 until depth if live) {
      val aggs = Seq(count(lit(1)).as("n")) ++ (0 until d).flatMap(i => Seq(
        min(element_at(col("__x"), i + 1)).as(s"mn$i"),
        max(element_at(col("__x"), i + 1)).as(s"mx$i")))
      val stats = assign.groupBy("tree", "node")
        .agg(aggs.head, aggs.tail: _*).collect()
      // sort: collect() order is partitioning-dependent; the model's
      // split SEQUENCE should not be
      val lvl = stats.toSeq
        .sortBy(r => (r.getAs[Int]("tree"), r.getAs[Int]("node")))
        .flatMap { r =>
        val t = r.getAs[Int]("tree"); val nd = r.getAs[Int]("node")
        if (r.getAs[Long]("n") <= 1) None
        else {
          val f = (md5Long(md, s"iff:$seed:$t:$nd") % d).toInt
          val mn = r.getAs[Double](s"mn$f"); val mx = r.getAs[Double](s"mx$f")
          if (!(mx > mn)) None
          else {
            val u = (md5Long(md, s"ifu:$seed:$t:$nd") + 0.5) / 4294967296.0
            Some(ISplit(t, nd, f, mn + u * (mx - mn)))
          }
        }
      }
      if (lvl.isEmpty) live = false
      else {
        splits ++= lvl
        // truncate lineage per level: without this, level l's stats
        // collect re-plans AND recomputes the scan + crossJoin + all l
        // prior route joins (r13: 44 jobs, plans growing per level);
        // the checkpoint is one tiny materialization instead
        assign = route(assign, lvl.toDF()).localCheckpoint(true)
      }
    }
    val sizes = assign.groupBy("tree", "node").agg(count(lit(1)).as("m"))
      .collect()
      .map(r => (r.getAs[Int]("tree"), r.getAs[Int]("node"),
        r.getAs[Long]("m"))).toSeq
    IModel(splits.toSeq, sizes, trees, depth)
  }

  /** One routing step: rows at split nodes move to a child, rows at
    * terminal nodes stay (the GBT oracle's CASE WHEN s.node IS NULL). */
  private def route(assign: DataFrame, lvlSplits: DataFrame): DataFrame =
    assign
      .join(broadcast(lvlSplits.select("tree", "node", "feature", "tau")),
        Seq("tree", "node"), "left")
      .withColumn("node", when(col("feature").isNull, col("node"))
        .otherwise(when(element_at(col("__x"), col("feature") + 1) <
            col("tau"),
          col("node") * 2 + 1).otherwise(col("node") * 2 + 2)))
      .drop("feature", "tau")

  /** Per-row anomaly score: (id, avg_path), smallest = most anomalous. */
  def score(m: IModel, df: DataFrame, idCol: String,
            arrCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val treesDf = spark.range(m.trees).select(col("id").cast("int").as("tree"))
    var cur = df.select(col(idCol), col(arrCol).as("__x"))
      .crossJoin(broadcast(treesDf))
      .withColumn("node", lit(0))
    for (l <- 0 until m.depth) {
      val lvl = m.splits.filter(s => HistTree.levelOf(s.node) == l)
      if (lvl.nonEmpty) cur = route(cur, lvl.toDF())
    }
    val sizesDf = m.leafSizes.toDF("tree", "node", "m")
    val dep = (length(bin((col("node") + 1).cast("long"))) - 1).cast("int")
    val adj = when(col("m") === 1, lit(0.0))
      .when(col("m") === 2, lit(1.0))
      .otherwise(lit(2.0) *
        (log((col("m") - 1).cast("double")).cast(DecimalType(30, 12))
          .cast("double") + lit(Gamma)) -
        lit(2.0) * (col("m") - 1).cast("double") / col("m").cast("double"))
    cur.join(broadcast(sizesDf), Seq("tree", "node"))
      .select(col(idCol), (dep + adj).cast(DecimalType(30, 12)).as("p"))
      .groupBy(col(idCol))
      .agg(sum("p").as("sp"), count(lit(1)).as("nt"))
      .select(col(idCol),
        (col("sp").cast("double") / col("nt").cast("double")).as("avg_path"))
  }
}
