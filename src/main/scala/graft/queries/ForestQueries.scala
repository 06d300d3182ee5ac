package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{TableMemo, Tables}
import graft.ml.Forest

/** L4 in the hash-exact oracle club: the reference's HEADLINE model —
  * random forest (it wins the wine tournament at 0.6664) — with fit,
  * in-sample prediction, and OOB evaluation all replayed bit-for-bit
  * by DuckDB. See ml/Forest.scala for the determinism design (md5
  * bootstrap weights = the q_m13 discipline, md5-ranked per-node mtry,
  * global binning, weighted integer gini). The oracle re-runs the
  * whole forest — T trees × `depth` levels of histogram → cumulative
  * counts → HUGEINT-exact strict-improvement gini argmin → node
  * reassignment — in one SQL statement, then votes.
  *
  * Ref: cross-validation/wine_analysis.py:245-343 (tournament),
  * src/models/random_forest.py (the rf surface being modeled).
  */
object ForestQueries extends QueryPack {
  private val D = 4        // quantized embedding dims used as features
  private[queries] val T = 4        // trees
  private[queries] val Depth = 3
  private[queries] val Bins = 32
  private[queries] val Mtry = 2
  private[queries] val Seed = 42
  private[queries] val NTrials = 8  // bootstrap coin flips per (row, tree)
  private[queries] val Kf = 5 // CV folds (must match R9Queries.K)

  /** Same integer-quantized feature frame as the other hash-exact model
    * queries (floor(x·1e6 + 0.5) on the first D embedding dims). */
  private def frame(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings").select(
      col("vec_id"),
      col("label").cast("int").as("y"),
      array((0 until D).map(i =>
        floor(element_at(col("embedding"), i + 1).cast("double") * lit(1e6)
          + lit(0.5)).cast("double")): _*).as("x"))

  /** Process-scoped memo of the fitted forest, keyed by data dir and the
    * embeddings files — the same fitted-parameter discipline as
    * R9Queries' tournament memo:
    * FIVE catalog queries (q_l_rf_params/confusion/oob/importance and
    * q_m14_perm_importance) fit the IDENTICAL model, and a ForestModel
    * is driver-side data by construction (split tables + leaf
    * majorities, O(trees·2^depth) scalars), so caching it is caching
    * fitted parameters, not row data. Each query still re-reads and
    * re-scores its own data. */
  private val modelMemo = new TableMemo[Forest.ForestModel]("embeddings")

  private[queries] def fitted(s: SparkSession, d: String): (DataFrame, Forest.ForestModel) = {
    val base = frame(s, d).localCheckpoint(true)
    (base, modelMemo(s, d)(
      Forest.fit(base, "vec_id", "x", "y", D, nTrees = T,
        depth = Depth, bins = Bins, mtry = Mtry, seed = Seed,
        nTrials = NTrials)))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The fitted forest as data: every split of every tree (weighted
    // left/right counts are the md5-bootstrap totals).
    "q_l_rf_params" -> ((s, d) => {
      val (_, m) = fitted(s, d)
      import s.implicits._
      m.trees.zipWithIndex.flatMap { case (t, ti) =>
        t.splits.map(sp =>
          (ti, sp.node, sp.feature, sp.bin, sp.nLeft, sp.nRight, sp.score))
      }.toDF("tree", "node", "feature", "threshold_bin",
          "n_left", "n_right", "score")
        .orderBy("tree", "node")
    }),

    // In-sample confusion of the forest VOTE (every row through every
    // tree, regardless of its bootstrap weight) — the production
    // scoring path (codegen CASE cascade, no joins).
    "q_l_rf_confusion" -> ((s, d) => {
      val (base, m) = fitted(s, d)
      m.predict(base, "x", "prediction")
        .select(col("y").as("label"), col("prediction"))
        .filter(col("prediction").isNotNull)
        .groupBy("label", "prediction").agg(count(lit(1)).as("n"))
        .orderBy("label", "prediction")
    }),

    // Impurity-based feature importance (sklearn feature_importances_):
    // per-split weighted gini decrease = split score − Σc²/n at the
    // parent (both exact divisions of fitted integer moments), DECIMAL-
    // summed by feature so the totals are order-independent; normalized
    // share alongside. Completes the importance pair with M14's
    // permutation importance (wine nb 11 cell 46).
    "q_l_rf_importance" -> ((s, d) => {
      val (_, m) = fitted(s, d)
      import s.implicits._
      val rows = Forest.importanceRows(m)
        .map { case (_, _, f, dec) => (f, dec) }.toDF("feature", "dec")
        .localCheckpoint(true)
      val tot = rows.agg(graft.ops.Num.dsum12(col("dec")).as("tot"))
      rows.groupBy("feature")
        .agg(count(lit(1)).as("n_splits"),
          graft.ops.Num.dsum12(col("dec")).as("importance"))
        .crossJoin(tot)
        .select(col("feature"), col("n_splits"), col("importance"),
          (col("importance") / col("tot")).as("importance_norm"))
        .orderBy("feature")
    }),

    // OOB evaluation: each row is scored only by trees whose bootstrap
    // gave it weight 0 (rows no OOB tree covers drop out), majority
    // vote with ties to the smallest label, plus the overall OOB
    // accuracy — the forest's self-validation, replayed exactly.
    "q_l_rf_oob" -> ((s, d) => {
      val (base, m) = fitted(s, d)
      val perTree = (0 until T).map(t => struct(
        Forest.weightExpr("vec_id", lit(t), Seed, NTrials).as("w"),
        m.trees(t).predictExpr("x").as("p")))
      val votes = base
        .select(col("vec_id"), col("y"),
          explode(array(perTree: _*)).as("e"))
        .filter(col("e.w") === 0 && col("e.p").isNotNull)
        .groupBy(col("vec_id"), col("y"), col("e.p").as("prediction"))
        .agg(count(lit(1)).as("v"))
      val top = votes.withColumn("rn", row_number().over(
          Window.partitionBy("vec_id")
            .orderBy(col("v").desc, col("prediction"))))
        .filter(col("rn") === 1)
      // overall accuracy rides along as a one-row aggregate crossJoin
      // (the triangleCount precedent) — NOT a partition-less Window,
      // which is a global sort at scale (PlanSpec bans it)
      val conf = top.groupBy(col("y").as("label"), col("prediction"))
        .agg(count(lit(1)).as("n"))
      val tot = conf.agg(
        sum(when(col("label") === col("prediction"), col("n"))
          .otherwise(lit(0L))).as("__corr"),
        sum(col("n")).as("__tot"))
      conf.crossJoin(tot)
        .withColumn("oob_acc",
          col("__corr").cast("double") / col("__tot").cast("double"))
        .drop("__corr", "__tot")
        .orderBy("label", "prediction")
    }))

  // ---- oracle SQL ---------------------------------------------------

  /** The forest fit as a CTE chain: bootstrap weights → global bins →
    * per-level (mtry selection, weighted histogram, cumulative class
    * counts, HUGEINT gini with strict improvement, best-split ranking,
    * heap-numbered reassignment of the train relation fa$l AND the
    * held-out relation fat$l) → weighted leaf majorities. Mirrors
    * Forest.fit stage for stage; DuckDB's SUM over integers is HUGEINT,
    * so every product in the improvement test is exact.
    *
    * With cv = true every relation gains a fold dimension `cvf` (the
    * stratified md5 deal of q_m11_kfold): per fold, trees train on the
    * OTHER folds (bins from that fold's TRAIN min/max, exactly like
    * R9Queries.treeCtes) and fat routes the held-out fold through them
    * — K whole forests fitted in one SQL statement. With cv = false it
    * degenerates to one fold where every row is both train and test.
    * Bootstrap weights and the mtry mask depend only on (row, tree) /
    * (tree, node), not the fold — same on the Scala side. */
  private[queries] def forestCtes(cv: Boolean): String = {
    val NF = if (cv) Kf else 1
    val trainCond = if (cv) "b.fold != fd.cvf" else "TRUE"
    val testCond = if (cv) "b.fold = fd.cvf" else "TRUE"
    val foldSel =
      if (cv)
        s"""CAST((ROW_NUMBER() OVER (PARTITION BY CAST(label AS DOUBLE)
           |      ORDER BY ${Sql.hashKey("vec_id", Seed)}, vec_id) - 1) % $Kf
           |      AS INTEGER)""".stripMargin
      else "0"
    def x(i: Int) =
      s"floor(CAST(embedding[${i + 1}] AS DOUBLE)*1000000.0 + 0.5)"
    val baseCols = (0 until D).map(i => s"${x(i)} AS x$i").mkString(", ")
    val mm = (0 until D).map(i =>
      s"MIN(CAST(b.x$i AS BIGINT)) AS mn$i, " +
        s"MAX(CAST(b.x$i AS BIGINT)) AS mx$i").mkString(",\n    ")
    val binCols = (0 until D).map(i =>
      s"CAST(greatest(least(floor(((b.x$i - m.mn$i) * $Bins.0) / " +
        s"(m.mx$i - m.mn$i + 1.0)), ${Bins - 1}.0), 0.0) AS INTEGER) AS b$i")
      .mkString(",\n    ")
    // md5 text must equal Forest.allowedFeatures' "seed:tree#node#f"
    val mtryHash =
      s"MD5('$Seed' || ':' || CAST(n.tf AS VARCHAR) || '#' || " +
        s"CAST(n.node AS VARCHAR) || '#' || CAST(ff.f AS VARCHAR))"
    // md5 text must equal Forest.weightExpr's "seed:key#trial"
    val coin =
      s"substr(MD5('$Seed' || ':' || CAST(b.vec_id AS VARCHAR) || '#' || " +
        s"CAST(fd.tf*$NTrials + dd.d AS VARCHAR)), 1, 8) < '20000000'"
    def assignSel(src: String, best: String) = {
      val pick = s"CASE s.f WHEN 0 THEN a.b0 WHEN 1 THEN a.b1 " +
        s"WHEN 2 THEN a.b2 ELSE a.b3 END"
      s"""SELECT a.vec_id, a.cvf, a.tf, a.y, a.w, a.b0, a.b1, a.b2, a.b3,
         |    CASE WHEN s.node IS NULL THEN a.node
         |         WHEN ($pick) <= s.b THEN 2*a.node + 1
         |         ELSE 2*a.node + 2 END AS node
         |  FROM $src a LEFT JOIN $best s
         |    ON s.cvf = a.cvf AND s.tf = a.tf AND s.node = a.node""".stripMargin
    }
    def level(l: Int): String = {
      val melt = (0 until D).map(i =>
        s"SELECT cvf, tf, node, y, w, $i AS f, b$i AS b FROM fa$l")
        .mkString("\n      UNION ALL ")
      s"""fsel$l AS (SELECT cvf, tf, node, f FROM (
         |    SELECT n.cvf, n.tf, n.node, ff.f,
         |      ROW_NUMBER() OVER (PARTITION BY n.cvf, n.tf, n.node
         |        ORDER BY $mtryHash, ff.f) AS rn
         |    FROM (SELECT DISTINCT cvf, tf, node FROM fa$l) n
         |    CROSS JOIN (SELECT CAST(unnest(range(0, $D)) AS INTEGER) AS f)
         |      ff) z
         |  WHERE rn <= $Mtry),
         |fcand$l AS (SELECT cvf, tf, node, f, b, y, SUM(w) AS cnt FROM (
         |      $melt) t
         |  GROUP BY 1, 2, 3, 4, 5, 6),
         |fgrid$l AS (SELECT sl.cvf, sl.tf, sl.node, sl.f,
         |    CAST(bb.b AS INTEGER) AS b, l.y
         |  FROM fsel$l sl
         |  CROSS JOIN (SELECT unnest(range(0, $Bins)) AS b) bb
         |  CROSS JOIN (SELECT DISTINCT y FROM fbase) l),
         |fcum$l AS (SELECT g.cvf, g.tf, g.node, g.f, g.b, g.y,
         |    SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY g.cvf, g.tf,
         |      g.node, g.f, g.y ORDER BY g.b) AS cum,
         |    SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY g.cvf, g.tf,
         |      g.node, g.f, g.y) AS tot
         |  FROM fgrid$l g LEFT JOIN fcand$l c
         |    ON c.cvf = g.cvf AND c.tf = g.tf AND c.node = g.node
         |      AND c.f = g.f AND c.b = g.b AND c.y = g.y),
         |fsc$l AS (SELECT cvf, tf, node, f, b, SUM(cum) AS nl,
         |    SUM(tot - cum) AS nr,
         |    SUM(cum*cum) AS sl, SUM((tot - cum)*(tot - cum)) AS sr
         |  FROM fcum$l GROUP BY 1, 2, 3, 4, 5),
         |fnt$l AS (SELECT cvf, tf, node, SUM(c) AS tn, SUM(c*c) AS st FROM
         |    (SELECT cvf, tf, node, y, SUM(w) AS c FROM fa$l
         |      GROUP BY 1, 2, 3, 4) t
         |  GROUP BY 1, 2, 3),
         |fbest$l AS (SELECT * FROM (SELECT s.cvf, s.tf, s.node, s.f, s.b,
         |      s.nl, s.nr,
         |      CAST(s.sl*s.nr + s.sr*s.nl AS DOUBLE) /
         |        CAST(s.nl*s.nr AS DOUBLE) AS score,
         |      ROW_NUMBER() OVER (PARTITION BY s.cvf, s.tf, s.node ORDER BY
         |        CAST(s.sl*s.nr + s.sr*s.nl AS DOUBLE) /
         |          CAST(s.nl*s.nr AS DOUBLE) DESC, s.f, s.b) AS rn
         |    FROM fsc$l s JOIN fnt$l t ON t.cvf = s.cvf AND t.tf = s.tf
         |      AND t.node = s.node
         |    WHERE s.nl > 0 AND s.nr > 0
         |      AND t.tn*(s.sl*s.nr + s.sr*s.nl) > t.st*s.nl*s.nr) z
         |  WHERE rn = 1),
         |fa${l + 1} AS (${assignSel(s"fa$l", s"fbest$l")}),
         |fat${l + 1} AS (${assignSel(s"fat$l", s"fbest$l")})""".stripMargin
    }
    s"""fbase AS (SELECT vec_id, CAST(label AS INTEGER) AS y,
       |    $foldSel AS fold,
       |    $baseCols
       |  FROM embeddings),
       |fcv AS (SELECT CAST(unnest(range(0, $NF)) AS INTEGER) AS cvf),
       |ftr AS (SELECT CAST(unnest(range(0, $T)) AS INTEGER) AS tf),
       |fw AS (SELECT b.vec_id, fd.tf,
       |    SUM(CASE WHEN $coin THEN 1 ELSE 0 END) AS w
       |  FROM fbase b CROSS JOIN ftr fd
       |    CROSS JOIN (SELECT unnest(range(0, $NTrials)) AS d) dd
       |  GROUP BY 1, 2),
       |fmm AS (SELECT fd.cvf,
       |    $mm
       |  FROM fcv fd JOIN fbase b ON $trainCond GROUP BY fd.cvf),
       |fa0 AS (SELECT b.vec_id, fd.cvf, w.tf, b.y, w.w, 0 AS node,
       |    $binCols
       |  FROM fcv fd JOIN fbase b ON $trainCond
       |    JOIN fw w ON w.vec_id = b.vec_id
       |    JOIN fmm m ON m.cvf = fd.cvf
       |  WHERE w.w > 0),
       |fat0 AS (SELECT b.vec_id, fd.cvf, w.tf, b.y, w.w, 0 AS node,
       |    $binCols
       |  FROM fcv fd JOIN fbase b ON $testCond
       |    JOIN fw w ON w.vec_id = b.vec_id
       |    JOIN fmm m ON m.cvf = fd.cvf),
       |${(0 until Depth).map(level).mkString(",\n")},
       |fleaf AS (SELECT cvf, tf, node, y AS pred FROM (SELECT cvf, tf,
       |    node, y,
       |    ROW_NUMBER() OVER (PARTITION BY cvf, tf, node ORDER BY c DESC, y)
       |      AS rn
       |  FROM (SELECT cvf, tf, node, y, SUM(w) AS c FROM fa$Depth
       |    GROUP BY 1, 2, 3, 4) t) z
       |  WHERE rn = 1),
       |fpred AS (SELECT t.vec_id, t.cvf, t.tf, t.y, t.w, l.pred
       |  FROM fat$Depth t JOIN fleaf l
       |    ON l.cvf = t.cvf AND l.tf = t.tf AND l.node = t.node)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_l_rf_params" -> {
      val union = (0 until Depth)
        .map(l => s"SELECT tf, node, f, b, nl, nr, score FROM fbest$l")
        .mkString("\n  UNION ALL ")
      s"""WITH ${forestCtes(cv = false)}
         |SELECT tf AS tree, node, f AS feature, b AS threshold_bin,
         |  CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
         |  score
         |FROM ($union) u ORDER BY tree, node""".stripMargin
    },

    "q_l_rf_confusion" ->
      s"""WITH ${forestCtes(cv = false)},
         |fvote AS (SELECT vec_id, y, pred, count(*) AS v FROM fpred
         |  GROUP BY 1, 2, 3),
         |fbestv AS (SELECT vec_id, y, pred FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY v DESC, pred)
         |      AS rn FROM fvote) z WHERE rn = 1)
         |SELECT y AS label, pred AS prediction, count(*) AS n
         |FROM fbestv GROUP BY 1, 2 ORDER BY label, prediction""".stripMargin,

    "q_l_rf_importance" -> {
      val union = (0 until Depth).map(l =>
        s"""SELECT b.f, CAST(b.score - CAST(t.st AS DOUBLE)
           |      / CAST(t.tn AS DOUBLE) AS DECIMAL(30,12)) AS dec
           |  FROM fbest$l b JOIN fnt$l t
           |    ON t.cvf = b.cvf AND t.tf = b.tf AND t.node = b.node"""
          .stripMargin)
        .mkString("\n  UNION ALL ")
      s"""WITH ${forestCtes(cv = false)},
         |fdec AS ($union),
         |fimp AS (SELECT f AS feature, COUNT(*) AS n_splits,
         |    SUM(dec) AS imp FROM fdec GROUP BY f),
         |ftot AS (SELECT SUM(dec) AS tot FROM fdec)
         |SELECT feature, n_splits, CAST(imp AS DOUBLE) AS importance,
         |  CAST(imp AS DOUBLE) / CAST((SELECT tot FROM ftot) AS DOUBLE)
         |    AS importance_norm
         |FROM fimp ORDER BY feature""".stripMargin
    },

    "q_l_rf_oob" ->
      s"""WITH ${forestCtes(cv = false)},
         |ovote AS (SELECT vec_id, y, pred, count(*) AS v FROM fpred
         |  WHERE w = 0 GROUP BY 1, 2, 3),
         |obestv AS (SELECT vec_id, y, pred FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY v DESC, pred)
         |      AS rn FROM ovote) z WHERE rn = 1),
         |oconf AS (SELECT y AS label, pred AS prediction, count(*) AS n
         |  FROM obestv GROUP BY 1, 2)
         |SELECT label, prediction, n,
         |  CAST(SUM(CASE WHEN label = prediction THEN n ELSE 0 END)
         |      OVER () AS DOUBLE) /
         |    CAST(SUM(n) OVER () AS DOUBLE) AS oob_acc
         |FROM oconf ORDER BY label, prediction""".stripMargin)
}
