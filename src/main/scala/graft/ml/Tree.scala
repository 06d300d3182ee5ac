package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** L3 — histogram CART decision tree, from scratch, hash-exact.
  *
  * The R8 GaussianNb recipe applied to trees: on INTEGER-VALUED
  * (quantized) features, bin each dimension into `bins` fixed-width
  * buckets, then split selection per node is a fixed INTEGER-arithmetic
  * argmin a SQL oracle replays bit-for-bit:
  *
  *  - per-(node, feature, bin, class) counts come from ONE distributed
  *    groupBy per level (the classic level-wise histogram-tree pass —
  *    Spark MLlib and every histogram GBDT bin continuous features the
  *    same way; at 100 TB the per-level aggregate is the only full-data
  *    pass and its output is O(nodes·d·bins·classes), driver-tiny);
  *  - a candidate split (f, b ⇒ x_f ≤ bin b) is scored by the gini
  *    identity: minimizing weighted impurity ⟺ maximizing
  *    score = Σc_L²/n_L + Σc_R²/n_R = (Σc_L²·n_R + Σc_R²·n_L)/(n_L·n_R),
  *    whose numerator/denominator are exact integers;
  *  - a node splits only on STRICT improvement over its own impurity,
  *    tested in exact integer arithmetic (BigInt here, HUGEINT in the
  *    oracle): n·(sl·nr + sr·nl) > (Σtot²)·nl·nr — pure nodes and
  *    no-gain nodes become leaves, like sklearn's min_impurity_decrease=0;
  *  - ties rank (score DESC, feature ASC, bin ASC).
  *
  * EXACTNESS CEILING, AND THE PATH PAST IT: the comparison score is ONE
  * double division of integer-exact operands; operands stay under 2^53
  * (so the doubles are exact on any IEEE engine) while
  * n_node ≲ 3·10⁵ rows. Beyond that, fit subsamples for SPLIT SELECTION
  * only (pass `keyCol`): per fold, when the train count n exceeds
  * `sampleCap`, the per-level histogram — and therefore the split
  * choice — reads only rows whose md5("42:key#sub") prefix clears the
  * floor(cap/n·2³²) threshold (the M9/M13 hash-threshold discipline),
  * an ≈cap-row uniform subsample that is a PURE (key) predicate a SQL
  * oracle replays verbatim. Everything else — binning min/max, node
  * routing, leaf majorities, predictions — still uses FULL data, so
  * only the choice of split points is estimated (the classic
  * subsample-for-splits move of PLANET/LightGBM, where quantile
  * boundaries from a sample are statistically sufficient). The
  * realized subsample size is measured and REFUSED past the 2^53 bound
  * rather than allowed to drift.
  *
  * The level loop itself is shared with Forest: a tree is the
  * unweighted, all-features member of [[Forest.fitTrees]], so one call
  * can fit trees and forests over the same rows in the same passes.
  *
  * Ref: src/models/decision_tree.py:15-34 (DecisionTreeClassifier in the
  * reference tournament); assignment_report.md dt row (parity vs the
  * published accuracy is WineParitySpec's job — THIS form's job is exact
  * cross-engine reproducibility of fit + prediction).
  */
object HistTree {

  /** One internal node: rows with bin(feature) <= bin go left (2n+1),
    * else right (2n+2); heap numbering from root 0. */
  case class Split(node: Int, feature: Int, bin: Int,
                   nLeft: Long, nRight: Long, score: Double)

  /** `classCounts`: node -> class -> training rows through that node
    * (bootstrap-weighted for a forest tree), for every node of every
    * level; empty for a hand-built model. */
  case class TreeModel(splits: Seq[Split], leaves: Map[Int, Int],
                       mins: Array[Long], maxs: Array[Long], bins: Int,
                       classCounts: Map[Int, Map[Int, Long]] = Map.empty) {
    /** The first `depth` levels of this tree. Level-wise greedy growth
      * makes the prefix the depth-`depth` fit itself, and its leaves'
      * class counts are already in `classCounts`. */
    def prefix(depth: Int): TreeModel = {
      val kept = splits.filter(sp => levelOf(sp.node) < depth)
      val split = kept.map(_.node).toSet
      val terminal = classCounts.filter { case (n, _) =>
        levelOf(n) <= depth && !split(n) }
      copy(splits = kept, leaves = majorities(terminal))
    }
    /** The fitted split/grid tables as one native-descent spec — the
      * whole tree is ONE catalyst node
      * ([[graft.expressions.TreeLeafDescend]]; bit-identical to the
      * per-terminal path-CASE cascade it replaced, which made every
      * analyzer/optimizer pass traverse terminals × depth × binExpr
      * nodes). */
    private[ml] def descendSpec: graft.expressions.TreeLeafDescend.Spec =
      graft.expressions.TreeLeafDescend.Spec(
        splits.map(s => (s.node, s.feature, s.bin)).toIndexedSeq,
        mins.toIndexedSeq, maxs.toIndexedSeq, bins)
    /** Leaf id for a row (native descent; never null — every row lands
      * on exactly one terminal). */
    def leafExpr(arrCol: String): Column =
      element_at(graft.expressions.TreeLeafDescend
        .leaves(col(arrCol), Seq(descendSpec)), 1)
    /** Majority-class prediction (ties to the smallest label); null on
      * terminals no training row reached (abstain — the literal-map
      * lookup misses). */
    def predictExpr(arrCol: String): Column =
      if (leaves.isEmpty) lit(null).cast("int")
      else element_at(typedlit(leaves), leafExpr(arrCol))
  }

  /** Heap level of a node: 0 for the root, 1 for nodes 1-2, ... */
  def levelOf(node: Int): Int = 31 - Integer.numberOfLeadingZeros(node + 1)

  /** Majority class per node, ties to the smallest label. */
  private[ml] def majorities(counts: Map[Int, Map[Int, Long]]): Map[Int, Int] =
    counts.map { case (node, byY) =>
      node -> byY.minBy { case (y, c) => (-c, y) }._1 }

  /** Fixed-width bin of integer-valued feature i: floor(((x − min)·B) /
    * (max − min + 1)) — products stay exact in double, one IEEE division,
    * quotient < B by construction on FIT data (the clips matter when a
    * model scores rows outside its training range, e.g. held-out CV
    * folds: out-of-range values saturate into the edge bins). Same
    * literal formula in the oracle. */
  def binExprs(arrCol: String, mins: Array[Long], maxs: Array[Long],
               bins: Int): IndexedSeq[Column] =
    mins.indices.map { i =>
      val x = element_at(col(arrCol), i + 1).cast("double")
      greatest(least(floor(((x - lit(mins(i).toDouble)) * lit(bins.toDouble)) /
          lit((maxs(i) - mins(i) + 1).toDouble)),
        lit((bins - 1).toDouble)), lit(0.0)).cast("int")
    }

  /** The hard 2^53-exactness bound on split-selection input rows: the
    * score numerator is ≤ n_L·n_R·n ≤ n³/4, which must stay an exact
    * double. */
  private[ml] val ExactBound = 300000L

  /** Subsample predicate for split selection: md5("seed:key#sub") prefix
    * under the floor(cap/n·2³²) hex threshold — the M9 hash-threshold
    * discipline on a dedicated hash stream (the fold deal uses
    * md5("seed:key"), bootstraps md5("seed:key#<int>"); "#sub" collides
    * with neither). The same text replays in SQL with the threshold
    * computed in-query from n. */
  private[ml] def subsampleCond(keyCol: String, cap: Long, n: Long,
                                seed: Int = 42): Column = {
    val thr = f"${math.floor(cap.toDouble / n * 4294967296.0).toLong}%08x"
    substring(graft.ml.Split.hashKey(
      concat_ws("#", col(keyCol), lit("sub")), seed), 1, 8) < thr
  }

  def fit(df: DataFrame, arrCol: String, labelCol: String, d: Int,
          depth: Int = 3, bins: Int = 32, keyCol: Option[String] = None,
          sampleCap: Long = 200000): TreeModel =
    fitCv(df.withColumn("__no_fold", lit(-1)), arrCol, labelCol,
      "__no_fold", nFolds = 1, d = d, depth = depth, bins = bins,
      keyCol = keyCol, sampleCap = sampleCap).head

  /** Fit `nFolds` trees at once — tree f trains on rows whose `foldCol`
    * ≠ f (with nFolds = 1 and foldCol ≡ -1 this is the plain single
    * fit). This is the unweighted case of the one level loop,
    * [[Forest.fitTrees]]: every row weighs 1 and every feature is a
    * candidate at every node. The fold index melts into the histogram
    * key, so K trees cost the same number of per-level driver
    * round-trips as one; bins come from each fold's TRAIN min/max.
    * Mirrors the fold-aware oracle chain (R9Queries.treeCtes cv = true).
    *
    * When a fold's train count exceeds `sampleCap`, the per-level
    * HISTOGRAM (split selection) reads only the md5-thresholded
    * subsample of `keyCol` rows (see the object Scaladoc); routing and
    * leaf majorities always use full data. Passing no `keyCol` keeps
    * the refuse-don't-drift behavior at the cap. */
  def fitCv(df: DataFrame, arrCol: String, labelCol: String,
            foldCol: String, nFolds: Int, d: Int,
            depth: Int = 3, bins: Int = 32, keyCol: Option[String] = None,
            sampleCap: Long = 200000): IndexedSeq[TreeModel] =
    Forest.fitTrees(df, keyCol, arrCol, labelCol, foldCol, nFolds, d,
      Seq(Forest.Plain), depth, bins, sampleCap = sampleCap).map(_.head)

  /** Terminal per-class counts derived from the LAST level's histogram:
    * for a node split at that level, the left child's class counts are
    * the cumulative sums ≤ the chosen bin on the chosen feature and the
    * right child's are the node totals minus them; an unsplit node is
    * itself terminal with its totals (any one feature's bins partition
    * the node — the smallest index present, the selectSplits
    * discipline). Exact integers, identical to the dedicated final
    * assignment pass this replaces. `cnt` may be weighted (Forest); `K`
    * is the fit key (fold, or (fold, tree)). Zero-count classes are
    * dropped, matching the groupBy form (they can never win the
    * majority anyway — some class at the node has count ≥ 1). */
  private[ml] def deriveLeafCounts[K](
      counts: Array[(K, Int, Int, Int, Int, Long)],
      best: Map[(K, Int), (Int, Int)]): Array[(K, Int, Int, Long)] =
    counts.groupBy(r => (r._1, r._2)).toArray.flatMap {
      case ((k, node), rows) =>
        val f0 = rows.map(_._3).min
        val tot = rows.filter(_._3 == f0).groupBy(_._5)
          .map { case (y, rs) => y -> rs.map(_._6).sum }
        best.get((k, node)) match {
          case Some((sf, sb)) =>
            val left = rows.filter(r => r._3 == sf && r._4 <= sb)
              .groupBy(_._5).map { case (y, rs) => y -> rs.map(_._6).sum }
            tot.keys.toSeq.flatMap { y =>
              val l = left.getOrElse(y, 0L)
              Seq((k, 2 * node + 1, y, l),
                (k, 2 * node + 2, y, tot(y) - l)).filter(_._4 > 0)
            }
          case None =>
            tot.toSeq.collect { case (y, c) if c > 0 => (k, node, y, c) }
        }
    }

  /** Driver-side argmin over the level's histogram (O(nodes·d·bins·k)
    * rows — fitted-parameter scale). Integer arithmetic exactly mirrors
    * the oracle's HUGEINT expressions. `cnt` may be a weighted count
    * (Forest's bootstrap weights — still integers, still exact);
    * `allowed(node, f)` restricts the candidate features per node
    * (Forest's mtry sampling) without affecting the node totals. */
  private[ml] def selectSplits(counts: Array[(Int, Int, Int, Int, Long)],
                               bins: Int,
                               allowed: (Int, Int) => Boolean = (_, _) => true)
      : Seq[Split] = {
    val classes = counts.map(_._4).distinct.sorted
    counts.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (node, rows) =>
      // per-node class totals (same for every feature; use the smallest
      // feature index present — feature 0 may be masked out by `allowed`
      // upstream only in scoring, never in the histogram itself)
      val f0 = rows.map(_._2).min
      val tot = classes.map(y =>
        y -> rows.collect { case (_, `f0`, _, `y`, c) => c }.sum).toMap
      val tn = BigInt(tot.values.sum)
      val st = tot.values.map(c => BigInt(c) * c).sum
      var bestKey: (Double, Int, Int) = null
      var bestSplit: Split = null
      for (f <- rows.map(_._2).distinct.sorted if allowed(node, f)) {
        val cnt = Array.fill(bins, classes.length)(0L)
        rows.foreach { case (_, ff, bb, y, c) =>
          if (ff == f) cnt(bb)(classes.indexOf(y)) += c
        }
        val cum = Array.fill(classes.length)(0L)
        for (bb <- 0 until bins) {
          classes.indices.foreach(k => cum(k) += cnt(bb)(k))
          val nl = cum.sum
          val nr = tot.values.sum - nl
          if (nl > 0 && nr > 0) {
            val sl = cum.map(c => BigInt(c) * c).sum
            val sr = classes.indices
              .map(k => { val r = tot(classes(k)) - cum(k); BigInt(r) * r }).sum
            val num = sl * nr + sr * nl
            // strict integer improvement test: n·num > Σtot²·nl·nr
            if (tn * num > st * BigInt(nl) * nr) {
              val score = num.toDouble / (BigInt(nl) * nr).toDouble
              val key = (-score, f, bb)
              if (bestKey == null || Ordering[(Double, Int, Int)]
                    .lt(key, bestKey)) {
                bestKey = key
                bestSplit = Split(node, f, bb, nl, nr, score)
              }
            }
          }
        }
      }
      Option(bestSplit)
    }
  }
}
