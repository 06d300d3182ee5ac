package graft.ml

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ml.HistTree.TreeModel

/** L4 — random forest, from scratch, hash-exact: the reference's
  * HEADLINE model family (rf wins its tournament at 0.6664 accuracy)
  * re-expressed so that fit AND prediction are a fixed sequence of
  * integer operations a SQL oracle replays bit-for-bit. The R8 GNB
  * recipe, applied to bagged trees:
  *
  *  - BAGGING: each (row, tree) pair gets a deterministic bootstrap
  *    weight w ∈ {0..nTrials} — the M13 discipline (`Split.bootstrap`):
  *    nTrials md5 coin flips per pair at ratio/nTrials each, so
  *    w ~ Binomial(8, 1/8) ≈ Poisson(1), the distributed standard for
  *    sampling-with-replacement (PLANET, Spark MLlib RF do the same
  *    with non-reproducible RNGs; md5 makes it engine-portable).
  *    Weighted histogram counts stay integers, so split selection
  *    stays exact.
  *  - FEATURE SAMPLING (mtry): at each (tree, node) the candidate
  *    features are the `mtry` smallest by md5("seed:tree#node#f") —
  *    per-NODE subspace sampling, the classic Breiman RF, yet
  *    deterministic and replayable as a SQL ROW_NUMBER.
  *  - BINNING is global (one min/max pass over the full data, shared
  *    by all trees — LightGBM's RF mode does the same): bins depend
  *    only on the data, not the bootstrap, so one binned relation
  *    feeds every tree and the per-level histogram of the WHOLE
  *    forest is ONE distributed aggregate (melt the tree index into
  *    the key — same move as the fold dimension in q_l_gnb_cv).
  *  - PREDICTION: per-tree leaf majorities (weighted, ties to the
  *    smallest label), then a majority VOTE across trees (ties to the
  *    smallest label). Integers end to end.
  *  - OOB: rows with w=0 for tree t are out-of-bag for t; the OOB
  *    vote uses only those trees — the forest's self-validation,
  *    equally replayable.
  *
  * At 100 TB: the only full-data work is one min/max pass plus
  * `depth` histogram aggregates whose input is the binned relation
  * melted ×nTrees (a map-side explode, no extra shuffle keys beyond
  * (tree, node, f, b, y)); histogram output is
  * O(trees·nodes·d·bins·classes) — driver-tiny. Scoring is a native
  * leaf descent plus a literal-map lookup, no joins.
  *
  * [[fitTrees]] is the ONE histogram level loop of the package: a
  * HistTree is its unweighted member (w ≡ 1, every feature a
  * candidate), and [[fitCvWithTree]] fits a tree beside the forest in
  * the same passes.
  *
  * Ref: cross-validation/wine_analysis.py:245-343 (tournament, rf
  * entry), src/models/random_forest.py (n_estimators/max_depth
  * surface); exactness ceiling inherited from HistTree (see there).
  */
object Forest {

  case class ForestModel(trees: IndexedSeq[TreeModel], voteClasses: Seq[Int],
                         nTrials: Int, seed: Int) {
    /** Per-tree predictions (codegen CASE cascades). */
    def treePredictExprs(arrCol: String): IndexedSeq[Column] =
      trees.map(_.predictExpr(arrCol))
    /** Majority vote over an array of per-tree predictions; ties go to
      * the smallest label (array_position returns the FIRST index of
      * the max, and voteClasses is sorted ascending). A tree whose leaf
      * map doesn't cover a row's node abstains (null in the array, and
      * null === c is null, so filter drops it); a row on which EVERY
      * tree abstains gets a null prediction — the same rows the
      * oracle's leaf join drops. */
    def voteExpr(predsArr: Column): Column = {
      val votes = voteClasses.map(c => size(filter(predsArr, _ === lit(c))))
      val vArr = array(votes.map(_.cast("int")): _*)
      when(array_max(vArr) === 0, lit(null).cast("int")).otherwise(
        element_at(array(voteClasses.map(lit): _*),
          array_position(vArr, array_max(vArr)).cast("int")))
    }
    def predictExpr(arrCol: String): Column =
      voteExpr(array(treePredictExprs(arrCol): _*))
    /** Production scoring path: materialize the per-tree prediction
      * array as one projection, then vote over the (cheap) attribute
      * reference — each tree's CASE cascade appears exactly ONCE in the
      * plan, where inlining it into every class's vote count would
      * multiply plan size by classes × vote-uses. */
    def predict(df: DataFrame, arrCol: String, outCol: String): DataFrame =
      df.withColumn("_forest_preds", array(treePredictExprs(arrCol): _*))
        .withColumn(outCol, voteExpr(col("_forest_preds")))
        .drop("_forest_preds")
  }

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** The mtry feature subset for (tree, node): rank features by
    * md5("seed:tree#node#f") (ties by f), keep the smallest `mtry` —
    * the driver-side twin of the oracle's ROW_NUMBER OVER (PARTITION BY
    * tf, node ORDER BY MD5(...), f) <= mtry. */
  def allowedFeatures(seed: Int, tree: Int, node: Int, d: Int,
                      mtry: Int): Set[Int] =
    (0 until d).sortBy(f => (md5hex(s"$seed:$tree#$node#$f"), f))
      .take(mtry).toSet

  /** Bootstrap weight of (key, tree) as a Column: nTrials md5 coin
    * flips at ratio 1/nTrials — trial ids are tree*nTrials+dd so trees
    * draw disjoint hash streams. Mirrors Split.bootstrap / q_m13.
    * Public: OOB evaluation re-derives w to find each tree's held-out
    * rows (w = 0). */
  def weightExpr(keyCol: String, treeCol: Column, seed: Int,
                 nTrials: Int): Column = {
    val threshold = f"${math.floor(1.0 / nTrials * 4294967296.0).toLong}%08x"
    Seq.tabulate(nTrials) { dd =>
      val trial = (treeCol * nTrials + lit(dd)).cast("int").cast("string")
      when(substring(Split.hashKey(concat_ws("#", col(keyCol), trial), seed),
        1, 8) < threshold, 1).otherwise(0)
    }.reduce(_ + _)
  }

  def fit(df: DataFrame, keyCol: String, arrCol: String, labelCol: String,
          d: Int, nTrees: Int = 4, depth: Int = 3, bins: Int = 32,
          mtry: Int = 2, seed: Int = 42, nTrials: Int = 8,
          sampleCap: Long = 200000): ForestModel =
    fitCv(df.withColumn("__no_fold", lit(-1)), keyCol, arrCol, labelCol,
      "__no_fold", nFolds = 1, d = d, nTrees = nTrees, depth = depth,
      bins = bins, mtry = mtry, seed = seed, nTrials = nTrials,
      sampleCap = sampleCap).head

  /** Fit `nFolds` forests at once — forest f trains on rows whose
    * `foldCol` ≠ f (K-fold CV; with nFolds = 1 and foldCol ≡ -1 this is
    * the plain single fit). See [[fitTrees]]. */
  def fitCv(df: DataFrame, keyCol: String, arrCol: String, labelCol: String,
            foldCol: String, nFolds: Int, d: Int, nTrees: Int = 4,
            depth: Int = 3, bins: Int = 32, mtry: Int = 2, seed: Int = 42,
            nTrials: Int = 8, sampleCap: Long = 200000)
      : IndexedSeq[ForestModel] =
    fitTrees(df, Some(keyCol), arrCol, labelCol, foldCol, nFolds, d,
      0 until nTrees, depth, bins, mtry, seed, nTrials, sampleCap)
      .map(forest(_, nTrials, seed))

  /** [[fitCv]] plus, per fold, the plain tree ([[HistTree.fitCv]]) of
    * the same depth and bins, from the same passes: one min/max pass, one
    * melt checkpoint and `depth` histogram collects fit both. */
  def fitCvWithTree(df: DataFrame, keyCol: String, arrCol: String,
                    labelCol: String, foldCol: String, nFolds: Int, d: Int,
                    nTrees: Int = 4, depth: Int = 3, bins: Int = 32,
                    mtry: Int = 2, seed: Int = 42, nTrials: Int = 8,
                    sampleCap: Long = 200000)
      : IndexedSeq[(TreeModel, ForestModel)] =
    fitTrees(df, Some(keyCol), arrCol, labelCol, foldCol, nFolds, d,
      Plain +: (0 until nTrees), depth, bins, mtry, seed, nTrials, sampleCap)
      .map(ms => (ms.head, forest(ms.tail, nTrials, seed)))

  private def forest(trees: IndexedSeq[TreeModel], nTrials: Int,
                     seed: Int): ForestModel =
    ForestModel(trees, trees.flatMap(_.leaves.values).distinct.sorted,
      nTrials, seed)

  /** Member id of the plain tree in [[fitTrees]]: every row weighs 1
    * and every feature is a candidate at every node. */
  private[ml] val Plain = -1

  /** The one histogram level loop behind HistTree and Forest. Fits, for
    * each fold f (trained on rows whose `foldCol` ≠ f), one tree per
    * entry of `members`: [[Plain]], or forest tree t, whose rows weigh
    * their bootstrap weight on stream t and whose nodes draw `mtry`
    * features from md5("seed:t#node#f"). A member's streams depend only
    * on t, so adding the plain member renumbers nothing. Returns per
    * fold the models in `members` order. Mirrors the oracle's
    * forestCtes(cv = true) stage for stage.
    *
    * The fold and member indices MELT into the histogram key: one
    * distributed aggregate per LEVEL covers every (fold, member, node),
    * so K·M trees cost the same number of driver round-trips as one
    * (the melt multiplies rows inside a map-side explode, never the
    * number of passes). Bins come from each fold's TRAIN min/max (one
    * grouped pass, shared by every member); weights and mtry masks are
    * fold-independent by construction. Past `sampleCap` train rows the
    * per-level histogram reads the md5-thresholded row subsample of
    * `keyCol` (the same rows for every member — split selection only;
    * routing and leaf counts keep full data; see HistTree's object
    * Scaladoc); without a `keyCol` the fit refuses instead.
    *
    * Every model carries full-data per-(node, class) counts for every
    * node of every level: the terminal counts (derived from the last
    * histogram, or one full-data pass on the subsampled route) summed
    * up each node's path to the root. */
  private[ml] def fitTrees(df: DataFrame, keyCol: Option[String],
                           arrCol: String, labelCol: String, foldCol: String,
                           nFolds: Int, d: Int, members: Seq[Int],
                           depth: Int, bins: Int, mtry: Int = 2,
                           seed: Int = 42, nTrials: Int = 8,
                           sampleCap: Long = 200000)
      : IndexedSeq[IndexedSeq[TreeModel]] = {
    require(sampleCap <= HistTree.ExactBound,
      s"sampleCap must stay within the 2^53-exact bound " +
        s"${HistTree.ExactBound}")
    def el(i: Int): Column = element_at(col(arrCol), i + 1).cast("double")
    // per-fold TRAIN min/max + row count in ONE grouped pass
    val folded = df
      .withColumn("cvf", explode(array((0 until nFolds).map(lit): _*)))
      .filter(col(foldCol) =!= col("cvf"))
    val mmAggs = (0 until d).flatMap(i =>
      Seq(min(el(i).cast("long")).as(s"mn_$i"),
        max(el(i).cast("long")).as(s"mx_$i"))) :+ count(lit(1)).as("n")
    val mm = folded.groupBy("cvf").agg(mmAggs.head, mmAggs.tail: _*)
      .collect().map(r => r.getAs[Int]("cvf") -> r).toMap
    val minsK = Array.tabulate(nFolds, d)((f, i) => mm(f).getAs[Long](s"mn_$i"))
    val maxsK = Array.tabulate(nFolds, d)((f, i) => mm(f).getAs[Long](s"mx_$i"))
    val nK = (0 until nFolds).map(f => mm(f).getAs[Long]("n"))
    // weighted rows per tree sum to ~n (E[w] = 1), so HistTree's score
    // ceiling applies per member as-is
    val needSub = nK.exists(_ > sampleCap)
    if (needSub) require(keyCol.nonEmpty,
      "a fold's train size exceeds sampleCap — pass keyCol to enable " +
        "md5-subsampled split selection (refusing rather than letting " +
        "score ranking drift past the 2^53-exact range)")

    // per-fold bin expressions, dispatched on the materialized cvf column
    val b = (0 until d).map { i =>
      (0 until nFolds).foldLeft(lit(null).cast("int")) { (acc, f) =>
        when(col("cvf") === f,
          HistTree.binExprs(arrCol, minsK(f), maxsK(f), bins)(i))
          .otherwise(acc)
      }
    }
    // melt the member index in (map-side explode), weight each pair, drop
    // w=0 — ONE relation feeds every level's histogram for ALL folds and
    // ALL members
    val baseCols = keyCol.map(col).toSeq ++ Seq(col("cvf"),
      col(labelCol).cast("int").as("y"), array(b: _*).as("b")) ++
      (if (!needSub) Nil
       else Seq((0 until nFolds).foldLeft(lit(false)) { (acc, f) =>
         val cond =
           if (nK(f) <= sampleCap) lit(true)
           else HistTree.subsampleCond(keyCol.get, sampleCap, nK(f))
         when(col("cvf") === f, cond).otherwise(acc)
       }.as("insub")))
    val w =
      if (members.forall(_ == Plain)) lit(1L)
      else when(col("tree") === Plain, lit(1L)).otherwise(
        weightExpr(keyCol.get, col("tree"), seed, nTrials).cast("long"))
    val melted = folded.select(baseCols: _*)
      .withColumn("tree", explode(array(members.map(lit): _*)))
      .withColumn("w", w)
      .filter(col("w") > 0)
      .localCheckpoint(true) // depth+1 aggregates read it; hashes are cheap
                             // but re-planning the explode each pass isn't
    if (needSub)
      // realized subsample guard: per (fold, member) the weighted
      // histogram total is Σw over the subsample — measure and refuse
      // past the exact bound instead of drifting
      melted.filter(col("insub")).groupBy("cvf", "tree")
        .agg(sum(col("w")).as("ws")).collect().foreach { r =>
          require(r.getAs[Long]("ws") <= HistTree.ExactBound,
            "realized split-selection subsample weight exceeds the " +
              "2^53-exact bound — lower sampleCap")
        }
    def histSrc(c: DataFrame): DataFrame =
      if (needSub) c.filter(col("insub")) else c
    def allowed(t: Int)(node: Int, f: Int): Boolean =
      t == Plain || allowedFeatures(seed, t, node, d, mtry)(f)

    // `node` is a MATERIALIZED column advanced one projection per level
    // (each level's reassignment references the previous level's node
    // ATTRIBUTE, not its expression — plan size stays linear in total
    // splits where re-inlining the cascade would grow exponentially
    // with depth × trees)
    var cur = melted.withColumn("node", lit(0))
    val splits = Array.fill(nFolds, members.size)(
      scala.collection.mutable.ArrayBuffer.empty[HistTree.Split])
    var lastCounts: Array[((Int, Int), Int, Int, Int, Int, Long)] =
      Array.empty
    var lastBest = Map.empty[((Int, Int), Int), HistTree.Split]
    for (_ <- 0 until depth) {
      // ONE distributed pass per level for every (fold, member)
      val counts = histSrc(cur)
        .select(col("cvf"), col("tree"), col("node"), col("y"), col("w"),
          posexplode(col("b")))
        .groupBy(col("cvf"), col("tree"), col("node"), col("pos").as("f"),
          col("col").as("b"), col("y"))
        .agg(sum(col("w")).as("cnt"))
        .collect()
        .map(r => ((r.getAs[Int]("cvf"), r.getAs[Int]("tree")),
          r.getAs[Int]("node"), r.getAs[Int]("f"), r.getAs[Int]("b"),
          r.getAs[Int]("y"), r.getAs[Long]("cnt")))
      lastCounts = counts
      var lvl: Column = col("node")
      val bestAcc = Map.newBuilder[((Int, Int), Int), HistTree.Split]
      for (f <- 0 until nFolds; (t, mi) <- members.zipWithIndex) {
        val mine = counts.collect {
          case ((`f`, `t`), n, ff, bb, y, c) => (n, ff, bb, y, c) }
        val best = HistTree.selectSplits(mine, bins, allowed(t))
        splits(f)(mi) ++= best
        best.foreach { s =>
          bestAcc += (((f, t), s.node) -> s)
          lvl = when(col("cvf") === f && col("tree") === t &&
              col("node") === s.node,
            when(element_at(col("b"), s.feature + 1) <= s.bin,
              lit(2 * s.node + 1)).otherwise(lit(2 * s.node + 2)))
            .otherwise(lvl)
        }
      }
      lastBest = bestAcc.result()
      cur = cur.withColumn("node", lvl)
    }
    // weighted terminal counts per (fold, member, node, class).
    // Full-data split selection: they are exact cumulative sums of the
    // LAST level's histogram on each node's chosen split
    // (HistTree.deriveLeafCounts) — a dedicated final pass over `melted`
    // would be rework, and was the fit's single biggest pass. The
    // subsampled route keeps the pass: its histogram covers only the
    // subsample, while counts must use full weights.
    val terminal: Array[((Int, Int), Int, Int, Long)] =
      // depth == 0: no level histograms to derive from — groupBy fallback
      if (!needSub && depth > 0)
        HistTree.deriveLeafCounts[(Int, Int)](lastCounts,
          lastBest.map { case (k, s) => k -> (s.feature, s.bin) })
      else cur
        .groupBy("cvf", "tree", "node", "y").agg(sum(col("w")).as("c"))
        .collect()
        .map(r => ((r.getAs[Int]("cvf"), r.getAs[Int]("tree")),
          r.getAs[Int]("node"), r.getAs[Int]("y"), r.getAs[Long]("c")))
    val byModel = terminal.groupBy(_._1)
    (0 until nFolds).map { f =>
      members.zipWithIndex.map { case (t, mi) =>
        val term = byModel.getOrElse((f, t), Array.empty)
          .groupBy(_._2).map { case (node, rs) =>
            node -> rs.map(r => r._3 -> r._4).toMap }
        TreeModel(splits(f)(mi).toSeq, HistTree.majorities(term),
          minsK(f), maxsK(f), bins, rollUp(term))
      }.toIndexedSeq
    }
  }

  /** Class counts of every node from the terminal ones: each row ends at
    * exactly one terminal, so a node's rows are those of the terminals
    * below it. */
  private def rollUp(term: Map[Int, Map[Int, Long]])
      : Map[Int, Map[Int, Long]] = {
    def path(n: Int): Seq[Int] =
      if (n == 0) Seq(0) else n +: path((n - 1) / 2)
    term.toSeq.flatMap { case (n, byY) =>
        for (a <- path(n); (y, c) <- byY) yield (a, y, c) }
      .groupMapReduce(r => (r._1, r._2))(_._3)(_ + _)
      .groupMap(_._1._1) { case ((_, y), c) => y -> c }
      .map { case (n, ys) => n -> ys.toMap }
  }

  /** Per-split weighted impurity decrease — sklearn's impurity-based
    * `feature_importances_` numerator, in the exact-arithmetic form:
    * for a split of node v,
    *   n_v·gini(v) − n_L·gini(L) − n_R·gini(R)
    *     = (Σ_L c²/n_L + Σ_R c²/n_R) − Σ_v c²/n_v
    *     = score(v) − st_v/n_v
    * i.e. the stored split score (one exact double division) minus one
    * more exact division of the fitted class moments — so the DuckDB
    * oracle reproduces every decrease bit-for-bit from the same
    * histogram CTEs. Returns one (tree, node, feature, decrease) row
    * per split; callers DECIMAL-sum by feature (order-independent). */
  def importanceRows(m: ForestModel): Seq[(Int, Int, Int, Double)] =
    m.trees.zipWithIndex.flatMap { case (t, ti) =>
      t.splits.map { sp =>
        val cs = t.classCounts(sp.node).values
        val (st, tn) = (cs.map(c => c * c).sum, cs.sum)
        (ti, sp.node, sp.feature,
          sp.score - st.toDouble / tn.toDouble)
      }
    }
}
