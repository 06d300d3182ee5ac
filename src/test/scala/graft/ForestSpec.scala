package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Forest, HistTree}

class ForestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def frame(rows: Seq[(Long, Int, Seq[Double])]) =
    rows.toDF("id", "y", "xs").select(col("id"), col("y"),
      col("xs").cast("array<double>").as("x"))

  private def fixture(n: Int, seed: Int = 7) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      val c = rng.nextInt(3)
      (i.toLong, c, Seq(c * 50.0 + rng.nextInt(80),
        rng.nextInt(200).toDouble, c * 30.0 + rng.nextInt(100),
        rng.nextInt(50).toDouble))
    }
  }

  test("fit is deterministic and every split respects the mtry mask") {
    val df = frame(fixture(400))
    val m1 = Forest.fit(df, "id", "x", "y", d = 4, nTrees = 3, depth = 3,
      bins = 32, mtry = 2)
    val m2 = Forest.fit(df.repartition(13), "id", "x", "y", d = 4,
      nTrees = 3, depth = 3, bins = 32, mtry = 2)
    assert(m1.trees.map(_.splits) == m2.trees.map(_.splits))
    assert(m1.trees.map(_.leaves) == m2.trees.map(_.leaves))
    m1.trees.zipWithIndex.foreach { case (t, ti) =>
      t.splits.foreach { s =>
        val allowed = Forest.allowedFeatures(42, ti, s.node, 4, 2)
        assert(allowed(s.feature),
          s"tree $ti node ${s.node} split on ${s.feature} not in $allowed")
      }
    }
    // trees must actually differ (bootstrap + mtry de-correlate them)
    assert(m1.trees.map(_.splits).distinct.size > 1)
  }

  test("impurity importance: every decrease positive, informative dims dominate") {
    // fixture: dims 0 and 2 carry the class signal, dims 1 and 3 are
    // noise — impurity importance must (a) be positive per split (the
    // fit only splits on STRICT integer-tested improvement), (b) have
    // node moments for every split node, (c) put most normalized mass
    // on the informative dims
    val df = frame(fixture(600))
    val m = Forest.fit(df, "id", "x", "y", d = 4, nTrees = 4, depth = 3,
      bins = 32, mtry = 2)
    val rows = Forest.importanceRows(m)
    assert(rows.nonEmpty)
    assert(rows.forall(_._4 > 0), "strict improvement => positive decrease")
    m.trees.foreach(t =>
      t.splits.foreach(sp => assert(t.classCounts.contains(sp.node))))
    val byF = rows.groupBy(_._3).view.mapValues(_.map(_._4).sum).toMap
    val tot = byF.values.sum
    val informative = (byF.getOrElse(0, 0.0) + byF.getOrElse(2, 0.0)) / tot
    assert(informative > 0.7,
      s"informative dims carry $informative of importance mass ($byF)")
  }

  test("bootstrap leaves ~ (7/8)^8 = 34% of rows out-of-bag per tree") {
    val df = frame(fixture(800))
    val oobFrac = (0 until 3).map { t =>
      df.select((Forest.weightExpr("id", lit(t), 42, 8) === 0)
          .cast("int").as("oob"))
        .agg(avg("oob")).head().getDouble(0)
    }
    oobFrac.foreach(f => assert(f > 0.25 && f < 0.45, s"oob=$f"))
  }

  test("forest vote beats the majority baseline; OOB columns line up") {
    val rows = fixture(600)
    val df = frame(rows)
    val m = Forest.fit(df, "id", "x", "y", d = 4, nTrees = 4, depth = 3,
      bins = 32, mtry = 2)
    val acc = df.select(avg((col("y") === m.predictExpr("x")).cast("int")))
      .head().getDouble(0)
    val baseline = rows.groupBy(_._2).map(_._2.size).max.toDouble / rows.size
    assert(acc > baseline + 0.2, s"acc=$acc baseline=$baseline")
  }

  test("vote ties go to the smallest label; all-abstain rows predict null") {
    // two stumpless trees voting different labels -> tie -> smaller wins
    val t1 = HistTree.TreeModel(Nil, Map(0 -> 5), Array(0L), Array(9L), 8)
    val t2 = HistTree.TreeModel(Nil, Map(0 -> 3), Array(0L), Array(9L), 8)
    val m = Forest.ForestModel(IndexedSeq(t1, t2), Seq(3, 5), 8, 42)
    val df = Seq((1L, Seq(4.0))).toDF("id", "xs")
      .select(col("id"), col("xs").cast("array<double>").as("x"))
    assert(df.select(m.predictExpr("x")).head().getInt(0) == 3)
    // leaves that cover no node -> every tree abstains -> null
    val empty = HistTree.TreeModel(Nil, Map(7 -> 5), Array(0L), Array(9L), 8)
    val mAb = Forest.ForestModel(IndexedSeq(empty), Seq(5), 8, 42)
    assert(df.select(mAb.predictExpr("x")).head().isNullAt(0))
  }
}
