package graft.queries

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.{Bench, SparkEntry, TestSpark}
import graft.core.Tables

/** The EP2 build's cost guards and the fitted-state memos' freshness:
  *  - one cold q_pipe_ep2 build runs at most 35 jobs (one shared tree
  *    and forest fit, literal-map scoring);
  *  - the ladder's scored relation plans with no join and no broadcast;
  *  - a rewritten `embeddings` table under the same data dir is refitted
  *    by the EP2, forest and tournament memos.
  */
class Ep2BuildSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  private val Src = s"${graft.core.Env.TestData}/sf0.01"

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[String]

  /** A fresh data dir holding `emb` as its embeddings table (a new dir
    * is a cold key for every memo); deleted after the suite. */
  private def dirWith(emb: DataFrame): String = {
    val d = Files.createTempDirectory("ep2-").toString
    emb.write.parquet(s"$d/embeddings.parquet")
    dirs += d
    d
  }

  override def afterAll(): Unit =
    dirs.foreach(d => JavaUtils.deleteRecursively(new java.io.File(d)))

  private def run(q: String, d: String): Seq[Row] =
    SparkEntry.queries(q)(spark, d).collect().toSeq

  test("one cold q_pipe_ep2 build runs at most 35 jobs") {
    val d = dirWith(Tables(spark, Src, "embeddings"))
    val group = s"ep2-build-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "q_pipe_ep2 cold build")
      SparkEntry.queries("q_pipe_ep2")(spark, d)
      spark.sparkContext.clearJobGroup()
      Bench.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    info(s"${jobs.get} jobs")
    assert(jobs.get > 0 && jobs.get <= 35, s"${jobs.get} jobs")
  }

  test("the ladder's scored relation has no join and no broadcast") {
    val scored = Ep2Queries.ladderScores(spark, Src)
    val qe = scored.queryExecution
    assert(qe.optimizedPlan.collectFirst { case j: Join => j }.isEmpty)
    val plan = qe.executedPlan
    assert(find(plan) {
      case _: BroadcastExchangeExec | _: BaseJoinExec => true
      case _ => false
    }.isEmpty, plan.treeString)
  }

  test("memos refit a rewritten embeddings table (q_pipe_ep2, " +
    "q_l_rf_params)") {
    val qs = Seq("q_pipe_ep2", "q_l_rf_params")
    val full = Tables(spark, Src, "embeddings")
    val fewer = full.filter(col("vec_id") % 3 =!= 0)
    val d = dirWith(full)
    val before = qs.map(run(_, d))
    fewer.write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val after = qs.map(run(_, d))
    val fresh = qs.map(run(_, dirWith(fewer)))
    qs.indices.foreach { i =>
      assert(after(i) == fresh(i), s"${qs(i)} served a stale fit")
      assert(after(i) != before(i), s"${qs(i)}: fixture must change it")
    }
  }
}
