package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Env

/** `Env.parse` is a pure function of the variable map: every bad
  * `SPARK_GRAFT_*` value fails here, naming the variable and the value,
  * before any session could be built. */
class EnvSpec extends AnyFunSuite {

  private def failure(vars: (String, String)*): String =
    intercept[IllegalArgumentException](Env.parse(vars.toMap)).getMessage

  test("unset variables give the defaults; unrelated keys are ignored") {
    val e = Env.parse(Map("PATH" -> "/bin", "SPARK_LOCAL_DIRS" -> ""))
    assert(e == Env())
    assert(e.cpus == 32 && e.benchIters == 2 && !e.verifyResume)
    assert(e.sfDir.isEmpty && e.shufflePartitions.isEmpty && e.localDir.isEmpty)
    assert(e.selects("q_anything"))
  }

  test("every variable parses to its typed field") {
    val e = Env.parse(Map(
      "SPARK_GRAFT_SF_DIR" -> "data/sf1",
      "SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_BENCH_ITERS" -> "3",
      "SPARK_GRAFT_BENCH_FILTER" -> "q_x_|q_v_",
      "SPARK_GRAFT_VERIFY_RESUME" -> "1",
      "SPARK_GRAFT_EXTRA_CONF" -> "spark.sql.adaptive.enabled = false;a=b=c",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "96",
      "SPARK_GRAFT_LOCAL_DIR" -> "/tmp/spark-shuffle"))
    assert(e.sfDir.contains("data/sf1"))
    assert(e.cpus == 8 && e.benchIters == 3 && e.verifyResume)
    assert(e.selects("q_x_bm25") && e.selects("q_v_ivf_ann") && !e.selects("q_a1_tpch_q1"))
    assert(e.extraConf == Seq("spark.sql.adaptive.enabled" -> "false", "a" -> "b=c"))
    assert(e.shufflePartitions.contains(96) && e.localDir.contains("/tmp/spark-shuffle"))
    assert(!Env.parse(Map("SPARK_GRAFT_VERIFY_RESUME" -> "0")).verifyResume)
  }

  test("shuffle partitions: empty or non-integer fails with name and value") {
    for (v <- Seq("", "abc", "1.5", "0", "-4")) {
      val msg = failure("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> v)
      assert(msg.contains("SPARK_GRAFT_SHUFFLE_PARTITIONS") && msg.contains(s"'$v'"), msg)
    }
  }

  test("empty cpus and zero bench iterations fail with name and value") {
    val cpus = failure("SPARK_GRAFT_CPUS" -> "")
    assert(cpus.contains("SPARK_GRAFT_CPUS=''"), cpus)
    val iters = failure("SPARK_GRAFT_BENCH_ITERS" -> "0")
    assert(iters.contains("SPARK_GRAFT_BENCH_ITERS='0'"), iters)
  }

  test("extra conf: an entry without '=' or a trailing ';' fails") {
    for (v <- Seq("a=1;b", "a=1;", "=1", "")) {
      val msg = failure("SPARK_GRAFT_EXTRA_CONF" -> v)
      assert(msg.contains(s"SPARK_GRAFT_EXTRA_CONF='$v'"), msg)
    }
  }

  test("a bad filter regex or resume flag fails with name and value") {
    val re = failure("SPARK_GRAFT_BENCH_FILTER" -> "q_(")
    assert(re.contains("SPARK_GRAFT_BENCH_FILTER='q_('"), re)
    val resume = failure("SPARK_GRAFT_VERIFY_RESUME" -> "yes")
    assert(resume.contains("SPARK_GRAFT_VERIFY_RESUME='yes'"), resume)
  }
}
