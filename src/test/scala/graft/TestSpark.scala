package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  // all available cores (was local[4] on a 32-core host — the suite's
  // MLlib parity fits and concurrent per-test jobs were 4-way bound;
  // every operator under test is partitioning/parallelism-invariant by
  // contract, so only the wall clock changes); tiny per-test jobs stay
  // at few tasks (parallelize/range default to the core count otherwise
  // — 8× the task-launch overhead across thousands of sub-second test
  // jobs); the extra cores serve the CONCURRENT fits of the parity
  // suites, not per-job fan-out
  lazy val spark: SparkSession = GraftSession(None, None,
    Map("spark.default.parallelism" -> "8",
      "spark.sql.shuffle.partitions" -> "4"),
    logLevel = "ERROR")
}
