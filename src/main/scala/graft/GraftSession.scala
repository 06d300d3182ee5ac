package graft

import org.apache.spark.sql.SparkSession
import graft.core.{Env, Sizing, Tables}

/** The one place a local SparkSession is built. Shared confs are set here
  * once: the parquet timestamp confs every table scan needs
  * ([[Tables.requiredConf]]), UI off, session timezone UTC (the oracle's),
  * shuffle partitions sized from the data ([[Sizing]]), the optional
  * `SPARK_GRAFT_LOCAL_DIR` shuffle scratch, and the log level. Callers
  * pass only what differs between them.
  *
  * @param cores    local core count; None = every core (`local[*]`)
  * @param sfDir    data the shuffle partitions are sized from; None =
  *                 one partition per core
  * @param conf     caller confs, applied last (they win over the above)
  * @param logLevel SparkContext log level
  */
object GraftSession {
  def apply(cores: Option[Int], sfDir: Option[String],
            conf: Iterable[(String, String)] = Nil,
            logLevel: String = "WARN"): SparkSession = {
    val env = Env.current
    val n = cores.getOrElse(Runtime.getRuntime.availableProcessors)
    val partitions = sfDir.fold(env.shufflePartitions.getOrElse(n))(
      Sizing.shufflePartitions(_, n))
    val shared = Tables.requiredConf ++ Map(
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.shuffle.partitions" -> partitions.toString) ++
      env.localDir.map("spark.local.dir" -> _)
    val builder = SparkSession.builder()
      .master(s"local[${cores.fold("*")(_.toString)}]")
    (shared ++ conf).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
