package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** GraftSession is the only session builder: its shared confs reach the
  * session, caller confs win over them, and no other source file builds
  * a session of its own. */
class GraftSessionSpec extends AnyFunSuite {

  test("shared confs are set and caller confs override them") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    core.Tables.requiredConf.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    // TestSpark's own map: 4 shuffle partitions instead of the core count
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(TestSpark.spark.sparkContext.defaultParallelism == 8)
  }

  test("no source file but GraftSession builds a session") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val offenders = Files.walk(Paths.get("src")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala")
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString).toSeq.sorted
    assert(Files.exists(Paths.get("src/main/scala/graft/GraftSession.scala")))
    assert(offenders.isEmpty, s"build sessions via GraftSession: $offenders")
  }
}
