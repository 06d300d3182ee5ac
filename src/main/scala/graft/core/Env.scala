package graft.core

import scala.util.matching.Regex

/** Every `SPARK_GRAFT_*` setting, parsed and validated in one place.
  *
  * [[Env.parse]] is a pure function of the variable map, so a bad value
  * fails with a message naming the variable and the value BEFORE any
  * session is built, instead of surfacing later as a raw
  * NumberFormatException / MatchError / `empty.minBy` deep in a main.
  * A variable that is set but empty is an error, not a default.
  *
  * @param sfDir             SPARK_GRAFT_SF_DIR — scale-factor directory
  *                          the bench reads (each caller has its default)
  * @param cpus              SPARK_GRAFT_CPUS — local core count (32)
  * @param benchIters        SPARK_GRAFT_BENCH_ITERS — timed runs per
  *                          query (2)
  * @param benchFilter       SPARK_GRAFT_BENCH_FILTER — regex over query
  *                          names; unset = the whole catalog
  * @param verifyResume      SPARK_GRAFT_VERIFY_RESUME — `1` skips queries
  *                          whose Verify output already exists (`0`)
  * @param extraConf         SPARK_GRAFT_EXTRA_CONF — `k=v;k=v` session
  *                          confs for A/B experiments, applied last
  * @param shufflePartitions SPARK_GRAFT_SHUFFLE_PARTITIONS — overrides
  *                          the data-sized rule ([[Sizing]])
  * @param localDir          SPARK_GRAFT_LOCAL_DIR — `spark.local.dir`
  *                          (shuffle scratch); unset = Spark's default.
  *                          There is deliberately no tmpfs auto-pick: the
  *                          r13 `/dev/shm` default blew shuffle-heavy
  *                          queries up 1.6-6× at 32 cores under load
  *                          (tmpfs pages are charged against the
  *                          container's memory) for a ~9% idle upside.
  */
final case class Env(
    sfDir: Option[String] = None,
    cpus: Int = 32,
    benchIters: Int = 2,
    benchFilter: Option[Regex] = None,
    verifyResume: Boolean = false,
    extraConf: Seq[(String, String)] = Nil,
    shufflePartitions: Option[Int] = None,
    localDir: Option[String] = None) {

  /** Does the name filter (if any) admit `name`? */
  def selects(name: String): Boolean =
    benchFilter.forall(_.findFirstIn(name).isDefined)
}

object Env {
  /** Root of the catalog's parquet test data (one dir per scale factor). */
  val TestData = "/root/testdata"

  /** Parses the `SPARK_GRAFT_*` entries of `vars`; other keys are
    * ignored. Throws IllegalArgumentException naming the variable and
    * its bad value. */
  def parse(vars: Map[String, String]): Env = {
    def bad(name: String, v: String, want: String) =
      throw new IllegalArgumentException(s"$name='$v': $want")
    def get(name: String): Option[String] = vars.get(name).map { v =>
      if (v.isEmpty) bad(name, v, "set but empty (unset it for the default)")
      v
    }
    def positive(name: String): Option[Int] = get(name).map { v =>
      v.toIntOption.filter(_ > 0)
        .getOrElse(bad(name, v, "expected a positive integer"))
    }
    val d = Env()
    Env(
      sfDir = get("SPARK_GRAFT_SF_DIR"),
      cpus = positive("SPARK_GRAFT_CPUS").getOrElse(d.cpus),
      benchIters = positive("SPARK_GRAFT_BENCH_ITERS").getOrElse(d.benchIters),
      benchFilter = get("SPARK_GRAFT_BENCH_FILTER").map { v =>
        try v.r catch {
          case e: java.util.regex.PatternSyntaxException =>
            bad("SPARK_GRAFT_BENCH_FILTER", v, e.getDescription)
        }
      },
      verifyResume = get("SPARK_GRAFT_VERIFY_RESUME").exists {
        case "1" => true
        case "0" => false
        case v => bad("SPARK_GRAFT_VERIFY_RESUME", v, "expected 0 or 1")
      },
      extraConf = get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap { v =>
        v.split(";", -1).toSeq.map { kv =>
          kv.split("=", 2).map(_.trim) match {
            case Array(k, x) if k.nonEmpty => k -> x
            case _ => bad("SPARK_GRAFT_EXTRA_CONF", v,
              s"entry '$kv' is not of the form key=value")
          }
        }
      },
      shufflePartitions = positive("SPARK_GRAFT_SHUFFLE_PARTITIONS"),
      localDir = get("SPARK_GRAFT_LOCAL_DIR"))
  }

  /** The process environment, parsed once. Throws on a bad value (and
    * keeps throwing on every access: a failed lazy val is retried). */
  lazy val current: Env = parse(sys.env)

  /** [[current]] for a main: a bad value prints one line and exits 2. */
  def orExit(): Env =
    try current catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[env] ${e.getMessage}")
        sys.exit(2)
    }
}
