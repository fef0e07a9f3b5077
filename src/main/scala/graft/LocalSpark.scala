package graft
import org.apache.spark.sql.SparkSession

/** The one local-mode session builder for Bench, Verify, Profile, the
  * ScaleSanity fixture builder and the test suites: `local[cores]`,
  * shuffle partitions = cores, UTC session zone (tz-naive fixture
  * timestamps surface as session-zone instants, so an unpinned zone
  * would make hour/day groupings depend on the host), UI off. Callers
  * add only the confs that differ and call `getOrCreate()`.
  * [[Graft.main]] is the cluster entry and builds its own session.
  */
object LocalSpark {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
