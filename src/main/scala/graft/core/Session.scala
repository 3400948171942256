package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-session factory for every non-contract main and the
  * test suites: master `local[cpus]`, one shuffle partition per core,
  * AQE on, UTC session time zone, UI off. The driver-contract mains
  * (`Bench`, `Verify`) keep their own builders.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else the cores this JVM can see. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
