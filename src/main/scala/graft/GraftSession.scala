package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured, so the oracle dump
  * (`Verify`), the timed run (`Bench`), the tests, the explain tool and
  * the probe mains all plan on the same settings.
  */
object GraftSession {

  /** Core count from `SPARK_GRAFT_CPUS`, else every available processor.
    * Anything but a positive integer fails here, naming the variable,
    * instead of as an unparseable `local[...]` master deep inside Spark.
    */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS") match {
      case None => Runtime.getRuntime.availableProcessors
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** `local[cores]` with one shuffle partition per core, AQE on, UTC, UI
    * off and log level WARN. Callers add anything else (warehouse dir,
    * app name) before `getOrCreate()`.
    */
  def builder(cores: Int = cpus()): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the default 128 MB leaves every local fixture file a single split,
      // so scan-side map work (explodes, parses) runs on one core; 8 MB
      // splits multi-row-group files across cores. On a real cluster the
      // default is right, hence the override.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "8388608"))
      .config("spark.log.level", "WARN")
}
