package graft

import org.apache.spark.sql.SparkSession

/** The one session policy for the repo's harness mains and the test
  * suite. [[Pipeline.main]] keeps its own builder: it is the user-facing
  * command and takes its master from `--master`. */
object Sessions {

  /** Confs every query needs, on these sessions and on foreign ones
    * (via [[SparkEntry]]): events.ts may be TIMESTAMP(NANOS) and needs
    * the legacy long read (see `Tables.tsUs`), and the oracle compares
    * against DuckDB's timezone-naive timestamps, so day derivations run
    * in UTC. */
  val compat: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, the [[compat]]
    * confs and no UI; `extra` confs override any of these. */
  def local(extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    (compat ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
