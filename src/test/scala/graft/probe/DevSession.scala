package graft.probe

import org.apache.spark.sql.SparkSession

/** The session every dev main runs in: `local[32]`, UTC, no UI, ERROR
  * logs, and `parts` shuffle partitions (32 by default, the width the
  * recorded sweeps were taken at). Fixtures come from
  * `SPARK_GRAFT_SF_DIR` (default sf0.1). */
object DevSession {
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def apply(parts: String = "32"): SparkSession = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
