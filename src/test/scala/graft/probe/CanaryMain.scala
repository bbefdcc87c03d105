package graft.probe

/** Standalone HostCanary runner — brackets measurements of OLD-commit
  * builds (which predate HostCanary) so a same-day A/B can be read
  * canary-relative: run this → the old build's probe → this again,
  * and divide by the mean of the two anchors. */
object CanaryMain {
  def main(args: Array[String]): Unit = {
    val spark = DevSession()
    println(f"canary_sec ${graft.HostCanary.canarySec(spark, DevSession.sfDir)}%.3f")
    spark.stop()
  }
}
