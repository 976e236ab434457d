package graft.tools

import org.apache.spark.sql.SparkSession

/** One local-session factory for the ad-hoc tools (Explain, EntrySmoke)
  * so the config block can't drift between copies. Bench/Verify keep
  * their own builders: their configs are part of the driver contract. */
object ToolSession {
  /** `cores` sizes both the local master and shuffle partitions —
    * measurement tools whose subject is PARALLELISM itself (DiagJobs)
    * must run at the driver's core count or they serialize the very
    * property they measure; the quick plan-audit tools keep the 4-core
    * default. */
  def local(cores: Int = 4): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
