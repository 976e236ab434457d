package graft.tools

import java.nio.file.{Files, Paths}

/** Writes the CURRENT oracle_sql.json for a fixture dir without running
  * any query — the same bytes Verify writes at the END of its dump
  * (`graft.Verify.oracleJson`), so a pipelined sweep
  * (tools/sweepwaves.sh) can start DuckDB compares while the dump JVM
  * is still working instead of stashing a prior-round copy that
  * silently misses newly added queries.
  *
  * Usage: runMain graft.tools.DumpOracleSql <sfDir> <outDir>
  */
object DumpOracleSql {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.Verify.oracleJson(sfDir))
    println(s"[dump-oracle] ${graft.SparkEntry.oracleSql.size} oracle texts -> $outDir/oracle_sql.json")
  }
}
