package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

/** Writes the DuckDB oracle SQL of the curation queries as JSON, the input
  * of `record_oracle.py`.
  *
  * Usage: OracleSql <outFile>
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = ListMap(Curate.Queries.map(q => q -> graft.SparkEntry.oracleSql(q)): _*)
    Files.writeString(Paths.get(args(0)), Json.write(sql))
  }
}
