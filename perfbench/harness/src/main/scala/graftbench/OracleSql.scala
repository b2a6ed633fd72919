package graftbench

import graft.SparkEntry

/** Prints the DuckDB oracle SQL of the named registry queries as one JSON
  * object, for recomputing the benchmark's expected result hashes.
  *
  * Usage: OracleSql <q1,q2,..> */
object OracleSql {
  def main(args: Array[String]): Unit =
    println(Json.obj(args(0).split(",").toSeq.map(q => q -> SparkEntry.oracleSql(q))))
}
