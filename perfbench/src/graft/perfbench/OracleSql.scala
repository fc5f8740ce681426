package graft.perfbench

import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of the named queries as one JSON object:
  * `OracleSql <out.json> <name>...`. Names without an oracle are left out. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(args(0)),
      Main.json(args.drop(1).flatMap(n => oracle.get(n).map(n -> _)).toMap))
  }
}
