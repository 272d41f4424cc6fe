package graftbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes the DuckDB oracle SQL of the named catalog rows as one JSON
  * object (rows without an oracle are left out).
  *
  * Usage: `Oracles <out.json> <row,row,...>`
  */
object Oracles {
  def main(args: Array[String]): Unit = {
    val names = args(1).split(",").toSet
    Files.writeString(Paths.get(args(0)),
      Json(SparkEntry.oracleSql.filter { case (k, _) => names(k) }))
  }
}
