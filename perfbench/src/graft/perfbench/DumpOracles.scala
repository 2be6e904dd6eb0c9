package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes the DuckDB oracle SQL of every registered query that has one,
  * as one JSON object, for `run.py`.
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v) }
    Files.write(Paths.get(args(0)), m.writeValueAsString(root).getBytes(UTF_8))
  }
}
