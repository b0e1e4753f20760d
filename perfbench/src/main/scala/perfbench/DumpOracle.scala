package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes the library's DuckDB oracle SQL for the named queries as one JSON
  * object: `perfbench.DumpOracle <out.json> <name>...`. `pin_hashes.py`
  * runs the SQL to derive the expected result hashes. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val sql = args.drop(1).map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    Files.write(Paths.get(args(0)), Json.write(sql).getBytes(UTF_8))
  }
}
