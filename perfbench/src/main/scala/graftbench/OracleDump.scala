package graftbench

/** Writes `SparkEntry.oracleSql` (the DuckDB SQL that defines each
  * query's expected answer) as JSON to the file named by the argument.
  * make_expected.py derives the committed expected digests from it. */
object OracleDump {
  def main(args: Array[String]): Unit =
    Main.write(new java.io.File(args(0)), Main.toJson(graft.SparkEntry.oracleSql))
}
