package perfbench

/** Prints `{"name": "<DuckDB oracle SQL>", ...}` for the query mix's
  * entries; `oracle/make_digests.py` turns it into the committed digests. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    QueryMix.Names.foreach(n => node.put(n, graft.SparkEntry.oracleSql(n)))
    println(m.writerWithDefaultPrettyPrinter().writeValueAsString(node))
  }
}
