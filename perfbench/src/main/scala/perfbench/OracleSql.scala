package perfbench

/** Prints the DuckDB oracle SQL of the curation queries as one JSON object
  * (query name -> SQL), for `run.py` to compute and cache the expected
  * results once per build rather than once per run. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    println(Curation.Queries.map(q =>
      s"${Main.json(q)}:${Main.json(oracles.getOrElse(q, sys.error(s"$q has no oracle SQL")))}")
      .mkString("{", ",", "}"))
  }
}
