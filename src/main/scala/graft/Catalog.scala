package graft

/** Diagnostic main: prints the README §5 query-catalog markdown from the
 *  live SparkEntry inventory, so the docs can never drift from the code. */
object Catalog {
  def main(args: Array[String]): Unit = {
    val defs = SparkEntry.modules.flatMap { case (mod, ds) => ds.map(mod -> _) }
    println("| # | Query | Module | Oracle |")
    println("|---|---|---|---|")
    for (((mod, d), i) <- defs.zipWithIndex) {
      val oracle = if (d.oracle.isDefined) "DuckDB hash" else "rows-only + spec"
      println(s"| ${i + 1} | `${d.name}` | $mod | $oracle |")
    }
    println(s"\n${defs.size} queries, ${defs.count(_._2.oracle.isDefined)} with DuckDB oracles")
  }
}
