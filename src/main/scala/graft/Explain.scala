package graft

/** Plan auditor: prints the formatted physical plan for each named
  * query (or all). Used to confirm filter/column pushdown into the
  * parquet scans, broadcast choices, and whole-stage-codegen coverage.
  *
  * Usage: graft.Explain <sfDir> [query,query,...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // run_verify.sh always passes an outDir as args(1) — and its paths
    // always contain '/'. Only that syntactic shape (or no arg) means
    // "all queries"; anything else is a query list where every name
    // must be known. No filesystem probe: a query name that happened
    // to match a file in the CWD must not silently widen to all
    // queries (the exact fall-through the fail-loud parsing removes).
    val names: Seq[String] = {
      val arg = if (args.length > 1) args(1) else ""
      val isPath = arg.isEmpty || arg.contains("/")
      if (isPath) SparkEntry.queries.keys.toSeq.sorted
      else {
        val asked = arg.split(",").toSeq.filter(_.nonEmpty)
        val unknown = asked.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty) {
          System.err.println(
            s"Unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
              unknown.mkString(", ") +
              s"\nKnown: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
          sys.exit(2)
        }
        asked
      }
    }
    // SPARK_GRAFT_CACHE=true replicates the bench session's PlanCache
    // confs so captured plans match the bench path (persisted shared
    // prefixes) instead of the cold verify path.
    val spark = GraftSession.local(
      cachePrefixes = sys.env.get("SPARK_GRAFT_CACHE").exists(_.toBoolean))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
