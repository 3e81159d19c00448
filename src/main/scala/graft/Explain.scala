package graft

/** Plan-audit helper: prints the formatted physical plan of named
  * SparkEntry queries without executing them.
  *
  * Usage: `runMain graft.Explain <sfDir> <query-or-prefix> [...]`
  * (prefixes match like Bench: "q142" hits "q142_fuzzy_join").
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <query> [query...]")
    val sfDir = args.head
    val spark = GraftSession.local(32)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(GraftSession.selects(args.tail, _))
    names.foreach { n =>
      println(s"==== $n ====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
