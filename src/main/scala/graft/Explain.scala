package graft

/** Plan-audit helper: print the formatted physical plan of one or
  * more SparkEntry queries without executing them.
  *
  * Usage: runMain graft.Explain <sfDir> <name>[,<name>...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = args match {
      case Array(d, n) => (d, n)
      case _ =>
        System.err.println("usage: graft.Explain <sfDir> <name>[,<name>...]")
        sys.exit(2)
    }
    val spark = Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.split(",").foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      println(s"==== $n ====")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
