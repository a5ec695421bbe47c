package graft

/** Plan inspector: prints the formatted physical plan of the named queries
  * (default: a representative set) so scan pushdown, broadcast choices, and
  * whole-stage codegen coverage can be reviewed. The session is Bench's:
  * [[GraftSession]] plus the primed cache, so the plan printed is the one
  * the bench executes (InMemoryScan over the clustered layout). Usage:
  *   graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume")
    val spark = GraftSession.build("graft-explain", sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    Tables.prime(spark, sfDir, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
