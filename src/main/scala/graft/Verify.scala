package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build("graft-verify", sfDir)
    new java.io.File(outDir).mkdirs()
    // Dump the oracle SQL FIRST: if anything later in this run dies, the
    // driver still has the contract half of the compare instead of an
    // empty correctness round.
    writeOracleSql(outDir)
    // Register once up front (it is synchronized; each step inside
    // degrades independently), then dump queries with a small inter-query
    // pool — the shared scheduler interleaves their jobs, cutting the
    // 240-query sweep's wall time well below sequential.
    try Tables.registerAll(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] registerAll failed: ${e.getMessage}") }
    val conc = sys.env.getOrElse("SPARK_GRAFT_VERIFY_CONC", "6").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
    val tasks = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            // remove any STALE output from a previous run: a leftover dir
            // would make the driver compare an old result and false-pass
            // the very query that just broke
            try {
              def rm(f: java.io.File): Unit = {
                Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
              }
              rm(new java.io.File(s"$outDir/$name"))
            } catch { case _: Throwable => () }
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    spark.stop()
  }

  private def writeOracleSql(outDir: String): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
