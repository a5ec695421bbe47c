package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session policy: the server (`wire.ServeMain`) and every
  * measuring main (Bench, Profile, Explain, Verify, PipeBench, SkewBench)
  * build their session here, so the plans the bench proves are the plans
  * the server runs.
  */
object GraftSession {
  /** Cores of the local master: SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Settings fixed when the SparkContext starts. */
  def contextConf: Map[String, String] =
    Map("spark.master" -> s"local[$cpus]", "spark.ui.enabled" -> "false")

  def build(appName: String, sfDir: String): SparkSession = {
    val spark = SparkSession.builder().appName(appName).config(contextConf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark, sfDir)
  }

  /** Applies the session-level policy for the tables under `sfDir`.
    * Idempotent: the values follow from `sfDir` and the environment alone. */
  def configure(spark: SparkSession, sfDir: String): SparkSession = {
    // Partitions follow the data volume (Tables.volumeParts): at sf0.1 that
    // is one, so each query is a single-task pipeline with no shuffle
    // scheduling and a workload parallelizes across queries instead
    // (measured 1.8x faster than 8 partitions).
    val parts = Tables.volumeParts(sfDir)
    // AQE follows the partition count: with a single shuffle partition
    // there is nothing for it to adapt (no skew, no coalescing, no join
    // re-plan) and its per-stage re-optimization is pure overhead (~14% of
    // sequential wall at sf0.1); once the volume rule yields >1 partition,
    // i.e. at any real scale, AQE is on.
    val aqe = (parts > 1).toString
    Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      // Above the SHJ size gate the forced shuffle_hash hints are dropped
      // (Tables.shjSized); these two settings are the graceful fallback:
      // the planner may still pick shuffled-hash when its per-partition
      // size conditions hold, AQE may rewrite SMJ to SHJ when every
      // post-shuffle partition fits the same budget, and sort-merge, which
      // spills, remains the safety net.
      "spark.sql.join.preferSortMergeJoin" -> "false",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" ->
        Tables.ShjGateBytes.toString,
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> aqe,
      "spark.sql.adaptive.coalescePartitions.enabled" -> aqe
    ).foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
