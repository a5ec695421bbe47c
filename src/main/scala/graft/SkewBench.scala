package graft

/** Skew-join evidence runner: executes the q03/q18-shape order⋈lineitem
  * joins over SPARK_GRAFT_SF_DIR with AQE skew handling on and prints one
  * JSON line per configuration — whether OptimizeSkewedJoin ENGAGED
  * (`skew=true` in the executed plan) and the wall time, plus a control
  * run with skew handling off so the artifact shows the straggler cost
  * AQE removes. Meant for tools/gen_skewjoin.py corpora (one hot orderkey
  * holding ~20% of lineitem — the viral-entity shape).
  *
  * Threshold note: the defaults (factor 5 / 256 MB) are tuned for
  * production partitions in the 100 MB–1 GB range; at the measured SF1
  * volume the same RELATIVE settings are applied to proportionally
  * smaller partitions. The mechanism under test — the hot partition being
  * split into parallel sub-reads instead of one straggler task — is
  * volume-independent.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1_skew")
    val spark = GraftSession.build("graft-skewbench", sfDir)
    val skewBytes = sys.env.getOrElse("SPARK_GRAFT_SKEW_THRESHOLD", "8m")
    Seq(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> skewBytes,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> skewBytes
    ).foreach { case (k, v) => spark.conf.set(k, v) }

    val names = Seq("q03_shipping_priority", "q18_large_volume_customers")
    def run(skewOn: Boolean, allowBroadcast: Boolean): Seq[(String, Double, Boolean)] = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      val bc = if (allowBroadcast) "64m" else "-1"
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", bc)
      names.map { n =>
        // collect() (results are top-k rows) so the inspected frame's OWN
        // QueryExecution runs to completion — a noop write spawns a separate
        // execution and leaves df.queryExecution un-final, hiding the skew
        // markers. Warm and timed runs use SEPARATE frames: a re-collect of
        // one frame reuses its materialized shuffle outputs and times only
        // the final stage.
        SparkEntry.queries(n)(spark, sfDir).collect() // warm
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t0 = System.nanoTime()
        df.collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val engaged = df.queryExecution.executedPlan.toString.contains("skew=true")
        if (sys.env.contains("SPARK_GRAFT_SKEW_DEBUG"))
          System.err.println(s"=== $n (skewJoin=$skewOn bc=$allowBroadcast) ===\n" +
            df.queryExecution.executedPlan.toString.take(6000))
        (n, sec, engaged)
      }
    }
    // config 1 — the engine's own plans at this volume: orders broadcasts
    // (q03) and q18 pre-aggregates lineitem per order BEFORE any join, so
    // the hot key collapses map-side — skew-immune by construction;
    // OptimizeSkewedJoin correctly finds nothing to split.
    val engineDefaults = run(skewOn = true, allowBroadcast = true)
    // configs 2+3 — same queries in the at-scale regime (no broadcasts):
    // the engine's shapes STILL dodge the hot key (q03's date filter
    // thins it; q18's partial aggregate absorbs it).
    val smjOff = run(skewOn = false, allowBroadcast = false)
    val smjOn = run(skewOn = true, allowBroadcast = false)

    // configs 4+5 — the shape where skew genuinely bites: a ROW-LEVEL
    // orders⋈lineitem join (no pre-aggregation, no broadcast), the plan a
    // naive formulation of q03/q18 would run. The hot key's partition is
    // ~6x its peers; AQE's skew-split must engage (skew=true) and remove
    // the straggler.
    def rawJoin(skewOn: Boolean): (Double, Boolean) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      import org.apache.spark.sql.functions._
      val li = Tables.df(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_quantity", "l_returnflag")
      val ord = Tables.df(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderpriority")
      def build() = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum("l_extendedprice").as("rev"), count(lit(1)).as("n"))
      build().collect() // warm (5 priority rows out; fresh frame below)
      val j = build()
      val t0 = System.nanoTime()
      j.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val engaged = j.queryExecution.executedPlan.toString.contains("skew=true")
      if (sys.env.contains("SPARK_GRAFT_SKEW_DEBUG"))
        System.err.println(s"=== raw_join (skewJoin=$skewOn) ===\n" +
          j.queryExecution.executedPlan.toString.take(6000))
      (sec, engaged)
    }
    val rawOff = rawJoin(skewOn = false)
    val rawOn = rawJoin(skewOn = true)
    def block(rs: Seq[(String, Double, Boolean)]) = rs.map { case (n, s, e) =>
      s""""$n":{"sec":${math.round(s * 1000) / 1000.0},"skew_engaged":$e}"""
    }.mkString("{", ",", "}")
    def raw(r: (Double, Boolean)) =
      s"""{"sec":${math.round(r._1 * 1000) / 1000.0},"skew_engaged":${r._2}}"""
    println(s"""{"metric":"skew_join","sf":"$sfDir",""" +
      s""""engine_defaults_broadcast":${block(engineDefaults)},""" +
      s""""forced_smj_skew_off":${block(smjOff)},""" +
      s""""forced_smj_skew_on":${block(smjOn)},""" +
      s""""raw_rowlevel_join_skew_off":${raw(rawOff)},""" +
      s""""raw_rowlevel_join_skew_on":${raw(rawOn)},""" +
      s""""raw_join_engaged":${rawOn._2}}""")
    spark.stop()
  }
}
