package graft

import org.apache.spark.sql.SparkSession

/** Dev-side timing sweep for the training-data pipeline operators (the
  * TPC-H sweep lives in [[Bench]], the driver contract). Times each named
  * query from SparkEntry.queries with a noop sink after one untimed warmup
  * and prints one JSON line — the numbers SCALE.md cites are produced here.
  *
  * Usage: graft.PipeBench [sfDir] [name ...]   (default: the headline ops)
  */
object PipeBench {
  private val DefaultOps = Seq(
    "dd_exact_dedup", "dd_minhash_lsh", "dd_simhash", "dd_ngram_jaccard",
    "dd_cluster_cc", "dd_embedding_lsh", "dd_semdedup", "dd_line_dedup",
    "dd_intra_doc", "sim_cosine_topk", "sim_ivf", "sim_ivfpq", "sim_kmeans_iter",
    "txt_token_count", "txt_lang_id", "txt_quality_score", "txt_gopher_rules",
    "txt_tfidf", "txt_decontaminate", "txt_bloom_decontaminate",
    "txt_global_shuffle", "txt_seq_pack", "mm_batch_infer",
    "dd_substring", "txt_dsir", "sim_knn_graph",
    "txt_classifier_score", "sim_semantic_decon", "txt_heavy_hitters",
    "mm_pixel_stats", "mm_audio_stats", "mm_video_samples",
    "mm_image_dedup", "mm_audio_dedup", "mm_video_dedup",
    "mm_corpus_curation")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultOps
    val spark = GraftSession.build("graft-pipebench", sfDir)
    Tables.registerAll(spark, sfDir)
    if (names == Seq("writes")) { benchWrites(spark, sfDir); spark.stop(); return }
    def once(name: String): Double = {
      // construction INSIDE the timer: iterative ops (cluster_cc, kmeans)
      // execute their driver loop while the query function builds the plan
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val timed = names.map { n =>
      once(n) // warmup: JIT + codegen + footer reads
      n -> once(n)
    }
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"pipeline_ops","unit":"sec","sf":"$sfDir","queries":$qs}""")
    spark.stop()
  }

  /** Write-path sweep (`graft.PipeBench <sfDir> writes`): the COW DML
    * scenarios SCALE.md cites — point/range/full UPDATE, DELETE, keyed
    * MERGE over an 8-file sorted sf-dir lineitem. The point of the numbers
    * is the FILE COUNTS: a point update must rewrite ~1 of 8 files and a
    * full update all 8, with time tracking the rewritten fraction. */
  private def benchWrites(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("graft-wbench").toString
    val store = new Store(spark, wh)
    val li = Tables.df(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    val maxKey = li.agg(max("l_orderkey")).head().getLong(0)
    def run(what: String)(body: => (Long, Int, Int)): String = {
      store.replaceSorted("wb_li", li, "l_orderkey", 8)
      val t0 = System.nanoTime()
      val (rows, rewritten, total) = body
      val sec = (System.nanoTime() - t0) / 1e9
      f""""$what":{"sec":$sec%.3f,"rows":$rows,"files_rewritten":$rewritten,"files_total":$total}"""
    }
    val upd = Seq("l_quantity" -> "l_quantity + 1")
    val parts = Seq(
      run("update_point")(
        store.updateWhere("wb_li", upd, Some(s"l_orderkey = ${maxKey / 2}"))),
      run("update_range_1pct")(
        store.updateWhere("wb_li", upd,
          Some(s"l_orderkey BETWEEN 1 AND ${maxKey / 100}"))),
      run("delete_range_1pct")(
        store.deleteWhere("wb_li", Some(s"l_orderkey > ${maxKey - maxKey / 100}"))),
      run("merge_keyed_batch") {
        val batch = li.filter(col("l_orderkey") % 577 === 0)
          .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
          .select(col("l_orderkey").as("k"), col("q"))
        val (u, d, i) = store.merge("wb_li", batch, "l_orderkey", "k",
          Seq(Store.MatchedUpdate(None, Seq("l_quantity" -> "s.q"))),
          targetAlias = "t", sourceAlias = "s")
        (u + d + i, -1, -1)
      },
      run("update_full")(store.updateWhere("wb_li", upd, None)))
    println(s"""{"metric":"write_ops","unit":"sec","sf":"$sfDir","ops":{${parts.mkString(",")}}}""")
  }
}
