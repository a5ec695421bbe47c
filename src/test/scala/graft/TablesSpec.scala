package graft

/** Tables' session-facing caches: a long-lived server creates a derived
  * SparkSession per connection, so nothing in Tables may retain a session
  * for process lifetime. The frame cache was removed outright (frames are
  * cheap to rebuild; the expensive temporal-unit sniff memoizes
  * session-free per file) and the per-session registration marker uses
  * weak keys — this suite pins the eviction behavior.
  */
class TablesSpec extends SparkSpecBase {

  test("temporal-unit sniff memoizes per file: one probe job across sessions") {
    // the sniff collect is the only job frame construction runs; once a
    // file+column has been probed, frames for OTHER sessions reuse the
    // sample magnitude without any session-keyed DataFrame cache
    // prime the sniff memo AND any per-process file listing through a
    // DERIVED session (the shared test session may serve a primed frame
    // that bypasses load() entirely)
    Tables.df(spark.newSession(), sfDir, "events").schema
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(j.stageInfos.map(_.name).mkString("|")); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val derived = spark.newSession()
      Tables.df(derived, sfDir, "events").schema
      var tries = 0
      var last = -1
      while (tries < 20 && jobs.size != last) {
        last = jobs.size; Thread.sleep(100); tries += 1
      }
      assert(jobs.isEmpty,
        s"frame construction after the sniff memo is footer-only, saw: " +
          jobs.toArray.mkString("[", ", ", "]"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("derived sessions are evicted from the registration cache after GC") {
    val base = Tables.sessionCacheSize
    // hold strong refs during registration — a GC mid-loop may otherwise
    // evict earlier sessions before the size assertion (observed: the weak
    // map evicts eagerly, which is exactly the fix under test)
    val held = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.SparkSession]
    (1 to 6).foreach { _ =>
      val s = spark.newSession()
      Tables.registerAll(s, sfDir)
      assert(s.catalog.tableExists("region"), "view registered in derived session")
      held += s
    }
    assert(Tables.sessionCacheSize >= base + 6,
      s"six live sessions tracked, size=${Tables.sessionCacheSize} base=$base")
    held.clear()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    var tries = 0
    while (Tables.sessionCacheSize > base && tries < 100) {
      System.gc(); Thread.sleep(50); tries += 1
    }
    assert(Tables.sessionCacheSize <= base,
      s"dead sessions must collect out of the weak map: " +
        s"${Tables.sessionCacheSize} retained > $base baseline")
  }

  test("SPARK_GRAFT_PART_BYTES: byte counts and k/m/g sizes parse; bad values fail naming it") {
    assert(Tables.partBytes(None) == 12000000L)
    assert(Tables.partBytes(Some("12000000")) == 12000000L)
    assert(Tables.partBytes(Some("512m")) == (512L << 20))
    Seq("0", "abc").foreach { v =>
      val e = intercept[IllegalArgumentException](Tables.partBytes(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_PART_BYTES"), e.getMessage)
    }
  }
}
