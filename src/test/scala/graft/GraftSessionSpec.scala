package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** [[GraftSession]] is the only copy of the engine's session policy: these
  * cases pin its values, that applying it twice changes nothing, and that
  * the server and the measuring mains build their session through it.
  */
class GraftSessionSpec extends SparkSpecBase {
  /** A testdata-shaped dir whose lineitem holds `bytes` on disk (a sparse
    * file: the partition rule reads only its length). */
  private def dirOfBytes(bytes: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-session-spec")
    val file = dir.resolve("lineitem.parquet").toFile
    dir.toFile.deleteOnExit(); file.deleteOnExit()
    val f = new java.io.RandomAccessFile(file, "rw")
    try f.setLength(bytes) finally f.close()
    dir.toString
  }

  private def assertPolicy(s: SparkSession, parts: Int): Unit = {
    val c = s.sessionState.conf
    assert(c.sessionLocalTimeZone == "UTC")
    assert(c.autoBroadcastJoinThreshold == (64L << 20))
    assert(!c.preferSortMergeJoin)
    assert(c.getConf(SQLConf.ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD) ==
      Tables.ShjGateBytes)
    assert(c.numShufflePartitions == parts)
    assert(c.adaptiveExecutionEnabled == parts > 1)
    assert(c.coalesceShufflePartitionsEnabled == parts > 1)
  }

  test("the policy: local[cpus], UI off, UTC, 64m broadcast, SHJ fallback, volume partitions") {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    assert(GraftSession.cpus == cpus)
    assert(GraftSession.contextConf ==
      Map("spark.master" -> s"local[$cpus]", "spark.ui.enabled" -> "false"))
    // sf0.001's lineitem is far below one 12 MB partition: AQE stays off
    assertPolicy(GraftSession.configure(spark.newSession(), sfDir), parts = 1)
    // three partitions' worth of fact bytes: AQE and coalescing come on
    assertPolicy(GraftSession.configure(spark.newSession(), dirOfBytes(36000000L)),
      parts = 3)
  }

  test("a second configure leaves every setting unchanged") {
    Seq(sfDir, dirOfBytes(36000000L)).foreach { dir =>
      val s = GraftSession.configure(spark.newSession(), dir)
      val first = s.conf.getAll
      GraftSession.configure(s, dir)
      assert(s.conf.getAll == first)
    }
  }

  test("the server and the measuring mains build through GraftSession; " +
      "only the listed mains keep their own builder") {
    val root = new java.io.File("src/main/scala")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    def src(f: java.io.File) = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val all = files(root)
    assert(all.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    val builders = all.filter(src(_).contains("SparkSession.builder")).map(_.getName).toSet
    // CrashWriter/FollowerWriter/LeaseProbe: specs run several at once at a
    // fixed small core count; LocalClusterSmoke: a local-cluster master;
    // CompatAudit: reads no testdata directory
    assert(builders == Set("GraftSession.scala", "CrashWriter.scala",
      "FollowerWriter.scala", "LeaseProbe.scala", "LocalClusterSmoke.scala",
      "CompatAudit.scala"))
    val users = Seq("ServeMain", "Bench", "Profile", "Explain", "Verify", "PipeBench",
      "SkewBench")
    users.foreach { m =>
      val f = all.find(_.getName == s"$m.scala")
      assert(f.exists(src(_).contains("GraftSession.build(")), s"$m builds through GraftSession")
    }
  }
}
