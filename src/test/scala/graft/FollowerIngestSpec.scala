package graft

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.functions._

/** Follower ingest: cross-process pure-insert commits through the lease
  * holder's commit chain (`_inbox/` spool -> sweep adoption -> done-file
  * ack, exactly-once via the catalog's `inboxDone` ledger).
  *
  * The in-JVM cases drive the protocol deterministically (hand-crafted
  * manifests + direct sweep calls, periodic sweep disabled); the forked-JVM
  * cases prove the real multi-process shapes: a follower committing through
  * a LIVE foreign writer, and a follower stepping up when the writer dies
  * mid-wait. Everything here is opt-in (spark.graft.followerInserts) — the
  * default remains the clean single-writer lease refusal LeaseSpec pins. */
class FollowerIngestSpec extends SparkSpecBase {

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Hand-craft one inbox manifest + delta dir, exactly the follower's
    * spool format, without blocking on adoption. Returns the row count. */
  private def enqueueRaw(wh: String, id: String, table: String,
      df: org.apache.spark.sql.DataFrame): Long = {
    val inbox = java.nio.file.Paths.get(wh, "_inbox")
    val dir = inbox.resolve(id)
    java.nio.file.Files.createDirectories(dir)
    val tmp = inbox.resolve(s".$id-raw")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val parts = java.nio.file.Files.list(tmp).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    val names = parts.zipWithIndex.map { case (p, i) =>
      val nm = s"fwd-$id-$i.parquet"
      java.nio.file.Files.move(java.nio.file.Paths.get(p), dir.resolve(nm))
      nm
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    val rows = df.count()
    val manifest = s"""{"table":"$table","rows":$rows,"files":[${
      names.map(n => s""""$n"""").mkString(",")}]}"""
    java.nio.file.Files.write(inbox.resolve(s"$id.req.json"),
      manifest.getBytes("UTF-8"))
    rows
  }

  private def inboxEntries(wh: String): Seq[String] = {
    val d = new java.io.File(wh, "_inbox")
    if (!d.exists) Seq.empty else d.listFiles.map(_.getName).toSeq.sorted
  }

  test("spool -> sweep -> ack -> visibility, one process end to end") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwd1").toString
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      st.replace("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // claims lease
      val v0 = st.currentVersion("t")
      val n = st.followerAppend("t", Seq((3L, "c"), (4L, "d")).toDF("k", "v"))
      assert(n == 2)
      assert(st.currentVersion("t") == v0 + 1)
      assert(st.read("t").count() == 4)
      assert(st.read("t").filter(col("k") === 3L).count() == 1)
      // fully acknowledged: nothing left in the inbox
      assert(inboxEntries(wh).isEmpty, inboxEntries(wh).toString)
    }
  }

  test("one sweep cycle adopts every pending manifest of a table as ONE version (commit batching)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwd2").toString
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      st.replace("ta", Seq((1L, 1L)).toDF("k", "n"))
      st.replace("tb", Seq((1L, "x")).toDF("k", "s"))
      val va = st.currentVersion("ta"); val vb = st.currentVersion("tb")
      enqueueRaw(wh, "00000000000m1-aaaa-0001", "ta",
        Seq((2L, 2L), (3L, 3L)).toDF("k", "n"))
      enqueueRaw(wh, "00000000000m2-bbbb-0001", "ta",
        Seq((4L, 4L)).toDF("k", "n"))
      enqueueRaw(wh, "00000000000m3-cccc-0001", "tb",
        Seq((2L, "y")).toDF("k", "s"))
      st.sweepInbox()
      // two ta manifests -> one new version; tb independently +1
      assert(st.currentVersion("ta") == va + 1,
        s"batching must publish ONE version, got ${st.currentVersion("ta")}")
      assert(st.currentVersion("tb") == vb + 1)
      assert(st.read("ta").count() == 4)
      assert(st.read("tb").count() == 2)
      // both ta done-files report the SAME adopted version
      val dones = inboxEntries(wh).filter(_.endsWith(".done.json"))
      assert(dones.size == 3, dones.toString)
      val texts = dones.map(f => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(wh, "_inbox", f)), "UTF-8"))
      assert(texts.forall(_.contains(""""ok":true""")), texts.mkString("\n"))
      val taVers = texts.filter(_.contains(""""table":"ta"""))
        .map(t => """"version":(\d+)""".r.findFirstMatchIn(t).get.group(1))
      assert(taVers.distinct.size == 1, taVers.toString)
    }
  }

  test("adoption is exactly-once across a crashed acknowledgement (catalog ledger)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwd3").toString
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      st.replace("t", Seq((1L, 1L)).toDF("k", "n"))
      val id = "00000000000x1-dddd-0001"
      enqueueRaw(wh, id, "t", Seq((2L, 2L)).toDF("k", "n"))
      st.sweepInbox()
      val v1 = st.currentVersion("t")
      assert(st.read("t").count() == 2)
      // simulate a holder that crashed between its catalog commit and the
      // inbox cleanup: the request file reappears (cleanup never ran) ...
      java.nio.file.Files.write(
        java.nio.file.Paths.get(wh, "_inbox", s"$id.req.json"),
        s"""{"table":"t","rows":1,"files":["fwd-$id-0.parquet"]}"""
          .getBytes("UTF-8"))
      // ... and a RESTARTED writer process sweeps: the ledger (persisted in
      // the catalog snapshot) must finish the ack without re-applying
      val st2 = new Store(spark, wh)
      st2.appendCompacting("other", Seq((1L, 1L)).toDF("k", "n")) // claims
      st2.sweepInbox()
      assert(st2.currentVersion("t") == v1, "re-adoption must not happen")
      assert(st2.read("t").count() == 2)
      assert(!inboxEntries(wh).contains(s"$id.req.json"))
    }
  }

  test("a schema-mismatched delta is refused via the done file; the chain is untouched") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwd4").toString
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      st.replace("t", Seq((1L, 1L)).toDF("k", "n"))
      val v0 = st.currentVersion("t")
      val id = "00000000000y1-eeee-0001"
      enqueueRaw(wh, id, "t", Seq(("wrong", 2L)).toDF("s", "n"))
      st.sweepInbox()
      assert(st.currentVersion("t") == v0)
      assert(st.read("t").count() == 1)
      val done = java.nio.file.Paths.get(wh, "_inbox", s"$id.done.json")
      assert(java.nio.file.Files.exists(done))
      val txt = new String(java.nio.file.Files.readAllBytes(done), "UTF-8")
      assert(txt.contains(""""ok":false"""), txt)
      assert(txt.contains("schema"), txt)
      // request + delta dir were cleaned; only the (uncollected) ack stays
      assert(inboxEntries(wh) == Seq(s"$id.done.json"), inboxEntries(wh))
    }
  }

  test("timeout under a live foreign writer that never adopts: clean cancel, no phantom commit") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwd5").toString
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.followerWaitMs" -> "400",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      st.replace("t", Seq((1L, 1L)).toDF("k", "n"))
      st.releaseLease()
      // a live remote holder (pid probe unavailable), heartbeat kept fresh
      val lease = java.nio.file.Paths.get(wh, "_lease.e7.json")
      java.nio.file.Files.write(lease,
        """{"proc":"foreign-nonce","pid":1,"host":"some-other-host","ts":0}"""
          .getBytes("UTF-8"))
      lease.toFile.setLastModified(System.currentTimeMillis() + st.leaseTtlMs / 2)
      val e = intercept[IllegalStateException] {
        st.appendCompacting("t", Seq((2L, 2L)).toDF("k", "n"))
      }
      assert(e.getMessage.contains("lock timeout"), e.getMessage)
      assert(e.getMessage.contains("no writer process took on"), e.getMessage)
      // the cancel cleaned everything; nothing for a later writer to adopt
      assert(inboxEntries(wh).isEmpty, inboxEntries(wh).toString)
      assert(st.read("t").count() == 1)
      // follower routing covers pure inserts ONLY: a replace still refuses
      val e2 = intercept[IllegalStateException] {
        st.replace("t", Seq((9L, 9L)).toDF("k", "n"))
      }
      assert(e2.getMessage.contains("another writer process holds the lease"),
        e2.getMessage)
      java.nio.file.Files.delete(lease)
    }
  }

  test("hive-partitioned tables take follower ingest; the version stays uniform hive") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdhive").toString
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      st.replacePartitioned("fh_t",
        (0L until 60L).map(i => (i, s"p${i % 3}")).toDF("k", "p"), "p")
      val v0 = st.currentVersion("fh_t")
      val n = st.followerAppend("fh_t",
        Seq((200L, "p1"), (201L, "p9")).toDF("k", "p"))
      assert(n == 2)
      assert(st.currentVersion("fh_t") == v0 + 1)
      val got = st.read("fh_t")
      assert(got.count() == 62)
      assert(got.filter(col("p") === "p9").count() == 1)
      assert(got.filter(col("p").isNull).count() == 0,
        "partition values must come from the dir names, never null")
      // adopted delta landed IN key=value dirs — no flat file beside them
      val vdir = new HadoopPath(s"$wh/fh_t/v${st.currentVersion("fh_t")}")
      val fs = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.listStatus(vdir).exists(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet")),
        "no flat data file may sit beside hive partition dirs")
      assert(st.rowCountFast("fh_t") == 62)
      assert(inboxEntries(wh).isEmpty, inboxEntries(wh).toString)
      // a transform layout (hidden day-partitioning) works the same way
      st.replaceTransformPartitioned("fh_d",
        Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
            (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00")))
          .toDF("k", "ts"), "ts", "day")
      val n2 = st.followerAppend("fh_d",
        Seq((3L, java.sql.Timestamp.valueOf("2024-01-03 10:00:00")))
          .toDF("k", "ts"))
      assert(n2 == 1)
      assert(st.read("fh_d").count() == 3)
    }
  }

  test("a flat delta against a hive table refuses with a layout-shape error") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdhiverr").toString
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      st.replacePartitioned("fh_e",
        Seq((1L, "a")).toDF("k", "p"), "p")
      val v0 = st.currentVersion("fh_e")
      // a stale follower that didn't know the layout spools a FLAT delta
      val id = "00000000000h1-iiii-0001"
      enqueueRaw(wh, id, "fh_e", Seq((2L, "b")).toDF("k", "p"))
      st.sweepInbox()
      assert(st.currentVersion("fh_e") == v0, "flat delta must not adopt")
      val done = java.nio.file.Paths.get(wh, "_inbox", s"$id.done.json")
      val txt = new String(java.nio.file.Files.readAllBytes(done), "UTF-8")
      assert(txt.contains(""""ok":false"""), txt)
      assert(txt.contains("hive-partitioned") && txt.contains("flat"), txt)
    }
  }

  test("a staged insert transaction merges past a follower adoption that landed mid-txn") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdmerge").toString
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      st.replace("mi_t", Seq((1L, "a")).toDF("k", "v"))
      val s = st.newStaging()
      st.withStaging(s)(
        st.appendCompacting("mi_t", Seq((2L, "txn")).toDF("k", "v")))
      enqueueRaw(wh, "00000000000z1-gggg-0001", "mi_t",
        Seq((3L, "fwd")).toDF("k", "v"))
      st.sweepInbox()
      // adoption is a committed shared version; the staged row stays private
      assert(st.read("mi_t").count() == 2)
      // the txn's base moved past a REGISTERED pure-insert delta: COMMIT
      // links it instead of raising a serialization failure
      st.commitStaging(s)
      assert(st.read("mi_t").select("k").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
    }
  }

  test("adoption queues behind an open updater's write gate and lands after its commit") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdgate").toString
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      st.replace("ug_t", Seq((1L, "old"), (2L, "keep")).toDF("k", "v"))
      val u = st.newStaging()
      st.withStaging(u)(
        st.upsert("ug_t", Seq((1L, "new")).toDF("k", "v"), "k")) // claims gate
      enqueueRaw(wh, "00000000000z2-hhhh-0001", "ug_t",
        Seq((3L, "fwd")).toDF("k", "v"))
      val sweeper = new Thread(() => st.sweepInbox())
      sweeper.start()
      Thread.sleep(400)
      assert(st.read("ug_t").count() == 2,
        "adoption must not land while the updater holds the write gate")
      st.commitStaging(u)
      sweeper.join(60000)
      assert(!sweeper.isAlive, "sweep hung on the released gate")
      val got = st.read("ug_t").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "new"), (2L, "keep"), (3L, "fwd")), got.toString)
      // the follower was acked success, not a gate error
      val done = inboxEntries(wh).filter(_.endsWith(".done.json"))
      assert(done.size == 1, done.toString)
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(wh, "_inbox", done.head)), "UTF-8")
      assert(txt.contains(""""ok":true"""), txt)
    }
  }

  test("randomized in-JVM fuzz: concurrent follower appends + updaters keep exact ledgers") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdfuzz").toString
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.inboxSweepMs" -> "50") {
      val st = new Store(spark, wh)
      st.replace("fz_t", Seq((0L, 0L)).toDF("k", "tag"))
      val okTags = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val rnd = new java.util.Random(20260816L)
      def rowsFor(tag: Long) =
        (0 until 20).map(j => (tag * 100 + j, tag)).toDF("k", "tag")
      val followers = (1 to 4).map { w =>
        new Thread(() => {
          (0 until 12).foreach { i =>
            val tag = w * 1000L + i
            try {
              val n = st.followerAppend("fz_t", rowsFor(tag))
              if (n == 20) okTags.add(tag)
              else failed.add(s"tag $tag acked $n rows")
            } catch { case e: Exception =>
              failed.add(s"tag $tag: ${e.getMessage}")
            }
          }
        })
      }
      // concurrent updaters churn unrelated rows through the gate path
      val updaters = (1 to 2).map { u =>
        new Thread(() => {
          (0 until 8).foreach { i =>
            try st.upsert("fz_t",
              Seq((-(u * 100L + i), -1L)).toDF("k", "tag"), "k")
            catch { case e: Exception => failed.add(s"upsert: ${e.getMessage}") }
            Thread.sleep(rnd.nextInt(60).toLong)
          }
        })
      }
      (followers ++ updaters).foreach(_.start())
      (followers ++ updaters).foreach(_.join(300000))
      assert((followers ++ updaters).forall(!_.isAlive), "fuzz hung")
      assert(failed.isEmpty, s"unexpected failures: ${
        import scala.jdk.CollectionConverters._
        failed.asScala.take(5).mkString(" | ")}")
      import scala.jdk.CollectionConverters._
      val tags = okTags.asScala.toSet
      assert(tags.size == 48, s"all follower batches must ack: ${tags.size}")
      val byTag = st.read("fz_t").filter(col("tag") > 0)
        .groupBy("tag").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byTag.keySet == tags, s"present != acked: ${
        (byTag.keySet diff tags) ++ (tags diff byTag.keySet)}")
      assert(byTag.values.forall(_ == 20), "a batch is partial or duplicated")
      assert(st.read("fz_t").filter(col("tag") === -1L).count() == 16)
      assert(inboxEntries(wh).isEmpty, inboxEntries(wh).toString)
    }
  }

  test("statement forwarding: UPDATE/DELETE/MERGE execute on the holder with real tags") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdstmt").toString
    withConf("spark.graft.statementForwarding" -> "true",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      st.replace("fs_t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
      // direct protocol drive: this process is its own adopter
      assert(st.forwardStatement("UPDATE fs_t SET v = 'x' WHERE k <= 2")
        == "UPDATE 2")
      assert(st.read("fs_t").filter(col("v") === "x").count() == 2)
      assert(st.forwardStatement("DELETE FROM fs_t WHERE k = 3") == "DELETE 1")
      assert(st.read("fs_t").count() == 2)
      assert(st.forwardStatement(
        "INSERT INTO fs_t VALUES (9, 'i')").startsWith("INSERT 0 1"))
      assert(st.read("fs_t").count() == 3)
      // a failing statement comes back as the writer's error, not a hang
      val e = intercept[IllegalStateException] {
        st.forwardStatement("UPDATE no_such_table SET v = 'x'")
      }
      assert(e.getMessage.contains("refused by the writer"), e.getMessage)
      assert(inboxEntries(wh).isEmpty, inboxEntries(wh).toString)
    }
  }

  test("the periodic sweep serves statement forwarding even with follower ingest OFF") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdstmtonly").toString
    // ONLY the forwarding flag — the sweep gate must fire for it too (a
    // holder with follower ingest off once never swept, so forwarded
    // statements timed out); default sweep period, no direct sweep calls
    withConf("spark.graft.statementForwarding" -> "true") {
      val st = new Store(spark, wh)
      st.replace("sg_t", Seq((1L, "a")).toDF("k", "v")) // claims + schedules
      val id = "00000000000s1-jjjj-0001"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(wh, "_inbox"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(wh, "_inbox", s"$id.stmt.json"),
        """{"sql":"UPDATE sg_t SET v = 'swept' WHERE k = 1"}"""
          .getBytes("UTF-8"))
      val done = java.nio.file.Paths.get(wh, "_inbox", s"$id.done.json")
      val deadline = System.nanoTime() + 30L * 1000000000L
      // the ack is created, then written: poll until the JSON is whole, not
      // merely until the file exists (an early read saw it empty)
      def ack(): String = scala.util.Try(
        new String(java.nio.file.Files.readAllBytes(done), "UTF-8")).getOrElse("")
      var txt = ack()
      while (!txt.endsWith("}") && System.nanoTime() < deadline) {
        Thread.sleep(50); txt = ack()
      }
      assert(txt.nonEmpty, "the periodic sweep never executed the forwarded statement")
      assert(txt.contains(""""ok":true""") && txt.contains("UPDATE 1"), txt)
      assert(st.read("sg_t").head.getString(1) == "swept")
    }
  }

  test("statement forwarding is autocommit-only: a transaction's DML keeps the lease refusal") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdstmttxn").toString
    withConf("spark.graft.statementForwarding" -> "true") {
      val st = new Store(spark, wh)
      st.replace("ft_t", Seq((1L, "a")).toDF("k", "v"))
      st.releaseLease()
      val lease = java.nio.file.Paths.get(wh, "_lease.e7.json")
      java.nio.file.Files.write(lease,
        """{"proc":"foreign-nonce","pid":1,"host":"some-other-host","ts":0}"""
          .getBytes("UTF-8"))
      lease.toFile.setLastModified(System.currentTimeMillis() + st.leaseTtlMs / 2)
      val s = st.newStaging()
      val e = intercept[IllegalStateException] {
        st.withStaging(s)(
          PgDml.execute(spark, st, "UPDATE ft_t SET v = 'x' WHERE k = 1"))
      }
      assert(e.getMessage.contains("another writer process holds the lease"),
        e.getMessage)
      st.abortStaging(s)
      assert(inboxEntries(wh).isEmpty, "a txn statement must never spool")
      java.nio.file.Files.delete(lease)
    }
  }

  // ---- forked-JVM cases ---------------------------------------------------

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def forkWriter(wh: String, batch: Int, followerFlag: Boolean)
      : (Process, java.util.concurrent.atomic.AtomicInteger) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val flag =
      if (followerFlag) Seq("-Dspark.graft.followerInserts=true",
        "-Dspark.graft.statementForwarding=true")
      else Seq.empty
    val cmd = Seq(javaBin) ++ addOpens ++ flag ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.CrashWriter", wh, batch.toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val lastAcked = new java.util.concurrent.atomic.AtomicInteger(-1)
    new Thread(() => {
      try {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(proc.getInputStream))
        var line = r.readLine()
        while (line != null) {
          if (line.startsWith("COMMITTED "))
            lastAcked.set(line.substring(10).trim.toInt)
          line = r.readLine()
        }
      } catch { case _: java.io.IOException => () }
    }).start()
    (proc, lastAcked)
  }

  test("two JVMs: a follower commits through a LIVE foreign writer's chain") {
    val wh = java.nio.file.Files.createTempDirectory("graft-fwd2jvm").toString
    val batch = 2000
    val (proc, lastAcked) = forkWriter(wh, batch, followerFlag = true)
    try {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (lastAcked.get < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(lastAcked.get >= 2, "forked writer never committed")
      withConf("spark.graft.followerInserts" -> "true") {
        import spark.implicits._
        val st = new Store(spark, wh)
        val n = st.appendCompacting("crash_t",
          (0 until 10).map(i => (9000000L + i, -5L)).toDF("k", "b"))
        assert(n == 10, s"follower ack must report its own rows, got $n")
        val df = st.read("crash_t")
        assert(df.filter(col("b") === -5L).count() == 10,
          "follower rows missing after adoption")
        // the snapshot interleaves whole writer batches with our delta
        assert((df.count() - 10) % batch == 0)
        // statement forwarding against the same LIVE foreign writer: the
        // DELETE executes over there and the exact tag comes back
        spark.conf.set("spark.graft.statementForwarding", "true")
        try {
          assert(st.forwardStatement("DELETE FROM crash_t WHERE b = -5")
            == "DELETE 10")
          assert(st.read("crash_t").filter(col("b") === -5L).count() == 0)
        } finally spark.conf.unset("spark.graft.statementForwarding")
        // and the follower never took the lease: the chain's author is
        // still the forked writer
        val leases = new java.io.File(wh).listFiles.map(_.getName)
          .filter(_.startsWith("_lease."))
        assert(leases.length == 1, leases.toSeq.toString)
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(wh, leases.head)), "UTF-8")
        assert(txt.contains(s""""pid":${proc.pid}"""),
          s"lease must still name the forked writer: $txt")
      }
    } finally { proc.destroyForcibly(); () }
  }

  test("two JVMs: the writer dies while a follower waits — the follower steps up and adopts its own delta") {
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdkill").toString
    val batch = 2000
    // holder WITHOUT the flag: it never adopts, so the follower genuinely
    // waits until the SIGKILL, then must finish through the step-up path
    val (proc, lastAcked) = forkWriter(wh, batch, followerFlag = false)
    try {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (lastAcked.get < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(lastAcked.get >= 2, "forked writer never committed")
      val killer = new Thread(() => {
        Thread.sleep(1500L); proc.destroyForcibly(); ()
      })
      killer.start()
      withConf("spark.graft.followerInserts" -> "true") {
        import spark.implicits._
        val st = new Store(spark, wh)
        val n = st.appendCompacting("crash_t",
          (0 until 10).map(i => (9500000L + i, -7L)).toDF("k", "b"))
        assert(n == 10)
        killer.join()
        val acked = lastAcked.get
        val df = st.read("crash_t")
        assert(df.filter(col("b") === -7L).count() == 10)
        val rest = df.count() - 10
        assert(rest % batch == 0, s"takeover must land whole batches: $rest")
        assert(rest / batch >= acked,
          s"takeover reverted acked commits: ${rest / batch} vs $acked acked")
        assert(inboxEntries(wh).isEmpty, inboxEntries(wh).toString)
      }
    } finally { proc.destroyForcibly(); () }
  }

  test("three JVMs: two follower processes storm one live writer — every acked batch lands whole") {
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdstorm").toString
    val batch = 1000
    val (proc, lastAcked) = forkWriter(wh, batch, followerFlag = true)
    val followers = scala.collection.mutable.ArrayBuffer[Process]()
    try {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (lastAcked.get < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(lastAcked.get >= 2, "forked writer never committed")
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val fwdBatches = 3; val fwdRows = 500
      // negative tags: the writer's own batch ids are non-negative
      val outs = Seq(-11L, -12L).map { tag =>
        val cmd = Seq(javaBin) ++ addOpens ++ Seq(
          "-Xmx2g", "-Dspark.ui.enabled=false",
          "-cp", System.getProperty("java.class.path"),
          "graft.FollowerWriter", wh, tag.toString,
          fwdBatches.toString, fwdRows.toString)
        val pb = new ProcessBuilder(cmd: _*); pb.redirectErrorStream(true)
        val p = pb.start(); followers += p; (tag, p)
      }.map { case (tag, p) =>
        assert(p.waitFor(5, java.util.concurrent.TimeUnit.MINUTES),
          s"follower $tag hung")
        (tag, new String(p.getInputStream.readAllBytes(), "UTF-8"))
      }
      outs.foreach { case (tag, out) =>
        assert(out.contains(s"FWD_DONE $tag"),
          s"follower $tag failed:\n${out.linesIterator.take(30).mkString("\n")}")
      }
      // final state: every follower batch whole, writer batches whole, and
      // the chain's author is STILL the forked writer (followers never
      // stole the lease)
      val st = new Store(spark, wh)
      val df = st.read("crash_t")
      Seq(-11L, -12L).foreach { tag =>
        assert(df.filter(col("b") === tag).count() == fwdBatches.toLong * fwdRows,
          s"follower $tag rows incomplete")
      }
      val writerRows = df.filter(col("b") >= 0).count()
      assert(writerRows % batch == 0, s"writer batches not whole: $writerRows")
      val bad = df.filter(col("b") >= 0).groupBy("b").count()
        .filter(col("count") =!= batch).count()
      assert(bad == 0, "a writer batch is partial")
      val leases = new java.io.File(wh).listFiles.map(_.getName)
        .filter(_.startsWith("_lease."))
      assert(leases.length == 1, leases.toSeq.toString)
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(wh, leases.head)), "UTF-8")
      assert(txt.contains(s""""pid":${proc.pid}"""),
        s"lease must still name the forked writer: $txt")
      assert(inboxEntries(wh).isEmpty, inboxEntries(wh).toString)
    } finally {
      proc.destroyForcibly(); followers.foreach(_.destroyForcibly()); ()
    }
  }

  test("graft_warehouse_stats reflects role, lease epoch and adoption backlog") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdview").toString
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      def snap(): (String, Long, Long) = PgDialect.execute(spark, st,
        "SELECT role, lease_epoch, inbox_pending FROM graft_warehouse_stats"
      ) match {
        case PgDialect.Rows(df, _) =>
          val r = df.head; (r.getString(0), r.getLong(1), r.getLong(2))
        case other => sys.error(s"expected rows: $other")
      }
      assert(snap() == ("reader", 0L, 0L))
      st.replace("t", Seq((1L, "a")).toDF("k", "v"))
      assert(snap() == ("writer", 1L, 0L))
      enqueueRaw(wh, "00000000000v1-ffff-0001", "t",
        Seq((2L, "b")).toDF("k", "v"))
      assert(snap() == ("writer", 1L, 1L))
      st.sweepInbox()
      assert(snap() == ("writer", 1L, 0L))
      assert(st.read("t").count() == 2)
    }
  }

  test("wire end-to-end: INSERT on a follower SERVER process commits through this process's chain") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-fwdwire").toString
    withConf("spark.graft.followerInserts" -> "true") {
      val holder = new Store(spark, wh)
      holder.replace("fw_t", Seq((1L, "seed")).toDF("k", "v")) // claims lease
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx3g", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.ServeMain", "0", sfDir)
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("GRAFT_WAREHOUSE", wh)
      pb.environment().put("GRAFT_FOLLOWER_INSERTS", "1")
      pb.environment().put("GRAFT_STATEMENT_FORWARDING", "1")
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      pb.redirectErrorStream(true)
      val proc = pb.start()
      try {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(proc.getInputStream))
        var port = -1
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (port < 0 && System.nanoTime() < deadline) {
          val line = r.readLine()
          if (line == null) Thread.sleep(20)
          else "ready on port (\\d+)".r.findFirstMatchIn(line)
            .foreach(m => port = m.group(1).toInt)
        }
        assert(port > 0, "follower server never reported ready")
        val sock = new java.net.Socket("127.0.0.1", port)
        val out = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(sock.getOutputStream))
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(sock.getInputStream))
        val params = "user\u0000graft\u0000database\u0000graft\u0000\u0000"
          .getBytes("UTF-8")
        out.writeInt(8 + params.length); out.writeInt(196608)
        out.write(params); out.flush()
        def drain(): Seq[(Char, Array[Byte])] = {
          val buf = scala.collection.mutable.ArrayBuffer[(Char, Array[Byte])]()
          var done = false
          while (!done) {
            val t = in.read().toChar; val n = in.readInt()
            val b = new Array[Byte](n - 4); in.readFully(b)
            buf += ((t, b)); if (t == 'Z') done = true
          }
          buf.toSeq
        }
        drain()
        def query(sql: String): Seq[(Char, Array[Byte])] = {
          val qb = (sql + "\u0000").getBytes("UTF-8")
          out.writeByte('Q'); out.writeInt(4 + qb.length); out.write(qb)
          out.flush(); drain()
        }
        // the PG client's INSERT commits via inbox adoption by THIS process
        val tag = query("INSERT INTO fw_t VALUES (2, 'wire')")
          .find(_._1 == 'C').map(m => new String(m._2, "UTF-8"))
        assert(tag.exists(_.startsWith("INSERT 0 1")), s"got: $tag")
        // read-your-writes on the follower server connection
        val rows = query("SELECT count(*) AS n FROM fw_t WHERE v = 'wire'")
          .filter(_._1 == 'D')
        assert(rows.nonEmpty, "follower must see its own adopted insert")
        // statement forwarding: the client's UPDATE executes on the HOLDER
        // and the real command tag comes back over the wire
        val utag = query("UPDATE fw_t SET v = 'upd' WHERE k = 1")
          .find(_._1 == 'C').map(m => new String(m._2, "UTF-8"))
        assert(utag.exists(_.startsWith("UPDATE 1")), s"got: $utag")
        sock.close()
        // and the HOLDER sees both effects on its own chain
        assert(holder.read("fw_t").filter(col("v") === "wire").count() == 1)
        assert(holder.read("fw_t").filter(col("v") === "upd").count() == 1)
        assert(holder.read("fw_t").count() == 2)
      } finally { proc.destroyForcibly(); () }
    }
  }

  test("follower ingest runs on the object-store scheme (no posix shortcuts)") {
    import spark.implicits._
    ObjectStoreFs.register(spark)
    val base = java.nio.file.Files.createTempDirectory("graft-fwdobj")
    val wh = s"graftobj://${base.resolve("wh")}"
    withConf("spark.graft.followerInserts" -> "true",
        "spark.graft.inboxSweepMs" -> "600000") {
      val st = new Store(spark, wh)
      st.replace("t", Seq((1L, "a")).toDF("k", "v"))
      val v0 = st.currentVersion("t")
      val n = st.followerAppend("t", Seq((2L, "b"), (3L, "c")).toDF("k", "v"))
      assert(n == 2)
      assert(st.currentVersion("t") == v0 + 1)
      assert(st.read("t").count() == 3)
      val fs = new HadoopPath(wh).getFileSystem(
        spark.sessionState.newHadoopConf())
      val left = Option(fs.globStatus(new HadoopPath(s"$wh/_inbox/*")))
        .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
      assert(left.isEmpty, left.map(_.getPath.getName).toSeq.toString)
    }
  }
}
