package graft

import org.apache.spark.sql.functions._

/** Cross-process write coordination: one warehouse, two JVMs.
  *
  * Every in-JVM concurrency mechanism (txn gates, insert-delta registry,
  * SSI) assumes a single writer process; the warehouse writer lease makes
  * that a CHECKED contract. These specs drive the whole lifecycle:
  *   - a second process's write refuses cleanly while the holder lives
  *     (real forked JVM, not a simulation);
  *   - SIGKILL of the holder mid-commit: a new writer fences the dead
  *     lease immediately (same-host pid probe) and ADOPTS every commit the
  *     dead writer published after the claimant mounted — no acknowledged
  *     batch may be reverted by the takeover;
  *   - a fenced writer's later commits fail loudly and permanently;
  *   - lease ownership is process-scoped (remount-shaped double mounts in
  *     one JVM never self-contend);
  *   - a stale heartbeat (hung writer) is stolen after the TTL.
  */
class LeaseSpec extends SparkSpecBase {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def forkWriter(wh: String, batch: Int): (Process, java.util.concurrent.atomic.AtomicInteger) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
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

  /** `count(*)` of `table` through a wire server on `store`, over
    * Parse/Bind/Execute/Sync. */
  private def wireCount(store: Store, table: String): Long = {
    import java.nio.charset.StandardCharsets.UTF_8
    val server = new PgWireServer(spark, store, 0)
    val sock = new java.net.Socket("127.0.0.1", server.start())
    try {
      val in = new java.io.DataInputStream(sock.getInputStream)
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      def cstr(v: String): Array[Byte] = v.getBytes(UTF_8) :+ 0.toByte
      def frame(tpe: Char, body: Array[Byte]): Unit = {
        out.writeByte(tpe); out.writeInt(4 + body.length); out.write(body)
      }
      def untilReady(): List[(Char, Array[Byte])] = Iterator.continually {
        val tpe = in.read().toChar
        val body = new Array[Byte](in.readInt() - 4)
        in.readFully(body)
        (tpe, body)
      }.takeWhile(_._1 != 'Z').toList
      val params = cstr("user") ++ cstr("graft") ++ cstr("database") ++ cstr("graft") :+ 0.toByte
      out.writeInt(8 + params.length); out.writeInt(196608); out.write(params); out.flush()
      untilReady()
      frame('P', cstr("") ++ cstr(s"SELECT count(*) AS n FROM $table") ++ Array[Byte](0, 0))
      frame('B', cstr("") ++ cstr("") ++ Array.fill[Byte](6)(0))
      frame('E', cstr("") ++ Array.fill[Byte](4)(0))
      frame('S', Array.emptyByteArray); out.flush()
      val msgs = untilReady()
      val row = msgs.find(_._1 == 'D').map(_._2).getOrElse(
        sys.error("no row: " + msgs.map(m => new String(m._2, UTF_8))))
      // DataRow: field count (2 bytes), length (4), text
      new String(row, 6, row.length - 6, UTF_8).toLong
    } finally { sock.close(); server.stop() }
  }

  test("two JVMs, one warehouse: live holder refuses the second writer; SIGKILL hands over without losing an acked commit") {
    val wh = java.nio.file.Files.createTempDirectory("graft-lease2jvm").toString
    val batch = 2000
    val (proc, lastAcked) = forkWriter(wh, batch)
    try {
      // wait until the forked writer owns the lease and has real commits
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (lastAcked.get < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(lastAcked.get >= 2, "forked writer never committed")

      // concurrent write from THIS (second) process: clean lease refusal,
      // wire-error shaped, naming the holder
      import spark.implicits._
      val st = new Store(spark, wh)
      val e = intercept[IllegalStateException] {
        st.appendCompacting("crash_t", Seq((-1L, -1L)).toDF("k", "b"))
      }
      assert(e.getMessage.contains("another writer process holds the lease"),
        e.getMessage)
      assert(e.getMessage.contains("lock timeout"), e.getMessage)
      // the refused write left no trace
      assert(new Store(spark, wh).read("crash_t").count() % batch == 0)

      // SIGKILL the holder mid-commit
      Thread.sleep(scala.util.Random.nextInt(300).toLong)
      proc.destroyForcibly(); proc.waitFor()
      val acked = lastAcked.get

      // the same refused Store instance now takes over: the dead pid is
      // probed (no TTL wait), the lease is fenced, and the steal RELOADS
      // the catalog so commits published after this Store mounted survive
      st.appendCompacting("crash_t",
        (0 until 10).map(i => (1000000L + i, -1L)).toDF("k", "b"))
      val df = st.read("crash_t")
      val n = df.count() - 10
      assert(n % batch == 0, s"takeover must land on a whole batch: $n")
      assert(n / batch >= acked + 1,
        s"takeover reverted acked commits: ${n / batch} batches vs ${acked + 1} acked")
      // content: every pre-takeover batch still complete
      val bad = df.filter(col("b") >= 0).groupBy("b").count()
        .filter(col("count") =!= batch).count()
      assert(bad == 0, "a surviving batch is no longer complete")
    } finally { proc.destroyForcibly(); () }
  }

  test("a read-only process follows a foreign writer's commit chain (reader freshness)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-leasereader").toString
    val batch = 2000
    val (proc, lastAcked) = forkWriter(wh, batch)
    try {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (lastAcked.get < 1 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(lastAcked.get >= 1, "forked writer never committed")
      spark.conf.set("spark.graft.readerSyncMs", "0")
      // this process never writes this warehouse: a pure reader mount
      val reader = new Store(spark, wh)
      def count(): Long = PgDialect.execute(spark, reader,
        "SELECT count(*) AS n FROM crash_t") match {
        case PgDialect.Rows(df, _) => df.head.getLong(0)
        case other => sys.error(s"expected rows: $other")
      }
      val n1 = count()
      assert(n1 > 0 && n1 % batch == 0, s"reader sees whole batches: $n1")
      // wait for the writer to commit PAST what the reader mounted
      val target = lastAcked.get + 2
      while (lastAcked.get < target && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(lastAcked.get >= target, "writer stalled")
      // JDBC's path, Parse/Bind/Execute, follows the chain too; counted
      // first, so its own Bind has to re-sync the reader
      val viaWire = wireCount(reader, "crash_t")
      assert(viaWire > n1 && viaWire % batch == 0,
        s"a Bind on the reader must follow the commit chain: $n1 -> $viaWire")
      val n2 = count()
      assert(n2 > n1,
        s"reader must follow the commit chain without remounting: $n1 -> $n2")
      assert(n2 % batch == 0, s"chain-follow sees whole batches only: $n2")
      // and the reader never claimed the lease (it is not a writer)
      val leases = new java.io.File(wh).listFiles.map(_.getName)
        .filter(_.startsWith("_lease."))
      assert(leases.length == 1, s"reader must not claim: ${leases.toSeq}")
    } finally {
      spark.conf.unset("spark.graft.readerSyncMs")
      proc.destroyForcibly(); ()
    }
  }

  test("lease ownership is process-scoped: a remount in the same JVM shares it") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-leaseproc").toString
    val st1 = new Store(spark, wh)
    st1.replace("t", Seq((1L, "a")).toDF("k", "v"))
    val st2 = new Store(spark, wh) // remount while st1 still holds the lease
    st2.appendCompacting("t", Seq((2L, "b")).toDF("k", "v"))
    assert(st2.read("t").count() == 2)
  }

  test("a foreign higher epoch fences this writer: loud, permanent, commit retracted") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-leasefence").toString
    val st = new Store(spark, wh)
    st.replace("t", Seq((1L, "a")).toDF("k", "v")) // claims epoch 1
    // simulate a foreign process fencing us: epoch 2, alive pid (our own),
    // different process nonce
    val lease2 = java.nio.file.Paths.get(wh, "_lease.e2.json")
    java.nio.file.Files.write(lease2,
      s"""{"proc":"foreign-nonce","pid":${ProcessHandle.current.pid},"host":"${Store.hostName}","ts":${System.currentTimeMillis()}}"""
        .getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      st.appendCompacting("t", Seq((2L, "b")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("lease lost"), e.getMessage)
    assert(e.getMessage.contains("fenced"), e.getMessage)
    // sticky: every later write refuses too
    val e2 = intercept[IllegalStateException] {
      st.appendCompacting("t", Seq((3L, "c")).toDF("k", "v"))
    }
    assert(e2.getMessage.contains("lease lost"), e2.getMessage)
    // the fenced commit was retracted: a fresh mount sees only row 1
    assert(new Store(spark, wh).read("t").count() == 1)
  }

  test("a stale lease (hung writer, no heartbeat) is stolen after the TTL; a fresh one refuses") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-leasettl").toString
    // foreign REMOTE holder (pid probe unavailable), fresh heartbeat
    val lease = java.nio.file.Paths.get(wh, "_lease.e5.json")
    java.nio.file.Files.write(lease,
      """{"proc":"foreign-nonce","pid":1,"host":"some-other-host","ts":0}"""
        .getBytes("UTF-8"))
    val st = new Store(spark, wh)
    // keep the lease fresh under the clock during the refusal attempt by
    // re-touching it right before (the data write preceding the lease
    // check can take arbitrarily long on a cold session)
    lease.toFile.setLastModified(System.currentTimeMillis() + st.leaseTtlMs / 2)
    val e = intercept[IllegalStateException] {
      st.replace("t", Seq((1L, "a")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("another writer process holds the lease"),
      e.getMessage)
    // ...until its heartbeat goes stale past the TTL (backdated mtime —
    // deterministic, no sleep)
    lease.toFile.setLastModified(System.currentTimeMillis() - 2 * st.leaseTtlMs)
    st.replace("t", Seq((1L, "a")).toDF("k", "v"))
    assert(st.read("t").count() == 1)
    // the steal fenced epoch 5 with epoch 6
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(wh, "_lease.e6.json")))
  }

  test("N processes racing to steal a stale lease: exactly one wins, losers refuse cleanly") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-leaserace").toString
    // seed the table from THIS process, then surrender the lease: fake a
    // dead holder so every contender must go through the steal path
    val st = new Store(spark, wh)
    st.replace("probe_t", Seq((0L, 0L)).toDF("k", "b"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(wh, "_lease.e9.json"),
      """{"proc":"dead-nonce","pid":999999999,"host":"elsewhere","ts":0}"""
        .getBytes("UTF-8"))
    new java.io.File(wh, "_lease.e9.json")
      .setLastModified(System.currentTimeMillis() - 120000L)
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // each probe HOLDS after reporting so later arrivals race a LIVE
    // holder (an exited winner would be a legitimate dead-pid steal)
    val procs = (1 to 3).map { _ =>
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.LeaseProbe", wh, "600000")
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.start()
    }
    val outs = try {
      procs.map { p =>
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream))
        val deadline = System.nanoTime() + 300L * 1000000000L
        var line = r.readLine()
        while (line != null && !line.startsWith("PROBE_") &&
            System.nanoTime() < deadline)
          line = r.readLine()
        Option(line).getOrElse("NO_OUTPUT")
      }
    } finally procs.foreach(_.destroyForcibly())
    val committed = outs.count(_.contains("PROBE_COMMITTED"))
    val refused = outs.count(_.contains("PROBE_REFUSED"))
    assert(committed == 1,
      s"exactly one steal may win, got $committed:\n${outs.mkString("---\n")}")
    assert(refused == 2, s"losers must refuse cleanly:\n${outs.mkString("---\n")}")
    assert(outs.filter(_.contains("PROBE_REFUSED"))
      .forall(o => o.contains("lease") || o.contains("lock timeout")),
      s"refusals must be lease-shaped:\n${outs.mkString("---\n")}")
    // the winner's commit is whole: seed row + exactly one probe row
    assert(new Store(spark, wh).read("probe_t").count() == 2)
  }

  test("GRAFT_READ_ONLY server: every connection inherits the 25006 write refusal") {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.ServeMain", "0", sfDir)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("GRAFT_READ_ONLY", "1")
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    try {
      // scrape the bound port from the ready line
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
      assert(port > 0, "server never reported ready")
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
        out.writeByte('Q'); out.writeInt(4 + qb.length); out.write(qb); out.flush()
        drain()
      }
      // reads serve; writes refuse with 25006 on a fresh connection
      assert(query("SELECT 1 AS one").exists(_._1 == 'D'))
      val err = query("CREATE TABLE ro_server_t (k BIGINT)")
        .find(_._1 == 'E').map(m => new String(m._2, "UTF-8"))
      assert(err.exists(_.contains("25006")), s"got: $err")
      assert(err.exists(_.contains("read-only transaction")), s"got: $err")
      // PG semantics: a session may opt back to read-write explicitly
      query("SET default_transaction_read_only = off")
      val ok = query("CREATE TABLE ro_server_t (k BIGINT)")
        .find(_._1 == 'C').map(m => new String(m._2, "UTF-8"))
      assert(ok.exists(_.startsWith("CREATE")), s"got: $ok")
      sock.close()
    } finally { proc.destroyForcibly(); () }
  }

  test("graceful handoff: releaseLease lets a live second process claim immediately") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-leasehand").toString
    val st = new Store(spark, wh)
    st.replace("probe_t", Seq((0L, 0L)).toDF("k", "b")) // claims the lease
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    def probe(): String = {
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.LeaseProbe", wh)
      val pb = new ProcessBuilder(cmd: _*); pb.redirectErrorStream(true)
      val p = pb.start()
      assert(p.waitFor(5, java.util.concurrent.TimeUnit.MINUTES))
      new String(p.getInputStream.readAllBytes(), "UTF-8")
        .linesIterator.find(_.startsWith("PROBE_")).getOrElse("NO_OUTPUT")
    }
    // while this process holds the lease, the probe refuses
    assert(probe().contains("PROBE_REFUSED"), "live holder must refuse")
    // graceful handoff: release, and the next process claims with NO
    // SIGKILL and NO TTL wait even though this process is alive
    st.releaseLease()
    val took = probe()
    assert(took.contains("PROBE_COMMITTED"), s"handoff failed: $took")
    // taking back: the probe exited (dead pid), so this process re-claims
    // and the reload adopts the probe's commit instead of reverting it
    st.appendCompacting("probe_t", Seq((-1L, -1L)).toDF("k", "b"))
    assert(st.read("probe_t").count() == 3,
      "re-claim must adopt the handed-off writer's commit")
  }

  test("a writer whose SparkContext stopped hands the lease off while its JVM is still alive") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-leasestop").toString
    val st = new Store(spark, wh)
    st.replace("probe_t", Seq((0L, 0L)).toDF("k", "b"))
    st.releaseLease() // let the probe claim
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.LeaseProbe", wh, "600000", "stop-hold")
    val pb = new ProcessBuilder(cmd: _*); pb.redirectErrorStream(true)
    val proc = pb.start()
    try {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var committed = false; var stopped = false
      val readDeadline = System.nanoTime() + 300L * 1000000000L
      while (!stopped && System.nanoTime() < readDeadline) {
        val line = r.readLine()
        if (line == null) Thread.sleep(20)
        else { if (line.startsWith("PROBE_COMMITTED")) committed = true
               if (line.startsWith("PROBE_STOPPED")) stopped = true }
      }
      assert(committed, "probe never claimed the lease")
      assert(stopped, "probe never stopped its context")
      // the probe's JVM is ALIVE (pid probe says live, no TTL expiry — its
      // heartbeats kept the lease fresh until the stop) but it can never
      // run a Spark job again: its next heartbeat must RELEASE the lease,
      // letting this live process claim with no SIGKILL and no TTL wait
      val deadline = System.nanoTime() + 30L * 1000000000L
      var ok = false
      while (!ok && System.nanoTime() < deadline) {
        try {
          st.appendCompacting("probe_t", Seq((-1L, -1L)).toDF("k", "b"))
          ok = true
        } catch {
          case e: IllegalStateException
              if Option(e.getMessage)
                .exists(_.contains("another writer process holds the lease")) =>
            Thread.sleep(500)
        }
      }
      assert(ok, "stopped-but-alive holder never handed the lease off")
      assert(proc.isAlive, "the handoff must not depend on the holder dying")
      assert(st.read("probe_t").count() == 3) // seed + probe row + ours
    } finally { proc.destroyForcibly(); () }
  }

  test("fencing mid-write-storm: every acked commit survives, later commits refuse, nothing partial") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-leasestorm").toString
    val store = new Store(spark, wh)
    store.replace("storm_t", Seq((0L, -1L)).toDF("k", "b"))
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writers = (1 to 4).map { w =>
      new Thread(() => {
        var i = 0
        var live = true
        while (live && i < 200) {
          val tag = w * 1000L + i
          try {
            store.appendCompacting("storm_t",
              (0 until 50).map(j => (tag * 100 + j, tag)).toDF("k", "b"))
            acked.add(tag)
          } catch { case e: Exception =>
            errors.add(Option(e.getMessage).getOrElse("?")); live = false
          }
          i += 1
        }
      })
    }
    writers.foreach(_.start())
    // let commits land, then fence from a simulated foreign process
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (acked.size < 6 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(acked.size >= 6, "storm never committed")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(wh, "_lease.e99.json"),
      s"""{"proc":"foreign","pid":${ProcessHandle.current.pid},"host":"${Store.hostName}","ts":${System.currentTimeMillis()}}"""
        .getBytes("UTF-8"))
    writers.foreach(_.join(120000))
    assert(writers.forall(!_.isAlive), "a writer hung after fencing")
    assert(!errors.isEmpty, "fencing must stop the storm")
    import scala.jdk.CollectionConverters._
    assert(errors.asScala.forall(m => m.contains("lease") || m.contains("lock timeout")),
      s"non-lease failure in the storm: ${errors.asScala.toSeq.distinct}")
    // a FRESH mount sees exactly the acked ledger: every acked batch whole,
    // and nothing beyond one unacked-but-published straggler per writer
    // (an ack can be preempted after its publish won; retracted commits
    // were never acked)
    val df = new Store(spark, wh).read("storm_t").filter(col("b") >= 0)
    val byTag = df.groupBy("b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byTag.values.forall(_ == 50), "a surviving batch is partial")
    val ackedSet = acked.asScala.toSet
    assert(ackedSet.subsetOf(byTag.keySet),
      s"acked commits lost: ${ackedSet -- byTag.keySet}")
    val extras = byTag.keySet -- ackedSet
    assert(extras.size <= 4, s"too many unacked batches survive: $extras")
  }

  test("catalog sequence claims are exclusive: orphaned claim locks are skipped, never spun on") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-leaselock").toString
    val st = new Store(spark, wh)
    st.replace("t", Seq((1L, "a")).toDF("k", "v"))
    // orphan a claim at the NEXT sequence (a writer that died between
    // claim and publish)
    val seqs = new java.io.File(wh).listFiles.map(_.getName)
      .filter(n => n.startsWith("_catalog.v") && n.endsWith(".json"))
      .map(_.stripPrefix("_catalog.v").stripSuffix(".json").toLong)
    val next = seqs.max + 1
    java.nio.file.Files.write(
      java.nio.file.Paths.get(wh, s"_catalog.v$next.lock"), Array.empty[Byte])
    st.appendCompacting("t", Seq((2L, "b")).toDF("k", "v"))
    assert(st.read("t").count() == 2)
    // the commit landed ABOVE the orphaned claim
    val after = new java.io.File(wh).listFiles.map(_.getName)
      .filter(n => n.startsWith("_catalog.v") && n.endsWith(".json"))
      .map(_.stripPrefix("_catalog.v").stripSuffix(".json").toLong)
    assert(after.max > next, s"latest ${after.max} must skip orphaned claim $next")
  }
}
