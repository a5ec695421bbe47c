package graft

import graft.PgDialect._

/** Golden statements for the PG-dialect front end, modeled on the
  * reference's server test corpus
  * (/root/reference/src/server/query_handler_test.go). */
/** Cross-thread write trigger for the txn-isolation test: a static seam so
  * the UDF closure stays serializable (a captured Store would not be). */
object TxIsoHook { @volatile var hook: () => Unit = null }

class PgDialectSpec extends SparkSpecBase {

  private lazy val store: Store =
    new Store(spark, java.nio.file.Files.createTempDirectory("graft-pgd").toString)

  private def rows(sql: String): Seq[org.apache.spark.sql.Row] = {
    Tables.registerAll(spark, sfDir)
    PgDialect.execute(spark, store, sql) match {
      case Rows(df, _) => df.collect().toSeq
      case other => fail(s"expected rows, got $other")
    }
  }

  test("one read path: only planRead chains the read steps; the wire server calls none") {
    def src(path: String) =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val steps = Seq("maybeRefreshCatalog", "rewriteTimeTravel", "translateSelectCached",
      "planWithRollup", "bindTxnReads")
    val wire = src("src/main/scala/graft/wire/PgWireServer.scala")
    steps.foreach(f => assert(wire.indexOf(f) < 0, s"PgWireServer names $f"))
    val dialect = src("src/main/scala/graft/pgdialect/PgDialect.scala")
    val start = dialect.indexOf("  def planRead(")
    val end = dialect.indexOf("\n  }\n", start)
    assert(start >= 0 && end > start, "PgDialect.planRead not found")
    steps.foreach { f =>
      val calls = s"(?<!def )\\b$f\\(".r.findAllMatchIn(dialect).map(_.start).toSeq
      val (inside, outside) = calls.partition(i => i > start && i < end)
      assert(inside.size == 1, s"planRead calls $f once")
      // bindCurrentTxn rebinds DML source frames, which are not reads
      val allowed = if (f == "bindTxnReads") 1 else 0
      assert(outside.size == allowed, s"$f is called outside planRead")
    }
    // plan-cache validity is decided only in PgDialect, from what each plan
    // bound: no catalog counter anywhere, and the catalog's writers never
    // name the cache
    import scala.jdk.CollectionConverters._
    val epoch = "catalog" + "Epoch"
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    try files.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_)).foreach { f =>
      assert(!src(f.toString).contains(epoch), s"$f names $epoch")
    } finally files.close()
    Seq("sources/Store.scala", "sources/PgCatalog.scala", "Tables.scala").foreach { f =>
      val text = src(s"src/main/scala/graft/$f")
      Seq("planCache", "cachedPlan", "plan cache", "plan-cache").foreach(n =>
        assert(!text.contains(n), s"$f names the $n"))
    }
  }

  test("repeated statements skip translation and analysis via the caches") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    val stmt = "SELECT r_regionkey::int AS k, upper(r_name) AS nm FROM region ORDER BY 1"
    val first = rows(stmt)
    val t1 = PgDialect.translations.get
    val p1 = PgDialect.planBuilds.get
    val second = rows(stmt)
    assert(PgDialect.translations.get == t1,
      "second execution must not re-translate")
    assert(PgDialect.planBuilds.get == p1,
      "second execution must not re-analyze")
    assert(second == first)
    // a commit re-plans exactly the statements over what it re-registered
    // (stale temp-view bindings must never serve): query a store table and
    // a view over it, mutate the table, re-query
    store.replace("cache_t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    PgDialect.execute(spark, store, "CREATE VIEW cache_v AS SELECT count(*) AS n FROM cache_t")
    val q = "SELECT count(*) AS n FROM cache_t"
    val qv = "SELECT n FROM cache_v"
    assert(rows(q).head.getLong(0) == 2)
    assert(rows(qv).head.getLong(0) == 2)
    store.append("cache_t", Seq((3L, "c")).toDF("k", "v"))
    val p2 = PgDialect.planBuilds.get
    assert(rows(stmt) == first)
    assert(PgDialect.planBuilds.get == p2, "a commit to cache_t must not re-plan region")
    assert(rows(q).head.getLong(0) == 3,
      "mutation must invalidate the cached plan")
    assert(rows(qv).head.getLong(0) == 3, "the view over cache_t must re-plan")
    assert(PgDialect.planBuilds.get == p2 + 2)
    // a catalog-view refresh re-plans only statements over that view
    rows("SELECT relname FROM pg_class")
    val p3 = PgDialect.planBuilds.get
    assert(rows(stmt) == first)
    assert(PgDialect.planBuilds.get == p3, "a pg_class refresh must not re-plan region")
    PgDialect.execute(spark, store, "DROP VIEW cache_v")
    // a name re-registered right after its plan was cached binds anew
    spark.range(3).createOrReplaceTempView("cache_tv")
    val tv = "SELECT count(*) AS n FROM cache_tv"
    assert(PgDialect.cachedPlan(spark, tv).head().getLong(0) == 3)
    spark.range(5).createOrReplaceTempView("cache_tv")
    assert(PgDialect.cachedPlan(spark, tv).head().getLong(0) == 5)
    spark.catalog.dropTempView("cache_tv")
    // a session-catalog table (bucketed layout) is reused until replaced
    store.replaceBucketed("cache_b", spark.range(4).toDF("k"), "k", 2)
    val qb = "SELECT count(*) AS n FROM cache_b"
    assert(PgDialect.cachedPlan(spark, qb).head().getLong(0) == 4)
    val p4 = PgDialect.planBuilds.get
    assert(PgDialect.cachedPlan(spark, qb).head().getLong(0) == 4)
    assert(PgDialect.planBuilds.get == p4, "an unchanged catalog table must not re-plan")
    store.replaceBucketed("cache_b", spark.range(6).toDF("k"), "k", 2)
    assert(PgDialect.cachedPlan(spark, qb).head().getLong(0) == 6)
    store.drop("cache_b")
    // ...while a settings change invalidates the TRANSLATION key
    PgDialect.execute(spark, store, "SET graft.strip_schemas = 'public,main,extra'")
    val t2 = PgDialect.translations.get
    rows(stmt)
    assert(PgDialect.translations.get == t2 + 1,
      "changed translation settings must re-translate")
    PgDialect.execute(spark, store, "RESET graft.strip_schemas")
  }

  test("cache eviction is per-entry LRU: a hot entry survives churn pressure") {
    val c = new PgDialect.LruCache[String, String](4)
    var builds = 0
    def getv(k: String): String = c.computeIfAbsent(k) { builds += 1; "v" + k }
    getv("hot")
    // 100 one-off statements churn through a capacity-4 cache; the hot
    // statement is re-accessed between them (access-order LRU keeps it).
    // The old size-capped clear() flushed EVERYTHING at the threshold —
    // every cached statement re-translated at once on a busy server.
    for (i <- 1 to 100) { getv("cold" + i); getv("hot") }
    val b = builds
    getv("hot")
    assert(builds == b, "the hot entry must survive eviction pressure")
    assert(c.size <= 4, s"capacity bound: ${c.size}")
    getv("cold1")
    assert(builds == b + 1, "an evicted cold entry recomputes")
  }

  test("plan cache is session-keyed: a second session never receives a foreign frame") {
    Tables.registerAll(spark, sfDir)
    val q = "SELECT 41 + 1 AS answer"
    val d1 = PgDialect.cachedPlan(spark, q)
    val p = PgDialect.planBuilds.get
    assert(PgDialect.cachedPlan(spark, q) eq d1,
      "the same session must reuse its cached frame")
    assert(PgDialect.planBuilds.get == p)
    // a sibling session in the same JVM: same SQL, DIFFERENT plan — the
    // cached frame binds the analyzing session's temp views and must never
    // cross sessions
    val s2 = spark.newSession()
    val d2 = PgDialect.cachedPlan(s2, q)
    assert(!(d2 eq d1), "a different session must build its own plan")
    assert(d2.sparkSession eq s2, "the frame must belong to the asking session")
    assert(PgDialect.planBuilds.get == p + 1)
    assert(PgDialect.cachedPlan(s2, q) eq d2, "…and then reuse it")
  }

  test("repeatable read pins reads; own writes visible; conflicts abort") {
    import spark.implicits._
    def execT(sql: String, t: PgDialect.PgTxn): PgResult =
      PgDialect.execute(spark, store, sql, t)
    def exec(sql: String): PgResult = PgDialect.execute(spark, store, sql)
    def count(sql: String, t: PgDialect.PgTxn = null): Long =
      (if (t == null) exec(sql) else execT(sql, t)) match {
        case Rows(df, _) => df.collect()(0).getLong(0)
        case other => fail(s"expected rows: $other")
      }
    store.replace("rr_t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val txn = new PgDialect.PgTxn
    assert(execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txn) == Command("BEGIN"))
    execT("SHOW transaction_isolation", txn) match {
      case Rows(df, _) => assert(df.collect()(0).getString(0) == "repeatable read")
      case other => fail(other.toString)
    }
    // first statement pins the snapshot
    assert(count("SELECT count(*) AS n FROM rr_t", txn) == 2L)
    // a concurrent (txn-less) commit lands on the latest version…
    exec("INSERT INTO rr_t VALUES (3, 'c')")
    assert(count("SELECT count(*) AS n FROM rr_t") == 3L,
      "read-committed readers see the new row")
    // …but the pinned txn keeps reading ITS snapshot
    assert(count("SELECT count(*) AS n FROM rr_t", txn) == 2L,
      "repeatable read must not see post-pin commits")
    execT("COMMIT", txn)
    assert(count("SELECT count(*) AS n FROM rr_t") == 3L)

    // own writes are visible inside the txn (pin advances with the write)
    val txn2 = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txn2)
    assert(count("SELECT count(*) AS n FROM rr_t", txn2) == 3L)
    execT("INSERT INTO rr_t VALUES (4, 'd')", txn2)
    assert(count("SELECT count(*) AS n FROM rr_t", txn2) == 4L,
      "a txn sees its own writes")
    execT("ROLLBACK", txn2)
    assert(count("SELECT count(*) AS n FROM rr_t") == 3L, "rollback reverts")

    // first-updater-wins: write to a table moved since OUR pin -> 40001
    val txn3 = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txn3)
    assert(count("SELECT count(*) AS n FROM rr_t", txn3) == 3L) // pin here
    exec("UPDATE rr_t SET v = 'clobber' WHERE k = 1") // concurrent commit
    val e = intercept[UnsupportedQuery](
      execT("UPDATE rr_t SET v = 'mine' WHERE k = 2", txn3))
    assert(e.getMessage.contains("could not serialize access"), e.getMessage)
    assert(txn3.isAborted, "serialization failure aborts the txn")
    execT("ROLLBACK", txn3)
    // the failed txn's write was reverted with the rollback; the
    // concurrent writer's clobber survives
    exec("SELECT v FROM rr_t WHERE k = 1") match {
      case Rows(df, _) => assert(df.collect()(0).getString(0) == "clobber")
      case other => fail(other.toString)
    }
    exec("SELECT v FROM rr_t WHERE k = 2") match {
      case Rows(df, _) => assert(df.collect()(0).getString(0) == "b",
        "the aborted txn's update must not survive its rollback")
      case other => fail(other.toString)
    }
    // comma-separated FROM lists pin EVERY table, not just the first —
    // a half-pinned join would mix two snapshots mid-transaction
    val txnC = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txnC)
    store.replace("rr_u", Seq((1L, 10L), (2L, 20L)).toDF("k", "amt"))
    assert(count(
      "SELECT count(*) AS n FROM rr_t a, rr_u b WHERE a.k = b.k", txnC) == 2L)
    exec("INSERT INTO rr_u VALUES (3, 30)")
    exec("INSERT INTO rr_t VALUES (99, 'x')")
    assert(count(
      "SELECT count(*) AS n FROM rr_t a, rr_u b WHERE a.k = b.k", txnC) == 2L,
      "both comma-list tables must read the pinned snapshot")
    assert(count("SELECT count(*) AS n FROM rr_u", txnC) == 2L)
    execT("COMMIT", txnC)
    exec("DROP TABLE rr_u")
    exec("DELETE FROM rr_t WHERE k = 99")

    // a WRITE-first RR txn pins before its write: the conflict baseline
    // exists even when no read ever ran (the lost-update hole). The
    // concurrent commit lands on a table the txn has NOT written yet —
    // a table it HAS written is gate-locked and the other writer would
    // queue, exactly like PG sessions queueing on row locks.
    store.replace("rr_w", Seq((1L, "x")).toDF("k", "v"))
    val txn4 = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txn4)
    execT("UPDATE rr_w SET v = 'first' WHERE k = 1", txn4) // pins + writes rr_w
    exec("UPDATE rr_t SET v = 'other' WHERE k = 1")        // concurrent commit
    val e2 = intercept[UnsupportedQuery](
      execT("UPDATE rr_t SET v = 'second' WHERE k = 2", txn4))
    assert(e2.getMessage.contains("could not serialize access"),
      s"write-first txn must still detect conflicts: ${e2.getMessage}")
    execT("ROLLBACK", txn4)
    exec("DROP TABLE rr_w")

    // SERIALIZABLE reports its own name; the multi-word JDBC SHOW form
    // (Connection.getTransactionIsolation) answers from the txn too
    val txnS = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL SERIALIZABLE", txnS)
    execT("SHOW TRANSACTION ISOLATION LEVEL", txnS) match {
      case Rows(df, _) => assert(df.collect()(0).getString(0) == "serializable")
      case other => fail(other.toString)
    }
    execT("ROLLBACK", txnS)

    // SET LOCAL reverts at txn end (commit AND rollback)
    val txnL = new PgDialect.PgTxn
    execT("BEGIN", txnL)
    execT("SET LOCAL statement_timeout = '1s'", txnL)
    assert(SessionSettings.get("statement_timeout").contains("1s"))
    execT("COMMIT", txnL)
    assert(!SessionSettings.get("statement_timeout").contains("1s"),
      "SET LOCAL must not leak past COMMIT")

    // CTE with a column list shadows a same-named store table under RR
    val txnW = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txnW)
    execT("WITH rr_t(z) AS (SELECT 99) SELECT z FROM rr_t", txnW) match {
      case Rows(df, _) => assert(df.collect()(0).getInt(0) == 99,
        "the CTE must shadow the store table, not resolve to its snapshot")
      case other => fail(other.toString)
    }
    // a derived-table entry doesn't stop the comma list: the store table
    // after it still pins
    assert(count(
      "SELECT count(*) AS n FROM (SELECT 1 AS one) x, rr_t", txnW) == 3L)
    exec("INSERT INTO rr_t VALUES (77, 'post-pin')")
    assert(count(
      "SELECT count(*) AS n FROM (SELECT 1 AS one) x, rr_t", txnW) == 3L,
      "the table after a derived-table comma entry must read the pin")
    // …nor does a JOIN's ON condition stop it (`FROM a JOIN b ON …, c`):
    // the table after the ON-comma must read the pin too
    assert(count(
      """SELECT count(*) AS n
         FROM rr_t a JOIN rr_t b ON a.k = b.k, rr_t c
         WHERE c.k = 1""", txnW) == 3L,
      "the table after a JOIN ... ON comma must read the pin")
    // the first table INSIDE a parenthesized join tree pins as well
    assert(count(
      "SELECT count(*) AS n FROM (rr_t a JOIN rr_t b ON a.k = b.k)", txnW) == 3L,
      "a parenthesized join tree's first table must read the pin")
    execT("COMMIT", txnW)
    exec("DELETE FROM rr_t WHERE k = 77")

    // ROLLBACK TO SAVEPOINT rewinds the pin with the undone writes —
    // restoreVersion deletes the undone dirs, so a stale pin would point
    // reads at versions that no longer exist
    val txnP = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txnP)
    assert(count("SELECT count(*) AS n FROM rr_t", txnP) == 3L) // pin
    execT("SAVEPOINT sp1", txnP)
    execT("INSERT INTO rr_t VALUES (88, 'undone')", txnP) // pin advances
    assert(count("SELECT count(*) AS n FROM rr_t", txnP) == 4L)
    execT("ROLLBACK TO SAVEPOINT sp1", txnP)
    assert(count("SELECT count(*) AS n FROM rr_t", txnP) == 3L,
      "reads after ROLLBACK TO must resolve the rewound pin, not a deleted dir")
    execT("COMMIT", txnP)

    // set_config(..., true) is txn-LOCAL: reverts at COMMIT like SET LOCAL
    val txn5 = new PgDialect.PgTxn
    execT("BEGIN", txn5)
    execT("SELECT set_config('application_name', 'o''brien', true)", txn5) match {
      case Rows(df, _) => assert(df.collect()(0).getString(0) == "o'brien",
        "doubled quotes in the value must unescape, not fall through")
      case other => fail(other.toString)
    }
    assert(SessionSettings.get("application_name").contains("o'brien"))
    execT("COMMIT", txn5)
    assert(!SessionSettings.get("application_name").contains("o'brien"),
      "a local set_config must revert at transaction end")
    exec("DROP TABLE rr_t")
  }

  test("repeatable read pins VIEW reads like table reads (plans inline)") {
    import spark.implicits._
    def execT(sql: String, t: PgDialect.PgTxn): PgResult =
      PgDialect.execute(spark, store, sql, t)
    def exec(sql: String): PgResult = PgDialect.execute(spark, store, sql)
    def count(sql: String, t: PgDialect.PgTxn = null): Long =
      (if (t == null) exec(sql) else execT(sql, t)) match {
        case Rows(df, _) => df.collect()(0).getLong(0)
        case other => fail(s"expected rows: $other")
      }
    store.replace("vrr_base", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    exec("CREATE VIEW vrr_view AS SELECT k, v FROM vrr_base WHERE k > 0")
    val txn = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txn)
    assert(count("SELECT count(*) AS n FROM vrr_view", txn) == 2L) // pins
    exec("INSERT INTO vrr_base VALUES (3, 'c')") // concurrent commit
    assert(count("SELECT count(*) AS n FROM vrr_view") == 3L,
      "read-committed view readers see the new row")
    // the old text rewriter could not see through a view's registration-
    // time binding — view reads inside RR were read-committed; the plan
    // rebind pins the INLINED base relation like any direct table read
    assert(count("SELECT count(*) AS n FROM vrr_view", txn) == 2L,
      "a view read inside REPEATABLE READ must serve the pinned snapshot")
    assert(count("SELECT count(*) AS n FROM vrr_base", txn) == 2L)
    execT("COMMIT", txn)
    // …and a view read sees the txn's OWN staged writes too (table-level
    // first-updater-wins means the write needs a fresh, unmoved pin)
    val txn2 = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txn2)
    execT("INSERT INTO vrr_base VALUES (4, 'd')", txn2)
    assert(count("SELECT count(*) AS n FROM vrr_view", txn2) == 4L,
      "a view read inside a txn must include its own staged writes")
    execT("ROLLBACK", txn2)
    assert(count("SELECT count(*) AS n FROM vrr_view") == 3L)
    exec("DROP VIEW vrr_view"); exec("DROP TABLE vrr_base")
  }

  test("version expiry holds a live transaction's pinned snapshot (vacuum safety)") {
    import spark.implicits._
    def execT(sql: String, t: PgDialect.PgTxn): PgResult =
      PgDialect.execute(spark, store, sql, t)
    def exec(sql: String): PgResult = PgDialect.execute(spark, store, sql)
    store.replace("vp_t", Seq((1L, "a")).toDF("k", "v"))          // v1
    exec("INSERT INTO vp_t VALUES (2, 'b')")                       // v2
    val txn = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txn)
    execT("SELECT count(*) FROM vp_t", txn)                        // pins v2
    exec("INSERT INTO vp_t VALUES (3, 'c')")                       // v3
    exec("INSERT INTO vp_t VALUES (4, 'd')")                       // v4
    // keep=1 would normally reclaim v1..v3; the open txn holds v2
    val doomed = store.expireVersions("vp_t", keep = 1)
    assert(!doomed.contains(2), s"the pinned version must be retained: $doomed")
    execT("SELECT count(*) FROM vp_t", txn) match {
      case Rows(df, _) => assert(df.collect()(0).getLong(0) == 2L,
        "the pinned read must still resolve after expiry")
      case other => fail(other.toString)
    }
    execT("COMMIT", txn)
    // with the txn gone, the version is reclaimable
    assert(store.expireVersions("vp_t", keep = 1).contains(2),
      "a closed txn releases its hold")
    store.drop("vp_t")
  }

  test("adopted snapshots survive concurrent commits (parallel-dump isolation)") {
    import spark.implicits._
    def execT(sql: String, t: PgDialect.PgTxn): PgResult =
      PgDialect.execute(spark, store, sql, t)
    def exec(sql: String): PgResult = PgDialect.execute(spark, store, sql)
    store.replace("snap_t", (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"))
    // leader exports its snapshot
    val id = exec("SELECT pg_export_snapshot()") match {
      case Rows(df, _) => df.collect()(0).getString(0)
      case other => fail(other.toString)
    }
    // a writer commits AFTER the export
    exec("INSERT INTO snap_t VALUES (51, 'late')")
    // the worker adopts the exported snapshot and must read the OLD state
    // (pre-round-10 behavior refused a diverged adoption outright)
    val w = new PgDialect.PgTxn
    execT("BEGIN", w)
    assert(execT(s"SET TRANSACTION SNAPSHOT '$id'", w) == Command("SET"))
    execT("SELECT count(*) AS n FROM snap_t", w) match {
      case Rows(df, _) => assert(df.collect()(0).getLong(0) == 50L,
        "the adopted snapshot must serve the exported version")
      case other => fail(other.toString)
    }
    // COPY TO (pg_dump's data phase) honors the same pin
    execT("COPY snap_t TO STDOUT", w) match {
      case PgDialect.CopyOut(df, _, _) => assert(df.count() == 50L)
      case other => fail(other.toString)
    }
    execT("COMMIT", w)
    assert(exec("SELECT count(*) AS n FROM snap_t") match {
      case Rows(df, _) => df.collect()(0).getLong(0) == 51L
      case _ => false
    })
    exec("DROP TABLE snap_t")
  }

  test("pg_matviews and pg_class reflect live matview DDL on access") {
    Tables.registerAll(spark, sfDir)
    PgDialect.execute(spark, store,
      "CREATE MATERIALIZED VIEW mv_cat_probe AS SELECT r_regionkey FROM region")
    val listed = rows("SELECT matviewname FROM pg_matviews ORDER BY matviewname")
      .map(_.getString(0))
    assert(listed.contains("mv_cat_probe"))
    val kinds = rows(
      "SELECT relkind FROM pg_class WHERE relname = 'mv_cat_probe'")
      .map(_.getString(0))
    assert(kinds == Seq("m"))
    PgDialect.execute(spark, store, "DROP MATERIALIZED VIEW mv_cat_probe")
    val after = rows("SELECT matviewname FROM pg_matviews ORDER BY matviewname")
      .map(_.getString(0))
    assert(!after.contains("mv_cat_probe"))
  }

  test("DROP TABLE removes store tables and catalog visibility") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    store.replace("droppable", Seq((1L, "a")).toDF("k", "v"))
    store.read("droppable").createOrReplaceTempView("droppable")
    assert(PgDialect.execute(spark, store, "DROP TABLE droppable")
      == Command("DROP TABLE"))
    assert(!store.exists("droppable"))
    assert(!spark.catalog.tableExists("droppable"))
    // IF EXISTS tolerates a missing table; bare DROP errors like PG
    assert(PgDialect.execute(spark, store, "DROP TABLE IF EXISTS droppable")
      == Command("DROP TABLE"))
    intercept[UnsupportedQuery] {
      PgDialect.execute(spark, store, "DROP TABLE droppable")
    }
  }

  test("REFRESH CONCURRENTLY returns before the refresh completes") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    // a source whose scan takes ~2s via a sleeping UDF
    spark.udf.register("graft_slow_ident", (n: Long) => { Thread.sleep(400); n })
    Seq(1L, 2L, 3L, 4L, 5L).toDF("n").createOrReplaceTempView("slow_src")
    PgDialect.execute(spark, store,
      "CREATE MATERIALIZED VIEW mv_async AS SELECT sum(graft_slow_ident(n)) AS s FROM slow_src")
    assert(store.read("mv_async").head.getLong(0) == 15L)
    // grow the source, then refresh concurrently: the call must return well
    // under the ~2s the refresh scan takes, and old data stays served
    Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("n").createOrReplaceTempView("slow_src")
    val t0 = System.nanoTime()
    assert(PgDialect.execute(spark, store,
      "REFRESH MATERIALIZED VIEW CONCURRENTLY mv_async")
      == Command("REFRESH MATERIALIZED VIEW"))
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(elapsedMs < 1500, s"CONCURRENTLY blocked for ${elapsedMs}ms")
    assert(store.read("mv_async").head.getLong(0) == 15L) // old snapshot
    // and the background refresh eventually lands
    val deadline = System.currentTimeMillis() + 30000
    while (store.read("mv_async").head.getLong(0) == 15L
        && System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(store.read("mv_async").head.getLong(0) == 21L)
    PgDialect.execute(spark, store, "DROP MATERIALIZED VIEW mv_async")
  }

  test("EXPLAIN returns QUERY PLAN text rows") {
    Tables.registerAll(spark, sfDir)
    PgDialect.execute(spark, store,
      "EXPLAIN SELECT n_name FROM nation WHERE n_nationkey = 1") match {
      case Rows(df, tag) =>
        assert(tag == "EXPLAIN")
        assert(df.columns.sameElements(Array("QUERY PLAN")))
        val text = df.collect().map(_.getString(0)).mkString("\n")
        assert(text.contains("Scan parquet") || text.contains("(1)"), text)
      case other => fail(s"expected rows, got $other")
    }
  }

  test("EXPLAIN ANALYZE executes and appends actual totals") {
    Tables.registerAll(spark, sfDir)
    val lines = rows("EXPLAIN ANALYZE SELECT count(*) AS n FROM region")
      .map(_.getString(0))
    assert(lines.exists(_.startsWith("Actual Rows: 1")), lines.takeRight(3))
    assert(lines.exists(_.startsWith("Execution Time:")))
    // plain EXPLAIN must NOT execute or append totals
    val plain = rows("EXPLAIN SELECT count(*) AS n FROM region").map(_.getString(0))
    assert(!plain.exists(_.startsWith("Actual Rows")))
  }

  test("scalar sublink first-row mode injects LIMIT 1 in expression position") {
    // EXPR sublinks gain LIMIT 1; table-position subqueries never do
    assert(rewriteScalarSublinks("SELECT (SELECT v FROM t) AS v FROM o")
      == "SELECT (SELECT v FROM t LIMIT 1) AS v FROM o")
    assert(rewriteScalarSublinks("SELECT a, (SELECT v FROM t WHERE k = a ORDER BY v) FROM o")
      == "SELECT a, (SELECT v FROM t WHERE k = a ORDER BY v LIMIT 1) FROM o")
    assert(rewriteScalarSublinks("SELECT * FROM o WHERE x = (SELECT max(v) FROM t)")
      == "SELECT * FROM o WHERE x = (SELECT max(v) FROM t LIMIT 1)")
    assert(rewriteScalarSublinks("SELECT coalesce((SELECT v FROM t), 0) FROM o")
      == "SELECT coalesce((SELECT v FROM t LIMIT 1), 0) FROM o")
    // NOT sublinks: FROM / JOIN / IN / EXISTS / ANY / set-op branches
    Seq(
      "SELECT * FROM (SELECT v FROM t) s",
      "SELECT * FROM o JOIN (SELECT v FROM t) s ON s.v = o.x",
      "SELECT * FROM o, (SELECT v FROM t) s",
      "SELECT * FROM o WHERE x IN (SELECT v FROM t)",
      "SELECT * FROM o WHERE EXISTS (SELECT 1 FROM t)",
      "SELECT * FROM o WHERE x > ALL (SELECT v FROM t)",
      "(SELECT v FROM a) UNION (SELECT v FROM b)"
    ).foreach(q => assert(rewriteScalarSublinks(q) == q, q))
    // an existing top-level LIMIT/OFFSET is left alone
    assert(rewriteScalarSublinks("SELECT (SELECT v FROM t ORDER BY v LIMIT 3) FROM o")
      == "SELECT (SELECT v FROM t ORDER BY v LIMIT 3) FROM o")
    // keywords inside string literals are data, not anchors
    assert(rewriteScalarSublinks("SELECT '(SELECT x FROM t)' AS s FROM o")
      == "SELECT '(SELECT x FROM t)' AS s FROM o")
    // ... including dollar-quoted literals (both $$ and $tag$ forms)
    assert(rewriteScalarSublinks("SELECT $$x = (SELECT v FROM t)$$ AS s FROM o")
      == "SELECT $$x = (SELECT v FROM t)$$ AS s FROM o")
    assert(rewriteScalarSublinks("SELECT $q$= (SELECT 1)$q$ AS s FROM o")
      == "SELECT $q$= (SELECT 1)$q$ AS s FROM o")
    // a derived table after JOIN ... ON in a comma FROM list is NOT a sublink
    assert(rewriteScalarSublinks(
      "SELECT * FROM a JOIN b ON a.k = b.k, (SELECT v FROM t) d WHERE d.v = a.x")
      == "SELECT * FROM a JOIN b ON a.k = b.k, (SELECT v FROM t) d WHERE d.v = a.x")
    // an identifier starting with LIMIT must not suppress the injection
    assert(rewriteScalarSublinks("SELECT (SELECT limits FROM t) AS l FROM o")
      == "SELECT (SELECT limits FROM t LIMIT 1) AS l FROM o")
    // comments are blanked like literals: an apostrophe or '(SELECT' inside
    // a -- or /* */ comment must not misalign the scanner
    assert(rewriteScalarSublinks(
      "SELECT (SELECT v FROM t) AS v -- it's a trap (SELECT\nFROM o")
      == "SELECT (SELECT v FROM t LIMIT 1) AS v -- it's a trap (SELECT\nFROM o")
    assert(rewriteScalarSublinks(
      "SELECT /* don't (SELECT here */ (SELECT v FROM t) FROM o")
      == "SELECT /* don't (SELECT here */ (SELECT v FROM t LIMIT 1) FROM o")
    // PG block comments nest
    assert(rewriteScalarSublinks(
      "SELECT /* a /* b (SELECT */ c */ (SELECT v FROM t) FROM o")
      == "SELECT /* a /* b (SELECT */ c */ (SELECT v FROM t LIMIT 1) FROM o")
    // the translate pipeline only applies it when the session setting is on
    val strict = translateSelect("SELECT (SELECT v FROM t) AS v FROM o")
    assert(!strict.contains("LIMIT 1"))
    SessionSettings.set("graft.scalar_subquery_first_row", "on")
    try {
      val lenient = translateSelect("SELECT (SELECT v FROM t) AS v FROM o")
      assert(lenient.contains("LIMIT 1"), lenient)
    } finally SessionSettings.reset("graft.scalar_subquery_first_row")
  }

  test("first-row mode is append-only across the 271-query golden corpus") {
    // the sublink scanner must never corrupt real-world BI/ORM SQL: with
    // the setting on, every golden translation may differ from the strict
    // one ONLY by inserted " LIMIT 1" tokens, and must still parse
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val qs = om.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/golden_queries.json")))
    var rewritten = 0
    qs.elements().forEachRemaining { qn =>
      val q = qn.asText
      val off = try Some(translateSelect(q)) catch { case _: Throwable => None }
      off.foreach { o =>
        SessionSettings.set("graft.scalar_subquery_first_row", "on")
        val on =
          try translateSelect(q)
          finally SessionSettings.reset("graft.scalar_subquery_first_row")
        assert(on.replace(" LIMIT 1", "") == o.replace(" LIMIT 1", ""),
          s"non-append-only rewrite for: $q\noff: $o\non:  $on")
        if (on != o) {
          rewritten += 1
          spark.sessionState.sqlParser.parsePlan(on) // still valid SQL
        }
      }
    }
    assert(rewritten > 0, "expected at least one golden sublink to be rewritten")
  }

  test("CREATE VIEW lifecycle: create, replace, reflect, drop, durability") {
    Tables.registerAll(spark, sfDir)
    val wh = java.nio.file.Files.createTempDirectory("graft-vw").toString
    val st = new Store(spark, wh)
    import org.apache.spark.sql.functions._
    st.replace("vwt", spark.range(10).select(col("id"),
      (col("id") % 3).as("g")))
    def exec(sql: String) = PgDialect.execute(spark, st, sql)
    assert(exec("CREATE VIEW vw_g AS SELECT g, count(*) AS n FROM vwt GROUP BY g")
      == Command("CREATE VIEW"))
    def viewRows() = exec("SELECT g, n FROM vw_g ORDER BY g") match {
      case Rows(df, _) => df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      case other => fail(s"$other")
    }
    assert(viewRows() == Seq((0L, 4L), (1L, 3L), (2L, 3L)))
    // duplicate without OR REPLACE refuses; OR REPLACE swaps the definition
    intercept[Exception](exec("CREATE VIEW vw_g AS SELECT 1 AS x"))
    exec("CREATE OR REPLACE VIEW vw_g AS SELECT g, count(*) AS n FROM vwt WHERE g > 0 GROUP BY g")
    assert(viewRows() == Seq((1L, 3L), (2L, 3L)))
    // the view tracks base-table writes (re-bound on version flips)
    exec("DELETE FROM vwt WHERE g = 2")
    assert(viewRows() == Seq((1L, 3L)))
    // pg_views lists it with the original definition text
    exec("SELECT viewname FROM pg_views") match {
      case Rows(df, _) =>
        assert(df.collect().map(_.getString(0)).contains("vw_g"))
      case other => fail(s"$other")
    }
    // column-alias form + TEMP views are session-only
    exec("CREATE TEMP VIEW vw_tmp (a, b) AS SELECT g, count(*) FROM vwt GROUP BY g")
    exec("SELECT a, b FROM vw_tmp ORDER BY a") match {
      case Rows(df, _) => assert(df.columns.toSeq == Seq("a", "b"))
      case other => fail(s"$other")
    }
    // a view over a view registers regardless of map iteration order, and
    // a base commit re-binds it after the view it reads ("vw_top" iterates
    // before "vw_g" in the view map)
    exec("CREATE VIEW vw_top AS SELECT sum(n) AS total FROM vw_g")
    def total() = exec("SELECT total FROM vw_top") match {
      case Rows(df, _) => df.collect()(0).getLong(0)
      case other => fail(s"$other")
    }
    assert(total() == 3L)
    exec("DELETE FROM vwt WHERE id = 1")
    assert(viewRows() == Seq((1L, 2L)))
    assert(total() == 2L, "the outer view must read the base commit")
    // durable views survive a fresh mount of the same warehouse; temp do not
    val st2 = new Store(spark, wh)
    assert(st2.viewNames.contains("vw_g") && st2.viewNames.contains("vw_top")
      && !st2.viewNames.contains("vw_tmp"))
    exec("DROP VIEW vw_top")
    assert(viewRows() == Seq((1L, 2L)))
    // pg_get_viewdef over a literal name answers with the definition
    exec("SELECT pg_get_viewdef('vw_g'::regclass) AS d") match {
      case Rows(df, _) =>
        assert(df.collect()(0).getString(0).contains("FROM vwt WHERE g > 0"))
      case other => fail(s"$other")
    }
    // DROP TABLE on a view refuses with PG's wrong-object error
    val notTable = intercept[Exception](exec("DROP TABLE vw_g"))
    assert(notTable.getMessage.contains("not a table"), notTable.getMessage)
    assert(exec("DROP VIEW vw_g") == Command("DROP VIEW"))
    intercept[Exception](exec("DROP VIEW vw_g"))
    assert(exec("DROP VIEW IF EXISTS vw_g") == Command("DROP VIEW"))
    spark.catalog.dropTempView("vw_tmp")
    st.drop("vwt")
  }

  test("view DDL rolls back with the transaction") {
    Tables.registerAll(spark, sfDir)
    val wh = java.nio.file.Files.createTempDirectory("graft-vwtx").toString
    val st = new Store(spark, wh)
    import org.apache.spark.sql.functions._
    st.replace("vtx_t", spark.range(10).select(col("id")))
    val txn = new PgTxn
    def exec(sql: String) = PgDialect.execute(spark, st, sql, txn)
    exec("CREATE VIEW vtx_keep AS SELECT count(*) AS n FROM vtx_t")
    exec("BEGIN")
    exec("CREATE VIEW vtx_new AS SELECT id FROM vtx_t WHERE id > 5")
    exec("CREATE OR REPLACE VIEW vtx_keep AS SELECT 0 AS n")
    exec("DROP VIEW vtx_keep") // then drop the replaced one too
    exec("ROLLBACK")
    // created-in-txn view gone; replaced-then-dropped view back to original
    assert(!st.viewNames.contains("vtx_new"))
    assert(st.viewDefinition("vtx_keep").exists(_.contains("count(*)")))
    exec("SELECT n FROM vtx_keep") match {
      case Rows(df, _) => assert(df.collect()(0).getLong(0) == 10L)
      case other => fail(s"$other")
    }
    // a committed txn keeps its view DDL
    exec("BEGIN"); exec("DROP VIEW vtx_keep"); exec("COMMIT")
    assert(!st.viewNames.contains("vtx_keep"))
    st.drop("vtx_t")
  }

  test("SET graft.system_catalog = 'full' opts any client into the " +
      "real-PG catalog surface (pg_dump's automatic mode, by hand)") {
    Tables.registerAll(spark, sfDir)
    val wh = java.nio.file.Files.createTempDirectory("graft-syscat").toString
    val st = new Store(spark, wh)
    def exec(sql: String) = PgDialect.execute(spark, st, sql)
    SessionSettings.withSession(spark) {
      def nspnames() = exec("SELECT nspname FROM pg_namespace ORDER BY 1") match {
        case Rows(df, _) => df.collect().map(_.getString(0)).toSeq
        case other => fail(s"$other")
      }
      // default: the reference's filtered view — no system schemas
      assert(!nspnames().contains("pg_catalog"))
      try {
        exec("SET graft.system_catalog = 'full'")
        assert(nspnames().take(2) == Seq("pg_catalog", "pg_temp_1"))
      } finally exec("RESET graft.system_catalog")
      assert(!nspnames().contains("pg_catalog"))
    }
  }

  test("ROLLBACK never destroys a concurrent session's mid-statement commit") {
    Tables.registerAll(spark, sfDir)
    val wh = java.nio.file.Files.createTempDirectory("graft-txiso").toString
    val st = new Store(spark, wh)
    import spark.implicits._
    st.replace("txi_mine", Seq(1L, 2L).toDF("id"))
    st.replace("txi_other", Seq(1L).toDF("id"))
    // the cross-thread write lands INSIDE this txn's statement window —
    // exactly the overlap where a global version diff would blame the
    // other session's commit on this txn and roll it back with it. The
    // static hook keeps the non-serializable Store out of the UDF closure.
    TxIsoHook.hook = () =>
      st.appendCompacting("txi_other", Seq(99L).toDF("id"))
    spark.udf.register("txi_cross", (x: Long) => {
      val h = TxIsoHook.hook
      if (h != null) {
        val t = new Thread(() => h())
        t.start(); t.join()
        TxIsoHook.hook = null // fire once: re-runs of the plan are no-ops
      }
      x
    })
    val txn = new PgTxn
    def exec(sql: String) = PgDialect.execute(spark, st, sql, txn)
    exec("BEGIN")
    exec("INSERT INTO txi_mine SELECT txi_cross(7)")
    // the txn's own INSERT is STAGED: invisible to any other reader (this
    // assertion runs outside the txn's scope, like another session would)
    assert(st.read("txi_mine").count() == 2,
      "uncommitted writes must be invisible outside the transaction")
    assert(st.read("txi_other").count() == 2)
    exec("ROLLBACK")
    assert(st.read("txi_mine").count() == 2, "own write must roll back")
    assert(st.read("txi_other").count() == 2,
      "the other session's committed write must SURVIVE this rollback")
    st.drop("txi_mine"); st.drop("txi_other")
  }

  test("SIMILAR TO translates to an anchored RLIKE with PG semantics") {
    // wildcards become regex, regex subset passes through, . is literal
    assert(similarToRegex("NATION_1%", None) == "NATION.1.*")
    assert(similarToRegex("NATION\\_1%", None) == "NATION_1.*")
    assert(similarToRegex("(a|b)+x", None) == "(a|b)+x")
    assert(similarToRegex("v1.2_%", None) == "v1\\.2..*")
    assert(similarToRegex("a[0-9_]b", None) == "a[0-9_]b")
    assert(similarToRegex("10#%", Some('#')) == "10%")
    val out = translateSelect("SELECT x SIMILAR TO 'a%' AS m FROM t")
    assert(out.contains("RLIKE '^(?:a.*)$'"), out)
    val not = translateSelect("SELECT * FROM t WHERE x NOT SIMILAR TO 'a_b'")
    assert(not.contains("NOT RLIKE '^(?:a.b)$'"), not)
    // literal dot: emitted regex backslash survives Spark's string parser
    // via doubling
    assert(translateSelect("SELECT x SIMILAR TO 'a.b' AS m FROM t")
      .contains("RLIKE '^(?:a\\\\.b)$'"))
    // end-to-end through the engine
    import spark.implicits._
    Seq("abc", "axc", "a.c").toDF("v").createOrReplaceTempView("simto_t")
    val got = rows("SELECT v FROM simto_t WHERE v SIMILAR TO 'a.c' ORDER BY v")
    assert(got.map(_.getString(0)) == Seq("a.c"))
    val wild = rows("SELECT v FROM simto_t WHERE v SIMILAR TO 'a_c' ORDER BY v")
    assert(wild.map(_.getString(0)) == Seq("a.c", "abc", "axc"))
  }

  test("GROUPS frame translates to RANGE over dense_rank") {
    val out = translateSelect("SELECT k, sum(v) OVER (PARTITION BY p ORDER BY k " +
      "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM t WHERE v > 0 ORDER BY k")
    assert(out.contains("RANGE BETWEEN 1 PRECEDING AND CURRENT ROW"), out)
    assert(out.contains("dense_rank() OVER (PARTITION BY p ORDER BY k"), out)
    // the WHERE moves inside the dense_rank subquery (windows run post-filter)
    assert(out.contains("FROM t WHERE v > 0)"), out)
    // SELECT * keeps its schema (helper rank column excluded)
    val star = translateSelect(
      "SELECT *, sum(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s FROM t")
    assert(star.contains("* EXCEPT(__gdr)"), star)
    // two GROUPS windows or GROUP BY: pass through untouched (fail loudly)
    val two = "SELECT sum(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS a, " +
      "max(v) OVER (ORDER BY j GROUPS BETWEEN 2 PRECEDING AND CURRENT ROW) AS b FROM t"
    assert(translateSelect(two).toUpperCase.contains("GROUPS"))
  }

  test("migration-script statements no-op with their PG tags") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mig").toString
    val st = new Store(spark, wh)
    Tables.registerAll(spark, sfDir)
    def exec(sql: String) = PgDialect.execute(spark, st, sql)
    assert(exec("COMMENT ON TABLE region IS 'dims'") == Command("COMMENT"))
    assert(exec("COMMENT ON COLUMN region.r_name IS 'the name'") == Command("COMMENT"))
    // PG raises for unknown targets: misspelled relations/columns must not
    // accumulate silently in the durable pg_description catalog
    for (bad <- Seq("COMMENT ON TABLE regoin IS 'typo'",
        "COMMENT ON COLUMN region.r_nmae IS 'typo'"))
      assert(intercept[PgDialect.UnsupportedQuery](exec(bad))
        .getMessage.contains("does not exist"), bad)
    assert(exec("LOCK TABLE region IN ACCESS EXCLUSIVE MODE") == Command("LOCK TABLE"))
    assert(exec("SET CONSTRAINTS ALL DEFERRED") == Command("SET CONSTRAINTS"))
    assert(exec("CHECKPOINT") == Command("CHECKPOINT"))
    assert(exec("ANALYZE") == Command("ANALYZE"))
    assert(exec("ANALYZE VERBOSE region") == Command("ANALYZE"))
    assert(exec("ANALYZE region (r_name)") == Command("ANALYZE"))
    // plain SET still reaches the settings registry
    exec("SET graft.mig_probe = 'x'")
    assert(SessionSettings.get("graft.mig_probe").contains("x"))
    SessionSettings.reset("graft.mig_probe")
  }

  test("operator rewrites never touch string literals") {
    // '~', '#', '^', '<<' inside literals survive; the operators outside
    // still translate
    val t1 = translateSelect("SELECT v ~ 'a~b#c^d<<e' AS m FROM t")
    assert(t1.contains("RLIKE") && t1.contains("'a~b#c^d<<e'"), t1)
    val t2 = translateSelect("SELECT 'x~~y' AS s, a ~~ 'p%' AS l FROM t")
    assert(t2.contains("'x~~y'") && t2.contains("LIKE") &&
      !t2.toUpperCase.contains("ILIKE"), t2)
  }

  test("two-word PG type names cast correctly") {
    val out = translateSelect("SELECT x::double precision AS d, " +
      "y::character varying AS s, z::timestamp without time zone AS ts FROM t")
    assert(out.contains("CAST(x AS DOUBLE)"), out)
    assert(out.contains("CAST(y AS STRING)"), out)
    assert(out.contains("CAST(z AS TIMESTAMP_NTZ)"), out)
  }

  test("unaliased targets get PG auto-aliases like the reference remapper") {
    // f(x) -> AS f (query_remapper_select.go:68-76)
    assert(
      translateSelect("SELECT upper(n_name) FROM nation")
        == "SELECT upper(n_name) AS upper FROM nation"
    )
    // explicit alias and bare columns stay untouched
    assert(
      translateSelect("SELECT upper(n_name) AS u, n_name FROM nation")
        == "SELECT upper(n_name) AS u, n_name FROM nation"
    )
    // FILTER tail still names after the function (PG: `count`)
    assert(
      translateSelect("SELECT count(*) FILTER (WHERE x > 1) FROM t")
        == "SELECT count(*) FILTER (WHERE x > 1) AS count FROM t"
    )
    // only the OUTERMOST list is aliased; subquery targets stay Spark-named
    assert(
      translateSelect("SELECT x FROM (SELECT max(v) AS x FROM t) s")
        == "SELECT x FROM (SELECT max(v) AS x FROM t) s"
    )
    // a SELECT keyword inside a string literal is not a target-list anchor
    assert(
      translateSelect("SELECT 'SELECT f(x)' AS s FROM t")
        == "SELECT 'SELECT f(x)' AS s FROM t"
    )
    // t.col AS t -> AS t_, propagated into GROUP BY / ORDER BY
    // (query_remapper_select.go:25-48)
    assert(
      translateSelect(
        "SELECT n.n_name AS n, count(*) AS c FROM nation n GROUP BY n ORDER BY n"
      )
        == "SELECT n.n_name AS n_, count(*) AS c FROM nation n GROUP BY n_ ORDER BY n_ NULLS LAST"
    )
  }

  test("PG double-quoted identifiers become backticks; strings untouched") {
    assert(translateSelect("SELECT \"MixedCase\" FROM \"My Table\"")
      == "SELECT `MixedCase` FROM `My Table`")
    // double quotes inside a string literal are data
    assert(translateSelect("SELECT 'a \"quoted\" word' AS s FROM t")
      == "SELECT 'a \"quoted\" word' AS s FROM t")
    // embedded "" unescapes to a single quote character in the identifier
    assert(translateSelect("SELECT \"we\"\"ird\" FROM t")
      == "SELECT `we\"ird` FROM t")
    // schema strip: public./main. qualification drops outside strings only
    assert(translateSelect("SELECT public.t.c FROM public.t")
      == "SELECT t.c FROM t")
    assert(translateSelect("SELECT 'public.t' AS s")
      == "SELECT 'public.t' AS s")
  }

  test("window FILTER translation") {
    val out = translateSelect(
      "SELECT count(*) FILTER (WHERE x = 1) OVER (PARTITION BY u) FROM t")
    assert(out ==
      "SELECT count(CASE WHEN x = 1 THEN 1 END) OVER (PARTITION BY u) AS count FROM t", out)
    val out2 = translateSelect(
      "SELECT sum(v) FILTER (WHERE x = 1) OVER (PARTITION BY u) FROM t")
    assert(out2 ==
      "SELECT sum(CASE WHEN x = 1 THEN v END) OVER (PARTITION BY u) AS sum FROM t", out2)
  }

  test("null-ordering injection stops at window frame clauses") {
    assert(injectPgNullOrdering("SELECT sum(v) OVER (ORDER BY ts " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t")
      == "SELECT sum(v) OVER (ORDER BY ts NULLS LAST " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t")
    assert(injectPgNullOrdering("SELECT first_value(v) OVER (ORDER BY ts DESC " +
      "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) FROM t")
      == "SELECT first_value(v) OVER (ORDER BY ts DESC NULLS FIRST " +
        "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) FROM t")
  }

  test("locking clauses are stripped") {
    assert(translateSelect("SELECT * FROM t WHERE id = 1 FOR UPDATE")
      == "SELECT * FROM t WHERE id = 1")
    assert(translateSelect("SELECT * FROM t FOR NO KEY UPDATE OF t NOWAIT")
      == "SELECT * FROM t")
    assert(translateSelect("SELECT * FROM t FOR SHARE SKIP LOCKED")
      == "SELECT * FROM t")
  }

  // ---- translation unit tests -----------------------------------------
  test("cast translation") {
    assert(translateSelect("SELECT '123'::int4 AS i")
      == "SELECT CAST('123' AS INT) AS i")
    assert(translateSelect("SELECT 1::text")
      == "SELECT CAST(1 AS STRING)")
    assert(translateSelect("SELECT (1 + 2)::text")
      == "SELECT CAST((1 + 2) AS STRING)")
    assert(translateSelect("SELECT x::numeric(10,2) FROM t")
      == "SELECT CAST(x AS DECIMAL(10,2)) FROM t")
    // array-LITERAL casts expand to typed array() constructors — Spark has
    // no string→array cast, so the old CAST(... AS ARRAY<…>) form failed
    // at analysis (pg_dump probes unnest('{16385}'::oid[]))
    assert(translateSelect("SELECT '{a,b}'::text[]")
      == "SELECT array(CAST('a' AS STRING), CAST('b' AS STRING))")
    assert(translateSelect("SELECT '{}'::int4[]")
      == "SELECT CAST(array() AS ARRAY<INT>)")
    assert(translateSelect("SELECT col::text[] FROM t")
      == "SELECT CAST(col AS ARRAY<STRING>) FROM t")
    assert(translateSelect("SELECT a.b::int8 FROM t a")
      == "SELECT CAST(a.b AS BIGINT) FROM t a")
  }

  test("json arrow translation") {
    assert(translateSelect("SELECT props ->> 'k' FROM events")
      == "SELECT get_json_object(props, '$.k') AS props_k FROM events")
    assert(translateSelect("SELECT props -> 'a' ->> 'b' FROM events")
      == "SELECT get_json_object(pg_json_extract(props, '$.a'), '$.b') FROM events")
    // final `->` keeps the JSON representation (PG: json_extract)
    assert(translateSelect("SELECT j -> 0 FROM t")
      == "SELECT pg_json_extract(j, '$[0]') FROM t")
  }

  test("ANY/ALL translation") {
    assert(translateSelect("SELECT * FROM t WHERE x = ANY('{a,b}')")
      == "SELECT * FROM t WHERE x IN ('a', 'b')")
    assert(translateSelect("SELECT * FROM t WHERE x <> ALL('{a,b}'::text[])")
      == "SELECT * FROM t WHERE x NOT IN ('a', 'b')")
    assert(translateSelect("SELECT * FROM t WHERE 'one' = ANY(arr)")
      == "SELECT * FROM t WHERE array_contains(arr, 'one')")
  }

  test("ANY subquery, regclass, and LATERAL translation") {
    assert(translateSelect("SELECT * FROM t WHERE x = ANY(SELECT y FROM u WHERE y > (1 + 2))")
      == "SELECT * FROM t WHERE x IN (SELECT y FROM u WHERE y > (1 + 2))")
    assert(translateSelect("SELECT * FROM t WHERE x <> ALL(SELECT y FROM u)")
      == "SELECT * FROM t WHERE x NOT IN (SELECT y FROM u)")
    assert(translateSelect("SELECT 'orders'::regclass")
      == "SELECT (SELECT oid FROM pg_class WHERE relname = 'orders')")
    assert(translateSelect("SELECT 'public.orders'::regclass::oid")
      == "SELECT (SELECT c.oid FROM pg_class c JOIN pg_namespace n ON c.relnamespace = n.oid WHERE n.nspname = 'public' AND c.relname = 'orders')")
    assert(translateSelect("SELECT 'lower'::regproc") == "SELECT 'lower'")
    assert(translateSelect("SELECT * FROM t WHERE props ? 'k'")
      == "SELECT * FROM t WHERE get_json_object(props, '$.k') IS NOT NULL")
    assert(translateSelect("SELECT props #>> '{a,b}' FROM t")
      == "SELECT get_json_object(props, '$.a.b') FROM t")
    assert(translateSelect("""SELECT * FROM t WHERE props @> '{"k": 69}'""")
      == "SELECT * FROM t WHERE (get_json_object(props, '$.k') = '69')")
    assert(translateSelect("SELECT * FROM t WHERE tags && ARRAY['a','b']")
      == "SELECT * FROM t WHERE arrays_overlap(tags, array('a','b'))")
    // series args are widened to BIGINT: the reference's generate_series
    // returns BIGINT (its corpus pins Int8OID on the wire)
    assert(translateSelect("SELECT r_name, n FROM region, LATERAL generate_series(1, r_regionkey) AS g(n)")
      == "SELECT r_name, n FROM region LATERAL VIEW explode(sequence(" +
        "CAST((1) AS BIGINT), CAST((r_regionkey) AS BIGINT))) g AS n")
    assert(translateSelect("SELECT n FROM generate_series(1, 5) AS g(n)")
      == "SELECT n FROM (SELECT explode(sequence(" +
        "CAST((1) AS BIGINT), CAST((5) AS BIGINT))) AS n) g")
  }

  test("table functions and _pg_expandarray translate") {
    assert(translateSelect("SELECT * FROM pg_show_all_settings()")
      == "SELECT * FROM pg_settings pg_show_all_settings")
    assert(translateSelect("SELECT word FROM pg_get_keywords()")
      == "SELECT word FROM pg_keywords pg_get_keywords")
    assert(translateSelect("SELECT _pg_expandarray(arr) FROM t")
      == "SELECT transform(arr, (__x, __i) -> struct(__x AS x, __i + 1 AS n)) AS _pg_expandarray FROM t")
  }

  test("permissions comment restricts tables and columns like the reference") {
    val p = PgDialect.parsePermissions(
      """/*BEMIDB_PERMISSIONS {"public.nation": ["n_name"], "public.region": ["r_name", "r_regionkey"]} BEMIDB_PERMISSIONS*/ SELECT 1""")
    assert(p == Some(Map("nation" -> Seq("n_name"), "region" -> Seq("r_name", "r_regionkey"))))

    // permitted column resolves; row count unchanged
    val ok = rows(
      """/*BEMIDB_PERMISSIONS {"public.nation": ["n_name"]} BEMIDB_PERMISSIONS*/
         SELECT n_name FROM nation ORDER BY n_name""")
    assert(ok.size == 25)
    // non-permitted column fails to resolve
    intercept[Throwable] {
      rows(
        """/*BEMIDB_PERMISSIONS {"public.nation": ["n_name"]} BEMIDB_PERMISSIONS*/
           SELECT n_nationkey FROM nation""")
    }
    // table absent from the permission map scans as empty
    val denied = rows(
      """/*BEMIDB_PERMISSIONS {"public.nation": ["n_name"]} BEMIDB_PERMISSIONS*/
         SELECT * FROM region""")
    assert(denied.isEmpty)
    // no permissions comment: unrestricted
    assert(rows("SELECT n_nationkey FROM nation WHERE n_nationkey = 3").size == 1)
  }

  test("PG null-ordering defaults injected on ORDER BY keys") {
    assert(translateSelect("SELECT a FROM t ORDER BY a")
      == "SELECT a FROM t ORDER BY a NULLS LAST")
    assert(translateSelect("SELECT a FROM t ORDER BY a DESC, b LIMIT 3")
      == "SELECT a FROM t ORDER BY a DESC NULLS FIRST, b NULLS LAST LIMIT 3")
    assert(translateSelect("SELECT a FROM t ORDER BY a NULLS FIRST")
      == "SELECT a FROM t ORDER BY a NULLS FIRST")
    assert(translateSelect("SELECT a FROM t ORDER BY coalesce(a, b), c")
      == "SELECT a FROM t ORDER BY coalesce(a, b) NULLS LAST, c NULLS LAST")
    assert(translateSelect("SELECT row_number() OVER (ORDER BY x DESC) FROM t")
      == "SELECT row_number() OVER (ORDER BY x DESC NULLS FIRST) AS row_number FROM t")
    // linear in the text after ORDER BY: a ~1 MB key list translates in
    // seconds, with the same output shape as the short inputs above
    val keys = (1 to 120000).map(i => s"c$i")
    val t0 = System.nanoTime
    val big = translateSelect(s"SELECT a FROM t ORDER BY ${keys.mkString(", ")} LIMIT 3")
    val secs = (System.nanoTime - t0) / 1e9
    assert(secs < 10, s"1 MB ORDER BY list took $secs s")
    assert(big == "SELECT a FROM t ORDER BY " +
      keys.map(_ + " NULLS LAST").mkString(", ") + " LIMIT 3")
  }

  test("operator and qualification translation") {
    assert(translateSelect("SELECT * FROM t WHERE n ~ 'x.*'")
      == "SELECT * FROM t WHERE n  RLIKE  'x.*'")
    assert(translateSelect("SELECT * FROM t WHERE n !~ 'x'")
      == "SELECT * FROM t WHERE n  NOT RLIKE  'x'")
    assert(translateSelect("SELECT pg_catalog.version()") == "SELECT version() AS version")
    assert(translateSelect("SELECT * FROM pg_catalog.pg_class")
      == "SELECT * FROM pg_class")
    assert(translateSelect("SELECT * FROM information_schema.columns")
      == "SELECT * FROM information_schema_columns")
    assert(translateSelect("SELECT x COLLATE \"C\" FROM t") == "SELECT x FROM t")
  }

  // ---- end-to-end through Spark ---------------------------------------
  test("simple select and multi-statement") {
    val r = rows("SELECT 1 AS one")
    assert(r.head.getInt(0) == 1)
    val all = PgDialect.executeAll(spark, store, "SELECT 1 AS a; SELECT 2 AS b")
    assert(all.size == 2)
  }

  test("SET / SHOW / BEGIN / DISCARD behave like the reference") {
    assert(PgDialect.execute(spark, store, "SET statement_timeout = '30s'") == Command("SET"))
    assert(PgDialect.execute(spark, store, "BEGIN") == Command("BEGIN"))
    assert(PgDialect.execute(spark, store, "COMMIT") == Command("COMMIT"))
    assert(PgDialect.execute(spark, store, "DISCARD ALL") == Command("DISCARD ALL"))
    val Rows(df, tag) = PgDialect.execute(spark, store, "SHOW server_version"): @unchecked
    assert(tag == "SHOW")
    assert(df.columns.toSeq == Seq("server_version"))
    assert(df.collect()(0).getString(0) == "17.0")
    val Rows(sp, _) = PgDialect.execute(spark, store, "SHOW search_path"): @unchecked
    assert(sp.collect()(0).getString(0) == "\"$user\", public")
  }

  test("psql \\dt and \\dn replay verbatim through the dialect") {
    Tables.registerAll(spark, sfDir)
    // the exact SQL psql 16 sends for \dt
    val dt = """SELECT n.nspname as "Schema",
      c.relname as "Name",
      CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' WHEN 'I' THEN 'partitioned index' END as "Type",
      pg_catalog.pg_get_userbyid(c.relowner) as "Owner"
    FROM pg_catalog.pg_class c
         LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
    WHERE c.relkind IN ('r','p','')
          AND n.nspname <> 'pg_catalog'
          AND n.nspname !~ '^pg_toast'
          AND n.nspname <> 'information_schema'
      AND pg_catalog.pg_table_is_visible(c.oid)
    ORDER BY 1,2"""
    val Rows(df, _) = PgDialect.execute(spark, store, dt): @unchecked
    val names = df.collect().map(_.getString(1)).toSeq
    assert(names.contains("nation") && names.contains("lineitem"), names)
    // \dn (schemas)
    val dn = """SELECT n.nspname AS "Name",
      pg_catalog.pg_get_userbyid(n.nspowner) AS "Owner"
    FROM pg_catalog.pg_namespace n
    WHERE n.nspname !~ '^pg_' AND n.nspname <> 'information_schema'
    ORDER BY 1"""
    val Rows(df2, _) = PgDialect.execute(spark, store, dn): @unchecked
    assert(df2.collect().map(_.getString(0)).contains("public"))
  }

  test("PgJDBC getColumns metadata query replays verbatim") {
    Tables.registerAll(spark, sfDir)
    // the exact SQL the PostgreSQL JDBC driver issues for getColumns()
    val jdbc = """SELECT n.nspname,c.relname,a.attname,a.atttypid,
      a.attnotnull OR (t.typtype = 'd' AND t.typnotnull) AS attnotnull,
      a.atttypmod,a.attlen,t.typtypmod,
      row_number() OVER (PARTITION BY a.attrelid ORDER BY a.attnum) AS attnum,
      nullif(a.attidentity, '') as attidentity,
      nullif(a.attgenerated, '') as attgenerated,
      pg_catalog.pg_get_expr(def.adbin, def.adrelid) AS adsrc,
      dsc.description,t.typbasetype,t.typtype
    FROM pg_catalog.pg_namespace n
    JOIN pg_catalog.pg_class c ON (c.relnamespace = n.oid)
    JOIN pg_catalog.pg_attribute a ON (a.attrelid=c.oid)
    JOIN pg_catalog.pg_type t ON (a.atttypid = t.oid)
    LEFT JOIN pg_catalog.pg_attrdef def ON (a.attrelid=def.adrelid AND a.attnum = def.adnum)
    LEFT JOIN pg_catalog.pg_description dsc ON (c.oid=dsc.objoid AND a.attnum = dsc.objsubid)
    LEFT JOIN pg_catalog.pg_class dc ON (dc.oid=dsc.classoid AND dc.relname='pg_description')
    LEFT JOIN pg_catalog.pg_namespace dn ON (dc.relnamespace=dn.oid AND dn.nspname='pg_catalog')
    WHERE c.relkind in ('r','p','v','f','m') and a.attnum > 0 AND NOT a.attisdropped
      AND n.nspname LIKE 'public' AND c.relname LIKE 'nation'
    ORDER BY nspname,c.relname,attnum"""
    val Rows(df, _) = PgDialect.execute(spark, store, jdbc): @unchecked
    val rs = df.collect()
    assert(rs.length == 3, s"nation has 3 columns, got ${rs.length}")
    val byName = rs.map(r => r.getString(2) -> r.getLong(3)).toMap
    assert(byName("n_nationkey") == 23L) // int4
    assert(byName("n_name") == 25L)      // text
    // attnum is the dense per-relation row number the driver relies on
    assert(rs.map(_.getInt(8)).toSeq == Seq(1, 2, 3))
  }

  test("PgJDBC getPrimaryKeys metadata query executes (empty: no PK info)") {
    Tables.registerAll(spark, sfDir)
    val jdbc = """SELECT NULL AS TABLE_CAT, n.nspname AS TABLE_SCHEM,
      ct.relname AS TABLE_NAME, a.attname AS COLUMN_NAME,
      (information_schema._pg_expandarray(i.indkey)).n AS KEY_SEQ,
      ci.relname AS PK_NAME
    FROM pg_catalog.pg_class ct
    JOIN pg_catalog.pg_attribute a ON (ct.oid = a.attrelid)
    JOIN pg_catalog.pg_namespace n ON (ct.relnamespace = n.oid)
    JOIN pg_catalog.pg_index i ON (a.attrelid = i.indrelid)
    JOIN pg_catalog.pg_class ci ON (ci.oid = i.indexrelid)
    WHERE true AND n.nspname = 'public' AND ct.relname = 'nation' AND i.indisprimary"""
    val Rows(df, _) = PgDialect.execute(spark, store, jdbc): @unchecked
    assert(df.collect().isEmpty) // pg_index ships empty, like a fresh sync
  }

  test("PgJDBC getImportedKeys metadata query executes (empty: no FK info)") {
    Tables.registerAll(spark, sfDir)
    val jdbc = """SELECT NULL::text AS PKTABLE_CAT, pkn.nspname AS PKTABLE_SCHEM,
      pkc.relname AS PKTABLE_NAME, pka.attname AS PKCOLUMN_NAME,
      NULL::text AS FKTABLE_CAT, fkn.nspname AS FKTABLE_SCHEM,
      fkc.relname AS FKTABLE_NAME, fka.attname AS FKCOLUMN_NAME,
      pos.n AS KEY_SEQ,
      con.conname AS FK_NAME, pkic.relname AS PK_NAME
    FROM pg_catalog.pg_class pkc
     JOIN pg_catalog.pg_namespace pkn ON (pkc.relnamespace = pkn.oid)
     JOIN pg_catalog.pg_constraint con ON (con.confrelid = pkc.oid)
     JOIN pg_catalog.pg_class fkc ON (fkc.oid = con.conrelid)
     JOIN pg_catalog.pg_namespace fkn ON (fkc.relnamespace = fkn.oid)
     JOIN pg_catalog.generate_series(1, 32) pos(n) ON (con.conkey[pos.n] IS NOT NULL)
     JOIN pg_catalog.pg_attribute pka ON (pka.attrelid = pkc.oid AND pka.attnum = con.confkey[pos.n])
     JOIN pg_catalog.pg_attribute fka ON (fka.attrelid = fkc.oid AND fka.attnum = con.conkey[pos.n])
     JOIN pg_catalog.pg_class pkic ON (pkic.oid = con.conindid)
    WHERE con.contype = 'f'
      AND fkn.nspname = 'public' AND fkc.relname = 'nation'"""
    val Rows(df, _) = PgDialect.execute(spark, store, jdbc): @unchecked
    assert(df.collect().isEmpty) // pg_constraint ships empty, like a fresh sync
  }

  test("RESET var and RESET ALL restore defaults") {
    PgDialect.execute(spark, store, "SET statement_timeout = '30s'")
    PgDialect.execute(spark, store, "SET application_name = 'psql'")
    assert(PgDialect.execute(spark, store, "RESET statement_timeout") == Command("RESET"))
    assert(SessionSettings.get("statement_timeout").isEmpty)
    assert(SessionSettings.get("application_name").contains("psql"))
    PgDialect.execute(spark, store, "SET timezone = 'America/New_York'")
    assert(PgDialect.execute(spark, store, "RESET ALL") == Command("RESET"))
    assert(SessionSettings.get("application_name").isEmpty)
    assert(SessionSettings.get("timezone").contains("UTC"))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("SHOW ALL and SHOW TIME ZONE") {
    val all = rows("SHOW ALL")
    assert(all.size >= 8)
    assert(all.exists(r => r.getString(0) == "server_version" && r.getString(1) == "17.0"))
    PgDialect.execute(spark, store, "SET timezone = 'UTC'")
    val tz = rows("SHOW TIME ZONE")
    assert(tz.head.getString(0) == "UTC")
  }

  test("unsupported statements error like the reference") {
    val e = intercept[UnsupportedQuery] {
      PgDialect.execute(spark, store, "INSERT INTO t VALUES (1)")
    }
    assert(e.getMessage.contains("unsupported query type"))
    intercept[UnsupportedQuery] { PgDialect.execute(spark, store, "UPDATE t SET x = 1") }
    intercept[UnsupportedQuery] { PgDialect.execute(spark, store, "DELETE FROM t") }
  }

  test("empty query and comment-only query") {
    assert(PgDialect.execute(spark, store, "") == Empty)
    assert(PgDialect.execute(spark, store, "-- nothing") == Empty)
    assert(PgDialect.execute(spark, store, "/* nothing */") == Empty)
  }

  test("matview lifecycle through the dialect layer") {
    Tables.registerAll(spark, sfDir)
    assert(PgDialect.execute(spark, store,
      "CREATE MATERIALIZED VIEW rev AS SELECT count(*) AS n FROM nation")
      == Command("CREATE MATERIALIZED VIEW"))
    assert(store.read("rev").collect()(0).getLong(0) == 25)
    assert(PgDialect.execute(spark, store, "REFRESH MATERIALIZED VIEW rev")
      == Command("REFRESH MATERIALIZED VIEW"))
    assert(PgDialect.execute(spark, store, "ALTER MATERIALIZED VIEW rev RENAME TO rev2")
      == Command("ALTER"))
    assert(store.matviewDefinition("rev2").isDefined)
    assert(PgDialect.execute(spark, store, "DROP MATERIALIZED VIEW rev2")
      == Command("DROP MATERIALIZED VIEW"))
    assert(store.matviewDefinition("rev2").isEmpty)
    // IF NOT EXISTS / IF EXISTS forms are no-ops where applicable
    PgDialect.execute(spark, store, "CREATE MATERIALIZED VIEW m AS SELECT 1 AS x")
    assert(PgDialect.execute(spark, store,
      "CREATE MATERIALIZED VIEW IF NOT EXISTS m AS SELECT 2 AS x")
      == Command("CREATE MATERIALIZED VIEW"))
    assert(store.read("m").collect()(0).getInt(0) == 1)
    PgDialect.execute(spark, store, "DROP MATERIALIZED VIEW IF EXISTS m")
    assert(PgDialect.execute(spark, store, "DROP MATERIALIZED VIEW IF EXISTS m")
      == Command("DROP MATERIALIZED VIEW"))
  }

  test("additive matview REFRESH through the dialect runs incrementally") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    store.appendCompacting("dlx",
      (1L to 100L).map(k => (k, s"g${k % 4}")).toDF("k", "g"), maxFileBytes = 1L)
    assert(PgDialect.execute(spark, store,
      "CREATE MATERIALIZED VIEW dlx_mv AS " +
        "SELECT g, count(*) AS n, sum(k) AS sk FROM dlx GROUP BY g")
      == Command("CREATE MATERIALIZED VIEW"))
    store.appendCompacting("dlx",
      (101L to 120L).map(k => (k, s"g${k % 4}")).toDF("k", "g"), maxFileBytes = 1L)
    assert(PgDialect.execute(spark, store, "REFRESH MATERIALIZED VIEW dlx_mv")
      == Command("REFRESH MATERIALIZED VIEW"))
    // the plain SQL statement surface got the O(changed files) path
    assert(store.lastRefreshIncremental,
      "dialect REFRESH must route additive definitions through IVM")
    assert(store.read("dlx_mv").orderBy("g").collect().toSeq ==
      spark.sql("SELECT g, count(*) AS n, sum(k) AS sk FROM dlx GROUP BY g")
        .orderBy("g").collect().toSeq)
  }

  test("E'' escape strings decode like the PG lexer") {
    def one(sql: String): String = rows(sql).head.getString(0)
    assert(one("SELECT E'a\\nb' AS v") == "a\nb")
    assert(one("SELECT E'tab\\there' AS v") == "tab\there")
    assert(one("SELECT E'it''s' AS v") == "it's")
    assert(one("SELECT E'it\\'s' AS v") == "it's") // \' quote escape
    assert(one("SELECT E'back\\\\slash' AS v") == "back\\slash")
    assert(one("SELECT E'\\x41\\101\\u0041' AS v") == "AAA") // hex, octal, unicode
    assert(one("SELECT E'\\q' AS v") == "q") // unknown escape = the char
    assert(one("SELECT e'lower\\ncase' AS v") == "lower\ncase")
    // an identifier-trailing E must NOT trigger: LIKE'x' is keyword+string
    assert(rows("SELECT 1 AS v WHERE 'axb' LIKE'%x%'").nonEmpty)
    // and a plain literal's backslashes stay LITERAL (PG standard strings)
    assert(one("SELECT 'raw\\d+' AS v") == "raw\\d+")
  }

  test("OPERATOR(op) explicit syntax and ANY over ARRAY constructors") {
    // pg_dump spells every comparison OPERATOR(pg_catalog.=) and filters
    // relkind with = ANY (ARRAY['r','v']); SQLAlchemy emits the same ANY
    val r = rows("""SELECT c.relname FROM pg_catalog.pg_class c
      WHERE c.relname OPERATOR(pg_catalog.=) 'nation'
        AND c.relkind OPERATOR(pg_catalog.=) ANY (ARRAY['r', 'S', 'v'])
        AND c.relname OPERATOR(pg_catalog.~) '^nat' COLLATE pg_catalog.default""")
    assert(r.map(_.getString(0)) == Seq("nation"))
    val none = rows(
      "SELECT 1 AS v WHERE 'x' OPERATOR(<>) ALL (ARRAY['x', 'y'])")
    assert(none.isEmpty)
    assert(rows("SELECT 2 OPERATOR(pg_catalog.+) 3 AS s").head.get(0).toString == "5")
  }

  test("pg-flavored query end-to-end: casts + json ops + ANY") {
    val r = rows("""
      SELECT event_id, (props ->> 'k')::int4 AS k
      FROM events
      WHERE event_type = ANY('{click,view}') AND (props ->> 'k')::int4 > 90
      ORDER BY event_id""")
    assert(r.nonEmpty)
    assert(r.forall(_.getInt(1) > 90))
  }

  test("aggregate rollup answers from a fresh incremental matview") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    val sales = Seq(
      ("east", "a", 10L, 2L), ("east", "a", 20L, 4L), ("east", "b", 5L, 1L),
      ("west", "a", 7L, 3L), ("west", "b", 30L, 6L), ("west", "b", 1L, 5L)
    ).toDF("region", "product", "amount", "qty")
    store.replace("ru_sales", sales)
    store.createMatview("ru_mv", """SELECT region, product,
      count(*) AS n_rows, sum(amount) AS sum_amount, avg(qty) AS avg_qty
      FROM ru_sales GROUP BY region, product""")
    val q = """SELECT region, count(*) AS n, sum(amount) AS total,
      avg(qty) AS aq FROM ru_sales GROUP BY region ORDER BY region"""
    val r0 = RollupRewrite.rewrites.get
    val got = rows(q)
    assert(RollupRewrite.rewrites.get == r0 + 1, "rollup must fire")
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))) ==
      Seq(("east", 3L, 35L, 7.0 / 3), ("west", 3L, 38L, 14.0 / 3)))

    // a stale view must NOT shadow live data: the un-refreshed query
    // answers from the base (counter unchanged) and sees the new row
    store.append("ru_sales", Seq(("east", "c", 100L, 10L)).toDF("region", "product", "amount", "qty"))
    val r1 = RollupRewrite.rewrites.get
    val stale = rows(q)
    assert(RollupRewrite.rewrites.get == r1, "stale view must not rewrite")
    assert(stale.find(_.getString(0) == "east").get.getLong(2) == 135L)
    // after refresh the rollup fires again, same answer
    store.refreshMatview("ru_mv")
    val r2 = RollupRewrite.rewrites.get
    val fresh = rows(q)
    assert(RollupRewrite.rewrites.get == r2 + 1, "refreshed view must rewrite")
    assert(fresh == stale)
  }

  test("rollup guards: predicate columns, derivability, order-by shape") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    // WHERE on a group column commutes with the view's aggregation: fires
    val qGrouped = """SELECT region, sum(amount) AS total FROM ru_sales
      WHERE region = 'east' GROUP BY region"""
    val r0 = RollupRewrite.rewrites.get
    assert(rows(qGrouped).map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("east", 135L)))
    assert(RollupRewrite.rewrites.get == r0 + 1)
    // WHERE on a NON-group column cannot: falls through to the base
    val r1 = RollupRewrite.rewrites.get
    assert(rows("""SELECT region, count(*) AS n FROM ru_sales
      WHERE amount > 5 GROUP BY region ORDER BY region""")
      .map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("east", 3L), ("west", 2L)))
    assert(RollupRewrite.rewrites.get == r1, "non-group predicate must not rewrite")
    // an aggregate the view does not carry (min): falls through
    val r2 = RollupRewrite.rewrites.get
    assert(rows("""SELECT region, min(amount) AS lo FROM ru_sales
      GROUP BY region ORDER BY region""")
      .map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("east", 5L), ("west", 1L)))
    assert(RollupRewrite.rewrites.get == r2, "undderivable aggregate must not rewrite")
    // ORDER BY over an aggregate expression (not an alias): falls through
    val r3 = RollupRewrite.rewrites.get
    assert(rows("""SELECT region, sum(amount) AS total FROM ru_sales
      GROUP BY region ORDER BY sum(amount) DESC""")
      .map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("east", 135L), ("west", 38L)))
    assert(RollupRewrite.rewrites.get == r3, "expression order-by must not rewrite")
  }

  test("rollup derives min/max and exact group match from a min/max view") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    val obs = Seq(
      ("s1", "2024", 5L), ("s1", "2024", 9L), ("s1", "2025", 2L),
      ("s2", "2024", 7L), ("s2", "2025", 11L), ("s2", "2025", 3L)
    ).toDF("station", "yr", "temp")
    store.replace("ru_obs", obs)
    store.createMatview("ru_obs_mv", """SELECT station, yr,
      count(*) AS n_rows, min(temp) AS min_temp, max(temp) AS max_temp
      FROM ru_obs GROUP BY station, yr""")
    val r0 = RollupRewrite.rewrites.get
    val got = rows("""SELECT station, min(temp) AS lo, max(temp) AS hi,
      count(*) AS n FROM ru_obs GROUP BY station ORDER BY station""")
    assert(RollupRewrite.rewrites.get == r0 + 1, "min/max rollup must fire")
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))) ==
      Seq(("s1", 2L, 9L, 3L), ("s2", 3L, 11L, 3L)))
  }

  test("rollup answers star-join queries from a matching star matview") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    store.replace("rs_fact", (1L to 200L).map(k =>
      (k, k % 6, k % 4, k * 3)).toDF("k", "cust", "prod", "amt"))
    store.replace("rs_cust", (0L to 5L).map(c => (c, s"region${c % 3}")).toDF("c_id", "region"))
    store.replace("rs_prod", (0L to 3L).map(p => (p, s"cat${p % 2}")).toDF("p_id", "cat"))
    store.createMatview("rs_mv", """SELECT region, cat, count(*) AS n_rows,
      sum(amt) AS sum_amt FROM rs_fact
      JOIN rs_cust ON rs_fact.cust = rs_cust.c_id
      JOIN rs_prod ON rs_fact.prod = rs_prod.p_id
      GROUP BY region, cat""")
    val q = """SELECT region, count(*) AS n, sum(amt) AS total FROM rs_fact
      JOIN rs_cust ON rs_fact.cust = rs_cust.c_id
      JOIN rs_prod ON rs_fact.prod = rs_prod.p_id
      GROUP BY region ORDER BY region"""
    val direct = spark.sql("""SELECT region, count(*) AS n, sum(amt) AS total
      FROM rs_fact JOIN rs_cust ON rs_fact.cust = rs_cust.c_id
      JOIN rs_prod ON rs_fact.prod = rs_prod.p_id
      GROUP BY region ORDER BY region""").collect().toSeq
    val r0 = RollupRewrite.rewrites.get
    assert(rows(q) == direct)
    assert(RollupRewrite.rewrites.get == r0 + 1, "star rollup must fire")
    // qualified columns resolve through the same match (and the qualifier
    // is stripped for the view-side predicate)
    val rq = RollupRewrite.rewrites.get
    val qualified = rows("""SELECT rs_cust.region, sum(rs_fact.amt) AS total
      FROM rs_fact JOIN rs_cust ON rs_fact.cust = rs_cust.c_id
      JOIN rs_prod ON rs_fact.prod = rs_prod.p_id
      WHERE rs_cust.region = 'region1'
      GROUP BY rs_cust.region""")
    assert(RollupRewrite.rewrites.get == rq + 1, "qualified star rollup must fire")
    assert(qualified.map(r => (r.getString(0), r.getLong(1))) ==
      direct.collect { case r if r.getString(0) == "region1" => ("region1", r.getLong(2)) })
    // a query over a DIFFERENT joined relation (one dim missing) must not
    // match the star view — row multiplicity differs
    val r1 = RollupRewrite.rewrites.get
    assert(rows("""SELECT region, count(*) AS n FROM rs_fact
      JOIN rs_cust ON rs_fact.cust = rs_cust.c_id
      GROUP BY region ORDER BY region""").nonEmpty)
    assert(RollupRewrite.rewrites.get == r1, "differing join set must not rewrite")
    // a table-name prefix INSIDE a string literal is data, not a
    // qualifier: the rewrite fires and the literal survives verbatim
    val rl = RollupRewrite.rewrites.get
    val litRows = rows("""SELECT region, count(*) AS n FROM rs_fact
      JOIN rs_cust ON rs_fact.cust = rs_cust.c_id
      JOIN rs_prod ON rs_fact.prod = rs_prod.p_id
      WHERE region <> 'rs_fact.region1' GROUP BY region ORDER BY region""")
    assert(RollupRewrite.rewrites.get == rl + 1)
    assert(litRows.map(_.getString(0)).contains("region1"),
      "literal containing a table prefix must not be rewritten away")
    // a DANGLING qualified column (rs_prod has no region) must not be
    // silently answered: the rewrite declines and the base plan errors
    val rd = RollupRewrite.rewrites.get
    intercept[Exception] {
      rows("""SELECT rs_prod.region, count(*) AS n FROM rs_fact
        JOIN rs_cust ON rs_fact.cust = rs_cust.c_id
        JOIN rs_prod ON rs_fact.prod = rs_prod.p_id
        GROUP BY rs_prod.region""")
    }
    assert(RollupRewrite.rewrites.get == rd, "dangling qualifier must not rewrite")
    // a dim change makes the star view stale: falls back to the base plan
    store.upsert("rs_cust", Seq((1L, "regionX")).toDF("c_id", "region"), "c_id")
    val r2 = RollupRewrite.rewrites.get
    val live = rows(q)
    assert(RollupRewrite.rewrites.get == r2, "dim-stale star view must not rewrite")
    assert(live.exists(_.getString(0) == "regionX"))
  }

  test("rollup rolls a day-grained view up to month buckets") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    store.replace("rh_fact", (1 to 120).map { i =>
      (java.sql.Date.valueOf(f"2024-${i % 6 + 1}%02d-${i % 27 + 1}%02d"), i.toLong)
    }.toDF("d", "x"))
    store.createMatview("rh_mv",
      "SELECT d, count(*) AS n_rows, sum(x) AS sum_x FROM rh_fact GROUP BY d")
    val q = """SELECT date_trunc('month', d) AS m, count(*) AS n,
      sum(x) AS total FROM rh_fact GROUP BY date_trunc('month', d) ORDER BY m"""
    val direct = spark.sql("""SELECT date_trunc('month', d) AS m,
      count(*) AS n, sum(x) AS total FROM rh_fact
      GROUP BY date_trunc('month', d) ORDER BY m""").collect().toSeq
    val r0 = RollupRewrite.rewrites.get
    assert(rows(q) == direct)
    assert(RollupRewrite.rewrites.get == r0 + 1, "time-hierarchy rollup must fire")
    // year() over the same view also rolls up; an expression over a
    // NON-group column does not
    val r1 = RollupRewrite.rewrites.get
    assert(rows("""SELECT year(d) AS y, sum(x) AS total FROM rh_fact
      GROUP BY year(d)""").nonEmpty)
    assert(RollupRewrite.rewrites.get == r1 + 1)
    val r2 = RollupRewrite.rewrites.get
    assert(rows("""SELECT x % 2 AS parity, count(*) AS n FROM rh_fact
      GROUP BY x % 2""").nonEmpty)
    assert(RollupRewrite.rewrites.get == r2, "arbitrary group expression must not rewrite")
  }

  test("rollup unions HLL sketches for approx_count_distinct") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    store.replace("hd_fact", (1 to 600).map(i =>
      (s"g${i % 4}", s"h${i % 2}", s"user${i % 83}")).toDF("g", "h", "u"))
    store.createMatview("hd_mv", """SELECT g, h, count(*) AS n_rows,
      approx_count_distinct(u) AS nd_u FROM hd_fact GROUP BY g, h""")
    val r0 = RollupRewrite.rewrites.get
    val got = rows("""SELECT g, approx_count_distinct(u) AS nd
      FROM hd_fact GROUP BY g ORDER BY g""")
    assert(RollupRewrite.rewrites.get == r0 + 1, "hll rollup must fire")
    val exact = spark.sql(
      "SELECT g, count(DISTINCT u) AS nd FROM hd_fact GROUP BY g ORDER BY g")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      val (g, est) = (r.getString(0), r.getLong(1))
      assert(math.abs(est - exact(g)).toDouble / exact(g) <= 0.05,
        s"group $g: unioned estimate $est vs exact ${exact(g)}")
    }
  }

  test("rollup carries HAVING onto the view when every aggregate derives") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    // rh_fact/rh_mv from the time-hierarchy test: sum/count derivable
    val q = """SELECT year(d) AS y, sum(x) AS total FROM rh_fact
      GROUP BY year(d) HAVING sum(x) > 2000 AND count(*) >= 10 ORDER BY y"""
    val direct = spark.sql("""SELECT year(d) AS y, sum(x) AS total FROM rh_fact
      GROUP BY year(d) HAVING sum(x) > 2000 AND count(*) >= 10 ORDER BY y""")
      .collect().toSeq
    val r0 = RollupRewrite.rewrites.get
    assert(rows(q) == direct)
    assert(RollupRewrite.rewrites.get == r0 + 1, "HAVING rollup must fire")
    // an underivable aggregate in HAVING (min over a sum-only view):
    // falls through to the base, still correct
    val r1 = RollupRewrite.rewrites.get
    assert(rows("""SELECT year(d) AS y, sum(x) AS total FROM rh_fact
      GROUP BY year(d) HAVING min(x) > 0 ORDER BY y""").nonEmpty)
    assert(RollupRewrite.rewrites.get == r1, "underivable HAVING must not rewrite")
  }

  test("rollup equivalence property: 40 random derivable queries match the base") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    store.replace("pp_fact", (1 to 400).map { i =>
      (s"a${i % 3}", s"b${i % 5}",
        java.sql.Date.valueOf(f"202${i % 2}%d-${i % 7 + 1}%02d-${i % 25 + 1}%02d"),
        (i % 97).toLong, (i % 89).toDouble) // integral double: exact rollup sums
    }.toDF("g1", "g2", "d", "x", "y"))
    store.createMatview("pp_mv", """SELECT g1, g2, d, count(*) AS n_rows,
      sum(x) AS sum_x, sum(y) AS sum_y, avg(y) AS avg_y,
      min(x) AS min_x, max(x) AS max_x
      FROM pp_fact GROUP BY g1, g2, d""")
    val rnd = new scala.util.Random(42)
    val groupPool = Seq("g1", "g2", "d", "year(d)", "date_trunc('month', d)")
    val aggPool = Seq("count(*) AS n", "sum(x) AS sx", "sum(y) AS sy",
      "avg(y) AS ay", "min(x) AS mnx", "max(x) AS mxx")
    val wherePool = Seq(None, Some("g1 = 'a1'"), Some("g2 IN ('b0', 'b3')"))
    val havingPool = Seq(None, Some("count(*) >= 2"), Some("sum(x) > 50"))
    var fired = 0
    val missed = Seq.newBuilder[String]
    (1 to 40).foreach { _ =>
      val groups = rnd.shuffle(groupPool).take(1 + rnd.nextInt(3)).distinct
      val aggs = rnd.shuffle(aggPool).take(1 + rnd.nextInt(aggPool.size))
      val where = wherePool(rnd.nextInt(wherePool.size))
      val having = havingPool(rnd.nextInt(havingPool.size))
      val groupSel = groups.map(g =>
        if (g.contains("(")) s"$g AS ${g.takeWhile(_ != '(')}_b" else g)
      val q = s"SELECT ${(groupSel ++ aggs).mkString(", ")} FROM pp_fact" +
        where.map(w => s" WHERE $w").getOrElse("") +
        s" GROUP BY ${groups.mkString(", ")}" +
        having.map(h => s" HAVING $h").getOrElse("")
      val r0 = RollupRewrite.rewrites.get
      val got = rows(q).map(_.toString).sorted
      if (RollupRewrite.rewrites.get == r0 + 1) fired += 1 else missed += q
      val want = spark.sql(q).collect().toSeq.map(_.toString).sorted
      assert(got == want, s"mismatch for: $q")
    }
    assert(fired == 40,
      s"all 40 derivable queries must roll up, got $fired; missed:\n${missed.result().mkString("\n")}")
  }

  test("rollup resolves GROUP BY positionals and count(col)") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    // rh_fact/rh_mv (day-grained) and pp_fact/pp_mv (carries avg_y hidden
    // state) from earlier tests in this suite
    val r0 = RollupRewrite.rewrites.get
    val byPos = rows("""SELECT date_trunc('month', d) AS m, sum(x) AS total
      FROM rh_fact GROUP BY 1 ORDER BY m""")
    assert(RollupRewrite.rewrites.get == r0 + 1, "positional group must fire")
    assert(byPos == spark.sql("""SELECT date_trunc('month', d) AS m,
      sum(x) AS total FROM rh_fact GROUP BY 1 ORDER BY m""").collect().toSeq)
    // count(col) derives from the hidden non-null-count state
    val r1 = RollupRewrite.rewrites.get
    val cnt = rows("""SELECT g1, count(y) AS cy FROM pp_fact GROUP BY g1 ORDER BY g1""")
    assert(RollupRewrite.rewrites.get == r1 + 1, "count(col) must fire")
    assert(cnt == spark.sql(
      "SELECT g1, count(y) AS cy FROM pp_fact GROUP BY g1 ORDER BY g1").collect().toSeq)
    // count over a column without hidden state: falls through
    val r2 = RollupRewrite.rewrites.get
    assert(rows("""SELECT g1, count(x) AS cx FROM pp_fact GROUP BY g1""").nonEmpty)
    assert(RollupRewrite.rewrites.get == r2, "stateless count(col) must not rewrite")
  }

  test("time travel: FOR VERSION / TIMESTAMP AS OF reads immutable snapshots") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    store.replace("tt7", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val snap = store.currentVersion("tt7")
    store.upsert("tt7", Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), "k")
    val old = rows(s"SELECT k, v FROM tt7 FOR VERSION AS OF $snap ORDER BY k")
    assert(old.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((1L, "a"), (2L, "b")), "snapshot read must see the pre-upsert rows")
    val cur = rows("SELECT k, v FROM tt7 FOR TIMESTAMP AS OF '2100-01-01' ORDER BY k")
    assert(cur.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((1L, "a"), (2L, "B2"), (3L, "c")), "future timestamp resolves to current")
    // the live name still serves the live table
    assert(rows("SELECT count(*) AS n FROM tt7").head.getLong(0) == 3)
    // a non-store relation has no snapshots
    intercept[PgDialect.UnsupportedQuery] {
      rows("SELECT 1 AS x FROM nation FOR VERSION AS OF 1")
    }
  }

  test("table_changes() surfaces the snapshot change feed through SQL") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    store.replace("cf7", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val snap = store.currentVersion("cf7")
    store.upsert("cf7", Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), "k")
    val feed = rows(s"SELECT _change_type, k, v FROM table_changes('cf7', $snap) " +
      "ORDER BY k, _change_type")
    assert(feed.map(r => (r.getString(0), r.getLong(1), r.getString(2))) ==
      Seq(("delete", 2L, "b"), ("insert", 2L, "B2"), ("insert", 3L, "c")),
      s"got $feed")
    // explicit to-version + filtering/aggregation compose like any relation
    val n = rows(s"SELECT count(*) AS n FROM table_changes('cf7', $snap, " +
      s"${store.currentVersion("cf7")}) WHERE _change_type = 'insert'")
    assert(n.head.getLong(0) == 2)
    // a non-store relation has no change feed
    intercept[PgDialect.UnsupportedQuery] {
      rows("SELECT * FROM table_changes('nation', 0)")
    }
  }

  test("table_changes' defaulted upper bound stops at the RR pin") {
    import spark.implicits._
    def execT(sql: String, t: PgDialect.PgTxn): PgResult =
      PgDialect.execute(spark, store, sql, t)
    def exec(sql: String): PgResult = PgDialect.execute(spark, store, sql)
    def n(sql: String, t: PgDialect.PgTxn = null): Long =
      (if (t == null) exec(sql) else execT(sql, t)) match {
        case Rows(df, _) => df.collect()(0).getLong(0)
        case other => fail(s"$other")
      }
    store.replace("tcp_t", Seq((1L, "a")).toDF("k", "v")) // v1
    exec("INSERT INTO tcp_t VALUES (2, 'b')")             // v2
    val txn = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txn)
    assert(n("SELECT count(*) AS c FROM tcp_t", txn) == 2L) // pin at v2
    exec("INSERT INTO tcp_t VALUES (3, 'c')")               // v3, post-pin
    // read-committed feed sees the post-pin commit…
    assert(n("SELECT count(*) AS c FROM table_changes('tcp_t', 2)") == 1L)
    // …the pinned txn's DEFAULTED bound stops at the pin: no leakage of a
    // commit the txn cannot see
    assert(n("SELECT count(*) AS c FROM table_changes('tcp_t', 2)", txn) == 0L,
      "a defaulted table_changes bound inside RR must stop at the pin")
    // an EXPLICIT bound stays explicit, like explicit AS OF time travel
    assert(n("SELECT count(*) AS c FROM table_changes('tcp_t', 2, 3)", txn) == 1L)
    execT("COMMIT", txn)
    exec("DROP TABLE tcp_t")
  }

  test("a staged REPLACE's evolution reset stays txn-private until COMMIT") {
    import spark.implicits._
    def execT(sql: String, t: PgDialect.PgTxn): PgResult =
      PgDialect.execute(spark, store, sql, t)
    def exec(sql: String): PgResult = PgDialect.execute(spark, store, sql)
    def cols(t: PgDialect.PgTxn): Seq[String] =
      (if (t == null) exec("SELECT * FROM evs_t LIMIT 0")
       else execT("SELECT * FROM evs_t LIMIT 0", t)) match {
        case Rows(df, _) => df.columns.toSeq
        case other => fail(s"$other")
      }
    store.replace("evs_t", Seq((1L, "a")).toDF("k", "v"))
    // evolve the table: ALTER is catalog-only, files keep the old physical
    // shape and readers null-fill
    exec("ALTER TABLE evs_t ADD COLUMN c bigint")
    exec("UPDATE evs_t SET c = 7 WHERE k = 1")
    assert(cols(null) == Seq("k", "v", "c"))
    // a txn TRUNCATE routes through replace(), whose evolution reset must
    // stage WITH the write: the txn reads the new baseline, everyone else
    // keeps the evolved view of the old files
    val txn = new PgDialect.PgTxn
    execT("BEGIN", txn)
    execT("TRUNCATE evs_t", txn)
    execT("INSERT INTO evs_t VALUES (2, 'b', 9)", txn)
    assert(cols(txn) == Seq("k", "v", "c"), "txn reads its staged baseline")
    execT("SELECT c::bigint AS c FROM evs_t", txn) match {
      case Rows(df, _) => assert(df.collect()(0).getLong(0) == 9L)
      case other => fail(s"$other")
    }
    // outside: untouched evolved table, rows intact
    exec("SELECT k, v, c::bigint AS c FROM evs_t") match {
      case Rows(df, _) =>
        assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .toSeq == Seq((1L, "a", 7L)))
      case other => fail(s"$other")
    }
    // ROLLBACK: the staged reset evaporates, the shared evolution record
    // still maps the old physical files
    execT("ROLLBACK", txn)
    exec("SELECT k, v, c::bigint AS c FROM evs_t") match {
      case Rows(df, _) =>
        assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .toSeq == Seq((1L, "a", 7L)), "rollback must restore the evolved view")
      case other => fail(s"$other")
    }
    // COMMIT variant: the reset applies with the rows, atomically
    val txn2 = new PgDialect.PgTxn
    execT("BEGIN", txn2)
    execT("TRUNCATE evs_t", txn2)
    execT("INSERT INTO evs_t VALUES (3, 'c', 11)", txn2)
    execT("COMMIT", txn2)
    exec("SELECT k, v, c::bigint AS c FROM evs_t") match {
      case Rows(df, _) =>
        assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .toSeq == Seq((3L, "c", 11L)))
      case other => fail(s"$other")
    }
    exec("DROP TABLE evs_t")
  }

  test("READ ONLY transactions and default_transaction_read_only refuse writes (25006 shape)") {
    import spark.implicits._
    def execT(sql: String, t: PgDialect.PgTxn): PgResult =
      PgDialect.execute(spark, store, sql, t)
    store.replace("ro_t", Seq((1L, "a")).toDF("k", "v"))
    // BEGIN READ ONLY: reads fine, writes refuse with the PG message
    val t = new PgDialect.PgTxn
    execT("BEGIN READ ONLY", t)
    execT("SELECT count(*) AS n FROM ro_t", t) match {
      case Rows(df, _) => assert(df.head.getLong(0) == 1L)
      case other => fail(s"$other")
    }
    val e = intercept[Exception](execT("INSERT INTO ro_t VALUES (2, 'b')", t))
    assert(e.getMessage.contains("cannot execute INSERT in a read-only transaction"),
      e.getMessage)
    execT("ROLLBACK", t)
    // SET TRANSACTION toggles the characteristic mid-block
    execT("BEGIN", t)
    execT("SET TRANSACTION READ ONLY", t)
    val e2 = intercept[Exception](execT("DELETE FROM ro_t WHERE k = 1", t))
    assert(e2.getMessage.contains("cannot execute DELETE in a read-only transaction"),
      e2.getMessage)
    execT("ROLLBACK", t)
    execT("BEGIN", t)
    execT("SET TRANSACTION READ WRITE", t)
    execT("INSERT INTO ro_t VALUES (2, 'b')", t)
    execT("COMMIT", t)
    assert(store.read("ro_t").count() == 2)
    // session default: autocommit writes refuse; BEGIN inherits;
    // BEGIN READ WRITE overrides; temp-view DDL keeps PG's carve-out
    PgDialect.execute(spark, store, "SET default_transaction_read_only = on")
    try {
      val e3 = intercept[Exception](
        PgDialect.execute(spark, store, "INSERT INTO ro_t VALUES (3, 'c')"))
      assert(e3.getMessage.contains("in a read-only transaction"), e3.getMessage)
      val e4 = intercept[Exception](
        PgDialect.execute(spark, store, "CREATE TABLE ro_new (k BIGINT)"))
      assert(e4.getMessage.contains("cannot execute CREATE TABLE"), e4.getMessage)
      val t2 = new PgDialect.PgTxn
      execT("BEGIN", t2)
      val e5 = intercept[Exception](execT("UPDATE ro_t SET v = 'x'", t2))
      assert(e5.getMessage.contains("in a read-only transaction"), e5.getMessage)
      execT("ROLLBACK", t2)
      execT("BEGIN READ WRITE", t2)
      execT("INSERT INTO ro_t VALUES (3, 'c')", t2)
      execT("COMMIT", t2)
      assert(store.read("ro_t").count() == 3)
      PgDialect.execute(spark, store,
        "CREATE TEMP VIEW ro_tmpv AS SELECT * FROM ro_t") // PG temp carve-out
      // COPY out (a read, even with an inner FROM) stays allowed; COPY in
      // is the write
      PgDialect.execute(spark, store,
        "COPY (SELECT * FROM ro_t) TO STDOUT")
      val e6 = intercept[Exception](
        PgDialect.execute(spark, store, "COPY ro_t FROM STDIN"))
      assert(e6.getMessage.contains("in a read-only transaction"), e6.getMessage)
    } finally
      PgDialect.execute(spark, store, "RESET default_transaction_read_only")
    store.drop("ro_t")
  }

  test("SERIALIZABLE aborts cross-table write skew with 40001; REPEATABLE READ commits it") {
    import spark.implicits._
    def execT(sql: String, t: PgDialect.PgTxn): PgResult =
      PgDialect.execute(spark, store, sql, t)
    def count(table: String, t: PgDialect.PgTxn): Long =
      execT(s"SELECT count(*) AS n FROM $table", t) match {
        case Rows(df, _) => df.collect()(0).getLong(0)
        case other => fail(s"expected rows: $other")
      }
    def skew(level: String): (PgDialect.PgTxn => Unit) => Unit = { commitA =>
      store.replace("ws_t1", Seq((1L, "a")).toDF("k", "v"))
      store.replace("ws_t2", Seq((1L, "b")).toDF("k", "v"))
      val a = new PgDialect.PgTxn; val b = new PgDialect.PgTxn
      execT(s"BEGIN ISOLATION LEVEL $level", a)
      execT(s"BEGIN ISOLATION LEVEL $level", b)
      // the classic write-skew shape: A reads t1 / writes t2,
      // B reads t2 / writes t1 — each write conditioned on the other's read
      assert(count("ws_t1", a) == 1L)
      execT("INSERT INTO ws_t2 SELECT k + 10, 'fromA' FROM ws_t1", a)
      assert(count("ws_t2", b) == 1L)
      execT("INSERT INTO ws_t1 SELECT k + 10, 'fromB' FROM ws_t2", b)
      execT("COMMIT", b) // first committer wins
      commitA(a)
    }
    // SERIALIZABLE: A's COMMIT must raise PG's serialization failure —
    // its read of ws_t1 carries an rw-antidependency into B's commit
    skew("SERIALIZABLE") { a =>
      val e = intercept[Exception](execT("COMMIT", a))
      assert(e.getMessage.contains("could not serialize access"), e.getMessage)
      assert(store.read("ws_t1").count() == 2L, "B's commit stands")
      assert(store.read("ws_t2").count() == 1L, "A's write must be discarded")
    }
    // REPEATABLE READ: both commit (PG RR permits write skew)
    skew("REPEATABLE READ") { a =>
      execT("COMMIT", a)
      assert(store.read("ws_t1").count() == 2L)
      assert(store.read("ws_t2").count() == 2L)
    }
    // a serializable txn whose reads saw nothing concurrent commits fine
    val c = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL SERIALIZABLE", c)
    assert(count("ws_t1", c) == 2L)
    execT("INSERT INTO ws_t2 VALUES (99, 'ok')", c)
    execT("COMMIT", c)
    assert(store.read("ws_t2").count() == 3L)
    store.drop("ws_t1"); store.drop("ws_t2")
  }

  test("DROP TABLE queues on a foreign txn's write gate; own-txn drop passes") {
    import spark.implicits._
    def execT(sql: String, t: PgDialect.PgTxn): PgResult =
      PgDialect.execute(spark, store, sql, t)
    def exec(sql: String): PgResult = PgDialect.execute(spark, store, sql)
    // foreign txn holds the gate: a concurrent DROP must wait (here: time
    // out), never delete the live staged dirs out from under it
    store.replace("dt_t", Seq((1L, "a")).toDF("k", "v"))
    val txn = new PgDialect.PgTxn
    execT("BEGIN", txn)
    execT("INSERT INTO dt_t VALUES (2, 'b')", txn)
    val saved = store.gateTimeoutMs
    store.gateTimeoutMs = 300L
    try {
      val e = intercept[Exception](exec("DROP TABLE dt_t"))
      assert(e.getMessage.contains("lock timeout"), e.getMessage)
    } finally store.gateTimeoutMs = saved
    execT("COMMIT", txn)
    assert(exec("SELECT count(*) AS n FROM dt_t") match {
      case Rows(df, _) => df.collect()(0).getLong(0) == 2L
      case _ => false
    }, "the staged write must have survived the refused drop")
    exec("DROP TABLE dt_t") // gate released: now it drops
    // a txn dropping a table IT staged writes on passes its own gate and
    // commits cleanly (the staged state dies with the table)
    store.replace("dt_u", Seq((1L, "x")).toDF("k", "v"))
    val txn2 = new PgDialect.PgTxn
    execT("BEGIN", txn2)
    execT("INSERT INTO dt_u VALUES (2, 'y')", txn2)
    assert(execT("DROP TABLE dt_u", txn2) == Command("DROP TABLE"))
    execT("COMMIT", txn2)
    assert(!store.exists("dt_u"))
  }

  test("rollup rewrite yields to a txn snapshot: staged writes and pins never read stale views") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    def execT(sql: String, t: PgDialect.PgTxn): PgResult =
      PgDialect.execute(spark, store, sql, t)
    def sumOf(t: PgDialect.PgTxn): Long =
      execT("SELECT g, sum(x) AS s FROM rb_base GROUP BY g ORDER BY g", t) match {
        case Rows(df, _) => df.collect().map(_.getLong(1)).sum
        case other => fail(s"$other")
      }
    store.replace("rb_base", Seq(("a", 10L), ("b", 5L)).toDF("g", "x"))
    store.createIncrementalMatview("rb_view", "rb_base", Seq("g"), Seq("x"))
    // outside a txn the FRESH view answers the aggregate (the rewrite)
    val r0 = RollupRewrite.rewrites.get
    PgDialect.execute(spark, store,
      "SELECT g, sum(x) AS s FROM rb_base GROUP BY g")
    assert(RollupRewrite.rewrites.get == r0 + 1, "baseline: the rewrite fires")
    // inside a txn with STAGED writes on the base, the shared-chain view
    // still looks fresh — the rewrite must yield, or the txn's own writes
    // vanish from its own aggregate
    val txn = new PgDialect.PgTxn
    execT("BEGIN", txn)
    execT("INSERT INTO rb_base VALUES ('a', 100)", txn)
    assert(sumOf(txn) == 115L,
      "the txn's aggregate must include its own staged rows")
    execT("ROLLBACK", txn)
    // and under REPEATABLE READ, a post-pin refresh must not leak newer
    // (or older) view state into the pinned aggregate
    val txn2 = new PgDialect.PgTxn
    execT("BEGIN ISOLATION LEVEL REPEATABLE READ", txn2)
    assert(sumOf(txn2) == 15L) // pins
    PgDialect.execute(spark, store, "INSERT INTO rb_base VALUES ('b', 1000)")
    store.incrementalRefresh("rb_view") // view now reflects the post-pin commit
    assert(sumOf(txn2) == 15L,
      "a pinned aggregate must not be answered by a post-pin view refresh")
    execT("COMMIT", txn2)
    store.drop("rb_view"); store.drop("rb_base")
  }

  test("rollup auto-refresh brings a stale view current, then answers from it") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    store.append("ru_obs", Seq(("s1", "2026", 20L)).toDF("station", "yr", "temp"))
    val q = """SELECT station, max(temp) AS hi, count(*) AS n FROM ru_obs
      GROUP BY station ORDER BY station"""
    val expect = Seq(("s1", 20L, 4L), ("s2", 11L, 3L))
    // default off: the stale view is skipped, the base answers
    val r0 = RollupRewrite.rewrites.get
    assert(rows(q).map(r => (r.getString(0), r.getLong(1), r.getLong(2))) == expect)
    assert(RollupRewrite.rewrites.get == r0)
    assert(store.rollupViews("ru_obs").isEmpty && store.staleRollupViews("ru_obs").nonEmpty)
    // opted in: the view refreshes incrementally and serves the same rows
    PgDialect.execute(spark, store, "SET graft.rollup_auto_refresh = on")
    try {
      val r1 = RollupRewrite.rewrites.get
      assert(rows(q).map(r => (r.getString(0), r.getLong(1), r.getLong(2))) == expect)
      assert(RollupRewrite.rewrites.get == r1 + 1, "auto-refresh rollup must fire")
      assert(store.rollupViews("ru_obs").nonEmpty, "view must now be fresh")
    } finally PgDialect.execute(spark, store, "RESET graft.rollup_auto_refresh")
  }
}
