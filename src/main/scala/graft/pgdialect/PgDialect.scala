package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, View}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{MetadataBuilder, StringType, StructField, StructType}

/** Postgres-dialect front end (SURVEY §2.A statement surface + §2.B
  * rewrites; reference: /root/reference/src/server/query_remapper.go:107-188
  * and the parser_* rewriters). Statement-level dispatch plus a focused
  * textual SELECT translator — the reference's remapper is likewise a
  * rewrite layer; relational semantics stay Catalyst's job.
  *
  * Scope ("what a BemiDB client sends"): SELECT/WITH/VALUES with PG-isms
  * (::casts, -> / ->> JSON ops, = ANY / <> ALL over array literals, ~ regex
  * ops, pg_catalog./information_schema. qualification, COLLATE, DISTINCT
  * ON), SET/SHOW/BEGIN/COMMIT/DISCARD no-ops, matview DDL routed to
  * [[Store]], explicit "unsupported query type" for writes (mirroring
  * query_remapper.go:180-184), multi-statement split.
  */
object PgDialect {

  // ---- statement/plan cache ---------------------------------------------
  // Repeated identical statements (dashboards, psql tab-completion probes,
  // extended-protocol re-executes) skip BOTH the regex translation and
  // Catalyst parse/analyze. Two layers because their lifetimes differ:
  //  - translation cache: pure text→text, keyed by the settings that alter
  //    translation (strip_schemas, scalar_subquery_first_row) — survives DDL.
  //  - plan cache: final SQL → analyzed DataFrame. A DataFrame binds the
  //    temp-view plans AT ANALYSIS TIME, so an entry serves only while every
  //    relation name it bound still resolves to the same thing (see
  //    [[cachedPlan]]); the session timezone is part of the key because
  //    Catalyst folds it into timestamp exprs.
  /** Thread-safe access-order LRU. Eviction is PER ENTRY (eldest out), not
    * a full flush: a busy multi-tenant server crossing the old size-capped
    * `clear()` re-translated/re-planned every cached statement at once —
    * a latency cliff exactly when the server is hottest. The compute runs
    * OUTSIDE the lock (plan analysis is ms-scale); a racing duplicate
    * compute is benign — both produce the same pure value, last put wins. */
  private[graft] final class LruCache[K, V <: AnyRef](capacity: Int) {
    private val map = new java.util.LinkedHashMap[K, V](capacity, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > capacity
    }
    def computeIfAbsent(k: K)(f: => V): V = {
      val hit = map.synchronized(map.get(k))
      if (hit != null) hit
      else {
        val nv = f
        map.synchronized {
          val cur = map.get(k)
          if (cur != null) cur else { map.put(k, nv); nv }
        }
      }
    }
    def get(k: K): Option[V] = map.synchronized(Option(map.get(k)))
    def put(k: K, v: V): Unit = map.synchronized { map.put(k, v); () }
    def entries: Seq[(K, V)] = map.synchronized {
      import scala.jdk.CollectionConverters._
      map.entrySet().asScala.toSeq.map(e => e.getKey -> e.getValue)
    }
    def size: Int = map.synchronized(map.size())
    def clear(): Unit = map.synchronized(map.clear())
  }

  private val translationCache = new LruCache[String, String](4096)
  private val planCache = new LruCache[String, (DataFrame, Seq[(CatalogTable, Boolean)])](1024)
  // version-retention registry: open snapshot-isolated txns register here
  // so VACUUM/expireVersions never deletes a version a live txn has
  // pinned (PG's vacuum holds tuples for open snapshots the same way).
  // WEAK keys: an abandoned txn object stops holding versions once GC'd
  // even if its connection died without the rollback path running.
  private val activePins =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[PgTxn, Unit]())
  private[graft] def registerPins(t: PgTxn): Unit = { activePins.put(t, ()); () }
  private[graft] def unregisterPins(t: PgTxn): Unit = { activePins.remove(t); () }
  /** Versions of `table` pinned by any open snapshot-isolated txn. */
  def pinnedVersionsOf(table: String): Set[Int] = activePins.synchronized {
    import scala.jdk.CollectionConverters._
    activePins.keySet.asScala.flatMap(_.pinnedVersion(table)).toSet
  }

  // exported-snapshot registry for parallel pg_dump (id -> version map at
  // export time); LRU-bounded — a full flush could strand a RUNNING
  // parallel dump's id mid-run, failing its workers' adoptions
  private val snapshotSeq = new java.util.concurrent.atomic.AtomicLong()
  private val exportedSnapshots = new LruCache[String, Map[String, Int]](1024)

  /** Counter hooks (specs assert cache hits skip work). */
  private[graft] val translations = new java.util.concurrent.atomic.AtomicLong()
  private[graft] val planBuilds = new java.util.concurrent.atomic.AtomicLong()

  private def translationSettingsKey: String =
    SessionSettings.get("graft.strip_schemas").getOrElse("public,main") + "|" +
      SessionSettings.get("graft.scalar_subquery_first_row").getOrElse("off") + "|" +
      SessionSettings.get("graft.system_catalog").getOrElse("")

  private val pgTablesOrViewsRe = "(?<![A-Z_])PG_(TABLES|VIEWS)(?![A-Z_])".r
  /** Catalog refresh trigger (query_remapper_table.go:46-62,136-250): a
    * statement touching the live-DDL-reflecting catalog relations sees the
    * CURRENT table + matview population. A step of [[planRead]], so JDBC's
    * Parse/Bind metadata queries refresh exactly like simple Query. Takes
    * the statement UPPERCASED. */
  private def maybeRefreshCatalog(spark: SparkSession, store: Store, upper: String): Unit = {
    if (upper.contains("PG_MATVIEWS") || upper.contains("PG_STAT_USER_TABLES")
        || upper.contains("PG_STAT_STATEMENTS")
        || upper.contains("GRAFT_INDEX_STATS")
        || upper.contains("GRAFT_WAREHOUSE_STATS")
        || upper.contains("PG_CLASS") || upper.contains("PG_ATTRIBUTE")
        || pgTablesOrViewsRe.findFirstIn(upper).isDefined
        || upper.contains("PG_GET_VIEWDEF") || upper.contains("PG_DESCRIPTION")
        || upper.contains("OBJ_DESCRIPTION") || upper.contains("COL_DESCRIPTION"))
      PgCatalog.refreshDynamic(spark, store)
    if (upper.contains("INFORMATION_SCHEMA"))
      PgCatalog.refreshInfoSchema(spark)
  }

  /** [[translateSelect]] behind the text cache (LRU — a hot statement
    * survives eviction pressure from a churn of one-off statements). */
  private def translateSelectCached(sql: String): String =
    translationCache.computeIfAbsent(
      translationSettingsKey + "\n" + sql)(translateSelect(sql))

  // ---- time travel -------------------------------------------------------
  // the comma and '(' alternatives resolve comma-separated FROM lists and
  // parenthesized join trees, so every list entry can carry its own
  // explicit AS OF clause
  private val travelRe =
    ("(?is)(\\bFROM|\\bJOIN|,|\\()\\s*([\\w.\"]+)\\s+FOR\\s+(?:SYSTEM_)?" +
      "(VERSION|TIMESTAMP)\\s+AS\\s+OF\\s+('[^']*'|\\d+)").r

  // `FROM table_changes('t', from[, to])` — the Delta SQL CDC surface over
  // the store's snapshot change feed (Store.readChanges)
  private val changesRe =
    ("(?is)\\b(FROM|JOIN)\\s+table_changes\\s*\\(\\s*'([^']+)'\\s*," +
      "\\s*(\\d+)\\s*(?:,\\s*(\\d+)\\s*)?\\)").r

  /** `FROM t FOR VERSION AS OF n` / `FOR TIMESTAMP AS OF 'ts'` (the
    * Iceberg/Delta SQL time-travel surface) and `FROM table_changes('t',
    * from[, to])` (the Delta CDC surface; `_change_type` column, to
    * defaults to the current version) over STORE tables: each clause
    * resolves to a session view over the immutable snapshot dirs
    * ([[Store.readVersion]] / [[Store.readChanges]]) and the statement
    * proceeds through the normal translate/plan path. A non-store
    * relation in either clause errors (snapshots only exist for
    * versioned store tables). */
  private def rewriteTimeTravel(store: Store, stmt: String,
      txn: PgTxn = null): String =
    rewriteTableChanges(store, txn, travelRe.replaceAllIn(stmt, m => {
      val tbl = unquoteName(m.group(2))
      if (!store.exists(tbl))
        throw UnsupportedQuery(s"time travel requires a versioned store table: $tbl")
      val v =
        if (m.group(3).equalsIgnoreCase("VERSION")) m.group(4).toInt
        else {
          val raw = m.group(4).stripPrefix("'").stripSuffix("'").trim
          val tsText = if (raw.matches("\\d{4}-\\d{2}-\\d{2}")) raw + " 00:00:00" else raw
          store.versionAt(tbl, java.sql.Timestamp.valueOf(tsText))
        }
      scala.util.matching.Regex.quoteReplacement(
        m.group(1) + " " + store.snapshotView(tbl, v))
    }))

  /** Drain the statement's write journal into the txn. "after" derives
    * from the journal itself — each publish produced exactly its observed
    * before+1 under the table lock — never from a live version re-read,
    * which could adopt a concurrent commit into the pin and let ROLLBACK
    * destroy it (see [[checkWriteConflicts]]). STAGED publishes are already
    * tracked by the txn's staging context (their undo is a staged-dir
    * discard, not a version restore), so only direct publishes — the
    * CREATE TABLE [AS] path — enter the txn's restore list; both kinds
    * flow to the conflict check. */
  private[graft] def noteJournaledWrites(store: Store, txn: PgTxn): Seq[(String, Int, Int)] =
    store.drainWriteJournal().map { case (t, before, staged) =>
      if (!staged) txn.noteWrite(t, before, before + 1)
      (t, before, before + 1)
    }

  /** Repeatable-read write conflicts, PG's first-updater-wins, over one
    * statement's journaled publishes: per TABLE (a multi-publish statement
    * — chunked COPY, compacting append — journals several entries whose
    * own versions must not read as conflicts), a conflict is (a) the first
    * pre-write version differing from the pin, or (b) a GAP between the
    * statement's own publishes, meaning another connection committed
    * mid-statement. On conflict the txn aborts (the writes stay journaled
    * — the mandatory ROLLBACK reverts them); on success the pin advances
    * to the statement's own final version so the txn sees its writes. */
  private[graft] def checkWriteConflicts(txn: PgTxn, journaling: Boolean,
      written: Seq[(String, Int, Int)]): Unit = {
    if (!journaling || txn == null || !txn.isRepeatable || written.isEmpty) return
    written.groupBy(_._1).foreach { case (t, entries) =>
      txn.pinnedVersion(t) match {
        case Some(pv) =>
          val contiguous = entries.sliding(2).forall {
            case Seq((_, _, a1), (_, b2, _)) => b2 == a1
            case _ => true
          }
          if (pv != entries.head._2 || !contiguous) {
            txn.markFailed()
            throw UnsupportedQuery(
              "could not serialize access due to concurrent update")
          }
          txn.notePinAdvance(t, entries.last._3)
        case None => // created inside the txn: latest IS the txn's view
      }
    }
  }

  // ---- transaction snapshot rebind ---------------------------------------
  // Pin store-table reads of a REPEATABLE READ txn to its snapshot — on the
  // ANALYZED PLAN, not on SQL text. The analyzer has already resolved CTE
  // shadowing, aliases, quoted identifiers, comma lists, join trees, views
  // and subqueries, so the rebind is a single well-defined operation: every
  // parquet relation whose path is a store version dir and whose version
  // differs from the pin is swapped for a relation over the pinned
  // immutable dir (same schema, original attribute ids preserved). This
  // replaced a ~150-line token walker over SQL text that needed a fix per
  // newly-discovered syntax shape; the plan walk is syntax-complete by
  // construction. Because views INLINE their analyzed plans, view reads
  // inside an RR txn now pin exactly like direct table reads (PG
  // semantics) — the old text rewriter could not see through them.
  // Explicit time travel still wins: a `FOR VERSION/TIMESTAMP AS OF`
  // clause resolves through a `…__asof_…` snapshot view whose View node is
  // skipped whole, as is the `…__changes_…` feed of table_changes().

  /** Rebind `df`'s analyzed plan to the transaction's view of the store:
    * tables with txn-staged (uncommitted) writes read their private staged
    * snapshot; under REPEATABLE READ everything else reads the pinned
    * version. No-op (and zero-cost) outside a transaction or when neither
    * applies. Runs AFTER the plan cache: the cached frame is the shared-
    * current plan, the rebind is a cheap per-execution tree walk. */
  private def bindTxnReads(spark: SparkSession, store: Store,
      txn: PgTxn, df: DataFrame): DataFrame = {
    if (txn == null || !txn.inTxn) return df
    val staged = txn.stagedReadDirs(store)
    val pin = txn.readSnapshot(store).getOrElse(Map.empty)
    if (staged.isEmpty && pin.isEmpty) return df
    val analyzed = df.queryExecution.analyzed
    val bound = rebindPlan(spark, store, staged, pin, analyzed, txn.noteRead)
    if (bound eq analyzed) df
    else org.apache.spark.sql.GraftSql.ofRows(spark, bound)
  }

  // PgDml builds its source frames (INSERT…SELECT bodies, UPDATE…FROM /
  // MERGE USING sources, subqueries) through spark.sql over the session
  // views — which resolve the SHARED current snapshot. The current-txn
  // scope, bound around each DML statement, lets PgDml rebind those frames
  // to the txn's view (own staged writes + RR pin) without threading the
  // txn through its whole surface.
  private val currentTxnTL = new ThreadLocal[(SparkSession, Store, PgTxn)]
  private[graft] def withCurrentTxn[T](spark: SparkSession, store: Store,
      txn: PgTxn)(body: => T): T = {
    currentTxnTL.set((spark, store, txn))
    try body finally currentTxnTL.remove()
  }
  /** Rebind `df` to the currently-bound txn scope (identity outside one). */
  private[graft] def bindCurrentTxn(df: DataFrame): DataFrame =
    currentTxnTL.get() match {
      case null => df
      case (spark, store, txn) => bindTxnReads(spark, store, txn, df)
    }

  // Pinned-relation reuse: a rebind builds a fresh file index per pinned
  // dir per statement, and a long-lived pinned txn (a BI dashboard, a
  // pg_dump) re-lists the same IMMUTABLE dir on every statement — on an
  // object store that's a LIST round-trip each. Version dirs never change
  // after publish, so the analyzed relation (with its file index) is
  // cached per (session, dir, schema) and re-issued with FRESH attribute
  // ids via newInstance() — the same discipline the analyzer applies to
  // self-joins, so `FROM t a, t b` under a pin gets distinct ids. Non-
  // relation plans (never expected) fall through uncached.
  private val snapshotRelCache =
    new LruCache[String, org.apache.spark.sql.execution.datasources.LogicalRelation](256)
  private def snapshotRelation(spark: SparkSession, store: Store,
      dir: String, schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    // schema.json, not catalogString: the key must carry StructField
    // METADATA (PgTypes.LogicalKey tags time/timetz stored as LongType) or
    // two schemas differing only in a logical tag would share one cached
    // relation and the wire encoder would render raw micros.
    val key =
      s"${System.identityHashCode(spark)}\n$dir\n${schema.json}"
    snapshotRelCache.get(key) match {
      case Some(r) => r.newInstance()
      case None =>
        store.readStagedDir(dir, schema).queryExecution.analyzed match {
          case r: LogicalRelation =>
            snapshotRelCache.put(key, r); r.newInstance()
          case other => other // not expected for a parquet dir; uncached
        }
    }
  }

  private def rebindPlan(spark: SparkSession, store: Store,
      staged: Map[String, String], pin: Map[String, Int],
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      noteRead: (String, Int) => Unit = (_, _) => ())
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression, SubqueryExpression}
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation

    def substitute(lr: LogicalRelation): LogicalPlan = lr.relation match {
      case h: HadoopFsRelation if h.location.rootPaths.size == 1 =>
        store.parseVersionDir(h.location.rootPaths.head) match {
          case Some((t, k)) =>
            // SSI read-set feed: reads of the SHARED chain record the
            // version this txn logically reads (the pin); reads of the
            // txn's own staged chain are no rw-antidependency
            if (!staged.contains(t)) noteRead(t, pin.getOrElse(t, k))
            // staged-own-writes first (a txn sees its writes whatever the
            // isolation level), then the RR pin. Staged dirs are txn-
            // transient (savepoint rewinds can delete and RECREATE the
            // same dir name), so only PINNED shared dirs — immutable for
            // life — go through the relation cache.
            val targetDir: Option[(String, Boolean)] =
              staged.get(t).map((_, false)).orElse(
                pin.get(t).filter(_ != k)
                  .map(p => (store.versionDirChecked(t, p), true)))
            targetDir match {
              case None => lr
              case Some((dir, cacheable)) =>
                val np =
                  if (cacheable) snapshotRelation(spark, store, dir, h.schema)
                  else store.readStagedDir(dir, h.schema).queryExecution.analyzed
                // keep the ORIGINAL attribute ids so every upstream
                // reference in the plan still resolves
                val proj: Seq[NamedExpression] = lr.output.map { old =>
                  val nu = np.output.find(_.name == old.name).getOrElse(
                    return lr) // schema drift between versions: leave as-is
                  Alias(nu, old.name)(exprId = old.exprId,
                    qualifier = old.qualifier)
                }
                Project(proj, np)
            }
          case None => lr
        }
      case _ => lr
    }

    def rebind(p: LogicalPlan): LogicalPlan = p match {
      // an explicit time-travel or change-feed view IS a resolved snapshot
      // choice — leave its whole subtree alone
      case v: View if v.desc.identifier.table.contains("__asof_") ||
          v.desc.identifier.table.contains("__changes_") => v
      case lr: LogicalRelation => substitute(lr)
      case other =>
        // children first, then plans nested inside expressions (scalar/
        // EXISTS/IN subqueries — a plain tree walk never reaches those)
        other.mapChildren(rebind).transformExpressions {
          case se: SubqueryExpression => se.withNewPlan(rebind(se.plan))
        }
    }
    rebind(plan)
  }

  private def rewriteTableChanges(store: Store, txn: PgTxn, stmt: String): String =
    changesRe.replaceAllIn(stmt, m => {
      val tbl = unquoteName(m.group(2))
      if (!store.exists(tbl))
        throw UnsupportedQuery(
          s"table_changes requires a versioned store table: $tbl")
      val from = m.group(3).toInt
      // a defaulted upper bound inside a snapshot-pinned txn stops at the
      // PIN — the feed must not leak commits the txn cannot see (an
      // explicit `to` stays explicit, like explicit AS OF time travel)
      val pinTo =
        if (txn != null && txn.inTxn)
          txn.readSnapshot(store).flatMap(_.get(tbl)) else None
      val to = Option(m.group(4)).map(_.toInt)
        .orElse(pinTo)
        .getOrElse(store.currentVersion(tbl))
      // warehouse-tagged like snapshotView, re-registered every call for
      // the same staleness reasons (see snapshotView's scaladoc)
      val tag = Integer.toHexString(store.warehouse.hashCode)
      val vn = s"${tbl}__changes_${tag}_${from}_$to"
      store.readChanges(tbl, from, to).createOrReplaceTempView(vn)
      scala.util.matching.Regex.quoteReplacement(m.group(1) + " " + vn)
    })

  /** Translated SQL → analyzed plan through the aggregate-rollup rewrite
    * (RollupRewrite): a GROUP BY over a base table with a FRESH incremental
    * matview answers from the view. The rewrite runs on every call, ahead
    * of the plan cache, so its decision always reads the current catalog.
    * `allowAutoRefresh` gates the SET graft.rollup_auto_refresh = on
    * stale-view refresh (false on paths that must not mutate, e.g.
    * Describe). */
  private def planWithRollup(spark: SparkSession, store: Store, translated: String,
      allowAutoRefresh: Boolean = true, txn: PgTxn = null): DataFrame = {
    // Inside a snapshot-pinned or write-staging txn the rewrite must NOT
    // fire: it would swap the base-table aggregate for a matview scan
    // whose freshness was judged against the SHARED chain — bypassing the
    // plan rebind, it could serve state that misses the txn's own staged
    // writes or predates/postdates the pin. The base relation itself
    // rebinds correctly, so the un-rewritten plan is always right there.
    if (txnSnapshotBound(store, txn)) return cachedPlan(spark, translated)
    cachedPlan(spark, RollupRewrite(store, translated,
      autoRefresh = allowAutoRefresh &&
        SessionSettings.get("graft.rollup_auto_refresh").contains("on"),
      columnsOf = relationColumns(spark))
      .getOrElse(translated))
  }

  /** Does `txn` read through a private snapshot (RR pin or staged
    * writes)? Establishes the RR pin as a side effect — any statement
    * pins, PG's rule. */
  private def txnSnapshotBound(store: Store, txn: PgTxn): Boolean =
    txn != null && txn.inTxn &&
      (txn.readSnapshot(store).exists(_.nonEmpty) ||
        txn.stagedReadDirs(store).nonEmpty)

  /** The one read path: SELECT-shaped `text` to the DataFrame that simple
    * Query, Bind, DECLARE, EXPLAIN and COPY-out all run. In order: the
    * live-catalog refresh, time travel, cached translation, the
    * permissions comment, the rollup rewrite behind the plan cache, the
    * transaction rebind and JSON re-tagging. `mutate = false` (Describe,
    * EXPLAIN) skips the steps that change state: the catalog refresh and
    * the rollup auto-refresh. */
  def planRead(spark: SparkSession, store: Store, text: String, txn: PgTxn,
      mutate: Boolean, perms: Option[Map[String, Seq[String]]]): DataFrame = {
    val sql = stripComments(text).trim
    if (mutate) maybeRefreshCatalog(spark, store, sql.toUpperCase)
    val translated = applyPermissions(
      translateSelectCached(rewriteTimeTravel(store, sql, txn)), perms)
    // the txn snapshot rebind runs on the ANALYZED plan, after the plan
    // cache: staged own-writes + repeatable-read pins (incl. through
    // views) resolve here
    retagJson(bindTxnReads(spark, store, txn, planWithRollup(spark, store,
      translated, allowAutoRefresh = mutate, txn = txn)))
  }

  private val readVerbs = Set("SELECT", "WITH", "VALUES", "TABLE", "EXPLAIN", "SHOW")
  private def leadVerb(sql: String): String =
    stripComments(sql).trim.split("\\s+|\\(", 2)(0).toUpperCase

  /** Does `text` return rows without writing? Its verb is read after the
    * comments are stripped, so a `-- note` prefix does not hide a SELECT. */
  def isRead(text: String): Boolean = readVerbs(leadVerb(text))

  /** The row shape Describe(statement) reports for a read: planned through
    * [[planRead]] with no transaction and no state change, never run. */
  def describeRead(spark: SparkSession, store: Store, text: String): StructType =
    leadVerb(text) match {
      case "EXPLAIN" => StructType(Seq(StructField("QUERY PLAN", StringType)))
      case "SHOW" => executeShow(spark, stripComments(text).trim).df.schema
      case _ => planRead(spark, store, text, null, mutate = false,
        parsePermissions(text)).schema
    }

  /** Column names of a session-resolvable relation (empty when absent) —
    * the rollup rewriter's qualified-reference validator. */
  private def relationColumns(spark: SparkSession)(name: String): Set[String] =
    try spark.table(name).columns.toSet
    catch { case _: Exception => Set.empty }

  /** Parse/analyze `finalSql` once per (session, timezone) and reuse the
    * analyzed DataFrame while every relation its analysis resolved by name
    * still resolves to the same thing: a temp view to the very `View.desc`
    * instance bound (a re-registration mints a new one, which can equal
    * the old by value), a catalog table to equal metadata (a bucketed
    * replace moves its location). The SESSION identity is part of the
    * key: a DataFrame is bound to the SparkSession that analyzed it, so a
    * second session in the same JVM (tests, embedded tooling) must never
    * be handed a frame whose plan resolves the OTHER session's temp views. */
  def cachedPlan(spark: SparkSession, finalSql: String): DataFrame = {
    val key = s"${System.identityHashCode(spark)}\n" +
      spark.conf.get("spark.sql.session.timeZone", "") + "\n" + finalSql
    val cat = spark.sessionState.catalog
    planCache.get(key).filter(_._2.forall { case (meta, temp) =>
      val view = cat.getRawTempView(meta.identifier.table)
      if (temp) view.exists(_.tableMeta eq meta) else view.isEmpty &&
        scala.util.Try(cat.getTableMetadata(meta.identifier)).toOption.contains(meta)
    }).fold {
      planBuilds.incrementAndGet()
      val df = spark.sql(finalSql)
      planCache.put(key, (df, boundRelations(df.queryExecution.analyzed)))
      df
    }(_._1)
  }

  /** (metadata, is a temp view) of each relation analysis resolved by name
    * in `plan` and its subquery expressions, not entering a view's plan. */
  private def boundRelations(plan: LogicalPlan): Seq[(CatalogTable, Boolean)] = plan match {
    case v: View => Seq(v.desc -> v.isTempView)
    case r: LogicalRelation => r.catalogTable.map(_ -> false).toSeq
    case p => (p.children ++ p.subqueries).flatMap(boundRelations)
  }

  // ---- pg_stat_statements ------------------------------------------------
  // Per-statement execution stats, fed by the wire server where rows
  // actually stream to a client (time-to-last-row, not plan time). Served
  // as the pg_stat_statements catalog view (PgCatalog.refreshDynamic).
  // LRU like the translation/plan caches: the old size-capped clear()
  // dropped EVERY statement's stats at the threshold — pg_stat_statements
  // deallocates least-used entries instead, and so does this
  private val stmtStats = new LruCache[String, Array[Long]](4096) // calls, totalMicros, rows
  private[graft] def noteStatement(query: String, micros: Long, rows: Long): Unit = {
    val a = stmtStats.computeIfAbsent(query.trim)(Array(0L, 0L, 0L))
    a.synchronized { a(0) += 1; a(1) += micros; a(2) += rows }
  }
  /** (query, calls, totalMicros, rows) snapshot. */
  private[graft] def statementStats: Seq[(String, Long, Long, Long)] =
    stmtStats.entries.map { case (q, a) =>
      a.synchronized((q, a(0), a(1), a(2))) }
  private[graft] def resetStatementStats(): Unit = stmtStats.clear()

  sealed trait PgResult
  final case class Rows(df: DataFrame, tag: String) extends PgResult
  final case class Command(tag: String) extends PgResult
  /** COPY … TO STDOUT: rows stream through the COPY-out subprotocol. */
  final case class CopyOut(df: DataFrame, csv: Boolean, header: Boolean) extends PgResult
  /** COPY table FROM STDIN: the wire server runs the copy-in subprotocol
    * and appends into the store table (store tables only — the psql \copy
    * ingestion path; the reference errors on all COPY). */
  final case class CopyIn(table: String, cols: Seq[String], csv: Boolean,
      header: Boolean, delimiter: Char, nullStr: String) extends PgResult
  case object Empty extends PgResult

  final case class UnsupportedQuery(msg: String) extends RuntimeException(msg)

  /** Per-connection transaction over the write surface, PG MVCC shape:
    * DML inside the txn STAGES its writes in txn-private version dirs
    * (Store.TxnStaging) — invisible to every other connection until
    * COMMIT atomically swaps them into the shared chain (one catalog
    * commit covers every staged table, so cross-table commits are atomic
    * too — the Iceberg write-audit-publish shape, with the publish step
    * deferred to COMMIT). ROLLBACK discards the staged dirs: it can never
    * fail on concurrent activity and never destroys another session's
    * committed (or pinned) version. Writers coordinate through per-table
    * write gates — a txn's first staged write claims the table's gate to
    * COMMIT/ROLLBACK and other writers queue, PG's writer-blocks-writer.
    * Default reads are READ COMMITTED (each statement sees the latest
    * published state, plus this txn's own staged writes via the plan
    * rebind); BEGIN ISOLATION LEVEL REPEATABLE READ upgrades to
    * snapshot-isolated reads over the pinned version map with
    * first-updater-wins write conflicts. Matview DDL and CREATE TABLE
    * [AS] stay out of staged scope (published directly; CREATE TABLE
    * remains journal-undoable). Callers without a connection (specs,
    * CompatAudit) pass no txn and keep the reference's no-op BEGIN/COMMIT
    * behavior. */
  final class PgTxn {
    private var active = false
    // error inside the txn -> aborted: everything except ROLLBACK (and
    // COMMIT, which then rolls back) is refused with PG's 25P02 message
    private var failed = false
    // ---- txn-private write staging ----------------------------------------
    // The txn's DML writes stage in private version dirs (Store.TxnStaging)
    // — invisible to every other connection until COMMIT swaps them into
    // the shared chain, discarded in O(1) catalog work at ROLLBACK. The
    // `writes` map below tracks only DIRECT publishes (CREATE TABLE [AS],
    // which must be SQL-resolvable inside the txn and therefore publishes
    // immediately); its restore-based undo is safe there because a table
    // created by this txn has no concurrent writers.
    private[graft] var staging: Store.TxnStaging = null
    /** The txn's staging context, created at its first DML statement. */
    private[graft] def stagingFor(store: Store): Store.TxnStaging = {
      if (staging == null) staging = store.newStaging()
      staging
    }
    // table -> (version before our first DIRECT write (0 = created), last
    // version we produced) — see the staging note above
    private val writes = scala.collection.mutable.LinkedHashMap[String, (Int, Int)]()
    // savepoint name -> (direct-write state, staged chain heads) when set
    private val savepoints = scala.collection.mutable
      .LinkedHashMap[String, (Map[String, (Int, Int)], Map[String, Int])]()
    // view DDL undo log: name -> the view's state BEFORE our first change
    // (None = did not exist). Restored on full ROLLBACK; savepoint-partial
    // rollback intentionally leaves view DDL in place (version pointers
    // have per-table granularity, view defs do not).
    private val viewOps = scala.collection.mutable
      .LinkedHashMap[String, Option[(String, Seq[String], Boolean)]]()
    private[graft] def noteViewChange(name: String,
        prior: Option[(String, Seq[String], Boolean)]): Unit =
      if (active && !viewOps.contains(name)) viewOps(name) = prior
    // ---- repeatable-read snapshot isolation ------------------------------
    // BEGIN ISOLATION LEVEL REPEATABLE READ|SERIALIZABLE (or SET
    // TRANSACTION …) pins the store's version map at the FIRST data
    // statement (PG's rule); every read of a store table inside the txn
    // then resolves to its pinned immutable version dir, whatever other
    // connections commit. Writes use PG's first-updater-wins: a write to a
    // table someone else moved since the pin raises serialization_failure
    // (the txn aborts; ROLLBACK reverts its own writes). A successful own
    // write advances the pin for that table, so the txn sees its own
    // writes — PG semantics.
    private var repeatable = false
    private var levelName = "read committed"
    // PG READ ONLY transaction characteristic (SQLSTATE 25006 on writes)
    private[graft] var readOnly = false
    private var pinned: Option[Map[String, Int]] = None
    private[graft] def setRepeatable(level: String = "repeatable read"): Unit =
      if (active) { repeatable = true; levelName = level }
    /** The granted isolation level, as PG reports it. */
    private[graft] def isolationLevel: String =
      if (active && repeatable) levelName else "read committed"
    private[graft] def adoptSnapshot(snap: Map[String, Int]): Unit =
      if (active) {
        repeatable = true
        if (levelName == "read committed") levelName = "repeatable read"
        pinned = Some(snap)
        registerPins(this) // hold the pinned versions against VACUUM
      }
    /** The read snapshot (pins lazily on first use). None = read-committed. */
    private[graft] def readSnapshot(store: Store): Option[Map[String, Int]] = {
      if (!active || !repeatable) None
      else {
        if (pinned.isEmpty) {
          pinned = Some(store.versionSnapshot)
          registerPins(this) // hold the pinned versions against VACUUM
        }
        pinned
      }
    }
    private[graft] def pinnedVersion(table: String): Option[Int] =
      if (active && repeatable) pinned.flatMap(_.get(table)) else None
    /** table → staged-current dir for every table this txn has staged
      * (uncommitted) writes on — the bindTxnReads own-writes overlay.
      * Empty until the txn's first staged write. */
    private[graft] def stagedReadDirs(store: Store): Map[String, String] =
      if (!active || staging == null) Map.empty
      else store.stagedReadDirs(staging)
    private[graft] def notePinAdvance(table: String, v: Int): Unit =
      if (active && repeatable) pinned = pinned.map(_.updated(table, v))
    private[graft] def isRepeatable: Boolean = active && repeatable

    // ---- SERIALIZABLE read set (SSI, first-committer-wins) ---------------
    // Under SERIALIZABLE the plan rebind records the SHARED version of
    // every store relation a statement reads (first read wins; reads of
    // the txn's own staged chain are no rw-antidependency and are not
    // recorded). COMMIT re-checks the set under the table locks: a read
    // table whose committed version moved raises PG's serialization
    // failure. Conservative vs PG's SSI — PG aborts only when a full
    // dangerous structure exists, this aborts on any rw-antidependency
    // into a committed writer — but never wrong: every accepted schedule
    // is serializable at the pin point. Cross-table write skew (A reads
    // t1/writes t2, B reads t2/writes t1) now aborts one txn like PG,
    // where REPEATABLE READ commits both.
    private val readVersions = scala.collection.mutable.LinkedHashMap[String, Int]()
    private[graft] def isSerializable: Boolean =
      active && repeatable && levelName == "serializable"
    private[graft] def noteRead(table: String, v: Int): Unit =
      if (isSerializable && !readVersions.contains(table)) readVersions(table) = v
    private[graft] def serializableReads: Map[String, Int] =
      if (isSerializable) readVersions.toMap else Map.empty

    // SET LOCAL / set_config(…, true): the setting reverts at txn END
    // (commit or rollback alike — PG semantics). Restores run on the
    // connection thread, inside its bound settings scope.
    private val localSettings =
      scala.collection.mutable.LinkedHashMap[String, Option[String]]()
    private val endHooks = scala.collection.mutable.ListBuffer[() => Unit]()
    /** Run `f` at txn end, AFTER the local-settings registry restore —
      * e.g. re-syncing a Spark conf that mirrors a restored setting. */
    private[graft] def onTxnEnd(f: () => Unit): Unit =
      if (active) { endHooks += f; () }
    private[graft] def noteLocalSet(name: String): Unit =
      if (active && !localSettings.contains(name))
        localSettings(name) = SessionSettings.get(name)
    private def restoreLocalSettings(): Unit = {
      localSettings.foreach {
        case (n, Some(v)) => SessionSettings.set(n, v)
        case (n, None) => SessionSettings.reset(n)
      }
      localSettings.clear()
      endHooks.foreach(f => try f() catch { case _: Exception => () })
      endHooks.clear()
    }

    def inTxn: Boolean = active
    def isAborted: Boolean = active && failed
    private[graft] def markFailed(): Unit = if (active) failed = true
    def begin(): Unit = { active = true; failed = false; staging = null; repeatable = false; levelName = "read committed"; readOnly = false; pinned = None; localSettings.clear(); endHooks.clear(); writes.clear(); savepoints.clear(); viewOps.clear(); readVersions.clear() }
    /** COMMIT: atomically publish the staged writes into the shared chain
      * (Store.commitStaging — one catalog commit covers every staged
      * table). A publish failure rolls the whole txn back and re-raises,
      * PG's failed-COMMIT contract. Direct (CREATE TABLE) writes are
      * already durable. */
    def commit(store: Store): Unit = {
      val st = staging
      staging = null
      if (st != null) {
        try store.commitStaging(st, serializableReads)
        catch {
          case e: Exception =>
            // failed COMMIT = ROLLBACK (PG); staged dirs are already
            // discarded by commitStaging's conflict path
            try rollback(store) catch { case _: Exception => () }
            throw UnsupportedQuery(e.getMessage)
        }
      }
      unregisterPins(this); restoreLocalSettings(); active = false; failed = false; repeatable = false; pinned = None; writes.clear(); savepoints.clear(); viewOps.clear(); readVersions.clear()
    }
    private[graft] def noteWrite(table: String, from: Int, to: Int): Unit =
      if (active) writes.get(table) match {
        case Some((f, _)) => writes(table) = (f, to)
        case None => writes(table) = (from, to)
      }
    def savepoint(store: Store, name: String): Unit = {
      require(active, "SAVEPOINT can only be used in transaction blocks")
      savepoints(name.toLowerCase) = (writes.toMap, store.stagedMarks(staging))
    }
    def releaseSavepoint(name: String): Unit = {
      if (!savepoints.contains(name.toLowerCase))
        throw UnsupportedQuery(s"""savepoint "$name" does not exist""")
      // PG releases the named savepoint AND all established after it
      val keys = savepoints.keys.toSeq
      keys.drop(keys.indexOf(name.toLowerCase)).foreach(savepoints.remove)
    }
    /** ROLLBACK TO SAVEPOINT: undo only the writes made after the
      * savepoint — staged writes rewind by deleting the staged dirs above
      * the savepoint's chain heads (Store.rollbackStagedTo — never touches
      * the shared chain, never fails on concurrent commits); direct writes
      * restore their version pointers. The savepoint itself survives, like
      * PG, and the write gates stay held. */
    def rollbackTo(store: Store, name: String): Unit = {
      val (base, marks) = savepoints.getOrElse(name.toLowerCase,
        throw UnsupportedQuery(s"""savepoint "$name" does not exist"""))
      if (staging != null) {
        staging.tables.keys.toSeq.foreach { t =>
          // absent from the marks = first staged after the savepoint:
          // rewind to its base (removing its staged state); the effective
          // floor comes back from the store (it knows the base)
          store.rollbackStagedTo(staging, t, marks.getOrElse(t, 0)).foreach {
            floor =>
              // the repeatable-read pin advanced with the now-undone staged
              // writes (conflict baseline); rewind it with them or the next
              // write's first-updater check would compare against a version
              // this txn no longer holds — but never ADD a pin for a table
              // the snapshot never contained (created inside the txn)
              if (repeatable)
                pinned = pinned.map(m => m.get(t) match {
                  case Some(p) if p > floor => m.updated(t, floor)
                  case _ => m
                })
          }
        }
      }
      val failures = writes.toSeq.reverse.flatMap { case (t, (from, to)) =>
        val target = base.get(t).map(_._2).getOrElse(from)
        if (target == to) None
        else try {
          store.restoreVersion(t, target, expectedCurrent = to)
          // restoreVersion DELETES the undone dirs, so a stale pin would
          // point reads at versions that no longer exist
          if (repeatable) pinned = pinned.map(_.updated(t, target))
          None
        }
        catch { case e: Exception => Some(s"$t: ${e.getMessage}") }
      }
      // state reverts to the savepoint's view; later savepoints die,
      // and the aborted state clears (PG: ROLLBACK TO revives the txn)
      failed = false
      writes.clear(); writes ++= base
      val keys = savepoints.keys.toSeq
      keys.drop(keys.indexOf(name.toLowerCase) + 1).foreach(savepoints.remove)
      if (failures.nonEmpty) throw UnsupportedQuery(
        "ROLLBACK TO SAVEPOINT could not undo all writes — " + failures.mkString("; "))
    }
    def rollback(store: Store): Unit = {
      // staged writes: O(1) discard of the private dirs — by construction
      // this can neither fail on a concurrent commit nor destroy one
      val st = staging
      staging = null
      if (st != null)
        try store.abortStaging(st) catch { case _: Exception => () }
      val failures = writes.toSeq.reverse.flatMap { case (t, (from, to)) =>
        try { store.restoreVersion(t, from, expectedCurrent = to); None }
        catch { case e: Exception => Some(s"$t: ${e.getMessage}") }
      }
      viewOps.toSeq.reverse.foreach { case (n, prior) =>
        try store.restoreView(n, prior)
        catch { case _: Exception => () } // base gone: nothing to restore onto
      }
      unregisterPins(this)
      restoreLocalSettings()
      active = false
      failed = false
      repeatable = false
      pinned = None
      writes.clear()
      savepoints.clear()
      viewOps.clear()
      readVersions.clear()
      if (failures.nonEmpty) throw UnsupportedQuery(
        "ROLLBACK could not undo all writes — " + failures.mkString("; "))
    }
  }

  /** Simple-protocol entry: split a multi-statement string and run each
    * (query_handler.go:75-107). */
  def executeAll(spark: SparkSession, store: Store, sql: String): Seq[PgResult] =
    splitStatements(sql).map(execute(spark, store, _))

  def execute(spark: SparkSession, store: Store, statement: String,
      txn: PgTxn = null): PgResult =
    // bind the settings scope: every SET/SHOW/translation-flag read below
    // must hit THIS session's overrides, not another connection's. If the
    // caller already bound a finer scope (the wire server binds one per
    // CONNECTION), keep it.
    SessionSettings.withSessionIfUnbound(spark)(
      executeScoped(spark, store, statement, txn))

  private def executeScoped(spark: SparkSession, store: Store, statement: String,
      txn: PgTxn): PgResult = {
    // permissions comment (query_remapper.go:70-77, parser_table.go:53-106):
    // /*BEMIDB_PERMISSIONS {"public.tbl": ["col", …]} BEMIDB_PERMISSIONS*/
    // restricts visible tables/columns for this statement
    val perms = parsePermissions(statement)
    val stmt = stripComments(statement).trim
    if (stmt.isEmpty) return Empty
    // multi-process deployments: a pure READER process follows the commit
    // chain (rate-limited catalog re-sync). Writer processes are always
    // current, and statements inside a transaction keep their pins.
    if (txn == null || !txn.inTxn) store.syncReadOnly()
    val upper = stmt.toUpperCase
    // PG 25P02: an aborted transaction block refuses everything except
    // ROLLBACK [TO] / COMMIT (which then rolls back)
    if (txn != null && txn.isAborted &&
        !upper.matches("(?s)(ROLLBACK|COMMIT|END|ABORT)\\b.*"))
      throw UnsupportedQuery(
        "current transaction is aborted, commands ignored until end of transaction block")
    // PG 25006: a read-only transaction (BEGIN ... READ ONLY / SET
    // TRANSACTION READ ONLY) — or, outside a block, a session with
    // default_transaction_read_only=on — refuses writes. PG's temp-table
    // carve-out is honored (CREATE TEMP ... stays allowed).
    locally {
      val isWrite = (upper.matches(
        "(?s)(INSERT|UPDATE|DELETE|MERGE|TRUNCATE|CREATE|DROP|ALTER|REFRESH|GRANT|REVOKE|IMPORT)\\b.*") &&
        !upper.matches("(?s)CREATE\\s+(OR\\s+REPLACE\\s+)?TEMP(ORARY)?\\b.*")) ||
        // COPY ... FROM STDIN only: a COPY-out's inner SELECT carries its
        // own FROM, and reading is exactly what a read-only session is for
        upper.matches("(?s)COPY\\b.*\\bFROM\\s+STDIN\\b.*")
      if (isWrite) {
        val ro =
          if (txn != null && txn.inTxn) txn.readOnly
          else SessionSettings.get("default_transaction_read_only")
            .exists(v => v.equalsIgnoreCase("on") || v.equalsIgnoreCase("true") || v == "1")
        if (ro) {
          val words = upper.split("\\s+")
          val verb =
            if (Set("CREATE", "DROP", "ALTER").contains(words(0)) && words.length > 1)
              s"${words(0)} ${words(1)}"
            else words(0)
          throw UnsupportedQuery(
            s"cannot execute $verb in a read-only transaction")
        }
      }
    }
    // SET CONSTRAINTS is a txn-scoped no-op, not a settings write
    if (upper.startsWith("SET CONSTRAINTS")) return Command("SET CONSTRAINTS")
    // ---- synchronized snapshots (parallel pg_dump -Fd -j) ---------------
    // pg_export_snapshot(): the leader exports its view of the store's
    // version map under a fresh id; each -j worker connection adopts it
    // with SET TRANSACTION SNAPSHOT. Adoption is REAL per-connection
    // pinning: the worker's reads resolve the exported version map's
    // immutable snapshot dirs (bindTxnReads), so a parallel dump stays
    // consistent even while other connections keep committing.
    locally {
      val expRe = "(?is)SELECT\\s+(?:pg_catalog\\.)?pg_export_snapshot\\s*\\(\\s*\\)\\s*;?\\s*".r
      if (expRe.matches(stmt)) {
        val id = f"${snapshotSeq.incrementAndGet()}%08X-${store.hashCode & 0xffff}%04X-1"
        exportedSnapshots.put(id, store.versionSnapshot)
        // local one-row frame, not cachedPlan: ids are globally unique, so
        // a cached plan could never hit again and would only evict real
        // entries from the LRU
        import spark.implicits._
        return Rows(Seq(id).toDF("pg_export_snapshot"), "SELECT 1")
      }
      // standalone set_config (pg_dump/psql/pools): handled HERE, on the
      // connection-scoped thread, NOT via the set_config UDF — a UDF
      // evaluates on a task thread where the connection scope is unbound,
      // so its write lands in the shared SESSION scope and one client's
      // `set_config('search_path', …)` leaks into every other connection.
      val setCfgRe = ("(?is)SELECT\\s+(?:pg_catalog\\.)?set_config\\s*\\(" +
        "\\s*'((?:[^']|'')*)'\\s*,\\s*'((?:[^']|'')*)'\\s*,\\s*(\\S+?)\\s*\\)\\s*;?\\s*").r
      stmt match {
        case setCfgRe(nameRaw, valueRaw, localRaw) =>
          val name = nameRaw.replace("''", "'")
          val value = valueRaw.replace("''", "'")
          // is_local=true: PG reverts the setting at txn END (SET LOCAL);
          // outside a txn a local set has no lasting effect (PG warns)
          val isLocal = Set("true", "'t'", "'true'", "'on'", "'yes'", "'1'", "1")
            .contains(localRaw.toLowerCase)
          if (isLocal) {
            if (txn != null && txn.inTxn) {
              txn.noteLocalSet(name)
              SessionSettings.set(name, value)
            }
          } else SessionSettings.set(name, value)
          // a plain one-row local frame — NOT via cachedPlan: every call
          // has a distinct value and would evict real hot plans from the
          // LRU with entries that can never hit again
          import spark.implicits._
          return Rows(Seq(value).toDF("set_config"), "SELECT 1")
        case _ =>
      }
      val adoptRe = "(?is)SET\\s+TRANSACTION\\s+SNAPSHOT\\s+'([^']+)'\\s*;?\\s*".r
      stmt match {
        case adoptRe(id) =>
          val exported = exportedSnapshots.get(id).getOrElse(
            throw UnsupportedQuery(s"""snapshot "$id" does not exist"""))
          // REAL adoption: the worker's reads pin to the exported version
          // map (immutable snapshot dirs), so a parallel dump stays
          // consistent even while other connections commit. Outside a txn
          // PG errors unconditionally — silently returning SET when the
          // maps happen to match would leave the caller UNPINNED and
          // every later commit would leak into its "snapshot" reads.
          if (txn == null || !txn.inTxn)
            throw UnsupportedQuery(
              "SET TRANSACTION SNAPSHOT can only be used in transaction blocks")
          txn.adoptSnapshot(exported)
          return Command("SET")
        case _ =>
      }
      // SET TRANSACTION ISOLATION LEVEL: upgrades the open txn's reads to
      // snapshot isolation (PG allows this before the first query); READ
      // ONLY/WRITE toggles the 25006 write refusal; DEFERRABLE is a no-op
      if (upper.startsWith("SET TRANSACTION")) {
        if (txn != null && txn.inTxn) {
          if ("(?s).*SERIALIZABLE.*".r.matches(upper))
            txn.setRepeatable("serializable")
          else if ("(?s).*REPEATABLE\\s+READ.*".r.matches(upper))
            txn.setRepeatable()
          if ("(?s).*READ\\s+ONLY.*".r.matches(upper)) txn.readOnly = true
          else if ("(?s).*READ\\s+WRITE.*".r.matches(upper)) txn.readOnly = false
        }
        return Command("SET")
      }
    }
    if (upper.startsWith("SET ")) return executeSet(spark, stmt, txn)
    if (upper.startsWith("RESET")) return executeReset(spark, stmt)
    if (upper.startsWith("SHOW ")) {
      // an open snapshot-isolated txn reports its real level (pools and
      // ORMs branch on this before relying on repeatable reads)
      if (txn != null && txn.isRepeatable &&
          "(?is)SHOW\\s+(transaction_isolation|TRANSACTION\\s+ISOLATION\\s+LEVEL)\\s*;?\\s*".r
            .matches(stmt)) {
        import spark.implicits._
        return Rows(Seq(txn.isolationLevel).toDF("transaction_isolation"), "SHOW")
      }
      return executeShow(spark, stmt)
    }
    val savepointRe = "(?is)SAVEPOINT\\s+([\\w\"]+)\\s*".r
    val releaseRe = "(?is)RELEASE\\s+(?:SAVEPOINT\\s+)?([\\w\"]+)\\s*".r
    val rollbackToRe =
      "(?is)ROLLBACK\\s+(?:WORK\\s+)?TO\\s+(?:SAVEPOINT\\s+)?([\\w\"]+)\\s*".r
    stmt match {
      case savepointRe(n) =>
        if (txn != null) txn.savepoint(store, unquoteName(n))
        return Command("SAVEPOINT")
      case releaseRe(n) =>
        if (txn != null) txn.releaseSavepoint(unquoteName(n))
        return Command("RELEASE")
      case rollbackToRe(n) =>
        if (txn != null) txn.rollbackTo(store, unquoteName(n))
        return Command("ROLLBACK")
      case _ =>
    }
    if (upper.matches("(?s)(BEGIN|START\\s+TRANSACTION|COMMIT|END|ROLLBACK)\\b.*")) {
      val verb = upper.split("\\s+")(0) match {
        case "END" => "COMMIT"
        case "START" => "BEGIN"
        case t => t
      }
      // with a connection txn attached, these are REAL over the write
      // surface (see PgTxn); otherwise the reference's no-op tags
      if (txn != null) verb match {
        case "BEGIN" =>
          txn.begin()
          // BEGIN ISOLATION LEVEL REPEATABLE READ|SERIALIZABLE: snapshot-
          // isolated reads (PgTxn pins the version map at first statement);
          // the granted LEVEL NAME is kept for SHOW transaction_isolation
          if ("(?s).*SERIALIZABLE.*".r.matches(upper))
            txn.setRepeatable("serializable")
          else if ("(?s).*REPEATABLE\\s+READ.*".r.matches(upper))
            txn.setRepeatable()
          txn.readOnly =
            if ("(?s).*READ\\s+WRITE.*".r.matches(upper)) false
            else "(?s).*READ\\s+ONLY.*".r.matches(upper) ||
              SessionSettings.get("default_transaction_read_only")
                .exists(v => v.equalsIgnoreCase("on") || v.equalsIgnoreCase("true") || v == "1")
        case "COMMIT" =>
          // PG: COMMIT of an aborted transaction rolls back and reports it
          if (txn.isAborted) { txn.rollback(store); return Command("ROLLBACK") }
          txn.commit(store)
        case "ROLLBACK" => txn.rollback(store)
        case _ =>
      }
      return Command(verb)
    }
    if (upper.startsWith("DISCARD")) return Command("DISCARD ALL")
    // COMMENT ON TABLE/VIEW/COLUMN over known relations is real metadata:
    // stored durably and surfaced through pg_description (JDBC getTables
    // REMARKS, psql \d+, obj_description()). Other COMMENT targets stay
    // migration-script no-ops; LOCK TABLE (readers never block writers
    // here), SET CONSTRAINTS (no deferred constraints) and CHECKPOINT
    // (every commit is durable) remain no-ops too.
    val commentRe = ("(?is)COMMENT\\s+ON\\s+(TABLE|VIEW|MATERIALIZED\\s+VIEW|COLUMN)\\s+" +
      "([\\w.\"]+)\\s+IS\\s+(NULL|'(?:[^']|'')*')\\s*").r
    stmt match {
      case commentRe(kind, target, text) =>
        val value =
          if (text.equalsIgnoreCase("NULL")) None
          else Some(text.substring(1, text.length - 1).replace("''", "'"))
        val key =
          if (kind.equalsIgnoreCase("COLUMN")) {
            val parts = target.split("\\.").map(unquoteName)
            // strip a leading schema qualifier: rel.col stays rel.col
            if (parts.length >= 2) parts.takeRight(2).mkString(".") else target
          } else unquoteName(target.split("\\.").map(unquoteName).last)
        // PG raises for unknown targets — a misspelled relation/column must
        // not accumulate silently in the durable pg_description catalog
        val (rel, colOpt) = key.split("\\.") match {
          case Array(r, c) if kind.equalsIgnoreCase("COLUMN") => (r, Some(c))
          case _ => (key, None)
        }
        val relKnown = store.exists(rel) ||
          store.matviewDefinition(rel).isDefined ||
          store.viewState(rel).isDefined ||
          (try spark.catalog.tableExists(rel) catch { case _: Exception => false })
        if (!relKnown)
          throw UnsupportedQuery(s"""relation "$rel" does not exist""")
        colOpt.foreach { c =>
          val fields =
            try spark.table(rel).schema.fieldNames.toSeq
            catch { case _: Exception => Seq.empty[String] }
          if (!fields.exists(_.equalsIgnoreCase(c)))
            throw UnsupportedQuery(
              s"""column "$c" of relation "$rel" does not exist""")
        }
        store.setComment(key, value)
        return Command("COMMENT")
      case _ =>
    }
    if (upper.startsWith("COMMENT ")) return Command("COMMENT")
    if (upper.startsWith("LOCK ")) return Command("LOCK TABLE")
    if (upper.startsWith("CHECKPOINT")) return Command("CHECKPOINT")
    // standalone ANALYZE [VERBOSE] [table[(cols)]]: a REAL statistics pass
    // (one aggregate job per table — see TableStats) whose results surface
    // through the pg_stats-shaped view and feed the size-gated broadcast
    // planner (Tables.broadcastSized). Bare ANALYZE covers the store's
    // synced tables (the population PG's database-wide ANALYZE would);
    // registered parquet views analyze on request by name.
    if (upper.startsWith("ANALYZE")) {
      val anRe =
        "(?is)ANALYZE(?:\\s+VERBOSE)?(?:\\s+([\\w.\"]+)(\\s*\\([^)]*\\))?)?\\s*".r
      stmt match {
        case anRe(tblRaw, colsRaw) =>
          val cols = Option(colsRaw).map(_.trim.stripPrefix("(").stripSuffix(")")
            .split(",").toSeq.map(c => unquoteName(c.trim)).filter(_.nonEmpty))
            .getOrElse(Nil)
          val named = Option(tblRaw)
            .map(x => unquoteName(x.split("\\.").map(unquoteName).last))
          val targets = named.map(Seq(_)).getOrElse(store.tableNames)
          targets.foreach { t =>
            val df =
              if (store.exists(t)) Some(store.read(t))
              else try Some(spark.table(t)) catch { case _: Exception => None }
            df match {
              case Some(d) =>
                // store tables register under the store namespace; a bare
                // spark.table resolves a testdata view — its stats key
                // under the session's dir so the broadcast gate for that
                // dir (and only it) sees them
                val ns = if (store.exists(t)) TableStats.StoreNs
                         else Tables.dirOf(spark)
                TableStats.analyze(spark, t, d, cols, ns = ns)
              case None if named.isDefined =>
                throw UnsupportedQuery(s"""relation "$t" does not exist""")
              case None =>
            }
          }
          PgCatalog.refreshStats(spark)
          return Command("ANALYZE")
        case _ =>
      }
    }

    val mvCreate =
      "(?is)CREATE\\s+MATERIALIZED\\s+VIEW\\s+(IF\\s+NOT\\s+EXISTS\\s+)?([\\w.\"]+)\\s+AS\\s+(.*?)(\\s+WITH\\s+(NO\\s+)?DATA)?\\s*$".r
    stmt match {
      case mvCreate(ifNotExists, name, defn, _, noData) =>
        val mv = unquoteName(name)
        if (store.matviewDefinition(mv).isDefined && ifNotExists != null)
          return Command("CREATE MATERIALIZED VIEW")
        store.createMatview(mv, translateSelect(defn), withData = noData == null)
        return Command("CREATE MATERIALIZED VIEW")
      case _ =>
    }
    // plain SQL views (beyond the reference, which has no view DDL): the
    // stored definition keeps the user's PG dialect; TEMP scopes to this
    // engine session (not persisted)
    val vCreate = ("(?is)CREATE\\s+(OR\\s+REPLACE\\s+)?(TEMP(?:ORARY)?\\s+)?VIEW\\s+" +
      "([\\w.\"]+)\\s*(\\(([^)]*)\\))?\\s+AS\\s+(.*?)\\s*$").r
    stmt match {
      case vCreate(orReplace, temp, name, _, colsRaw, defn) =>
        val cols = Option(colsRaw).map(_.split(",").toSeq
          .map(c => unquoteName(c.trim)).filter(_.nonEmpty)).getOrElse(Nil)
        val vn = unquoteName(name)
        if (txn != null && txn.inTxn) txn.noteViewChange(vn, store.viewState(vn))
        store.createView(vn, defn.trim, cols,
          orReplace = orReplace != null, durable = temp == null)
        return Command("CREATE VIEW")
      case _ =>
    }
    // the name-list char class includes \s, so a trailing CASCADE/RESTRICT
    // must be matched off explicitly or it silently joins the last name
    val vDrop = "(?is)DROP\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?([\\w.\",\\s]+?)(?:\\s+(?:CASCADE|RESTRICT))?\\s*".r
    stmt match {
      case vDrop(ifExists, names) =>
        names.split(",").map(n => unquoteName(n.trim)).foreach { v =>
          if (txn != null && txn.inTxn) txn.noteViewChange(v, store.viewState(v))
          store.dropView(v, ifExists = ifExists != null)
        }
        return Command("DROP VIEW")
      case _ =>
    }
    val mvRefresh = "(?is)REFRESH\\s+MATERIALIZED\\s+VIEW\\s+(CONCURRENTLY\\s+)?([\\w.\"]+)\\s*".r
    stmt match {
      case mvRefresh(concurrently, name) =>
        val mv = unquoteName(name)
        if (concurrently != null) {
          // async like the reference's goroutine (query_remapper.go:163-169):
          // the command returns immediately and the old snapshot keeps being
          // served until the background refresh flips the version pointer
          scala.concurrent.Future(store.refreshMatview(mv))(
            scala.concurrent.ExecutionContext.global)
        } else store.refreshMatview(mv)
        return Command("REFRESH MATERIALIZED VIEW")
      case _ =>
    }
    // DROP TABLE [IF EXISTS] name[, ...] (query_remapper.go:154-161)
    val tblDrop = "(?is)DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?([\\w.\",\\s]+?)(?:\\s+(?:CASCADE|RESTRICT))?\\s*".r
    stmt match {
      case tblDrop(ifExists, names) =>
        names.split(",").map(n => unquoteName(n.trim)).foreach { t =>
          if (store.viewDefinition(t).isDefined)
            // PG: wrong-object-type DDL refuses rather than half-dropping
            // (the registered temp view would be resurrected by the next
            // publish anyway)
            throw UnsupportedQuery(s""""$t" is not a table""")
          if (store.exists(t)) {
            // bind the txn's staging scope so DROP of a table THIS txn has
            // staged writes on passes its own gate (and discards the
            // staged state with the table); a foreign txn's gate queues
            if (txn != null && txn.inTxn)
              store.withStaging(txn.stagingFor(store))(store.drop(t))
            else store.drop(t)
            spark.catalog.dropTempView(t)
          } else if (spark.catalog.tableExists(t)) {
            spark.catalog.dropTempView(t)
          } else if (ifExists == null) {
            throw UnsupportedQuery(s"""table "$t" does not exist""")
          }
        }
        return Command("DROP TABLE")
      case _ =>
    }
    val mvDrop = "(?is)DROP\\s+MATERIALIZED\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?([\\w.\"]+)(?:\\s+(?:CASCADE|RESTRICT))?\\s*".r
    stmt match {
      case mvDrop(ifExists, name) =>
        val mv = unquoteName(name)
        if (store.matviewDefinition(mv).isEmpty && ifExists != null)
          return Command("DROP MATERIALIZED VIEW")
        store.dropMatview(mv)
        return Command("DROP MATERIALIZED VIEW")
      case _ =>
    }
    val mvRename =
      "(?is)ALTER\\s+(MATERIALIZED\\s+VIEW|TABLE)\\s+([\\w.\"]+)\\s+RENAME\\s+TO\\s+([\\w.\"]+)\\s*".r
    stmt match {
      case mvRename(_, from, to) =>
        store.renameMatview(unquoteName(from), unquoteName(to))
        return Command("ALTER")
      case _ =>
    }

    if ("(?is)SELECT\\s+pg_stat_statements_reset\\s*\\(\\s*\\)\\s*;?\\s*".r
        .matches(stmt)) {
      resetStatementStats()
      import spark.implicits._
      return Rows(Seq(Option.empty[String]).toDF("pg_stat_statements_reset"), "SELECT")
    }
    if (upper.startsWith("SELECT") || upper.startsWith("WITH") ||
        upper.startsWith("VALUES") || upper.startsWith("TABLE "))
      return Rows(planRead(spark, store, stmt, txn, mutate = true, perms), "SELECT")
    // EXPLAIN [ANALYZE|VERBOSE|(opts)] SELECT … -> Spark's formatted plan as
    // PG-style "QUERY PLAN" text rows (the reference delegates to DuckDB's
    // EXPLAIN; here Catalyst's plan IS the engine plan)
    val explain = "(?is)EXPLAIN(\\s+ANALYZE|\\s+VERBOSE|\\s*\\([^)]*\\))*\\s+(.+)".r
    stmt match {
      case explain(_, inner) if inner != null && inner.trim.nonEmpty =>
        import spark.implicits._
        val analyze =
          "(?is)EXPLAIN\\s+(?:ANALYZE\\b|\\([^)]*\\bANALYZE\\b[^)]*\\))".r
            .findFirstIn(stmt).isDefined
        // the plan a SELECT would actually run (EXPLAIN must not mutate)
        val df = planRead(spark, store, inner, txn, mutate = false, perms)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val lines =
          if (!analyze) plan.split("\n").toSeq
          else {
            // ANALYZE executes like PG and appends actual totals
            val t0 = System.nanoTime()
            val n = df.count()
            val ms = (System.nanoTime() - t0) / 1e6
            plan.split("\n").toSeq ++
              Seq(s"Actual Rows: $n", f"Execution Time: $ms%.3f ms")
          }
        return Rows(lines.toDF("QUERY PLAN"), "EXPLAIN")
      case _ =>
    }
    // COPY (query)|table TO STDOUT [WITH (FORMAT CSV[, HEADER])] — the
    // psql \copy export path (beyond the reference, which errors on COPY);
    // COPY … FROM stays unsupported like every other write
    val copyOut =
      "(?is)COPY\\s+(\\(.*\\)|[\\w.\"]+)\\s*(\\([^)]*\\))?\\s+TO\\s+STDOUT\\s*(.*)".r
    stmt match {
      case copyOut(src, colsRaw, opts) =>
        // pg_dump's data phase: COPY table (col, …) TO stdout — the column
        // list projects and orders the output
        val cols = Option(colsRaw).map(c =>
          PgDml.splitTop(c.trim.stripPrefix("(").stripSuffix(")"))
            .map(_.trim).mkString(", "))
        val inner =
          if (src.startsWith("(")) src.substring(1, src.length - 1)
          else s"SELECT ${cols.getOrElse("*")} FROM $src"
        // pg_dump's parallel data phase reads through here: the adopted
        // snapshot must pin the COPY source like any SELECT
        val df = planRead(spark, store, inner, txn, mutate = true, perms)
        val o = opts.toUpperCase
        return CopyOut(df, csv = o.contains("CSV"), header = o.contains("HEADER"))
      case _ =>
    }
    // COPY table [(cols)] FROM STDIN [...] — ingestion into store tables
    // (the write-side twin of the COPY TO above; non-store targets keep
    // the reference's COPY error)
    val copyIn = "(?is)COPY\\s+([\\w.\"]+)\\s*(\\([^)]*\\))?\\s+FROM\\s+STDIN\\s*(.*)".r
    stmt match {
      case copyIn(nameRaw, colsRaw, optsRaw) if store.exists(unquoteName(nameRaw)) =>
        val cols = Option(colsRaw).map(c =>
          PgDml.splitTop(c.trim.stripPrefix("(").stripSuffix(")"))
            .map(x => unquoteName(x.trim))).getOrElse(Seq.empty)
        val o = optsRaw.toUpperCase
        val csv = o.contains("CSV")
        val delim = "(?i)DELIMITER\\s+'(.)'".r.findFirstMatchIn(optsRaw)
          .map(_.group(1).charAt(0)).getOrElse(if (csv) ',' else '\t')
        val nul = "(?i)NULL\\s+'([^']*)'".r.findFirstMatchIn(optsRaw)
          .map(_.group(1)).getOrElse(if (csv) "" else "\\N")
        return CopyIn(unquoteName(nameRaw), cols, csv, o.contains("HEADER"),
          delim, nul)
      case _ =>
    }
    // DML over STORE tables only (PgDml — beyond-parity write surface);
    // everything else (writes on non-store relations, COPY FROM, DDL we
    // don't model) mirrors query_remapper.go:180-184. Inside a txn the
    // touched tables come from the store's per-THREAD write journal —
    // PgDml stays txn-agnostic, and another connection's concurrent
    // commit can never be blamed on (and rolled back with) this txn,
    // which a global version-map diff around the statement would do.
    val journaling = txn != null && txn.inTxn
    // PG refuses VACUUM inside a transaction block — and staging a
    // maintenance compaction would be meaningless anyway
    if (journaling && upper.startsWith("VACUUM"))
      throw UnsupportedQuery("VACUUM cannot run inside a transaction block")
    // PG pins the RR snapshot at the FIRST statement of any kind — a txn
    // whose first statement is a WRITE must pin BEFORE that write, or
    // first-updater-wins has no baseline and lost updates slip through
    if (journaling && txn.isRepeatable) txn.readSnapshot(store)
    if (journaling) store.beginWriteJournal()
    var dmlResult: Option[PgResult] = None
    var written: Seq[(String, Int, Int)] = Nil
    // inside a txn the statement's writes STAGE in txn-private version
    // dirs (invisible to other connections until COMMIT); the bound
    // current-txn scope lets PgDml's source subqueries resolve this txn's
    // own staged writes + RR pins
    try dmlResult =
      if (journaling)
        store.withStaging(txn.stagingFor(store))(
          withCurrentTxn(spark, store, txn)(PgDml.execute(spark, store, stmt)))
      else PgDml.execute(spark, store, stmt)
    finally if (journaling) {
      // drain in the FINALLY so a statement that dies mid-sequence (e.g.
      // multi-table TRUNCATE failing on table 3 of 5) still notes its
      // partial publishes into the txn — ROLLBACK must revert those too,
      // not just the writes of statements that completed
      written = noteJournaledWrites(store, txn)
    }
    dmlResult match {
      case Some(r) =>
        checkWriteConflicts(txn, journaling, written)
        return r
      case None =>
    }
    throw UnsupportedQuery("unsupported query type: " + stmt.split("\\s+")(0))
  }

  // ---- SET / SHOW ------------------------------------------------------
  private def executeSet(spark: SparkSession, stmt: String,
      txn: PgTxn = null): PgResult = {
    val m = "(?is)SET\\s+(SESSION\\s+|LOCAL\\s+)?([\\w.]+)\\s*(?:=|TO)\\s*(.+)".r
    stmt match {
      case m(scopeKw, name, rawValue) =>
        val value = rawValue.trim.stripPrefix("'").stripSuffix("'")
        val isLocal = scopeKw != null && scopeKw.trim.equalsIgnoreCase("LOCAL")
        if (isLocal) {
          // SET LOCAL reverts at txn END (PgTxn restores the prior value
          // at COMMIT and ROLLBACK alike); outside a transaction block PG
          // warns and the set has no lasting effect
          if (txn != null && txn.inTxn) {
            txn.noteLocalSet(name)
            SessionSettings.set(name, value)
            if (name.equalsIgnoreCase("timezone")) {
              spark.conf.set("spark.sql.session.timeZone", value)
              // the conf mirrors the registry: re-sync at txn end so query
              // evaluation and SHOW never disagree after COMMIT/ROLLBACK
              txn.onTxnEnd(() => spark.conf.set("spark.sql.session.timeZone",
                SessionSettings.get("timezone").getOrElse("UTC")))
            }
          }
          return Command("SET")
        }
        SessionSettings.set(name, value)
        if (name.equalsIgnoreCase("timezone"))
          spark.conf.set("spark.sql.session.timeZone", value)
        Command("SET")
      case _ => Command("SET")
    }
  }

  /** RESET var / RESET ALL: drop the session override, restoring the
    * default (PG VariableSetStmt VAR_RESET; psql and JDBC issue these on
    * reconnect/pool checkin). */
  private def executeReset(spark: SparkSession, stmt: String): PgResult = {
    val m = "(?is)RESET\\s+([\\w.]+|ALL)\\s*".r
    stmt.trim match {
      case m(what) if what.equalsIgnoreCase("ALL") =>
        SessionSettings.resetAll()
        spark.conf.set("spark.sql.session.timeZone",
          SessionSettings.defaults("timezone"))
        Command("RESET")
      case m(name) =>
        SessionSettings.reset(name)
        if (name.equalsIgnoreCase("timezone"))
          spark.conf.set("spark.sql.session.timeZone",
            SessionSettings.defaults("timezone"))
        Command("RESET")
      case _ => Command("RESET")
    }
  }

  private def executeShow(spark: SparkSession, stmt: String): Rows = {
    import spark.implicits._
    val rest = stmt.split("\\s+").drop(1).map(_.toLowerCase.stripSuffix(";"))
    val name = rest.toSeq match {
      case Seq("time", "zone", _*) => "timezone" // psql's two-word spelling
      case Seq("transaction", "isolation", _*) => // JDBC getTransactionIsolation
        "transaction_isolation"
      case Seq(n, _*) => n
      case _ => ""
    }
    if (name == "all") // SHOW ALL: the full settings table (name asc)
      Rows(SessionSettings.all.toSeq.sorted.toDF("name", "setting"), "SHOW")
    else {
      // search_path is prefixed with "$user" like the reference
      // (parser_show.go:72, query_remapper_show.go:26: CONCAT('"$user", ', value))
      val raw = SessionSettings.get(name).getOrElse("")
      val value =
        if (name == "search_path" && !raw.contains("$user")) "\"$user\", " + raw
        else raw
      Rows(Seq(value).toDF(name), "SHOW")
    }
  }

  // ---- SELECT translation ---------------------------------------------
  def translateSelect(sql: String): String = {
    translations.incrementAndGet()
    var s = sql.trim.stripSuffix(";")
    // FIRST: E'...' escape strings decode to plain literals before any
    // pass inspects quotes (psql's \l, \z, \dn+ and friends are full of
    // E'\\n'); later passes then see only standard '' literals
    s = decodeEscapeStrings(s)
    s = autoAliasTargets(s)
    s = rewriteArraySubquery(s)
    s = rewriteDistinctOn(s)
    s = rewriteGroupsFrame(s)
    // PG's aggregate-internal ORDER BY -> Spark's WITHIN GROUP form:
    // string_agg(x, d ORDER BY y[,z]) / listagg(...) — the common psql
    // idiom; arguments with nested parens pass through untouched
    s = s.replaceAll(
      "(?i)\\b(string_agg|listagg)\\s*\\(\\s*([^(),]+),\\s*([^()]+?)\\s+ORDER\\s+BY\\s+([^()]+)\\)",
      "$1($2, $3) WITHIN GROUP (ORDER BY $4)")
    // array_agg(DISTINCT x ORDER BY x [ASC|DESC]) -> sorted set (Spark's
    // parser rejects DISTINCT + internal ORDER BY together; when the sort
    // key IS the distinct expression the sorted-set form is equivalent)
    s = s.replaceAll(
      "(?i)\\barray_agg\\s*\\(\\s*DISTINCT\\s+([\\w.]+)\\s+ORDER\\s+BY\\s+\\1\\s*(?:ASC\\b)?\\s*\\)",
      "sort_array(collect_set($1))")
    s = s.replaceAll(
      "(?i)\\barray_agg\\s*\\(\\s*DISTINCT\\s+([\\w.]+)\\s+ORDER\\s+BY\\s+\\1\\s+DESC\\s*\\)",
      "sort_array(collect_set($1), false)")
    // array_agg(x ORDER BY x [ASC]) keeping duplicates (pg_dump's index
    // stat-column lists) — sorting by the aggregated expression itself is
    // the sorted-list form
    s = s.replaceAll(
      "(?i)\\barray_agg\\s*\\(\\s*([\\w.]+)\\s+ORDER\\s+BY\\s+\\1\\s*(?:ASC\\b)?\\s*\\)",
      "sort_array(collect_list($1))")
    s = s.replaceAll(
      "(?i)\\barray_agg\\s*\\(\\s*([\\w.]+)\\s+ORDER\\s+BY\\s+\\1\\s+DESC\\s*\\)",
      "sort_array(collect_list($1), false)")
    // array_agg(x ORDER BY y) with a DIFFERENT sort key: collect (y, x)
    // structs, sort (struct order = field order, y leads), project x back
    locally {
      val p = "(?i)\\barray_agg\\s*\\(\\s*([\\w.]+)\\s+ORDER\\s+BY\\s+([\\w.]+)\\s*(?:ASC\\b)?\\s*\\)".r
      s = p.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement {
        val field = m.group(1).split('.').last
        s"transform(array_sort(collect_list(struct(${m.group(2)}, ${m.group(1)}))), _s -> _s.$field)"
      })
    }
    s = s.replaceAll("(?i)\\bpg_catalog\\s*\\.\\s*", "")
    // pg_dump-mode catalog: swap in the real-PG namespace set (system rows
    // included) and the pg_class variant that homes anonymous session
    // views under pg_temp, for clients that opted into
    // graft.system_catalog=full (the rewritten names can't re-match:
    // the trailing `_` defeats the \b)
    if (SessionSettings.get("graft.system_catalog").contains("full")) {
      s = s.replaceAll("(?i)\\bpg_namespace\\b", "pg_namespace_full")
      s = s.replaceAll("(?i)\\bpg_class\\b", "pg_class_dump")
      s = s.replaceAll("(?i)\\bpg_description\\b", "pg_description_dump")
    }
    // user-schema qualification: the reference resolves schema.table for
    // its synced schemas (query_remapper_table.go:93-110); our registered
    // views are flat, so configured schema prefixes are stripped the same
    // way pg_catalog. is. Default set: public; SET graft.strip_schemas
    // extends it (e.g. the database-named schema BemiDB syncers emit).
    SessionSettings.get("graft.strip_schemas").getOrElse("public,main").split(",")
      .map(_.trim).filter(_.nonEmpty).foreach { sc =>
        s = replaceOutsideStrings(s,
          "(?i)\"?\\b" + java.util.regex.Pattern.quote(sc) + "\"?\\s*\\.\\s*", "")
      }
    s = s.replaceAll("(?i)\\binformation_schema\\s*\\.\\s*(tables|columns|" +
      "table_constraints|key_column_usage|referential_constraints)\\b",
      "information_schema_$1")
    s = s.replaceAll("(?i)\\s+COLLATE\\s+(\"[^\"]+\"|[\\w.]+)", "")
    s = s.replaceAll("(?i)OPERATOR\\s*\\(\\s*~\\s*\\)", "RLIKE")
    // general OPERATOR(op) explicit-operator syntax (pg_dump emits
    // OPERATOR(pg_catalog.=) everywhere; the schema prefix is already
    // stripped above) -> the bare operator, which later passes translate
    // like any other spelling
    s = s.replaceAll(
      "(?i)\\bOPERATOR\\s*\\(\\s*(!?~~?\\*?|[=<>!+*/%^|&#-]+)\\s*\\)", " $1 ")
    // pg_get_viewdef over a LITERAL view name (the psql \d+ / BI-tool
    // form): answer from the live pg_views/pg_matviews definitions. Must
    // run before rewriteRegclass eats the ::regclass. Non-literal
    // arguments keep the reference's empty-string stub.
    s = s.replaceAll(
      "(?i)\\bpg_get_viewdef\\s*\\(\\s*'(\\d+)'\\s*::\\s*(?:pg_catalog\\.)?oid\\s*(?:,\\s*\\w+\\s*)?\\)",
      "(SELECT definition FROM pg_viewdefs WHERE oid = $1)")
    s = s.replaceAll(
      "(?i)\\bpg_get_viewdef\\s*\\(\\s*'(\\w+)'(?:\\s*::\\s*regclass)?\\s*(?:,\\s*\\w+\\s*)?\\)",
      "(SELECT coalesce((SELECT definition FROM pg_views WHERE viewname = '$1'), " +
        "(SELECT definition FROM pg_matviews WHERE matviewname = '$1'), ''))")
    // obj_description / col_description (psql \d+, BI REMARKS): answer as
    // the live pg_description scalar subqueries PG defines them to be
    s = s.replaceAll(
      "(?i)\\bobj_description\\s*\\(\\s*([^,()]+?)\\s*(?:,\\s*'[a-z_]+'\\s*)?\\)",
      "(SELECT description FROM pg_description WHERE objoid = $1 AND objsubid = 0)")
    s = s.replaceAll(
      "(?i)\\bcol_description\\s*\\(\\s*([^,()]+?)\\s*,\\s*([^,()]+?)\\s*\\)",
      "(SELECT description FROM pg_description WHERE objoid = $1 AND objsubid = $2)")
    s = rewriteRegclass(s)
    // pg table functions over the settings/keywords views
    // (query_remapper_function.go:75-100)
    // aliased call keeps the user alias; bare call gets the function name
    // as its alias so `pg_get_keywords.word` style references resolve
    val kwds = "(?i)\\b(pg_show_all_settings|pg_get_keywords)\\s*\\(\\s*\\)" +
      "(\\s+(?:AS\\s+)?(?!WHERE\\b|LIMIT\\b|ORDER\\b|GROUP\\b|HAVING\\b|UNION\\b|" +
      "INTERSECT\\b|EXCEPT\\b|JOIN\\b|ON\\b|USING\\b|LEFT\\b|RIGHT\\b|INNER\\b|" +
      "CROSS\\b|FULL\\b|OFFSET\\b|FETCH\\b)[A-Za-z_]\\w*)?"
    s = kwds.r.replaceAllIn(s, m => {
      val view = if (m.group(1).equalsIgnoreCase("pg_get_keywords")) "pg_keywords" else "pg_settings"
      val alias = Option(m.group(2)).getOrElse(" " + m.group(1).toLowerCase)
      java.util.regex.Matcher.quoteReplacement(view + alias)
    })
    // psql's GSSAPI/SSL connect probe compares a faked boolean pid column
    // to pg_backend_pid(); DuckDB coerces bool=int, Spark's ANSI mode does
    // not — string-compare both sides (the probe's WHERE false makes the
    // result empty either way)
    s = s.replaceAll("(?i)\\bpid\\s*=\\s*pg_backend_pid\\s*\\(\\s*\\)",
      "CAST(pid AS STRING) = CAST(pg_backend_pid() AS STRING)")
    // zero-arg shim functions used as table sources (SELECT * FROM f())
    s = s.replaceAll("(?i)\\bFROM\\s+(pg_is_in_recovery|version)\\s*\\(\\s*\\)",
      "FROM (SELECT $1() AS $1)")
    // DBeaver's role probe (`… roles.oid AS id … WHERE rolname =
    // current_user`): the reference's remapper answers it with a plain
    // BIGINT id (the corpus pins Int8OID) even though pg_roles.oid
    // advertises the OID type — the cast strips the column's OID tag
    if ("(?i)rolname\\s*=\\s*current_user".r.findFirstIn(s).isDefined)
      s = s.replaceAll("(?i)\\b(\\w+)\\.oid\\s+AS\\s+id\\b",
        "CAST($1.oid AS BIGINT) AS id")
    // row_to_json(rel) over a relation alias -> struct-star form (through
    // the registered row_to_json so the result carries the json OID tag)
    s = s.replaceAll("(?i)\\brow_to_json\\s*\\(\\s*([A-Za-z_]\\w*)\\s*\\)",
      "row_to_json(struct($1.*))")
    // the reference's pg_tablespace_location macro never evaluates its
    // argument (query_remapper_function.go:31); inline the same laziness
    s = s.replaceAll("(?i)\\bpg_tablespace_location\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)", "''")
    // json[b]_array_elements as a FROM-position table function: PG names
    // the output column `value`, or the alias when one is given
    val jae = ("(?i)\\bFROM\\s+(jsonb?_array_elements)\\s*\\(((?:[^()']|'[^']*'|\\([^()]*\\))*)\\)" +
      "(?:\\s+(?:AS\\s+)?(?!WHERE\\b|LIMIT\\b|ORDER\\b|GROUP\\b|HAVING\\b|UNION\\b|" +
      "JOIN\\b|ON\\b|OFFSET\\b|FETCH\\b)([A-Za-z_]\\w*))?").r
    s = jae.replaceAllIn(s, m => {
      val colName = Option(m.group(3)).getOrElse("value")
      // route through the registered generator so the column carries the
      // json wire-type tag (ExplodeTagged)
      java.util.regex.Matcher.quoteReplacement(
        s"FROM (SELECT ${m.group(1)}(${m.group(2)}) AS $colName)")
    })
    // _pg_expandarray(a) -> array<struct<x, n>> (explode at the call site);
    // reference macro: STRUCT_PACK(x := unnest(a), n := generate_series…)
    // `(_pg_expandarray(a)).x|.n` is a set-returning field access in PG:
    // expand to explode() of the matching per-element array
    s = s.replaceAll(
      "(?i)\\(\\s*(?:information_schema\\s*\\.\\s*)?_pg_expandarray\\s*\\(([^()]*)\\)\\s*\\)\\s*\\.\\s*n\\b",
      "explode(transform($1, (__x, __i) -> CAST(__i + 1 AS BIGINT)))")
    s = s.replaceAll(
      "(?i)\\(\\s*(?:information_schema\\s*\\.\\s*)?_pg_expandarray\\s*\\(([^()]*)\\)\\s*\\)\\s*\\.\\s*x\\b",
      "explode($1)")
    s = s.replaceAll("(?i)(?:\\binformation_schema\\s*\\.\\s*)?\\b_pg_expandarray\\s*\\(([^()]*)\\)",
      "transform($1, (__x, __i) -> struct(__x AS x, __i + 1 AS n))")
    // format() -> the FormatString shim (PG %N$s positional forms); the
    // lookbehind keeps date_format/format_string intact
    s = s.replaceAll("(?i)(?<![\\w.$])format\\s*\\(", "pg_format(")
    // encode(sha256(x), 'hex'[::text]) -> sha2(x, 256)
    // (parser_function.go:111-137)
    s = s.replaceAll(
      "(?i)\\bencode\\s*\\(\\s*sha256\\s*\\(([^()]*)\\)\\s*,\\s*'hex'(?:\\s*::\\s*text)?\\s*\\)",
      "sha2($1, 256)")
    // regexp_replace: PG/DuckDB replace the FIRST match unless the 'g' flag
    // is given and take an optional flags argument; Spark's builtin is
    // always-global and flagless — route through the pg_regexp_replace shim
    // (3-arg calls get flags ''), preserving \N backreferences
    s = rewriteRegexpReplace(s)
    // extract(epoch from x) -> seconds as double (PG numeric; the embedded
    // engine returns the same fractional seconds)
    s = s.replaceAll(
      "(?i)\\bEXTRACT\\s*\\(\\s*EPOCH\\s+FROM\\s+((?:[^()]|\\([^()]*\\))*)\\)",
      "(unix_micros(CAST($1 AS TIMESTAMP)) / 1000000.0)")
    // to_hex -> hex (the embedded engine's uppercase form)
    s = s.replaceAll("(?i)\\bto_hex\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)", "hex($1)")
    // single-argument numeric trunc (toward zero); Spark's trunc is
    // date-only. Two-argument forms pass through untouched.
    s = "(?i)\\btrunc\\s*\\(((?:[^(),]|\\([^()]*\\))*)\\)".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"(CASE WHEN (${m.group(1)}) < 0 THEN ceil(${m.group(1)}) " +
          s"ELSE floor(${m.group(1)}) END)"))
    // VARIADIC ARRAY[a, b, ...] argument splat -> a, b, ...
    s = s.replaceAll("(?i)\\bVARIADIC\\s+ARRAY\\s*\\[([^\\]]*)\\]", "$1")
    s = s.replaceAll("(?i)\\bVARIADIC\\s+array\\s*\\(([^()]*)\\)", "$1")
    s = rewriteValuesRow(s)
    // PG's `name` type subscripts like a C char array (0-based) and
    // pg_dump probes array types with `typname[0] = '_'` — first char
    s = s.replaceAll("(?i)\\btypname\\s*\\[\\s*0\\s*\\]", "substr(typname, 1, 1)")
    // Spark's recursive CTEs accept only UNION ALL; pg_dump's matview
    // dependency walk uses plain UNION. Rewrite ONLY when the CTE walks
    // pg_depend — always empty here, so dedup-vs-all is indistinguishable
    // and termination is guaranteed (never applied to user queries, where
    // UNION's dedup can be the loop breaker)
    if (("(?is).*\\bWITH\\s+RECURSIVE\\b.*".r.matches(s)) &&
        ("(?is).*\\bpg_depend\\b.*".r.matches(s)))
      s = s.replaceAll("(?i)\\bUNION\\b(?!\\s+ALL)", "UNION ALL")
    // pg_options_to_table(col): every *options column this catalog serves
    // is NULL (no FDW/server options exist), so the expansion is exactly
    // the empty (option_name, option_value) relation — correlation dropped
    s = s.replaceAll("(?i)\\bpg_options_to_table\\s*\\(([^()]*)\\)",
      "(SELECT CAST(NULL AS STRING) AS option_name, " +
        "CAST(NULL AS STRING) AS option_value WHERE 1=0)")
    // tableoid over golden-pinned catalog views: those views can't grow the
    // system column (SELECT * parity is pinned by the corpus), so a query
    // selecting it gets PG's real catalog oid as a literal — pg_dump only
    // reads tableoid in select lists
    locally {
      val oids = Map("pg_opclass" -> 2616L, "pg_opfamily" -> 2753L,
        "pg_policy" -> 3256L, "pg_rewrite" -> 2618L, "pg_publication" -> 6104L,
        "pg_publication_rel" -> 6106L, "pg_publication_namespace" -> 6237L,
        "pg_inherits" -> 2611L, "pg_statistic_ext" -> 3381L)
      val kw = Set("on", "where", "join", "left", "right", "inner", "cross",
        "full", "group", "order", "using", "as")
      val pinned = ("(?is)\\b(?:FROM|JOIN)\\s+(?:pg_catalog\\.)?(" +
        oids.keys.mkString("|") + ")\\b(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*))?").r
      for (m <- pinned.findAllMatchIn(s).toSeq) {
        val oid = oids(m.group(1).toLowerCase)
        val alias = Option(m.group(2)).filterNot(a => kw(a.toLowerCase))
          .getOrElse(m.group(1))
        // qualified by THIS view's alias only — other relations in the
        // query may own a real tableoid column
        s = s.replaceAll(s"(?i)\\b$alias\\.tableoid\\s+AS\\s+(\\w+)", s"$oid AS $$1")
        // remaining occurrences: only a SELECT-list item gets the output
        // alias; a predicate/expression position (WHERE x.tableoid = n,
        // CASE WHEN …, join conditions) takes the bare literal — `2616 AS
        // tableoid = 2616` is not SQL. Position = nearest preceding clause
        // keyword, operator-adjacency short-circuits to bare.
        locally {
          val occRe = s"(?i)\\b$alias\\.tableoid\\b".r
          val cur = s
          s = occRe.replaceAllIn(cur, m => {
            val before = cur.substring(0, m.start)
            val after = cur.substring(m.end)
            // ':' after = a ::cast; '(' before = inside function args —
            // both are expression positions needing the bare literal
            val opAdj =
              after.dropWhile(_.isWhitespace).headOption.exists("=<>!+-*/|:".contains(_)) ||
              before.reverse.dropWhile(_.isWhitespace).headOption.exists("=<>!+-*/|(".contains(_))
            val lastKw =
              "(?i)\\b(SELECT|FROM|WHERE|ON|GROUP|ORDER|HAVING|RETURNING|WHEN|THEN|ELSE|USING|BY)\\b".r
                .findAllMatchIn(before).foldLeft("")((_, k) => k.group(1).toUpperCase)
            if (!opAdj && lastKw == "SELECT") s"$oid AS tableoid" else s"$oid"
          })
        }
      }
      // bare (unqualified) tableoid is unambiguous only in single-relation
      // queries over a pinned view
      if (!"(?is).*\\bJOIN\\b.*".r.matches(s))
        pinned.findFirstMatchIn(s).foreach { m =>
          s = s.replaceAll("(?i)(SELECT\\s+|,\\s*)tableoid\\b(\\s+AS\\s+\\w+)?",
            s"$$1${oids(m.group(1).toLowerCase)} AS tableoid")
        }
    }
    s = rewritePolicyRolesLiteral(s)
    // psql's publication describe uses the publishable stub as a PREDICATE
    // (`p.puballtables AND pg_relation_is_publishable('oid')`); the golden
    // corpus pins the bare call's wire type as int4, so only the predicate
    // position becomes a typed NULL boolean (the reference macro is NULL —
    // `x AND NULL` filters the row either way, semantics preserved).
    // (not replaceOutsideStrings: the call's own '...' argument splits the
    // outside-segments, so the pattern must span it — guard by quote parity)
    locally {
      val pubPred =
        "(?i)\\b(AND|OR|WHERE)\\s+(?:pg_catalog\\.)?pg_relation_is_publishable\\s*\\([^)]*\\)".r
      val in = s
      s = pubPred.replaceAllIn(in, m =>
        java.util.regex.Matcher.quoteReplacement(
          if (in.substring(0, m.start).count(_ == '\'') % 2 == 1) m.matched
          else m.group(1) + " CAST(NULL AS BOOLEAN)"))
    }
    s = rewriteAnyAll(s)
    s = rewriteLateral(s)
    s = rewriteContainment(s)
    // PG ARRAY[...] constructor -> array(...) (after the && overlap rule,
    // which pattern-matches the bracket form; before subscript rewriting)
    s = s.replaceAll("(?i)\\bARRAY\\s*\\[([^\\]]*)\\]", "array($1)")
    s = rewriteJsonExists(s)
    s = rewriteJsonPath(s)
    s = rewriteJsonArrows(s)
    // 'X'::interval -> Spark calendar-interval literal
    s = s.replaceAll("(?i)'([^']*)'\\s*::\\s*interval\\b", "INTERVAL '$1'")
    // PG's TIMESTAMP 'x' literal is tz-less; Spark's defaults to session-tz
    // (which the wire renders with a +00:00 suffix like live TIMESTAMPTZ)
    s = s.replaceAll("(?i)\\bTIMESTAMP\\s+'", "TIMESTAMP_NTZ '")
    s = rewriteCasts(s)
    s = injectPgNullOrdering(s)
    // CTE materialization hints are planner advice PG 12 added; Catalyst
    // decides reuse itself
    s = s.replaceAll("(?i)\\bAS\\s+(NOT\\s+)?MATERIALIZED\\s*\\(", "AS (")
    // LIMIT ALL = no limit; ANSI `OFFSET n ROWS` -> OFFSET n
    s = s.replaceAll("(?i)\\s+LIMIT\\s+ALL\\b", "")
    s = s.replaceAll("(?i)\\b(OFFSET\\s+\\d+)\\s+ROWS?\\b", "$1")
    // FROM-position `unnest(arr) x` names the COLUMN x in PG (single-column
    // table alias); Spark's explode keeps column `col` unless given a
    // column-alias list — emit `explode(arr) x(x)` (psql \d+ builds
    // `'toast.' || x FROM unnest(tc.reloptions) x`)
    locally {
      val kw = Set("where", "order", "group", "having", "limit", "offset",
        "union", "intersect", "except", "join", "on", "using", "left",
        "right", "inner", "cross", "full", "as", "fetch")
      val p = ("(?i)\\b(FROM|JOIN)(\\s+)unnest\\s*\\(([^()]*(?:\\([^()]*\\)[^()]*)*)\\)" +
        "\\s+(?:AS\\s+)?([A-Za-z_]\\w*)\\b(?!\\s*\\()").r
      s = p.replaceAllIn(s, m =>
        java.util.regex.Matcher.quoteReplacement(
          if (kw(m.group(4).toLowerCase)) m.matched
          else s"${m.group(1)}${m.group(2)}explode(${m.group(3)}) ${m.group(4)}(${m.group(4)})"))
    }
    // set-returning unnest in the select list -> explode; string_to_array
    // with a literal delimiter -> split (regex-safe for plain delimiters)
    s = s.replaceAll("(?i)\\bunnest\\s*\\(", "explode(")
    s = s.replaceAll("(?i)\\bstring_to_array\\s*\\(", "split(")
    // strpos -> instr (same 1-based/0-absent contract); starts_with ->
    // startswith
    s = s.replaceAll("(?i)\\bstrpos\\s*\\(", "instr(")
    s = s.replaceAll("(?i)\\bstarts_with\\s*\\(", "startswith(")
    // array_cat -> concat (array_position/remove/append and cardinality
    // share names and 1-based semantics with Spark already);
    // array_prepend's argument order is (elem, array) in PG but
    // (array, elem) in Spark — swap
    s = s.replaceAll("(?i)\\barray_cat\\s*\\(", "concat(")
    s = s.replaceAll(
      "(?i)\\barray_prepend\\s*\\(\\s*((?:[^(),]|\\([^()]*\\))+?)\\s*,\\s*((?:[^(),]|\\([^()]*\\))+?)\\s*\\)",
      "array_prepend($2, $1)")
    // FILTER on the registered json aggregate shims -> CASE argument (the
    // shim expressions are not parser-level aggregates, so Spark's native
    // FILTER clause cannot attach to them); collect_list drops the NULLs
    s = s.replaceAll(
      "(?is)\\b(jsonb?_agg)\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)\\s+FILTER\\s*\\(\\s*WHERE\\s+((?:[^()]|\\([^()]*\\))*)\\)",
      "$1(CASE WHEN $3 THEN $2 END)")
    // FILTER (WHERE …) on WINDOW functions -> CASE argument (Spark supports
    // FILTER on grouped aggregates natively but not over windows)
    s = s.replaceAll(
      "(?is)\\b(\\w+)\\s*\\(\\s*\\*\\s*\\)\\s+FILTER\\s*\\(\\s*WHERE\\s+([^()]+?)\\)\\s+(?=OVER\\b)",
      "$1(CASE WHEN $2 THEN 1 END) ")
    s = s.replaceAll(
      "(?is)\\b(\\w+)\\s*\\(([^()]*)\\)\\s+FILTER\\s*\\(\\s*WHERE\\s+([^()]+?)\\)\\s+(?=OVER\\b)",
      "$1(CASE WHEN $3 THEN $2 END) ")
    // PG array subscripts are 1-based; Spark's [] is 0-based, so literal
    // integer subscripts become element_at (types like text[] have no digits
    // inside the brackets and pass through untouched)
    // (the INT cast keeps BIGINT series subscripts — generate_series yields
    // BIGINT like the reference — valid for element_at)
    s = s.replaceAll("\\b(\\w+)\\s*\\[\\s*([A-Za-z_]\\w*|\\d+)\\s*\\]",
      "element_at($1, CAST($2 AS INT))")
    // row-locking clauses are meaningless on a read-only OLAP engine — PG
    // ORMs still emit them; strip like the reference strips psql noise
    s = s.replaceAll("(?is)\\s+FOR\\s+(UPDATE|NO\\s+KEY\\s+UPDATE|SHARE|KEY\\s+SHARE)" +
      "(\\s+OF\\s+[\\w.\\s,\"]+?)?(\\s+NOWAIT|\\s+SKIP\\s+LOCKED)?\\s*$", "")
    // FETCH FIRST n ROWS WITH TIES -> rank() window (Spark has no WITH TIES)
    s = rewriteFetchTies(s)
    // ANSI FETCH FIRST/NEXT (PG accepts both) -> LIMIT; Spark has LIMIT only
    s = s.replaceAll("(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+(\\d+)\\s+ROWS?\\s+ONLY", "LIMIT $1")
    s = s.replaceAll("(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+ROWS?\\s+ONLY", "LIMIT 1")
    // the STANDARD pagination idiom puts OFFSET before the fetch clause
    // (`OFFSET n [ROW|ROWS] FETCH FIRST m ROWS ONLY`); Spark's grammar
    // only accepts LIMIT-then-OFFSET, so reorder what the rewrite above
    // produced, and strip the ROW/ROWS noise word off a bare OFFSET
    s = s.replaceAll("(?i)\\bOFFSET\\s+(\\d+)\\s+(?:ROWS?\\s+)?LIMIT\\s+(\\d+)",
      "LIMIT $2 OFFSET $1")
    s = s.replaceAll("(?i)\\bOFFSET\\s+(\\d+)\\s+ROWS?\\b(?!\\s*\\()", "OFFSET $1")
    // Window frame EXCLUDE CURRENT ROW (PG 11+) for the invertible
    // aggregates sum/count/avg: Spark has no EXCLUDE mode, but the
    // exclusive result is the inclusive one minus the current row's
    // contribution — with the empty-exclusive-frame case mapped to NULL
    // (count: 0), matching PG/DuckDB. Non-invertible aggregates (min/max)
    // pass through and fail loudly in the parser.
    val excl = ("(?is)\\b(sum|count|avg)\\s*\\(\\s*(\\*|(?:[^()]|\\([^()]*\\))+?)\\s*\\)\\s+OVER\\s*" +
      "\\(((?:[^()]|\\([^()]*\\))*?)\\s+EXCLUDE\\s+CURRENT\\s+ROW\\s*\\)").r
    s = excl.replaceAllIn(s, m => {
      val (fn, arg, body) = (m.group(1).toLowerCase, m.group(2), m.group(3))
      val out =
        if (fn == "count" && arg == "*") s"(count(*) OVER ($body) - 1)"
        else {
          val cnt = s"(count($arg) OVER ($body) - " +
            s"(CASE WHEN ($arg) IS NULL THEN 0 ELSE 1 END))"
          val sum = s"(sum($arg) OVER ($body) - coalesce($arg, 0))"
          fn match {
            case "count" => cnt
            case "sum" => s"(CASE WHEN $cnt = 0 THEN NULL ELSE $sum END)"
            case _ => s"(CASE WHEN $cnt = 0 THEN NULL ELSE $sum / $cnt END)"
          }
        }
      java.util.regex.Matcher.quoteReplacement(out)
    })
    // BETWEEN SYMMETRIC swaps bounds when reversed (PG); Spark lacks it
    s = s.replaceAll("(?i)\\bBETWEEN\\s+SYMMETRIC\\s+(\\S+)\\s+AND\\s+(\\S+)",
      "BETWEEN least($1, $2) AND greatest($1, $2)")
    s = rewriteSimilarTo(s)
    // PG numeric/bit operators: `^` is POWER in PG but XOR in Spark, and
    // `#` is PG's XOR — translate power FIRST so the emitted `^` survives;
    // shifts become the shiftleft/shiftright functions. (`&`/`|` agree.)
    // LITERAL-safe: these symbols appear inside strings too (LIKE ESCAPE
    // '#', regex patterns with ^/#) and must not be rewritten there.
    s = replaceOutsideStrings(s, "([\\w.]+)\\s*\\^\\s*([\\w.]+)", "power($1, $2)")
    s = replaceOutsideStrings(s, "([\\w.]+)\\s*#(?![>=])\\s*([\\w.]+)", "$1 ^ $2")
    s = replaceOutsideStrings(s, "([\\w.]+)\\s*<<\\s*([\\w.]+)", "shiftleft($1, $2)")
    s = replaceOutsideStrings(s, "([\\w.]+)\\s*>>\\s*([\\w.]+)", "shiftright($1, $2)")
    // regex match operators (PG ~ family) — after arrows so ->> is gone;
    // literal-safe: a '~' INSIDE a pattern string must survive
    s = replaceOutsideStrings(s, "!~~\\*", " NOT ILIKE ")
    s = replaceOutsideStrings(s, "!~~", " NOT LIKE ")
    s = replaceOutsideStrings(s, "~~\\*", " ILIKE ")
    s = replaceOutsideStrings(s, "~~", " LIKE ")
    s = replaceOutsideStrings(s, "!~", " NOT RLIKE ")
    s = replaceOutsideStrings(s, "(?<![!<>=~])~(?![~=])", " RLIKE ")
    // multi-row scalar-subquery tolerance (off by default = PG-strict):
    // the reference boots DuckDB with
    // scalar_subquery_error_on_multiple_rows=false (main.go:67), so a
    // multi-row EXPR sublink yields a row there; with the session setting
    // on, graft matches by injecting a deterministic LIMIT 1
    if (SessionSettings.get("graft.scalar_subquery_first_row")
        .exists(v => v.equalsIgnoreCase("on") || v.equalsIgnoreCase("true")))
      s = rewriteScalarSublinks(s)
    // PG standard_conforming_strings: a backslash inside a '' literal is a
    // LITERAL character; Spark's parser processes escapes. Double every
    // literal backslash so the parser hands back exactly what the client
    // wrote — regex character classes ('\d'), Windows paths, LIKE escapes.
    s = escapeLiteralBackslashes(s)
    // LAST: PG double-quoted identifiers -> Spark backticks ('' strings are
    // untouched; "" inside an identifier unescapes). Every earlier pass
    // matches against the PG-style quoting.
    s = pgQuotedToBacktick(s)
    s
  }

  /** PG `E'...'` escape-string literals -> standard literals with the
    * escapes DECODED (PG lexer semantics: \n,\t,\r,\b,\f,\v, \\, \' and
    * '' as quote escapes, \o/\oo/\ooo octal, \xh[h] hex, \uXXXX /
    * \UXXXXXXXX unicode; any other backslashed char is itself). The `E`
    * must be a standalone token — `LIKE'x'` keeps its identifier-trailing
    * E. Decoded quotes re-escape as ''; decoded backslashes stay single
    * (the pipeline-final escapeLiteralBackslashes doubles them for
    * Spark's parser). Ordinary literals pass through untouched. */
  private[graft] def decodeEscapeStrings(sql: String): String = {
    if (!sql.contains('\'')) return sql
    val sb = new StringBuilder(sql.length)
    val n = sql.length
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      val isE = (c == 'E' || c == 'e') && i + 1 < n && sql.charAt(i + 1) == '\'' &&
        (i == 0 || !Character.isLetterOrDigit(sql.charAt(i - 1)) &&
          sql.charAt(i - 1) != '_' && sql.charAt(i - 1) != '$')
      if (isE) {
        val body = new StringBuilder()
        i += 2
        var done = false
        while (i < n && !done) {
          val ch = sql.charAt(i)
          if (ch == '\'') {
            if (i + 1 < n && sql.charAt(i + 1) == '\'') { body.append('\''); i += 2 }
            else { done = true; i += 1 }
          } else if (ch == '\\' && i + 1 < n) {
            val e = sql.charAt(i + 1)
            i += 2
            e match {
              case 'n' => body.append('\n')
              case 't' => body.append('\t')
              case 'r' => body.append('\r')
              case 'b' => body.append('\b')
              case 'f' => body.append('\f')
              case 'v' => body.append('\u000b')
              case 'x' =>
                var h = 0; var k = 0
                while (k < 2 && i < n && Character.digit(sql.charAt(i), 16) >= 0) {
                  h = h * 16 + Character.digit(sql.charAt(i), 16); i += 1; k += 1
                }
                body.append(h.toChar)
              case 'u' | 'U' =>
                val width = if (e == 'u') 4 else 8
                var cp = 0; var k = 0
                while (k < width && i < n && Character.digit(sql.charAt(i), 16) >= 0) {
                  cp = cp * 16 + Character.digit(sql.charAt(i), 16); i += 1; k += 1
                }
                body.appendAll(Character.toChars(cp))
              case d if d >= '0' && d <= '7' =>
                var o = d - '0'; var k = 0
                while (k < 2 && i < n && sql.charAt(i) >= '0' && sql.charAt(i) <= '7') {
                  o = o * 8 + (sql.charAt(i) - '0'); i += 1; k += 1
                }
                body.append(o.toChar)
              case other => body.append(other) // incl. \\ -> \ and \' -> '
            }
          } else { body.append(ch); i += 1 }
        }
        sb.append('\'').append(body.toString.replace("'", "''")).append('\'')
      } else if (c == '\'') { // ordinary literal: copy verbatim incl. '' pairs
        sb.append(c); i += 1
        var done = false
        while (i < n && !done) {
          sb.append(sql.charAt(i))
          if (sql.charAt(i) == '\'') {
            if (i + 1 < n && sql.charAt(i + 1) == '\'') { sb.append('\''); i += 1 }
            else done = true
          }
          i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Double backslashes INSIDE single-quoted literals only ('' stays the
    * quote escape; text outside literals is untouched). */
  private def escapeLiteralBackslashes(sql: String): String = {
    if (!sql.contains('\\')) return sql
    val sb = new StringBuilder(sql.length + 8)
    var inStr = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (!inStr) { if (c == '\'') inStr = true; sb.append(c) }
      else c match {
        case '\'' if i + 1 < sql.length && sql.charAt(i + 1) == '\'' =>
          sb.append("''"); i += 1
        case '\'' => inStr = false; sb.append(c)
        case '\\' => sb.append("\\\\")
        case other => sb.append(other)
      }
      i += 1
    }
    sb.toString
  }

  /** Same-length copy with string-literal CONTENTS blanked to spaces (both
    * '…' with '' escapes and PG dollar-quoted $tag$…$tag$ forms) —
    * scan/classify on the blank copy, edit the original at the same index. */
  private def blankStrings(s: String): Array[Char] = {
    val b = s.toCharArray
    val n = b.length
    var i = 0
    var inQ = false
    var dollarTag: String = null // e.g. "$$" or "$tag$" while inside one
    def dollarOpener(at: Int): String = {
      if (b(at) != '$') return null
      var j = at + 1
      while (j < n && (b(j).isLetterOrDigit || b(j) == '_')) j += 1
      if (j < n && b(j) == '$') new String(b, at, j - at + 1) else null
    }
    while (i < n) {
      if (dollarTag != null) {
        if (b(i) == '$' && i + dollarTag.length <= n
            && new String(b, i, dollarTag.length) == dollarTag) {
          i += dollarTag.length - 1
          dollarTag = null
        } else b(i) = ' '
      } else if (inQ) {
        if (b(i) == '\'')
          if (i + 1 < n && b(i + 1) == '\'') { b(i) = ' '; b(i + 1) = ' '; i += 1 }
          else inQ = false
        else b(i) = ' '
      } else if (b(i) == '\'') inQ = true
      else if (b(i) == '-' && i + 1 < n && b(i + 1) == '-') {
        // -- line comment: blank to end of line (an apostrophe or '(SELECT'
        // inside one must not misalign the sublink scanner)
        while (i < n && b(i) != '\n') { b(i) = ' '; i += 1 }
        i -= 1
      } else if (b(i) == '/' && i + 1 < n && b(i + 1) == '*') {
        // /* */ block comment — PG block comments nest
        var depth = 1
        b(i) = ' '; b(i + 1) = ' '; i += 2
        while (i < n && depth > 0) {
          if (b(i) == '/' && i + 1 < n && b(i + 1) == '*') {
            depth += 1; b(i) = ' '; b(i + 1) = ' '; i += 2
          } else if (b(i) == '*' && i + 1 < n && b(i + 1) == '/') {
            depth -= 1; b(i) = ' '; b(i + 1) = ' '; i += 2
          } else { b(i) = ' '; i += 1 }
        }
        i -= 1
      } else {
        val tag = dollarOpener(i)
        if (tag != null) { dollarTag = tag; i += tag.length - 1 }
      }
      i += 1
    }
    b
  }

  /** EXPR sublinks -> `(SELECT … LIMIT 1)`: find each `(SELECT` used in
    * expression position (after an operator, a select-list comma, SELECT/
    * WHEN/THEN/ELSE…, or as a function argument — NOT after FROM/JOIN/IN/
    * EXISTS/ANY/ALL/…) and append LIMIT 1 unless the subquery already
    * carries a top-level LIMIT/OFFSET. Spark supports LIMIT in correlated
    * subqueries, so both correlated and uncorrelated sublinks take the
    * deterministic first row instead of a runtime multi-row error. */
  private[graft] def rewriteScalarSublinks(sql: String): String = {
    val b = blankStrings(sql)
    val n = b.length
    def isWordC(c: Char) = c.isLetterOrDigit || c == '_'
    // word ending at exclusive position e (scan backwards over ws first)
    def wordBefore(e0: Int): (String, Int) = {
      var e = e0
      while (e > 0 && b(e - 1).isWhitespace) e -= 1
      var st = e
      while (st > 0 && isWordC(b(st - 1))) st -= 1
      (new String(b, st, e - st).toUpperCase, st)
    }
    val tableIntro = Set("FROM", "JOIN", "IN", "EXISTS", "ANY", "ALL", "SOME",
      "LATERAL", "UNION", "INTERSECT", "EXCEPT", "AS", "ARRAY", "VALUES", "USING")
    // words that can directly precede a `(SELECT` in expression position
    // (function-call arguments arrive via the preceding-'(' branch instead)
    val exprIntro = Set("SELECT", "WHERE", "WHEN", "THEN", "ELSE", "AND", "OR",
      "NOT", "ON", "HAVING", "BY", "LIKE", "ILIKE", "RLIKE", "BETWEEN", "CASE",
      "DISTINCT")
    // in a comma-separated list: derived table iff the nearest same-depth
    // clause keyword looking backwards is FROM/USING; enclosing '(' = args
    def commaIsExpr(p0: Int): Boolean = {
      var p = p0 - 1
      var depth = 0
      var we = -1 // current word end (exclusive)
      while (p >= 0) {
        val c = b(p)
        if (isWordC(c)) { if (we < 0) we = p + 1 }
        else {
          if (we >= 0) {
            val w = new String(b, p + 1, we - p - 1).toUpperCase
            if (depth == 0) {
              // ON at depth 0 means the comma continues a FROM list after a
              // join clause (a comma inside the ON expression itself can only
              // occur within parens, handled by the enclosing-'(' rule)
              if (w == "FROM" || w == "USING" || w == "ON" || w == "VALUES")
                return false
              if (w == "SELECT" || w == "WHERE" || w == "HAVING"
                || w == "BY" || w == "WHEN") return true
            }
            we = -1
          }
          if (c == ')') depth += 1
          else if (c == '(') { if (depth > 0) depth -= 1 else return true } // function args
        }
        p -= 1
      }
      true
    }
    def isExprPosition(openAt: Int): Boolean = {
      var p = openAt
      while (p > 0 && b(p - 1).isWhitespace) p -= 1
      if (p == 0) return false // whole-statement parens
      val prev = b(p - 1)
      if ("=<>!+-*/%|^".indexOf(prev) >= 0) true
      else if (prev == ',') commaIsExpr(p - 1)
      else if (prev == '(') {
        // wrapped expression or function argument: scalar unless the outer
        // paren belongs to IN (...)/EXISTS (...)/FROM (...) style intros
        val (w, _) = wordBefore(p - 1)
        w.nonEmpty && !tableIntro.contains(w)
      }
      else if (isWordC(prev)) {
        val (w, _) = wordBefore(p)
        exprIntro.contains(w) && !tableIntro.contains(w)
      }
      else false
    }
    // collect insertion points (index of the closing paren) left to right
    val inserts = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < n) {
      if (b(i) == '(') {
        var j = i + 1
        while (j < n && b(j).isWhitespace) j += 1
        if (j + 6 <= n && new String(b, j, 6).equalsIgnoreCase("SELECT")
            && (j + 6 == n || !isWordC(b(j + 6))) && isExprPosition(i)) {
          // walk to the matching ')' noting any top-level LIMIT/OFFSET
          var d = 0
          var k = i
          var hasLimit = false
          var close = -1
          while (k < n && close < 0) {
            val c = b(k)
            if (c == '(') d += 1
            else if (c == ')') { d -= 1; if (d == 0) close = k }
            else if (d == 1 && (c == 'L' || c == 'l' || c == 'O' || c == 'o')
                && !isWordC(b(k - 1))) {
              // word-boundary match: a column named `limits` must not count
              val rest = new String(b, k, math.min(7, n - k)).toUpperCase
              if (rest.matches("(?s)(LIMIT|OFFSET)(\\W.*|)")) hasLimit = true
            }
            k += 1
          }
          if (close > 0 && !hasLimit) inserts += close
        }
      }
      i += 1
    }
    if (inserts.isEmpty) sql
    else {
      val out = new StringBuilder(sql)
      inserts.reverseIterator.foreach(p => out.insert(p, " LIMIT 1"))
      out.toString
    }
  }

  /** `"ident"` -> `` `ident` `` outside single-quoted strings — PG quotes
    * identifiers with double quotes, Spark parses those as string literals. */
  private[graft] def pgQuotedToBacktick(sql: String): String = {
    val sb = new StringBuilder(sql.length)
    val n = sql.length
    var i = 0
    var inStr = false
    while (i < n) {
      val c = sql.charAt(i)
      if (inStr) {
        sb += c
        if (c == '\'') {
          if (i + 1 < n && sql.charAt(i + 1) == '\'') { sb += '\''; i += 1 }
          else inStr = false
        }
      } else if (c == '\'') { inStr = true; sb += c }
      else if (c == '"') {
        val id = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          val d = sql.charAt(j)
          if (d == '"') {
            if (j + 1 < n && sql.charAt(j + 1) == '"') { id += '"'; j += 2 }
            else { closed = true; j += 1 }
          } else { id += d; j += 1 }
        }
        sb += '`'; sb ++= id.toString.replace("`", "``"); sb += '`'
        i = j - 1
      } else sb += c
      i += 1
    }
    sb.toString
  }

  /** PG-style naming of unaliased targets in the OUTERMOST select list plus
    * the alias-shadows-table rename, mirroring the reference remapper
    * (query_remapper_select.go:25-86):
    *   - `f(args…)` (with FILTER / WITHIN GROUP / OVER tails) -> `… AS f`
    *   - `col -> 'k'` / `col ->> 'k'`                         -> `… AS col_k`
    *   - `(expr).field`                                       -> `… AS field`
    *   - `t.col AS t` -> `AS t_`, with bare GROUP BY / ORDER BY references
    *     to the alias renamed to match (a bare `t` would otherwise resolve
    *     to the relation, not the alias)
    * Only the outermost list is touched — it alone names the wire columns. */
  private[graft] def autoAliasTargets(sql: String): String = {
    val n = sql.length
    val depth = new Array[Int](n)
    val masked = new Array[Boolean](n) // quote/comment bytes incl. delimiters
    var d = 0; var state = 0; var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      state match {
        case 0 =>
          if (c == '\'') { state = 1; masked(i) = true }
          else if (c == '"') { state = 2; masked(i) = true }
          else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') { state = 3; masked(i) = true }
          else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') { state = 4; masked(i) = true }
          else if (c == '(') d += 1
          else if (c == ')') d -= 1
        case 1 =>
          masked(i) = true
          if (c == '\'') {
            if (i + 1 < n && sql.charAt(i + 1) == '\'') { masked(i + 1) = true; i += 1 }
            else state = 0
          }
        case 2 => masked(i) = true; if (c == '"') state = 0
        case 3 => masked(i) = true; if (c == '\n') state = 0
        case 4 =>
          masked(i) = true
          if (c == '*' && i + 1 < n && sql.charAt(i + 1) == '/') { masked(i + 1) = true; i += 1; state = 0 }
      }
      depth(i) = d
      i += 1
    }
    def isWord(ch: Char) = ch.isLetterOrDigit || ch == '_'
    // first unmasked depth-0 occurrence of a keyword at/after `from`
    def findKw(kws: Seq[String], from: Int): Int = {
      var j = from
      while (j < n) {
        if (!masked(j) && depth(j) == 0 && (j == 0 || !isWord(sql.charAt(j - 1))))
          kws.foreach { kw =>
            if (j + kw.length <= n &&
                sql.regionMatches(true, j, kw, 0, kw.length) &&
                (j + kw.length == n || !isWord(sql.charAt(j + kw.length))))
              return j
          }
        j += 1
      }
      -1
    }
    val selStart = findKw(Seq("SELECT"), 0)
    if (selStart < 0) return sql
    var pos = selStart + 6
    def skipWs(): Unit = while (pos < n && sql.charAt(pos).isWhitespace) pos += 1
    def atWord(w: String): Boolean = {
      skipWs()
      pos + w.length <= n && sql.regionMatches(true, pos, w, 0, w.length) &&
        (pos + w.length == n || !isWord(sql.charAt(pos + w.length)))
    }
    if (atWord("ALL")) pos += 3
    else if (atWord("DISTINCT")) {
      pos += 8
      if (atWord("ON")) {
        pos += 2; skipWs()
        if (pos < n && sql.charAt(pos) == '(') {
          val close = matchParen(sql, pos)
          if (close < 0) return sql
          pos = close + 1
        }
      }
    }
    skipWs()
    val listStart = pos
    val endKw = findKw(Seq("FROM", "WHERE", "GROUP", "HAVING", "WINDOW", "UNION",
      "INTERSECT", "EXCEPT", "ORDER", "LIMIT", "OFFSET", "FETCH", "FOR", "INTO"), listStart)
    val listEnd = if (endKw < 0) n else endKw
    // split the target list on unmasked depth-0 commas
    val spans = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var a = listStart
    var j = listStart
    while (j < listEnd) {
      if (sql.charAt(j) == ',' && !masked(j) && depth(j) == 0) { spans += ((a, j)); a = j + 1 }
      j += 1
    }
    spans += ((a, listEnd))
    val renames = scala.collection.mutable.Map[String, String]()
    val newTargets = spans.map { case (s0, e0) =>
      val raw = sql.substring(s0, e0)
      val (aliased, ren) = aliasOneTarget(raw)
      ren.foreach { case (o, nn) => renames(o.toLowerCase) = nn }
      aliased
    }
    var out = sql.substring(0, listStart) + newTargets.mkString(",") + sql.substring(listEnd)
    // propagate shadow renames into bare GROUP BY / ORDER BY items
    if (renames.nonEmpty) {
      val clause = "(?is)\\b(GROUP\\s+BY|ORDER\\s+BY)\\s+".r
      out = clause.findAllMatchIn(out).toSeq.reverse.foldLeft(out) { (acc, m) =>
        val start = m.end
        // clause body runs to the next clause keyword at depth 0 (approx: regex)
        val tail = acc.substring(start)
        val bodyEnd = "(?is)\\b(HAVING|WINDOW|ORDER\\s+BY|LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT|FOR)\\b".r
          .findFirstMatchIn(tail).map(_.start).getOrElse(tail.length)
        val body = tail.substring(0, bodyEnd)
        val newBody = body.split(",", -1).map { item =>
          val t = item.trim
          val core = t.split("\\s+").headOption.getOrElse("")
          renames.get(core.toLowerCase) match {
            case Some(nn) if core.nonEmpty =>
              item.replaceFirst("(?i)\\b" + java.util.regex.Pattern.quote(core) + "\\b", nn)
            case _ => item
          }
        }.mkString(",")
        acc.substring(0, start) + newBody + acc.substring(start + bodyEnd)
      }
    }
    out
  }

  private val explicitAliasRe = "(?is)^(.*\\S)\\s+AS\\s+(\"[^\"]+\"|[A-Za-z_]\\w*)\\s*$".r
  private val shadowAliasRe = "(?is)^([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)\\s+AS\\s+([A-Za-z_]\\w*)\\s*$".r
  private val arrowTargetRe = "(?is)^([A-Za-z_]\\w*)\\s*->>?\\s*'(\\w+)'$".r
  private val funcHeadRe = "(?is)^(?:[A-Za-z_]\\w*\\.)?([A-Za-z_]\\w*)\\s*\\(.*$".r

  /** One select-list target: returns (rewritten text, optional alias rename). */
  private def aliasOneTarget(raw: String): (String, Option[(String, String)]) = {
    val t = raw.trim
    if (t.isEmpty || t == "*" || t.endsWith(".*")) return (raw, None)
    // append before any trailing whitespace so `… AS x` stays a token apart
    // from the keyword that follows the list
    val bodyEnd = raw.lastIndexWhere(!_.isWhitespace) + 1
    def withAlias(alias: String): String =
      raw.substring(0, bodyEnd) + " AS " + alias + raw.substring(bodyEnd)
    t match {
      case shadowAliasRe(tbl, col, alias) if tbl.equalsIgnoreCase(alias) =>
        // `t.col AS t` -> `t.col AS t_` (reference RemapTargetName)
        return (raw.replace(t, s"$tbl.$col AS ${alias}_"), Some(alias -> s"${alias}_"))
      case explicitAliasRe(body, alias)
          if !alias.startsWith("\"") && alias.exists(_.isUpper) =>
        // PG lowercases unquoted identifiers, including aliases
        val at = raw.lastIndexOf(alias)
        return (raw.substring(0, at) + alias.toLowerCase + raw.substring(at + alias.length), None)
      case explicitAliasRe(_, _) => return (raw, None) // already aliased
      case _ =>
    }
    // unaliased CASE ... END is named `case` in PG
    if ("(?is)^CASE\\b.*\\bEND$".r.matches(t)) return (withAlias("case"), None)
    t match {
      case arrowTargetRe(col, key) => (withAlias(s"${col}_$key"), None)
      case funcHeadRe(fname) if !fname.equalsIgnoreCase("cast") =>
        // pure function call (with optional FILTER/WITHIN GROUP/OVER tails)?
        val open = t.indexOf('(')
        val close = matchParen(t, open)
        if (close < 0) (raw, None)
        else {
          var rest = t.substring(close + 1)
          var again = true
          while (again) {
            again = false
            val trimmedRest = rest.trim
            val tails = Seq("(?is)^(FILTER|WITHIN\\s+GROUP|OVER)\\s*\\(".r,
              "(?is)^(IGNORE|RESPECT)\\s+NULLS\\b".r, "(?is)^OVER\\s+[A-Za-z_]\\w*".r)
            if (trimmedRest.nonEmpty) {
              if (trimmedRest.charAt(0) == '(' ||
                  tails.head.findFirstIn(trimmedRest).isDefined) {
                val po = trimmedRest.indexOf('(')
                if (po >= 0 && "(?is)^(FILTER|WITHIN\\s+GROUP|OVER)\\s*\\(.*".r.matches(trimmedRest)) {
                  val pc = matchParen(trimmedRest, po)
                  if (pc >= 0) { rest = trimmedRest.substring(pc + 1); again = true }
                }
              } else {
                val m2 = "(?is)^((IGNORE|RESPECT)\\s+NULLS|OVER\\s+[A-Za-z_]\\w*)".r
                  .findFirstMatchIn(trimmedRest)
                if (m2.isDefined) { rest = trimmedRest.substring(m2.get.end); again = true }
              }
            }
          }
          if (rest.trim.isEmpty) (withAlias(fname.toLowerCase), None) else (raw, None)
        }
      case _ if t.startsWith("(") =>
        // `(expr).field` -> AS field (reference IndirectionName)
        val close = matchParen(t, 0)
        if (close >= 0) {
          "^\\.([A-Za-z_]\\w*)$".r.findFirstMatchIn(t.substring(close + 1)) match {
            case Some(m) => (withAlias(m.group(1)), None)
            case None => (raw, None)
          }
        } else (raw, None)
      case _ => (raw, None)
    }
  }

  /** `ARRAY(SELECT e FROM …)` sublink -> `(SELECT collect_list(e) FROM …)`
    * with any trailing ORDER BY stripped, exactly like the reference
    * (query_remapper.go:482-494: ARRAY sublink, ORDER BY removed). */
  private def rewriteArraySubquery(sql: String): String = {
    var s = sql
    var continue = true
    while (continue) {
      continue = false
      val m = "(?i)\\bARRAY\\s*\\(\\s*SELECT\\b".r.findFirstMatchIn(s)
      m.foreach { mm =>
        val open = s.indexOf('(', mm.start)
        val close = matchParen(s, open)
        if (close > 0) {
          val inner = s.substring(open + 1, close).trim
          // split SELECT <expr> FROM <rest> at the top-level FROM
          val fromIdx = topLevelKeyword(inner, "FROM")
          if (fromIdx > 0) {
            val selExpr = inner.substring(6, fromIdx).trim // after SELECT
            var rest = inner.substring(fromIdx)
            val ord = topLevelKeyword(rest, "ORDER")
            if (ord > 0) rest = rest.substring(0, ord).trim
            s = s.substring(0, mm.start) +
              s"(SELECT collect_list($selExpr) $rest)" + s.substring(close + 1)
            continue = true
          }
        }
      }
    }
    s
  }

  /** First depth-0, quote-free position of a keyword, or -1. */
  private def topLevelKeyword(s: String, kw: String): Int = {
    var depth = 0
    var inQ = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else if (c == '\'') inQ = true
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && s.regionMatches(true, i, kw, 0, kw.length) &&
          (i == 0 || !s.charAt(i - 1).isLetterOrDigit) &&
          (i + kw.length >= s.length || !s.charAt(i + kw.length).isLetterOrDigit))
        return i
      i += 1
    }
    -1
  }

  /** `(VALUES (a, b)) t(x, y)` single-row form -> `(SELECT a AS x, b AS y) t`
    * — Spark cannot host scalar subqueries (e.g. a rewritten ::regclass)
    * inside VALUES cells. Multi-row VALUES pass through untouched. */
  private def rewriteValuesRow(sql: String): String = {
    val re = ("(?is)\\(\\s*VALUES\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)\\s*\\)\\s*" +
      "(?:AS\\s+)?(\\w+)\\s*\\(([\\w\\s,]+)\\)").r
    re.replaceAllIn(sql, m => {
      val cells = splitTopLevel(m.group(1))
      val names = m.group(3).split(",").map(_.trim)
      if (cells.length != names.length) m.group(0).replace("$", "\\$")
      else {
        val sel = cells.zip(names).map { case (c, n) => s"${c.trim} AS $n" }
          .mkString(", ")
        java.util.regex.Matcher.quoteReplacement(s"(SELECT $sel) ${m.group(2)}")
      }
    })
  }

  /** Apply a regex replacement only OUTSIDE single-quoted string literals
    * (a schema prefix inside '…'::regclass is data, not qualification). */
  private def replaceOutsideStrings(s: String, regex: String, repl: String): String = {
    val out = new StringBuilder(s.length)
    val seg = new StringBuilder
    var inQ = false
    var i = 0
    def flush(): Unit = { out.append(seg.toString.replaceAll(regex, repl)); seg.clear() }
    while (i < s.length) {
      val c = s.charAt(i)
      if (!inQ && c == '\'') { flush(); inQ = true; out += c }
      else if (inQ) {
        out += c
        if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { out += '\''; i += 1 }
          else inQ = false
        }
      } else seg += c
      i += 1
    }
    flush()
    out.toString
  }

  /** Split on depth-0 commas outside single quotes. */
  private[graft] def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    var inQ = false
    s.foreach { c =>
      if (inQ) { sb += c; if (c == '\'') inQ = false }
      else if (c == '\'') { sb += c; inQ = true }
      else if (c == '(') { depth += 1; sb += c }
      else if (c == ')') { depth -= 1; sb += c }
      else if (c == ',' && depth == 0) { out += sb.toString; sb.clear() }
      else sb += c
    }
    out += sb.toString
    out.result()
  }

  /** `SELECT cols FROM … ORDER BY keys FETCH FIRST n ROWS WITH TIES` ->
    * rank() window over the same keys (Spark's LIMIT cannot keep ties). */
  private def rewriteFetchTies(sql: String): String = {
    val re = ("(?is)^SELECT\\s+(.*?)\\s+FROM\\s+(.*?)\\s+ORDER\\s+BY\\s+(.*?)" +
      "\\s+FETCH\\s+(?:FIRST|NEXT)\\s+(\\d+)\\s+ROWS?\\s+WITH\\s+TIES\\s*$").r
    sql match {
      case re(cols, from, keys, n) =>
        s"SELECT * EXCEPT(__rk) FROM (SELECT *, rank() OVER (ORDER BY $keys) AS __rk " +
          s"FROM (SELECT $cols FROM $from)) WHERE __rk <= $n ORDER BY $keys"
      case _ => sql
    }
  }

  /** PG GROUPS window frames -> RANGE over a pre-computed dense_rank.
    * `f(x) OVER ([PARTITION BY p] ORDER BY k GROUPS BETWEEN a AND b)` counts
    * frame offsets in PEER GROUPS; Spark has no GROUPS mode, but a group's
    * ordinal IS dense_rank() over the same (partition, order), and a RANGE
    * frame over that integer with the same offsets — including CURRENT ROW,
    * whose RANGE meaning "all peers" matches its GROUPS meaning exactly —
    * reproduces the semantics. The rewrite wraps the source in a subquery
    * computing `__gdr` (the WHERE moves inside: windows evaluate after
    * filtering) and retargets the frame. Single-window SELECTs over one
    * relation only; anything more complex passes through untouched (and
    * fails loudly in the parser rather than silently misanswering). */
  private def rewriteGroupsFrame(sql: String): String = {
    if ("(?i)GROUPS\\s+BETWEEN".r.findFirstIn(sql).isEmpty) return sql
    val bound = "UNBOUNDED\\s+PRECEDING|UNBOUNDED\\s+FOLLOWING|CURRENT\\s+ROW|" +
      "\\d+\\s+PRECEDING|\\d+\\s+FOLLOWING"
    val over = ("(?is)OVER\\s*\\(\\s*(?:PARTITION\\s+BY\\s+(.+?)\\s+)?ORDER\\s+BY\\s+(.+?)\\s+" +
      s"GROUPS\\s+BETWEEN\\s+($bound)\\s+AND\\s+($bound)\\s*\\)").r
    val ms = over.findAllMatchIn(sql).toList
    if (ms.size != 1) return sql
    val m = ms.head
    val part = Option(m.group(1)).map(_.trim).filter(_.nonEmpty)
    val keys = m.group(2).trim
    val lo = m.group(3).toUpperCase.replaceAll("\\s+", " ")
    val hi = m.group(4).toUpperCase.replaceAll("\\s+", " ")
    // top-level clause split (paren/quote aware)
    def topIndexOf(s: String, word: String, from: Int): Int = {
      val u = s.toUpperCase; val w = word.toUpperCase
      var depth = 0; var inStr = false; var i = from
      while (i < s.length) {
        val c = s.charAt(i)
        if (inStr) { if (c == '\'') inStr = false }
        else c match {
          case '\'' => inStr = true
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
            if (depth == 0 && u.startsWith(w, i) &&
                (i == 0 || !u.charAt(i - 1).isLetterOrDigit) &&
                (i + w.length >= s.length || !u.charAt(i + w.length).isLetterOrDigit))
              return i
        }
        i += 1
      }
      -1
    }
    if (!sql.trim.toUpperCase.startsWith("SELECT")) return sql
    val fromIdx = topIndexOf(sql, "FROM", 0)
    if (fromIdx < 0) return sql
    if (topIndexOf(sql, "GROUP", fromIdx) >= 0) return sql
    val whereIdx = topIndexOf(sql, "WHERE", fromIdx)
    val orderIdx = topIndexOf(sql, "ORDER", fromIdx)
    val limitIdx = topIndexOf(sql, "LIMIT", fromIdx)
    val srcEnd = Seq(whereIdx, orderIdx, limitIdx).filter(_ >= 0)
      .minOption.getOrElse(sql.length)
    val whereEnd = Seq(orderIdx, limitIdx).filter(_ >= 0)
      .minOption.getOrElse(sql.length)
    val src = sql.substring(fromIdx + 4, srcEnd).trim
    val where = if (whereIdx >= 0) " " + sql.substring(whereIdx, whereEnd).trim else ""
    val tail = if (srcEnd == sql.length) ""
      else " " + sql.substring(math.max(whereEnd, srcEnd)).trim
    val selList0 = sql.substring(sql.toUpperCase.indexOf("SELECT") + 6, fromIdx)
    val pby = part.map(p => s"PARTITION BY $p ").getOrElse("")
    val newOver = s"OVER (${pby}ORDER BY __gdr RANGE BETWEEN $lo AND $hi)"
    var selList = over.replaceAllIn(selList0,
      java.util.regex.Matcher.quoteReplacement(newOver))
    if (selList.trim.startsWith("*"))
      selList = selList.replaceFirst("\\*", "* EXCEPT(__gdr)")
    s"SELECT $selList FROM (SELECT *, dense_rank() OVER (${pby}ORDER BY $keys)" +
      s" AS __gdr FROM $src$where)$tail"
  }

  /** regexp_replace calls -> the pg_regexp_replace shim (PG/DuckDB
    * semantics: first match unless 'g', flag argument, \N backreferences);
    * 3-argument calls get an empty flags argument appended. Paren- and
    * quote-aware so patterns containing commas or parens survive. */
  private def rewriteRegexpReplace(sql: String): String = {
    val m = "(?i)(?<![\\w.])regexp_replace\\s*\\(".r.findFirstMatchIn(sql)
      .getOrElse(return sql)
    val open = sql.indexOf('(', m.start)
    var depth = 1; var inStr = false; var i = open + 1
    while (i < sql.length && depth > 0) {
      val c = sql.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    if (depth != 0) return sql
    val inner = rewriteRegexpReplace(sql.substring(open + 1, i - 1))
    val args = PgDml.splitTop(inner).map(_.trim)
    val call =
      if (args.length == 3) s"pg_regexp_replace(${args.mkString(", ")}, '')"
      else if (args.length == 4) s"pg_regexp_replace(${args.mkString(", ")})"
      else sql.substring(m.start, open) + "(" + inner + ")"
    sql.substring(0, m.start) + call + rewriteRegexpReplace(sql.substring(i))
  }

  /** `expr [NOT] SIMILAR TO 'pat' [ESCAPE 'c']` -> `expr [NOT] RLIKE
    * '^(?:regex)$'`. PG's SIMILAR TO mixes SQL wildcards (% _) with a regex
    * subset (| * + ? {m,n} () […]) and matches the WHOLE string; chars that
    * are regex metacharacters but NOT SIMILAR TO metacharacters (. ^ $) are
    * literals and get escaped. Spark has no SIMILAR TO at all (and DuckDB's
    * is a plain full-regex match — different semantics), so the translation
    * happens here, on the literal pattern, at rewrite time. */
  private def rewriteSimilarTo(sql: String): String = {
    val re = ("(?is)\\b(NOT\\s+)?SIMILAR\\s+TO\\s+'((?:[^']|'')*)'" +
      "(?:\\s+ESCAPE\\s+'((?:[^']|'')+)')?").r
    re.replaceAllIn(sql, m => {
      val pat = m.group(2).replace("''", "'")
      val esc = Option(m.group(3)).map(_.replace("''", "'").charAt(0))
      // regex backslashes survive Spark's escape-processing parser via the
      // pipeline-final literal backslash doubling (escapeLiteralBackslashes)
      val regex = ("^(?:" + similarToRegex(pat, esc) + ")$").replace("'", "''")
      val not = if (m.group(1) != null) "NOT " else ""
      java.util.regex.Matcher.quoteReplacement(s"${not}RLIKE '$regex'")
    })
  }

  /** The PG SIMILAR TO pattern -> Java regex translation itself. */
  private[graft] def similarToRegex(pat: String, esc: Option[Char]): String = {
    val escape = esc.getOrElse('\\')
    val regexSpecials = "\\^$.|?*+()[]{}"
    val sb = new StringBuilder
    var i = 0
    var inClass = false
    while (i < pat.length) {
      val c = pat.charAt(i)
      if (!inClass && c == escape && i + 1 < pat.length) {
        // escaped char is a literal; guard regex metachars, emit the rest
        // bare (escaping a letter could form a regex class like \d)
        val n = pat.charAt(i + 1)
        if (regexSpecials.indexOf(n.toInt) >= 0) sb.append('\\')
        sb.append(n); i += 2
      } else if (inClass) {
        sb.append(c); if (c == ']') inClass = false; i += 1
      } else {
        c match {
          case '%' => sb.append(".*")
          case '_' => sb.append('.')
          case '[' => sb.append('['); inClass = true
          case '.' | '^' | '$' => sb.append('\\').append(c)
          case other => sb.append(other)
        }
        i += 1
      }
    }
    sb.toString
  }

  /** SELECT DISTINCT ON (k…) cols FROM … ORDER BY k…, tie… ->
    * row_number window (Spark has no DISTINCT ON; SURVEY §2.B). */
  private def rewriteDistinctOn(sql: String): String = {
    val re = "(?is)^SELECT\\s+DISTINCT\\s+ON\\s*\\(([^)]*)\\)\\s+(.*?)\\s+FROM\\s+(.*?)(?:\\s+ORDER\\s+BY\\s+(.*?))?((?:\\s+(?:LIMIT|OFFSET|FETCH)\\b.*)?)$".r
    sql match {
      case re(keys, cols, from, order, tail) =>
        val ord = Option(order).map(_.trim).filter(_.nonEmpty).getOrElse(keys)
        s"SELECT $cols FROM (SELECT $cols, row_number() OVER (PARTITION BY $keys ORDER BY $ord) AS __rn FROM $from) WHERE __rn = 1 ORDER BY $ord$tail"
      case _ => sql
    }
  }

  /** `lhs = ANY('{a,b}')` -> IN list; `lhs = ANY(SELECT …)` -> IN subquery;
    * `lhs = ANY(col)` -> array_contains; `lhs <> ALL('{a,b}')` /
    * `<> ALL(SELECT …)` -> NOT IN (parser_a_expr.go:103-154). */
  /** psql's row-security describe compares the oid[] catalog column to a
    * PG array literal (`pol.polroles = '{0}'`); Spark's analyzer needs a
    * typed array on the right. Catalog-targeted on the `polroles` name
    * (the reference special-cases client introspection SQL the same way,
    * query_remapper.go), literal-safe via quote parity. */
  private[graft] def rewritePolicyRolesLiteral(sql: String): String = {
    val p = "((?:\\w+\\.)?polroles)\\s*(=|<>|!=)\\s*'\\{([-0-9,\\s]*)\\}'".r
    p.replaceAllIn(sql, m => {
      val insideString = sql.substring(0, m.start).count(_ == '\'') % 2 == 1
      val out =
        if (insideString) m.matched
        else {
          val elems = m.group(3).split(",").map(_.trim).filter(_.nonEmpty)
          val arr =
            if (elems.isEmpty) "CAST(array() AS ARRAY<BIGINT>)"
            else elems.map(e => s"CAST($e AS BIGINT)").mkString("array(", ", ", ")")
          s"${m.group(1)} ${m.group(2)} $arr"
        }
      java.util.regex.Matcher.quoteReplacement(out)
    })
  }

  private def rewriteAnyAll(sql: String): String = {
    val anyLit = "(?is)(\\S+)\\s*=\\s*ANY\\s*\\(\\s*'\\{([^}]*)\\}'(?:::[\\w\\[\\]]+)?\\s*\\)".r
    val allLit = "(?is)(\\S+)\\s*<>\\s*ALL\\s*\\(\\s*'\\{([^}]*)\\}'(?:::[\\w\\[\\]]+)?\\s*\\)".r
    val anyCol = "(?is)(\\S+)\\s*=\\s*ANY\\s*\\(\\s*([\\w.]+)\\s*\\)".r
    // ANY over an ARRAY constructor (pg_dump: `relkind = ANY (ARRAY['r','v'])`)
    // -> IN list (no array build; IN's null semantics match PG's ANY)
    val anyArr = "(?is)(\\S+)\\s*=\\s*ANY\\s*\\(\\s*array\\s*[\\[(]([^\\]()]*)[\\])]\\s*\\)".r
    val allArr = "(?is)(\\S+)\\s*<>\\s*ALL\\s*\\(\\s*array\\s*[\\[(]([^\\]()]*)[\\])]\\s*\\)".r
    var s = rewriteAnySubquery(sql)
    // paren-LHS form: `(SELECT …) = ANY(col)` — balanced-scan the LHS
    // (the \S+ capture below would bite into the subquery otherwise)
    locally {
      val anyColParen = "(?is)\\G\\s*=\\s*ANY\\s*\\(\\s*([\\w.]+)\\s*\\)".r
      var search = s.indexOf(')')
      while (search >= 0) {
        anyColParen.findPrefixMatchOf(s.subSequence(search + 1, s.length)) match {
          case Some(m) =>
            var depth = 1; var i = search - 1
            while (i >= 0 && depth > 0) {
              val c = s.charAt(i)
              if (c == ')') depth += 1 else if (c == '(') depth -= 1
              if (depth > 0) i -= 1
            }
            val open = i
            if (open >= 0) {
              val lhs = s.substring(open, search + 1)
              s = s.substring(0, open) +
                "array_contains(" + m.group(1) + ", " + lhs + ")" +
                s.substring(search + 1 + m.end)
              search = s.indexOf(')', open)
            } else search = s.indexOf(')', search + 1)
          case None => search = s.indexOf(')', search + 1)
        }
      }
    }
    s = anyArr.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
      m.group(1) + " IN (" + m.group(2) + ")"))
    s = allArr.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
      m.group(1) + " NOT IN (" + m.group(2) + ")"))
    s = anyLit.replaceAllIn(s, m =>
      m.group(1) + " IN (" + splitArrayLiteral(m.group(2)) + ")")
    s = allLit.replaceAllIn(s, m =>
      m.group(1) + " NOT IN (" + splitArrayLiteral(m.group(2)) + ")")
    s = anyCol.replaceAllIn(s, m =>
      "array_contains(" + m.group(2) + ", " + m.group(1) + ")")
    s
  }

  /** Correlated/subquery ANY: `x = ANY(SELECT …)` -> `x IN (SELECT …)` and
    * `x <> ALL(SELECT …)` -> `x NOT IN (SELECT …)` — balanced-paren scan so
    * nested parens inside the subquery survive. */
  private def rewriteAnySubquery(sql: String): String = {
    var s = sql
    val pat = java.util.regex.Pattern.compile("(?i)(=\\s*ANY|<>\\s*ALL)\\s*\\(")
    var restart = true
    while (restart) {
      restart = false
      val m = pat.matcher(s)
      var search = 0
      while (!restart && m.find(search)) {
        val open = m.end() - 1
        val inner = s.substring(open + 1).dropWhile(_.isWhitespace)
        if (inner.toUpperCase.startsWith("SELECT")) {
          val close = matchParen(s, open)
          val sub = s.substring(open + 1, close)
          val pre0 = s.substring(0, m.start())
          val pre = if (pre0.isEmpty || pre0.last.isWhitespace) pre0 else pre0 + " "
          val op = if (m.group(1).trim.startsWith("=")) "IN " else "NOT IN "
          s = pre + op + "(" + sub + ")" + s.substring(close + 1)
          restart = true
        } else search = m.end()
      }
    }
    s
  }

  /** Index of the ')' matching the '(' at `open` (skips quoted strings). */
  private def matchParen(s: String, open: Int): Int = {
    var depth = 0; var i = open; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') inStr = !inStr
      else if (!inStr && c == '(') depth += 1
      else if (!inStr && c == ')') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    s.length - 1
  }

  /** `'tbl'::regclass[::oid]` -> oid-lookup scalar subquery over
    * pg_class (⋈ pg_namespace when schema-qualified) — the reference does
    * the same rewrite (parser_type_cast.go:90-206). `'f'::regproc` -> the
    * function-name string. */
  /** Split a possibly-quoted qualified name, applying PG case folding:
    * unquoted segments lowercase, `"Quoted Names"` keep case (embedded `""`
    * unescapes to `"`). */
  private def splitQualified(q: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var quoted = false // whether the current segment was ever quoted
    var inQ = false
    var i = 0
    def flush(): Unit = {
      out += (if (quoted) sb.toString else sb.toString.toLowerCase)
      sb.clear(); quoted = false
    }
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '"') {
        if (inQ && i + 1 < q.length && q.charAt(i + 1) == '"') { sb += '"'; i += 1 }
        else { inQ = !inQ; quoted = true }
      } else if (c == '.' && !inQ) flush()
      else sb += c
      i += 1
    }
    flush()
    out.toSeq
  }

  private def rewriteRegclass(sql: String): String = {
    import java.util.regex.Matcher.quoteReplacement
    val regclass = "(?i)'((?:\"[^\"]*\"|[\\w.])+)'\\s*::\\s*regclass(\\s*::\\s*oid)?".r
    var s = regclass.replaceAllIn(sql, m => quoteReplacement {
      splitQualified(m.group(1)) match {
        case Seq(sch, tbl) =>
          s"(SELECT c.oid FROM pg_class c JOIN pg_namespace n ON c.relnamespace = n.oid " +
            s"WHERE n.nspname = '$sch' AND c.relname = '$tbl')"
        case Seq(tbl) =>
          s"(SELECT oid FROM pg_class WHERE relname = '$tbl')"
        case _ => m.group(0)
      }
    })
    s = "(?i)'([\\w.]+)'\\s*::\\s*regproc(\\s*::\\s*text)?".r
      .replaceAllIn(s, m => quoteReplacement(s"'${m.group(1)}'"))
    s
  }

  /** LATERAL table functions -> Spark LATERAL VIEW:
    *  - `, LATERAL generate_series(a,b) [AS] g(n)` and
    *  - `[LEFT] JOIN LATERAL generate_series(a,b) [AS] g(n) ON true`
    * become `LATERAL VIEW [OUTER] explode(sequence(a,b)) g AS n`; a bare
    * `FROM generate_series(a,b) [AS] g(n)` becomes a one-column subquery.
    * `LATERAL (SELECT …)` passes through — Catalyst supports correlated
    * lateral subqueries natively (the reference's DuckDB does not, SURVEY
    * §2.B joins row). */
  /** Post-pass for json wire typing: a top-level COALESCE/CASE over a
    * json-producing expression loses the builder's jsonval Alias tag to
    * CleanupAliases — re-attach it by walking the analyzed projection (the
    * reference's DuckDB types such expressions JSON, so the wire layer must
    * advertise OID 114). No-op for every other query shape. */
  private def retagJson(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, CaseWhen, Coalesce, Expression, If}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    def jsonish(e: Expression): Boolean = e match {
      case _: JsonNormalize => true
      case _: org.apache.spark.sql.catalyst.expressions.StructsToJson => true
      case c: Coalesce => c.children.exists(jsonish)
      case c: CaseWhen =>
        c.branches.exists(b => jsonish(b._2)) || c.elseValue.exists(jsonish)
      case i: If => jsonish(i.trueValue) || jsonish(i.falseValue)
      case a: Alias => jsonish(a.child)
      case _ => false
    }
    val top = df.queryExecution.analyzed match {
      case p: Project => p.projectList
      case _ => return df
    }
    val fields = df.schema.fields
    if (top.length != fields.length ||
        fields.map(_.name).distinct.length != fields.length) return df
    val needs = top.zip(fields).exists {
      case (a: Alias, f) =>
        jsonish(a.child) && !f.metadata.contains(PgTypes.LogicalKey)
      case _ => false
    }
    if (!needs) return df
    // backtick-quote names: a result column containing a dot or backtick
    // must select as a literal name, not a nested-field path
    def quoted(name: String) =
      org.apache.spark.sql.functions.col("`" + name.replace("`", "``") + "`")
    df.select(top.zip(fields).map {
      case (a: Alias, f)
          if jsonish(a.child) && !f.metadata.contains(PgTypes.LogicalKey) =>
        quoted(f.name).as(f.name,
          new MetadataBuilder().withMetadata(f.metadata)
            .putString(PgTypes.LogicalKey, "jsonval").build())
      case (_, f) => quoted(f.name)
    }.toSeq: _*)
  }

  /** generate_series args widened to BIGINT — the reference's DuckDB
    * generate_series returns BIGINT (the corpus pins Int8OID on the wire),
    * while Spark's sequence() over int literals yields array<int>.
    * Date/timestamp/interval series pass through untouched. */
  private def seriesArgs(raw: String): String =
    if ("(?i)\\b(date|timestamp|interval)\\b".r.findFirstIn(raw).isDefined) raw
    else splitTopLevel(raw).map(a => s"CAST((${a.trim}) AS BIGINT)").mkString(", ")

  private def rewriteLateral(sql: String): String = {
    import java.util.regex.Matcher.quoteReplacement
    var s = sql
    val comma = "(?is),\\s*LATERAL\\s+generate_series\\s*\\(((?:[^()]|\\((?:[^()]|\\([^()]*\\))*\\))*)\\)\\s*(?:AS\\s+)?(\\w+)\\s*\\(\\s*(\\w+)\\s*\\)".r
    s = comma.replaceAllIn(s, m => quoteReplacement(
      s" LATERAL VIEW explode(sequence(${seriesArgs(m.group(1))})) ${m.group(2)} AS ${m.group(3)}"))
    val join = "(?is)(LEFT\\s+)?JOIN\\s+LATERAL\\s+generate_series\\s*\\(((?:[^()]|\\((?:[^()]|\\([^()]*\\))*\\))*)\\)\\s*(?:AS\\s+)?(\\w+)\\s*\\(\\s*(\\w+)\\s*\\)\\s*ON\\s+true".r
    s = join.replaceAllIn(s, m => quoteReplacement(
      s" LATERAL VIEW ${if (m.group(1) != null) "OUTER " else ""}explode(sequence(${seriesArgs(m.group(2))})) ${m.group(3)} AS ${m.group(4)}"))
    // plain `JOIN generate_series(a,b) g(n) ON cond` (PgJDBC getImportedKeys
    // joins a series against conkey subscripts this way)
    val plainJoin = "(?is)\\bJOIN\\s+generate_series\\s*\\(((?:[^()]|\\((?:[^()]|\\([^()]*\\))*\\))*)\\)\\s*(?:AS\\s+)?(\\w+)\\s*\\(\\s*(\\w+)\\s*\\)".r
    s = plainJoin.replaceAllIn(s, m => quoteReplacement(
      s"JOIN (SELECT explode(sequence(${seriesArgs(m.group(1))})) AS ${m.group(3)}) ${m.group(2)}"))
    val from = "(?is)\\bFROM\\s+generate_series\\s*\\(((?:[^()]|\\((?:[^()]|\\([^()]*\\))*\\))*)\\)\\s*(?:AS\\s+)?(\\w+)\\s*\\(\\s*(\\w+)\\s*\\)".r
    s = from.replaceAllIn(s, m => quoteReplacement(
      s"FROM (SELECT explode(sequence(${seriesArgs(m.group(1))})) AS ${m.group(3)}) ${m.group(2)}"))
    // `FROM generate_series(a, b) s` (bare alias): PG names the SRF's
    // column after the alias
    val aliased = ("(?is)\\bFROM\\s+generate_series\\s*\\(((?:[^()]|\\((?:[^()]|\\([^()]*\\))*\\))*)\\)\\s+" +
      "(?:AS\\s+)?(?!WHERE\\b|LIMIT\\b|ORDER\\b|GROUP\\b|HAVING\\b|UNION\\b|JOIN\\b|ON\\b|" +
      "OFFSET\\b|FETCH\\b|LEFT\\b|RIGHT\\b|INNER\\b|CROSS\\b|FULL\\b)([A-Za-z_]\\w*)(?!\\s*\\()").r
    s = aliased.replaceAllIn(s, m => quoteReplacement(
      s"FROM (SELECT explode(sequence(${seriesArgs(m.group(1))})) AS ${m.group(2)}) ${m.group(2)}"))
    // bare `FROM generate_series(a, b)` -> PG names the column after the
    // function (query_remapper_table.go:113-134)
    val bare = "(?is)\\bFROM\\s+generate_series\\s*\\(((?:[^()]|\\((?:[^()]|\\([^()]*\\))*\\))*)\\)(?!\\s*\\w|\\s*\\()".r
    s = bare.replaceAllIn(s, m => quoteReplacement(
      s"FROM (SELECT explode(sequence(${seriesArgs(m.group(1))})) AS generate_series)"))
    s
  }

  private def splitArrayLiteral(body: String): String =
    body.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .map(v => s"'$v'").mkString(", ")

  /** JSON path operators `col #> '{a,b}'` / `col #>> '{a,b}'` ->
    * `get_json_object(col, '$.a.b')` (PG path-array form; runs before the
    * arrow rewrite). */
  private def rewriteJsonPath(sql: String): String = {
    val p = "(?s)([\\w.]+)\\s*#>>?\\s*'\\{([^}]*)\\}'".r
    p.replaceAllIn(sql, m => java.util.regex.Matcher.quoteReplacement {
      val path = m.group(2).split(',').map(_.trim).mkString(".")
      s"get_json_object(${m.group(1)}, '$$.$path')"
    })
  }

  /** Flat JSON containment `col @> '{"k": v, ...}'` -> a conjunction of
    * get_json_object equality checks (covers the common filter form; nested
    * containment would need a structural walk). Array overlap `a && b` ->
    * arrays_overlap. */
  private def rewriteContainment(sql: String): String = {
    import java.util.regex.Matcher.quoteReplacement
    val json = "(?s)([\\w.]+)\\s*@>\\s*'(\\{[^']*\\})'".r
    var s = json.replaceAllIn(sql, m => quoteReplacement {
      val obj = m.group(2)
      val pair = "\"([^\"]+)\"\\s*:\\s*(\"([^\"]*)\"|[-\\d.eE]+|true|false)".r
      val conds = pair.findAllMatchIn(obj).map { p =>
        val key = p.group(1)
        val want = if (p.group(3) != null) p.group(3) else p.group(2)
        s"get_json_object(${m.group(1)}, '$$.$key') = '$want'"
      }.toSeq
      if (conds.isEmpty) "TRUE" else conds.mkString("(", " AND ", ")")
    })
    val overlap = "(?s)([\\w.]+)\\s*&&\\s*(ARRAY\\[[^\\]]*\\]|[\\w.]+)".r
    s = overlap.replaceAllIn(s, m => quoteReplacement {
      val rhs = m.group(2).replaceFirst("(?i)^ARRAY\\[", "array(").stripSuffix("]") match {
        case r if r.startsWith("array(") => r + ")"
        case r => r
      }
      s"arrays_overlap(${m.group(1)}, $rhs)"
    })
    s
  }

  /** JSON existence `col ? 'key'` -> `get_json_object(col, '$.key') IS NOT
    * NULL` (reference maps `?` to json_exists in function form to dodge a
    * DuckDB precedence bug, parser_a_expr.go:29-77; Catalyst has no
    * precedence issue). Runs before the arrow rewrite so `->`-chains on the
    * left survive. */
  private def rewriteJsonExists(sql: String): String = {
    val q = "(?s)([\\w.]+|\\))\\s*\\?\\s*'([^']*)'".r
    q.replaceAllIn(sql, m => java.util.regex.Matcher.quoteReplacement(
      s"get_json_object(${m.group(1)}, '$$.${m.group(2)}') IS NOT NULL"))
  }

  /** `expr -> 'k'` / `expr ->> 'k'` / `expr -> 0` -> get_json_object chains
    * (parser_a_expr.go:29-77). Left-associative, iterated until fixpoint. */
  private def rewriteJsonArrows(sql: String): String = {
    val arrow = "(?s)(.*?)(\\)|'[^']*'|[\\w.:]+)\\s*->(>?)\\s*('([^']*)'|\\d+)(.*)".r
    var s = sql
    var changed = true
    while (changed) {
      s match {
        case arrow(pre, lhsEnd, gt, rhs, key, post) =>
          val lhsStart =
            if (lhsEnd == ")") {
              // scan back to the balanced open paren (with function name)
              var depth = 1; var i = pre.length - 1
              while (i >= 0 && depth > 0) {
                if (pre.charAt(i) == ')') depth += 1
                else if (pre.charAt(i) == '(') depth -= 1
                i -= 1
              }
              while (i >= 0 && (pre.charAt(i).isLetterOrDigit || "._:".contains(pre.charAt(i)))) i -= 1
              i + 1
            } else pre.length
          val lhs = pre.substring(lhsStart) + lhsEnd
          val path = if (key != null) "'$." + key + "'" else "'$[" + rhs + "]'"
          // `->>` extracts text (quotes stripped); `->` keeps the JSON
          // representation like PG (parser_a_expr.go:29-77: json_extract vs
          // json_extract_string)
          val fn = if (gt == ">") "get_json_object" else "pg_json_extract"
          s = pre.substring(0, lhsStart) + fn + "(" + lhs + ", " + path + ")" + post
        case _ => changed = false
      }
    }
    s
  }

  private val pgTypeToSpark: Map[String, String] = Map(
    "int2" -> "SMALLINT", "int4" -> "INT", "int" -> "INT", "integer" -> "INT",
    "int8" -> "BIGINT", "bigint" -> "BIGINT", "oid" -> "BIGINT",
    "float4" -> "FLOAT", "float8" -> "DOUBLE", "real" -> "FLOAT",
    "numeric" -> "DECIMAL(38,6)", "bool" -> "BOOLEAN", "boolean" -> "BOOLEAN",
    "text" -> "STRING", "varchar" -> "STRING", "char" -> "STRING",
    "bpchar" -> "STRING", "name" -> "STRING", "json" -> "STRING",
    "jsonb" -> "STRING", "uuid" -> "STRING", "regclass" -> "STRING",
    "regproc" -> "STRING", "regtype" -> "STRING", "regnamespace" -> "STRING",
    // ::timestamp is tz-less (rendered without offset); ::timestamptz is the
    // session-zone type the reference renders with a +00:00 suffix
    "date" -> "DATE", "timestamp" -> "TIMESTAMP_NTZ",
    "timestamptz" -> "TIMESTAMP", "time" -> "STRING", "interval" -> "STRING",
    // two-word PG spellings (rewriteCasts consumes them whole)
    "double precision" -> "DOUBLE", "character varying" -> "STRING",
    "timestamp without time zone" -> "TIMESTAMP_NTZ",
    "timestamp with time zone" -> "TIMESTAMP")

  /** `operand::type` (optionally `[]`) -> CAST(operand AS sparkType),
    * left-to-right, operand = literal, number, dotted ident, or balanced
    * parenthesized expression (parser_type_cast.go). */
  private def rewriteCasts(sql: String): String = {
    var s = sql
    var idx = s.indexOf("::")
    while (idx >= 0) {
      // operand end = idx; find operand start
      var start = idx
      if (idx > 0 && s.charAt(idx - 1) == ')') {
        var depth = 1; var i = idx - 2
        while (i >= 0 && depth > 0) {
          if (s.charAt(i) == ')') depth += 1
          else if (s.charAt(i) == '(') depth -= 1
          i -= 1
        }
        while (i >= 0 && (s.charAt(i).isLetterOrDigit || "._".contains(s.charAt(i)))) i -= 1
        start = i + 1
      } else if (idx > 0 && s.charAt(idx - 1) == '\'') {
        var i = idx - 2
        while (i >= 0 && s.charAt(i) != '\'') i -= 1
        start = i
      } else {
        var i = idx - 1
        while (i >= 0 && (s.charAt(i).isLetterOrDigit || "._".contains(s.charAt(i)))) i -= 1
        start = i + 1
      }
      // type name after :: (PG two-word spellings — double precision,
      // character varying, timestamp with[out] time zone — consume whole)
      var e = idx + 2
      var pgType = ""
      if (e < s.length && s.charAt(e) == '"') {
        // quoted type name — pg_dump writes 'r'::"char" (the 1-byte type)
        val close = s.indexOf('"', e + 1)
        if (close > 0) { pgType = s.substring(e + 1, close).toLowerCase; e = close + 1 }
      } else {
        while (e < s.length && (s.charAt(e).isLetterOrDigit || s.charAt(e) == '_')) e += 1
        pgType = s.substring(idx + 2, e).toLowerCase
      }
      val twoWord = "(?is)^(\\s+precision|\\s+varying|\\s+with(?:out)?\\s+time\\s+zone)\\b".r
      twoWord.findFirstMatchIn(s.substring(e)).foreach { m2 =>
        pgType = pgType + m2.group(1).toLowerCase.replaceAll("\\s+", " ")
        e += m2.group(1).length
      }
      // optional (precision[,scale]) suffix
      var args: Option[String] = None
      if (e < s.length && s.charAt(e) == '(') {
        val close = s.indexOf(')', e)
        if (close > 0 && s.substring(e + 1, close).matches("[\\d,\\s]*")) {
          args = Some(s.substring(e + 1, close))
          e = close + 1
        }
      }
      val isArray = e + 1 < s.length && s.charAt(e) == '[' && s.charAt(e + 1) == ']'
      val sparkType0 = (pgType, args) match {
        case ("numeric" | "decimal", Some(a)) => s"DECIMAL($a)"
        case _ => pgTypeToSpark.getOrElse(pgType, pgType.toUpperCase)
      }
      val sparkType = if (isArray) s"ARRAY<$sparkType0>" else sparkType0
      val typeEnd = if (isArray) e + 2 else e
      val operand = s.substring(start, idx)
      // PG array-LITERAL cast: '{a,b}'::type[] — Spark cannot cast a
      // string to an array, so build the typed array() constructor from
      // the parsed elements (pg_dump: unnest('{16385}'::oid[]))
      val arrayLit = "(?s)^'\\{(.*)\\}'$".r
      val litElems: Option[Seq[String]] =
        if (!isArray) None
        else operand.trim match {
          case arrayLit(body) =>
            Some(if (body.trim.isEmpty) Nil
              else body.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
          case _ => None
        }
      // ::json[b] produces a COMPUTED json value -> Go-marshal normalization
      // (compact, sorted keys), like DuckDB JSON through the reference's
      // NullJson path (response_handler.go:317-327)
      val replacement = litElems match {
        case Some(Nil) => s"CAST(array() AS $sparkType)"
        case Some(elems) =>
          elems.map(el => s"CAST('${el.replace("'", "''")}' AS $sparkType0)")
            .mkString("array(", ", ", ")")
        case None =>
          if (!isArray && (pgType == "json" || pgType == "jsonb"))
            s"jsonb_norm($operand)"
          else s"CAST($operand AS $sparkType)"
      }
      s = s.substring(0, start) + replacement + s.substring(typeEnd)
      idx = s.indexOf("::")
    }
    s
  }

  // ---- permissions (reference parser_table.go:53-106) ------------------
  /** `Some(map)` when the statement carries a permissions comment; table
    * keys are stored schema-less (`public.orders` -> `orders`). */
  private[graft] def parsePermissions(statement: String): Option[Map[String, Seq[String]]] = {
    val block = "(?s)/\\*BEMIDB_PERMISSIONS\\s*\\{(.*?)\\}\\s*BEMIDB_PERMISSIONS\\*/".r
    block.findFirstMatchIn(statement).map { m =>
      val entry = "\"([\\w.]+)\"\\s*:\\s*\\[([^\\]]*)\\]".r
      entry.findAllMatchIn(m.group(1)).map { e =>
        val tbl = e.group(1).split('.').last
        val cols = "\"([^\"]+)\"".r.findAllMatchIn(e.group(2)).map(_.group(1)).toSeq
        tbl -> cols
      }.toMap
    }
  }

  /** With permissions active, a permitted table scan becomes a projection of
    * its permitted columns; any other known table becomes an empty relation
    * (`SELECT NULL WHERE FALSE`), exactly like the reference. */
  private def applyPermissions(sql: String, perms: Option[Map[String, Seq[String]]]): String =
    perms match {
      case None => sql
      case Some(p) =>
        Tables.names.foldLeft(sql) { (s, tbl) =>
          val sub = p.get(tbl) match {
            case Some(cols) => s"(SELECT ${cols.mkString(", ")} FROM $tbl) $tbl"
            case None => s"(SELECT NULL AS __denied WHERE FALSE) $tbl"
          }
          s.replaceAll(s"(?i)\\b(FROM|JOIN)\\s+$tbl\\b",
            "$1 " + java.util.regex.Matcher.quoteReplacement(sub))
        }
    }

  /** PG and Spark disagree on default NULL ordering (PG: NULLS LAST for
    * ASC, NULLS FIRST for DESC; Spark: the opposite) — silently different
    * row order for any nullable sort key. Make PG's defaults explicit on
    * every ORDER BY key (top-level and inside OVER windows) that doesn't
    * already spell a NULLS clause. */
  private[graft] def injectPgNullOrdering(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    val upper = sql.toUpperCase
    val keyEnd = "(LIMIT|OFFSET|FETCH|FOR|ROWS|RANGE|GROUPS)\\b".r.pattern.matcher(upper)
    while (i < sql.length) {
      val at = upper.indexOf("ORDER BY", i)
      if (at < 0) { sb.append(sql.substring(i)); i = sql.length }
      else {
        sb.append(sql.substring(i, at)).append(sql.substring(at, at + 8))
        var j = at + 8
        // scan sort keys until a top-level terminator
        var depth = 0; var inStr = false
        var keyStart = j
        def flushKey(end: Int): Unit = {
          val key = sql.substring(keyStart, end)
          val k = key.trim
          if (k.isEmpty || k.toUpperCase.contains("NULLS")) sb.append(key)
          else {
            val trailing = key.substring(key.lastIndexOf(k) + k.length)
            val lead = key.substring(0, key.indexOf(k.head))
            val suffix =
              if (k.toUpperCase.endsWith(" DESC")) " NULLS FIRST" else " NULLS LAST"
            sb.append(lead).append(k).append(suffix).append(trailing)
          }
        }
        var done = false
        while (!done && j < sql.length) {
          val c = sql.charAt(j)
          if (c == '\'') inStr = !inStr
          else if (!inStr && c == '(') depth += 1
          else if (!inStr && c == ')') {
            if (depth == 0) { flushKey(j); done = true } else depth -= 1
          } else if (!inStr && c == ',' && depth == 0) {
            flushKey(j); sb.append(','); keyStart = j + 1
          } else if (!inStr && depth == 0 &&
              (j == 0 || sql.charAt(j - 1).isWhitespace) &&
              keyEnd.region(j, upper.length).lookingAt()) {
            flushKey(j); done = true
          }
          if (!done) j += 1
        }
        if (!done) flushKey(sql.length)
        i = j
      }
    }
    sb.toString
  }

  // ---- utilities -------------------------------------------------------
  private[graft] def splitStatements(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inStr = false; var inId = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' && !inId) inStr = !inStr
      else if (c == '"' && !inStr) inId = !inId
      if (c == ';' && !inStr && !inId) { out += cur.toString; cur.clear() }
      else cur.append(c)
      i += 1
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Comments become one space each; text inside single quotes (a `''`
    * escape re-enters at once) and double quotes is kept, so a comment
    * marker in a literal or identifier is text. */
  private def stripComments(sql: String): String = {
    val sb = new StringBuilder(sql.length)
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"') {
        val close = sql.indexOf(c, i + 1)
        val end = if (close < 0) sql.length else close + 1
        sb.append(sql.substring(i, end)); i = end
      } else if (sql.startsWith("--", i)) {
        val nl = sql.indexOf('\n', i)
        sb.append(' '); i = if (nl < 0) sql.length else nl
      } else if (sql.startsWith("/*", i)) {
        val close = sql.indexOf("*/", i + 2)
        sb.append(' '); i = if (close < 0) sql.length else close + 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Expression-fragment translation for the DML surface (SET values,
    * WHERE predicates, VALUES rows, MERGE conditions): the PG-isms that
    * occur INSIDE scalar expressions, same rewrites the SELECT translator
    * applies, minus everything statement-shaped. */
  private[graft] def translateExpr(fragment: String): String = {
    var s = fragment
    s = decodeEscapeStrings(s)
    s = s.replaceAll("(?i)\\bpg_catalog\\s*\\.\\s*", "")
    s = rewriteAnyAll(s)
    s = rewriteJsonArrows(s)
    s = rewriteContainment(s)
    s = rewriteCasts(s)
    s = rewriteSimilarTo(s)
    // same pipeline-final pass as translateSelect: PG '' literals keep
    // backslashes LITERAL (standard_conforming_strings) but Spark's parser
    // processes escapes — without the doubling, every DML fragment (INSERT
    // VALUES array text, UPDATE SET paths, WHERE regexes) silently loses
    // its backslashes
    s = escapeLiteralBackslashes(s)
    s
  }

  private[graft] def unquoteName(n: String): String =
    n.replace("\"", "").split('.').last
}
