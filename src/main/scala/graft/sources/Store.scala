package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType, TimestampNTZType}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Table store + materialized-view lifecycle (SURVEY §2.A matview rows,
  * §2.E write path; reference: /root/reference/src/server/query_remapper.go:
  * 146-169,566-711 + /root/reference/src/common/iceberg_writer.go:23-74).
  *
  * The reference swaps Iceberg tables through a `-syncing`/`-deleting`
  * rename dance; with a snapshot directory layout we get the same atomicity
  * by writing a new version directory and flipping an in-memory/on-disk
  * pointer (at cluster scale this is exactly an Iceberg `replace()` snapshot
  * commit — no Iceberg runtime ships in this container, so the layout is
  * parquet version dirs + a catalog map).
  *
  * ALL file operations go through the Hadoop `FileSystem` resolved from the
  * warehouse URI (the reference is S3-native, storage_utils.go:75-91), so
  * the warehouse accepts any configured `fs.*` scheme — plain paths and
  * `file://` URIs today, `hdfs://`/`s3a://` wherever those connectors are on
  * the classpath. Object-store commit semantics: version data dirs and
  * catalog snapshots are written once under FRESH names and never
  * overwritten in place, so the commit point is the appearance of a new
  * immutable object (`_catalog.v{seq}.json`), not an in-place rename —
  * readers list and take the highest sequence, which is safe on stores
  * whose rename is copy+delete. The only non-portable fast path is the
  * local hard-link used to carry unchanged data files between versions; on
  * any other scheme it degrades to a copy (and the Iceberg manifest layer
  * is the real metadata-only carry at object-store scale).
  *
  * Write-path semantics reproduced from the reference:
  *  - full refresh  = atomic replace (iceberg_table.go:46-70)
  *  - upsert        = per-key overwrite: old rows ∉ incoming keys ∪ incoming
  *                    (iceberg_table_writer.go:304-378)
  *  - delete by key = old rows ∉ keys (iceberg_table_writer.go:380-452)
  *  - cursor append = append rows with cursor >= max(cursor) of existing,
  *                    dropping overlap rows already present
  *                    (iceberg_table.go:93-117, syncer-amplitude/lib/syncer.go:43-72)
  */
class Store(spark: SparkSession, val warehouse: String) {

  private val hconf = spark.sessionState.newHadoopConf()
  private val fs: FileSystem = new HadoopPath(warehouse).getFileSystem(hconf)
  // the store's own sidecars (catalog snapshots, stats manifests) are small
  // rebuildable JSON: skip the local ChecksumFileSystem's .crc shadow files
  // so out-of-band edits/tools can't strand a stale checksum (no-op on
  // schemes without client-side checksumming)
  fs.setWriteChecksum(false)
  fs.setVerifyChecksum(false)
  private val root: HadoopPath = fs.makeQualified(new HadoopPath(warehouse))
  fs.mkdirs(root)
  private def isLocalFs: Boolean = "file" == root.toUri.getScheme

  private val versions = TrieMap[String, Int]()

  // ---- version-dir aliases (declared before the catalog-reload
  // initializer below, which restores it) ----------------------------------
  // (table, version) -> actual dir NAME when it differs from `v<N>`. On a
  // scheme without atomic rename (object stores: rename = copy + delete),
  // commitStaging records the staged dir as the committed version's alias
  // instead of copying its data — COMMIT stays a pure metadata operation
  // on EVERY warehouse, the Iceberg manifest-re-point shape expressed in
  // this store's catalog. Persisted in the catalog snapshot, atomically
  // with the version pointers it supports.
  private val dirAliases = TrieMap[(String, Int), String]()

  /** Per-THREAD write journal: (table, version-before, staged?) recorded at
    * each version publish on this thread. The transaction layer attributes
    * a statement's writes from here — diffing the global version map around
    * the statement would blame OTHER connections' concurrent commits on
    * this transaction, and its ROLLBACK would then restore (destroy) their
    * committed writes. Spark actions block on the calling thread, so every
    * publish a statement causes lands on the connection thread running it.
    * Staged publishes record their OVERLAY before-version (the txn's
    * private chain head) — the repeatable-read conflict check compares the
    * first one against the pin, exactly as it did for shared publishes. */
  private val writeJournal =
    new ThreadLocal[scala.collection.mutable.ListBuffer[(String, Int, Boolean)]]
  private[graft] def beginWriteJournal(): Unit =
    writeJournal.set(scala.collection.mutable.ListBuffer())
  private[graft] def drainWriteJournal(): Seq[(String, Int, Boolean)] = {
    val l = writeJournal.get(); writeJournal.remove()
    if (l == null) Nil else l.toSeq
  }

  // ---- transaction-private write staging ----------------------------------
  // See Store.TxnStaging. The staging context binds to the CONNECTION
  // thread for the duration of one DML statement (PgDialect/PgWireServer);
  // while bound, version allocation, version-dir resolution and the
  // current-version/exists/evolution reads below all resolve through the
  // txn's private overlay, so the existing write operators (replace /
  // append / upsert / COW / merge) stage without knowing it. Everything
  // NOT bound — other connections, the Syncer, streaming, matview
  // refresh — sees only the shared chain.
  private val stagingSeq = new java.util.concurrent.atomic.AtomicLong()
  private val stagingTL = new ThreadLocal[Store.TxnStaging]
  // live stagings (this process): vacuum's staged-orphan sweep must never
  // reclaim a LIVE transaction's staged dirs, and DDL (DROP/RENAME) must
  // see gateless insert-only stagings it can no longer detect via gate
  // ownership
  private val activeStagings = TrieMap[String, Store.TxnStaging]()
  private[graft] def newStaging(): Store.TxnStaging = {
    val st = new Store.TxnStaging(
      java.lang.Long.toHexString(stagingSeq.incrementAndGet()) + "-" +
        Integer.toHexString(System.identityHashCode(this)))
    activeStagings.put(st.id, st)
    st
  }
  private[graft] def withStaging[T](st: Store.TxnStaging)(body: => T): T = {
    val prev = stagingTL.get()
    stagingTL.set(st)
    try body
    finally { if (prev == null) stagingTL.remove() else stagingTL.set(prev) }
  }
  /** Run `body` with staging suppressed — for statements inside a txn that
    * intentionally publish directly (CREATE TABLE [AS]: the new relation
    * must be SQL-resolvable by the txn's own later statements, which a
    * never-published staged table cannot be; its undo is the journal +
    * restoreVersion path, safe because a table created by this txn has no
    * concurrent writers). */
  private[graft] def withoutStaging[T](body: => T): T = {
    val prev = stagingTL.get()
    if (prev != null) stagingTL.remove()
    try body finally { if (prev != null) stagingTL.set(prev) }
  }
  private def staging(): Store.TxnStaging = stagingTL.get()
  private def stagedEntry(name: String): Option[Store.StagedTable] =
    Option(staging()).flatMap(_.tables.get(name))
  /** Does THIS thread's bound staging hold uncommitted writes on `name`? */
  private def stagedHere(name: String): Boolean =
    stagedEntry(name).exists(_.count > 0)
  private def stagedDirName(id: String, v: Int) = s".txn$id-v$v"
  private def stagedPath(id: String, name: String, v: Int): HadoopPath =
    new HadoopPath(tablePath(name), stagedDirName(id, v))

  // ---- per-table transaction write gates -----------------------------------
  // PG's writer-blocks-writer, at the granularity this COW store actually
  // writes: a transaction's first staged write to a table claims the
  // table's gate and holds it to COMMIT/ROLLBACK; any other writer — a
  // second transaction or an autocommit statement — BLOCKS until then,
  // exactly like PG sessions queueing on row locks (pgbench's concurrent
  // BEGIN…UPDATE…COMMIT clients serialize instead of aborting). Because
  // the gate freezes the shared version while held, a REPEATABLE READ txn
  // that wakes from the gate and finds the table moved past its pin raises
  // PG's serialization_failure at the STATEMENT — and a commit-time
  // conflict becomes impossible by construction. Waits are bounded
  // (PG's lock_timeout shape) so lock cycles abort instead of hanging.
  private final class TxnGate { var owner: String = null }
  private val txnGates = TrieMap[String, TxnGate]()
  /** Gate wait bound (ms); tests shrink it to exercise the timeout path. */
  private[graft] var gateTimeoutMs: Long = 30000L
  private def gateAcquire(name: String): Unit = {
    val st = staging()
    val g = txnGates.getOrElseUpdate(name, new TxnGate)
    g.synchronized {
      val me = if (st == null) null else st.id
      val deadline = System.currentTimeMillis() + gateTimeoutMs
      while (g.owner != null && g.owner != me) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0)
          throw new IllegalStateException(
            s"canceling statement due to lock timeout on relation " +
              s""""$name" (another transaction holds its write lock)""")
        g.wait(left)
      }
      if (st != null && g.owner == null) { g.owner = st.id; st.gates += name; () }
    }
  }
  private def gateRelease(st: Store.TxnStaging): Unit = {
    st.gates.foreach { name =>
      txnGates.get(name).foreach { g =>
        g.synchronized { if (g.owner == st.id) { g.owner = null; g.notifyAll() } }
      }
    }
    st.gates.clear()
  }
  /** Does any OTHER live transaction hold uncommitted staged writes on
    * `name`? Insert-only stagings never claim the write gate, so DDL
    * (DROP/RENAME) can no longer rely on gate ownership alone to detect
    * them. Reads the concurrent staged-name sets, never the owner-thread
    * mutable maps. */
  private def stagedByOther(name: String): Boolean = {
    val mine = Option(staging()).map(_.id).orNull
    activeStagings.values.exists(s =>
      s.id != mine && s.stagedNames.contains(name))
  }
  /** Bounded wait (gate-timeout shape) until no FOREIGN transaction has
    * staged writes on `name` — the DDL guard for gateless insert-only
    * stagings. Polling: DDL is rare, insert commits don't signal a
    * monitor. */
  private def awaitNoForeignStaging(name: String): Unit = {
    val deadline = System.currentTimeMillis() + gateTimeoutMs
    while (stagedByOther(name)) {
      if (System.currentTimeMillis() >= deadline)
        throw new IllegalStateException(
          s"canceling statement due to lock timeout on relation " +
            s""""$name" (another transaction holds uncommitted writes)""")
      Thread.sleep(25)
    }
  }

  // Pure-insert commit registry: shared versions whose ENTIRE delta vs
  // their predecessor is the listed set of ADDED parquet files (no file
  // rewritten or removed). This is what makes concurrent same-table
  // insert transactions commit without serializing: a committing txn
  // whose base moved only past registered versions links exactly those
  // delta files into its staged head — PG row-locking's insert-insert
  // (and RR insert-vs-update) non-conflict, expressed at file granularity.
  // In-memory like the gates (all write concurrency is in-process by the
  // single-writer-per-process warehouse design); invalidated on
  // restore/drop/rename so reused version numbers can never resurrect a
  // stale delta.
  private val committedInsertDeltas = TrieMap[(String, Int), Seq[String]]()

  /** Drop pure-insert delta registrations no future merge can reference.
    * Runs under the table lock at the publish points: when NO in-flight
    * staging references `name` (the concurrent stagedNames mirror; first
    * writes register under this same lock), every future staging's base
    * will be captured at >= the current shared version, and a merge's
    * interleave starts ABOVE its base — so every registered version at or
    * below current is unreachable. Without this, a long-lived hot-ingest
    * server grows one registration per insert transaction forever.
    * Conservative: any in-flight staging on the table skips the prune
    * (its base may reach arbitrarily far back); the next quiescent
    * publish prunes. */
  private def pruneInsertDeltas(name: String): Unit = {
    val held = activeStagings.values.exists(_.stagedNames.contains(name))
    if (!held) {
      val cur = versions.getOrElse(name, 0)
      committedInsertDeltas.keysIterator
        .filter(k => k._1 == name && k._2 <= cur).toSeq
        .foreach(committedInsertDeltas.remove)
    }
  }

  /** Registered pure-insert delta count for `name` — spec probe for the
    * prune's no-leak contract. */
  private[graft] def insertDeltaCount(name: String): Int =
    committedInsertDeltas.keysIterator.count(_._1 == name)
  /** Table lock for VERSION-PRODUCING operations: the txn write gate first
    * (blocks while another transaction holds uncommitted writes on the
    * table — and claims it when WE are that transaction), then the plain
    * per-table monitor. Gate-before-monitor ordering is load-bearing: a
    * committing transaction holds gates and takes monitors, so a writer
    * taking the monitor first could deadlock it. */
  private def withWriteLock[T](name: String)(body: => T): T =
    withIndexHookScope {
      gateAcquire(name)
      withTableLock(name)(body)
    }

  /** Allocate the version number the write on THIS thread will produce.
    * Under an active staging context this registers the table (capturing
    * the shared base under the table lock — the repeatable-read conflict
    * baseline) and returns the next STAGED version; [[versionDir]] then
    * maps it to the txn-private dir. Callers hold the table lock. */
  private def nextVersion(name: String): Int = {
    // the cross-process claim happens BEFORE any version math or staging
    // registration: a lease steal may reload the catalog (adopting a dead
    // writer's commits), which must precede this write's base capture
    ensureLease()
    val st = staging()
    if (st == null) versions.getOrElse(name, 0) + 1
    else {
      val e = st.tables.getOrElseUpdate(name,
        new Store.StagedTable(versions.getOrElse(name, 0)))
      e.base + e.count + 1
    }
  }

  /** Current version as seen on THIS thread: a table with staged writes
    * reads its txn-private chain head; everything else the shared pointer. */
  private def curVersion(name: String): Int = stagedEntry(name) match {
    case Some(e) if e.count > 0 => e.base + e.count
    case Some(e) => e.base
    case None => versions(name)
  }

  /** Every forward version bump comes through here (rollback's pointer
    * restore intentionally does not — undo is not a write to attribute).
    * A STAGED publish advances only the txn's private chain head; the
    * shared pointer, planner stats and catalog stay untouched until
    * [[commitStaging]]. */
  private def publishVersion(name: String, next: Int,
      insertNames: Seq[String] = null): Unit = {
    val st = staging()
    val e = if (st != null) st.tables.get(name).orNull else null
    val l = writeJournal.get()
    if (e != null) {
      if (l != null) l += ((name, e.base + e.count, true))
      e.count += 1
      if (insertNames != null && e.insertOnly)
        e.deltaNames(e.base + e.count) = insertNames
      else { e.insertOnly = false; e.deltaNames.clear() }
      st.stagedNames.add(name)
    } else {
      if (l != null) l += ((name, versions.getOrElse(name, 0), false))
      versions(name) = next
      // an autocommit pure-carry append is itself a registerable insert
      // delta (interleaves safely with in-flight insert txns); any other
      // write de-registers the slot it occupies
      if (insertNames != null) committedInsertDeltas((name, next)) = insertNames
      else committedInsertDeltas.remove((name, next))
      pruneInsertDeltas(name)
      publishSizeStats(name, next)
    }
  }

  /** Post-publish durability + visibility of a write: one catalog snapshot
    * and the temp-view re-registration. A STAGED write skips both —
    * re-publishing the session view would leak uncommitted rows to every
    * other connection; durability and visibility happen together at
    * [[commitStaging]]. */
  private def commitWrite(name: String): Unit =
    if (!stagedHere(name)) {
      persistCatalog(); publish(name)
      // Index maintenance runs Spark jobs — never inside the table locks
      // (it would serialize a registered table's concurrent ingest, the
      // same serializer class profiled out of the staged-insert path).
      // Inside a write scope the hook defers to the scope's post-lock
      // drain; a bare call (no scope) runs it here.
      if (hookDepth.get > 0) { pendingHookNames.get += name; () }
      else runIndexHooks(name)
    }

  // ---- deferred post-commit index hooks ----------------------------------
  // The incremental dedup/ANN index hooks shingle and probe the committed
  // batch with Spark jobs. Running them inside a write's table monitor (or
  // commitStaging's sorted lock chain) re-serializes every concurrent
  // writer of a registered table, so write scopes enqueue the table name
  // in a thread-local set and drain it AFTER the outermost monitor
  // releases. Names enqueued by a failed statement linger until the
  // thread's next successful write — the change feed is cumulative, so a
  // later refresh covers the earlier commit (the hook is best-effort by
  // contract: failures already only warn). Refreshes themselves serialize
  // per table on their own monitor: two post-lock drains may race, and the
  // pair-table replace/append interleave is not commutative, nor may the
  // durable watermark regress.
  private val hookDepth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }
  private val pendingHookNames =
    new ThreadLocal[scala.collection.mutable.LinkedHashSet[String]] {
      override def initialValue = scala.collection.mutable.LinkedHashSet.empty[String]
    }
  private def runIndexHooks(name: String): Unit = {
    maybeRefreshDedupIndex(name)
    maybeRefreshAnnIndex(name)
  }
  private def withIndexHookScope[T](body: => T): T = {
    hookDepth.set(hookDepth.get + 1)
    val r = try body finally hookDepth.set(hookDepth.get - 1)
    if (hookDepth.get == 0) {
      val p = pendingHookNames.get
      while (p.nonEmpty) { val n = p.head; p.remove(n); runIndexHooks(n) }
    }
    r
  }
  private val indexRefreshLocks = TrieMap[String, Object]()
  private def withIndexRefreshLock[T](name: String)(body: => T): T =
    indexRefreshLocks.getOrElseUpdate(name, new Object).synchronized(body)

  /** Auto-feed planner statistics from the write path: every commit
    * publishes the new snapshot's exact row count and measured bytes into
    * [[TableStats]], so the broadcast gate and join-order choices see
    * fresh sizes WITHOUT an explicit ANALYZE (PG's autovacuum-analyze
    * role). Cost: one footer-metadata pass over the snapshot's files —
    * the write itself just produced most of them, and at cluster scale
    * this is the Iceberg manifest's record_count, free at commit.
    * Column-level stats (NDV/min-max/null_frac) still come only from a
    * real ANALYZE; an analyzed table keeps its columns and refreshes
    * rows/bytes. Best-effort: a stats failure never fails the write. */
  private def publishSizeStats(name: String, v: Int): Unit =
    try {
      val files = dataFiles(versionPath(name, v))
      val rows = files.map(cachedFooterRows(name, _)).sum
      val diskBytes = files.map(_.getLen).sum
      TableStats.noteWriteSize(name, rows, diskBytes)
    } catch { case _: Exception => () }

  // Footer row counts memoized per immutable-file identity: a commit's
  // stats pass re-visits mostly CARRIED files (hard links / metadata-only
  // moves whose basename, length and mtime survive the carry), so without
  // the memo every commit pays an O(table files) footer scan INSIDE the
  // commit's table locks — the measured serializer of concurrent ingest,
  // and quadratic over an append history. Keyed (table, basename, len,
  // mtime) — planner-stat use only (best-effort by contract); row-count
  // paths that feed command tags keep reading footers directly.
  private val footerRowCache = TrieMap[(String, String, Long, Long), Long]()
  private def cachedFooterRows(name: String, f: FileStatus): Long = {
    if (footerRowCache.size > 65536) footerRowCache.clear()
    footerRowCache.getOrElseUpdate(
      (name, f.getPath.getName, f.getLen, f.getModificationTime),
      footerRows(Seq(f.getPath)))
  }

  private val matviewDefs = TrieMap[String, String]()
  /** Plain (non-materialized) SQL views: name -> (PG-SQL definition,
    * column aliases, durable?). Durable views persist in the catalog and
    * re-register on mount; TEMP views live only in this session. The
    * definition is stored in its ORIGINAL PG dialect (pg_views.definition
    * shows what the user wrote) and re-translated at registration time. */
  private case class ViewDef(defn: String, cols: Seq[String], durable: Boolean)
  private val viewDefs = TrieMap[String, ViewDef]()

  /** SQL comments (COMMENT ON TABLE/COLUMN): "relname" or "relname.col" →
    * description, durable in the catalog json, surfaced through
    * pg_description so JDBC getTables REMARKS and psql \d+ answer. */
  val comments = TrieMap[String, String]()

  /** Set or clear (None) a COMMENT ON entry; persists immediately. */
  def setComment(key: String, text: Option[String]): Unit = {
    text match {
      case Some(t) => comments(key) = t
      case None => comments.remove(key)
    }
    persistCatalog()
  }

  /** Metadata of an incrementally-maintained aggregate view (see the
    * incremental-matview section at the bottom of this class). Declared
    * before the catalog-reload initializer below, which restores it.
    * `countAlias`/`sumAliases` carry the view's visible column names;
    * `outCols` pins the column order of the initial build. */
  private case class IvmMeta(base: String, groupCols: Seq[String],
      sumCols: Seq[String], countAlias: String, sumAliases: Seq[String],
      outCols: Seq[String], reflected: Int,
      minCols: Seq[(String, String)] = Nil, maxCols: Seq[(String, String)] = Nil,
      avgCols: Seq[(String, String)] = Nil,
      devCols: Seq[(String, String, String)] = Nil, // (col, alias, stddev|variance)
      where: Option[String] = None, // deterministic row filter (Spark SQL)
      // star-schema form: INNER equi-joins from the fact table (= base) to
      // dim tables, (dim, qualified ON expr). The file diff runs on the
      // FACT table; joins distribute over its file partition, so the delta
      // is Δfact ⋈ dims as long as the dims are unchanged — dimVersions
      // pins the dim versions the view reflects (mismatch → full rebuild).
      joins: Seq[(String, String)] = Nil,
      dimVersions: Map[String, Int] = Map.empty,
      // approx-distinct aggregates: mergeable HLL sketch per group as
      // hidden state (sketches union for adds but cannot retract, so
      // removals force a full rebuild like min/max)
      hllCols: Seq[(String, String)] = Nil)
  private val ivmViews = TrieMap[String, IvmMeta]()

  /** Last-applied streaming batch id per stream key (checkpoint-scoped).
    * Set via [[noteStreamBatch]] BEFORE the append that persists the
    * catalog, so the marker and the appended rows commit atomically: a
    * micro-batch replayed after a crash either sees neither (re-applies)
    * or both (skips) — never a double append. */
  private val streamBatchIds = TrieMap[String, Long]()
  // Per-table write serialization: every version-producing operation
  // (replace/append/upsert/COW/merge/alter) runs under its table's monitor,
  // so two in-process writers can never both compute v(n+1) and race the
  // same directory. Cross-table writes stay concurrent; cross-PROCESS
  // safety is the catalog CAS in persistCatalog.
  private val tableLocks = TrieMap[String, Object]()
  private def withTableLock[T](name: String)(body: => T): T = {
    // every mutation enters through a table lock, so the cross-process
    // lease claim lands here — BEFORE the body reads any catalog state
    // (a lease steal reloads the catalog; version/file-list captures that
    // preceded the reload would carry a dead writer's stale chain)
    ensureLease()
    tableLocks.getOrElseUpdate(name, new Object).synchronized(body)
  }
  // metadata-only schema evolution per table — see the ALTER section below
  private case class Evo(physical: org.apache.spark.sql.types.StructType,
      logical: Seq[(String, String)])
  private val evolution = TrieMap[String, Evo]()
  // declared HERE (not next to inferredSchema): the constructor publishes
  // restored tables below, which reads through the schema cache
  private val dirSchemas =
    TrieMap[String, org.apache.spark.sql.types.StructType]()
  // incremental-index registrations + watermarks — declared ABOVE the
  // catalog restore block (which repopulates them on mount); the API and
  // refresh logic live in their own sections near the end of the file
  private val dedupIndexes = TrieMap[(String, String), (String, String, Double)]()
  private val dedupIndexedVersion = TrieMap[(String, String), Int]()
  private val annIndexes = TrieMap[String, (String, String)]()
  // Declared physical layout per table (sorted / zorder / partitioned /
  // bucketed), recorded by the clustered replace* writers and persisted in
  // the catalog snapshot. The declaration is Iceberg's sort-order /
  // partition-spec table metadata: appends may decay the clustering (the
  // unsorted-tail shape), and VACUUM FULL re-applies the declared layout
  // instead of rewriting the table into an unclustered heap — the
  // rewrite_data_files-with-sort-order maintenance loop a 100 TB clustered
  // fact table lives by. `n` is numBuckets for bucketed (MUST stay fixed —
  // co-located joins key on it); for sorted/zorder the file count is
  // re-derived from current bytes at rewrite time.
  // `specs` (hive layouts only): (source column, transform) pairs — how a
  // DELTA write re-derives each partition dir field from incoming rows.
  // Identity partitioning: (key, "identity"); hidden partitioning: the
  // replaceTransformPartitioned spec (day/bucket[N]/truncate[W]/...).
  private[graft] case class Layout(kind: String, keys: Seq[String], n: Int,
      specs: Seq[(String, String)] = Nil)
  private val layouts = TrieMap[String, Layout]()
  /** Materialize any missing hive partition-dir fields on a delta frame
    * from the layout's specs (identity fields are the column itself). */
  private def withPartitionCols(df: DataFrame, l: Layout): DataFrame =
    l.specs.foldLeft(df) { case (d, (c, t)) =>
      val f = Iceberg.SpecField.fieldName(c, t)
      if (t == "identity" || d.columns.contains(f)) d
      else d.withColumn(f, transformPartitionCol(d, c, t))
    }
  /** Can a delta with `df`'s columns be written under layout `l`'s hive
    * dirs? Every spec's SOURCE column must be present (derived fields are
    * re-computed; identity fields are their own source). */
  private def hiveWritable(df: DataFrame, l: Layout): Boolean =
    l.kind == "partitioned" && l.specs.nonEmpty &&
      l.specs.forall { case (c, _) => df.columns.contains(c) } &&
      l.keys == l.specs.map { case (c, t) => Iceberg.SpecField.fieldName(c, t) }
  /** The table's declared clustering, if any (None = heap). */
  private[graft] def declaredLayout(name: String): Option[Layout] =
    layouts.get(name)
  private val annIndexedVersion = TrieMap[String, Int]()

  private def readBytes(p: HadoopPath): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  private def writeBytes(p: HadoopPath, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Atomic create-if-absent: the warehouse's cross-process CAS primitive.
    * On the local scheme this is O_CREAT|O_EXCL via nio (Hadoop's
    * RawLocalFileSystem.rename REPLACES an existing destination on posix,
    * so rename is NOT a usable cross-process CAS there); on HDFS-like
    * schemes `create(overwrite = false)` is an atomic server-side check;
    * on eventually-listing object stores neither holds and a real
    * multi-writer deployment needs the JDBC catalog's CAS
    * ([[JdbcIcebergCatalog.commitLocation]]) — same division of labor as
    * the reference's PG-backed iceberg catalog. */
  private def exclusiveCreate(p: HadoopPath, bytes: Array[Byte]): Boolean =
    if (isLocalFs) {
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri.getPath),
          bytes, java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try {
        val out = fs.create(p, false)
        try out.write(bytes) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }

  // ---- cross-process writer lease -----------------------------------
  // Every in-JVM concurrency mechanism (txn gates, the pure-insert delta
  // registry, SSI read-set checks, index watermark locks) assumes ONE
  // writer process per warehouse. This lease makes that assumption a
  // checked contract instead of a convention: the first write CLAIMS the
  // warehouse for the whole process (epoch files, exclusive-create CAS),
  // a second process's writes refuse with a clean lock-timeout-shaped
  // error, and a crashed writer's lease is stolen by fencing — the next
  // epoch supersedes it, and the fenced process's later commits fail
  // loudly instead of interleaving (checked around every catalog commit).
  // Liveness: heartbeats refresh the lease file's mtime; a same-host
  // claimant also probes the holder pid so SIGKILL recovery is immediate
  // rather than waiting out the TTL.
  /** Lease staleness bound (ms); tests shrink it to exercise expiry. */
  private[graft] var leaseTtlMs: Long = 15000L
  @volatile private var leaseEpoch: Long = 0L
  @volatile private var leaseLostReason: String = null
  @volatile private var leaseTask: java.util.concurrent.ScheduledFuture[_] = null

  private def leasePath(e: Long) = new HadoopPath(root, s"_lease.e$e.json")

  private def leaseHead(): Option[(Long, FileStatus)] =
    Option(fs.globStatus(new HadoopPath(root, "_lease.e*.json")))
      .getOrElse(Array.empty[FileStatus]).toSeq
      .flatMap { st =>
        st.getPath.getName.stripPrefix("_lease.e").stripSuffix(".json")
          .toLongOption.map(_ -> st)
      }.sortBy(_._1).lastOption

  /** (procNonce, pid, host) of a lease file; None = unreadable (a claim
    * racing its own content write) — treated as live-and-foreign. */
  private def leaseInfo(p: HadoopPath): Option[(String, Long, String)] =
    try {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readBytes(p))
      Some((n.get("proc").asText, n.get("pid").asLong, n.get("host").asText))
    } catch { case _: Exception => None }

  private def leaseBytes(): Array[Byte] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.createObjectNode()
    n.put("proc", Store.procNonce)
    n.put("pid", ProcessHandle.current.pid)
    n.put("host", Store.hostName)
    n.put("ts", System.currentTimeMillis())
    om.writeValueAsBytes(n)
  }

  private def pidAlive(pid: Long): Boolean =
    try ProcessHandle.of(pid).map[java.lang.Boolean](_.isAlive)
      .orElse(java.lang.Boolean.FALSE).booleanValue()
    catch { case _: Exception => true } // unknown => conservative: alive

  private def leaseOwned(e: Long): Unit = {
    leaseEpoch = e
    if (leaseTask == null) {
      val period = math.max(leaseTtlMs / 3, 50L)
      // the task must not pin this Store (it transitively holds the
      // SparkSession — the same retention shape as the old memoized-
      // DataFrame leak): weak ref, self-cancelling once collected. A
      // collected Store can't write, so losing its heartbeats (and
      // eventually the lease) is the correct outcome.
      val ref = new java.lang.ref.WeakReference(this)
      val holder = new java.util.concurrent.atomic.AtomicReference[
        java.util.concurrent.ScheduledFuture[_]]()
      val fut = Store.leaseHeartbeats.scheduleAtFixedRate(
        () => ref.get match {
          case null => Option(holder.get).foreach(_.cancel(false))
          case s => s.leaseHeartbeat()
        },
        period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      holder.set(fut)
      leaseTask = fut
    }
    if (sweepTask == null) {
      // follower-ingest adoption duty comes with the lease: a cheap
      // periodic inbox listing (no-ops in microseconds when `_inbox` is
      // absent), on its own thread so a long adoption can never starve
      // the heartbeats. The flag gate lives in the runnable, not here, so
      // enabling follower ingest at runtime needs no re-claim.
      val period = math.max(confLong("spark.graft.inboxSweepMs", 250L), 20L)
      val ref = new java.lang.ref.WeakReference(this)
      val holder = new java.util.concurrent.atomic.AtomicReference[
        java.util.concurrent.ScheduledFuture[_]]()
      val fut = Store.inboxSweeper.scheduleAtFixedRate(
        () => ref.get match {
          case null => Option(holder.get).foreach(_.cancel(false))
          case s => if (s.followerInsertsEnabled || s.statementForwardingEnabled)
            try s.sweepInbox() catch { case _: Exception => () }
        },
        period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      holder.set(fut)
      sweepTask = fut
    }
  }

  private def leaseHeartbeat(): Unit =
    try {
      // a stopped SparkContext means this process is going away: hand the
      // lease off now (graceful releaseLease is pure fs ops) instead of
      // heartbeating a writer that can no longer run a Spark job
      if (spark.sparkContext.isStopped) { releaseLease(); return }
      val p = leasePath(leaseEpoch)
      try fs.setTimes(p, System.currentTimeMillis(), -1)
      catch { case _: UnsupportedOperationException => writeBytes(p, leaseBytes()) }
    } catch { case _: Exception => () } // best-effort; fencing catches the rest

  /** Claim (or confirm) this PROCESS's exclusive writer lease. Ownership
    * is process-scoped: every Store instance in one JVM shares it (in-JVM
    * write concurrency is the txn layer's job), so per-connection sessions
    * and remount-shaped tests never self-contend. A live foreign lease
    * refuses immediately in PG's lock-timeout shape; a stale (no heartbeat
    * within [[leaseTtlMs]]) or dead-pid lease is fenced by claiming the
    * next epoch. */
  private def ensureLease(reloadOnAcquire: Boolean = true): Unit = {
    if (leaseLostReason != null)
      throw new IllegalStateException(
        s"writer lease lost ($leaseLostReason); this process can no longer " +
          s"commit to warehouse $warehouse")
    if (leaseEpoch > 0L) return
    synchronized {
      if (leaseEpoch > 0L) return
      var attempts = 0
      while (leaseEpoch == 0L) {
        attempts += 1
        if (attempts > 64)
          throw new IllegalStateException(
            s"could not claim the writer lease on $warehouse after $attempts attempts")
        leaseHead() match {
          case None => if (exclusiveCreate(leasePath(1L), leaseBytes())) leaseOwned(1L)
          case Some((e, st)) =>
            val info = leaseInfo(st.getPath)
            if (info.exists(_._1 == Store.procNonce)) leaseOwned(e)
            else {
              val age = System.currentTimeMillis() - st.getModificationTime
              val holderDead = info.exists { case (_, pid, host) =>
                host == Store.hostName && !pidAlive(pid) }
              if (age < leaseTtlMs && !holderDead) {
                val holder = info.map { case (_, pid, host) => s"pid $pid on $host" }
                  .getOrElse("unknown process")
                throw new IllegalStateException(
                  s"canceling statement due to lock timeout on warehouse " +
                    s""""$warehouse" (another writer process holds the lease: """ +
                    s"$holder, epoch $e; this store is single-writer-per-warehouse)")
              }
              if (exclusiveCreate(leasePath(e + 1L), leaseBytes())) leaseOwned(e + 1L)
            }
        }
      }
      // First acquisition in this Store: commits may have landed since our
      // mount (a writer that died after we mounted). Adopt them — refusing
      // to write from a stale catalog is what keeps a takeover from
      // reverting the dead writer's published state.
      val diskSeq = catalogSnapshots().lastOption.map(_._1).getOrElse(0L)
      if (diskSeq > catalogSeq) {
        if (reloadOnAcquire) loadCatalogSnapshot(clear = true)
        else throw new IllegalStateException(
          s"warehouse $warehouse advanced (catalog v$diskSeq > mounted " +
            s"v$catalogSeq) since this process mounted it; remount required")
      }
    }
  }

  /** Graceful writer handoff (rolling deploys): stop heartbeating, delete
    * this process's lease epoch and forget ownership — the next claimant
    * (another process, or this one's next write) takes over immediately,
    * no SIGKILL, no TTL wait. Safe at any point between statements: every
    * later write here simply re-claims (and may now lose to the new
    * holder, which is the point). No-op when this Store never claimed. */
  def releaseLease(): Unit = synchronized {
    if (leaseEpoch > 0L) {
      Option(leaseTask).foreach(_.cancel(false))
      leaseTask = null
      Option(sweepTask).foreach(_.cancel(false))
      sweepTask = null
      try fs.delete(leasePath(leaseEpoch), false)
      catch { case _: Exception => () } // worst case: TTL expiry takes over
      leaseEpoch = 0L
    }
  }

  // ---- multi-process reader freshness ---------------------------------
  // The realistic multi-node serving shape is ONE writer process (lease
  // holder) + N read-only server processes. A reader mounts a snapshot;
  // without this it would never see commits published after its mount.
  @volatile private var lastReaderSync = 0L
  /** Make a READ-ONLY mount follow the warehouse's commit chain: when this
    * process holds no writer lease, reload the catalog if a newer snapshot
    * was published — PG visibility, other sessions' commits appear once
    * committed. Rate-limited (spark.graft.readerSyncMs, default 1000 ms)
    * so hot statement streams don't pay a LIST per statement; in-txn
    * statements never reach here (their version pins must hold). Writer
    * processes skip entirely — the lease holder IS the chain's author.
    * The in-place reload is briefly non-atomic for concurrent readers
    * (TrieMap clear + repopulate); it only runs when the chain actually
    * moved, and every map read below it is individually consistent. */
  def syncReadOnly(): Unit = {
    if (leaseEpoch > 0L || leaseLostReason != null) return
    val interval = spark.conf.getOption("spark.graft.readerSyncMs")
      .flatMap(_.toLongOption).getOrElse(1000L)
    val now = System.currentTimeMillis()
    if (now - lastReaderSync < interval) return
    lastReaderSync = now
    synchronized {
      if (leaseEpoch > 0L) return
      val disk = catalogSnapshots().lastOption.map(_._1).getOrElse(0L)
      if (disk > catalogSeq) loadCatalogSnapshot(clear = true)
    }
  }

  /** Fence check around every catalog commit. Identity, not just epoch:
    * after a graceful [[releaseLease]] a new claimant can legitimately
    * re-use the SAME epoch number (the file was deleted), so a sibling
    * Store that still remembers the old epoch must detect the foreign
    * nonce, and a missing head while we think we own means our lease was
    * released/removed out from under us. An unreadable head AT our epoch
    * is treated as ours (an object-store heartbeat rewrite can be caught
    * mid-flight; a genuine re-claim at our epoch only follows an explicit
    * release). Returns the fencing reason. */
  private def leaseFenced(): Option[String] =
    leaseHead() match {
      case None =>
        if (leaseEpoch > 0L)
          Some("lease file missing (released or removed out of band)")
        else None
      case Some((e, st)) =>
        if (e < leaseEpoch)
          Some(s"lease epoch regressed to $e (ours was released or removed)")
        else leaseInfo(st.getPath) match {
          case Some((proc, pid, host)) if proc != Store.procNonce =>
            if (e == leaseEpoch)
              Some(s"lease epoch $e re-claimed by pid $pid on $host")
            else Some(s"fenced at epoch $e by pid $pid on $host")
          case None if e > leaseEpoch =>
            Some(s"fenced at epoch $e by an unknown process")
          case _ =>
            if (e > leaseEpoch) leaseEpoch = e // sibling Store re-claimed
            None
        }
    }

  private def leaseLost(reason: String): Nothing = {
    leaseLostReason = reason
    Option(leaseTask).foreach(_.cancel(false))
    leaseTask = null
    Option(sweepTask).foreach(_.cancel(false))
    sweepTask = null
    throw new IllegalStateException(
      s"writer lease lost ($reason); this process can no longer commit to " +
        s"warehouse $warehouse")
  }

  // ---- follower ingest: cross-process pure-insert commits ----------------
  // The writer lease makes ONE process the commit-chain author; follower
  // ingest lets every other process still commit pure inserts — the bulk-
  // load shape a multi-node deployment actually needs to scale — without
  // weakening that authorship. A follower spools its delta parquet files
  // plus a manifest into `_inbox/` and waits; the lease holder's sweep
  // ADOPTS pending deltas into the chain. All manifests of one table in a
  // sweep cycle become ONE new version (commit batching: N followers cost
  // one catalog commit, the map-side-combine of commit protocols), and the
  // version registers as a pure-insert delta so in-flight staged
  // transactions merge past it like any other insert.
  //
  // Exactly-once across writer crashes: adoption records every manifest id
  // in the catalog snapshot itself (`inboxDone`), atomically with the
  // version bump it describes — a successor holder that finds an id in the
  // ledger only finishes the acknowledgement, never re-applies the delta.
  // The follower's ack is a separate `<id>.done.json` file written AFTER
  // persistCatalog returned, i.e. after the snapshot survived the
  // post-publish fence check: a third party must never trust a snapshot
  // its author may still retract. Claim files (`<id>.claim.json`,
  // exclusive-create) arbitrate the one genuine race — a follower
  // cancelling its timed-out request vs a holder starting to adopt it.
  // If the holder dies, the waiting follower steals the lease through the
  // existing fencing path and adopts its own manifest. Opt-in
  // (spark.graft.followerInserts): by default a non-holder write keeps the
  // clean lease refusal the single-writer contract pins.
  private def inboxRoot = new HadoopPath(root, "_inbox")
  private val inboxDone = TrieMap[String, Store.InboxDone]()
  private val sweepBusy = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var sweepTask: java.util.concurrent.ScheduledFuture[_] = null

  private def confLong(key: String, dflt: Long): Long =
    spark.conf.getOption(key).flatMap(_.toLongOption).getOrElse(dflt)
  private[graft] def followerInsertsEnabled: Boolean =
    spark.conf.getOption("spark.graft.followerInserts")
      .exists(_.equalsIgnoreCase("true"))

  /** True when this process holds (or can claim) the writer lease; false
    * exactly on the clean "another writer process holds it" refusal — the
    * follower-ingest routing predicate. Fencing ("lease lost") still
    * propagates: a fenced mount must remount, not spool deltas computed
    * from a catalog it knows is stale. */
  private def leaseObtainable(): Boolean =
    try { ensureLease(); true }
    catch {
      case e: IllegalStateException
          if Option(e.getMessage)
            .exists(_.contains("another writer process holds the lease")) =>
        false
    }

  private def jsonOm = new com.fasterxml.jackson.databind.ObjectMapper()

  private def claimBytes(cancel: Boolean): Array[Byte] = {
    val om = jsonOm; val n = om.createObjectNode()
    n.put("proc", Store.procNonce); n.put("pid", ProcessHandle.current.pid)
    n.put("host", Store.hostName); n.put("cancel", cancel)
    n.put("ts", System.currentTimeMillis())
    om.writeValueAsBytes(n)
  }
  /** (proc, pid, host, cancel) of a claim; None = unreadable (a racing
    * claimant's content write) — skip this cycle, reread next. */
  private def claimInfo(p: HadoopPath): Option[(String, Long, String, Boolean)] =
    try {
      val n = jsonOm.readTree(readBytes(p))
      Some((n.get("proc").asText, n.get("pid").asLong, n.get("host").asText,
        Option(n.get("cancel")).exists(_.asBoolean)))
    } catch { case _: Exception => None }

  private def doneBytes(d: Store.InboxDone): Array[Byte] = {
    val om = jsonOm; val n = om.createObjectNode()
    n.put("table", d.table); n.put("version", d.version); n.put("rows", d.rows)
    n.put("ok", d.ok); if (d.err.nonEmpty) n.put("err", d.err)
    if (d.tag.nonEmpty) n.put("tag", d.tag)
    n.put("ts", d.ts)
    om.writeValueAsBytes(n)
  }
  private def readDoneFile(p: HadoopPath): Option[Store.InboxDone] =
    try {
      if (!fs.exists(p)) None
      else {
        val n = jsonOm.readTree(readBytes(p))
        Some(Store.InboxDone(n.get("table").asText, n.get("version").asInt,
          n.get("rows").asLong, n.get("ok").asBoolean,
          Option(n.get("err")).map(_.asText).getOrElse(""),
          Option(n.get("ts")).map(_.asLong).getOrElse(0L),
          Option(n.get("tag")).map(_.asText).getOrElse("")))
      }
    } catch { case _: Exception => None } // racing write; next poll rereads

  /** Spool a pure-insert delta for `name` into the warehouse inbox and
    * wait for the lease holder to adopt it into the commit chain. Returns
    * the appended row count once the adoption's catalog snapshot is
    * published and acknowledged. Routed from [[appendCompacting]] when
    * another process holds the writer lease and follower ingest is on;
    * callable directly (package-private) so single-JVM specs can drive the
    * whole protocol with this process as its own adopter. */
  private[graft] def followerAppend(name: String, df0: DataFrame,
      maxFileBytes: Long = 100L << 20): Long = {
    syncReadOnly()
    if (!exists(name)) forceReaderSync() // created by the writer moments ago?
    require(exists(name), s"no such store table: $name")
    val df = toPhysical(name, df0)
    val id = f"${System.currentTimeMillis()}%013d-${Store.procNonce.take(8)}" +
      f"-${Store.inboxSeq.incrementAndGet()}%04d"
    val dir = new HadoopPath(inboxRoot, id)
    fs.mkdirs(dir)
    // size the delta like the staged-insert path: leaf-capped estimate so
    // a join-inflated plan can't shred a small insert into sliver files
    val targetBytes = math.max(maxFileBytes, 1L << 20)
    val incomingBytes = Tables.cappedPlanBytes(df)
    val est =
      if (incomingBytes > BigInt(1L << 40)) targetBytes else incomingBytes.toLong
    val nParts = math.max(1, math.ceil(est.toDouble / targetBytes).toInt)
    // writeInto keeps a hive-declared table's delta uniformly hive-shaped
    // (key=value subdirs) — the invariant the read path's partition
    // discovery depends on; heap tables write flat, same prefix scheme
    writeInto(df.repartition(nParts), name, dir, s"fwd-$id")
    val files = dataFilesRelative(dir)
    if (files.isEmpty) { fs.delete(dir, true); return 0L } // empty insert
    val rows = footerRows(files.map { case (_, full) => new HadoopPath(full) })
    val om = jsonOm; val n = om.createObjectNode()
    n.put("table", name); n.put("rows", rows)
    n.put("proc", Store.procNonce); n.put("pid", ProcessHandle.current.pid)
    n.put("host", Store.hostName); n.put("ts", System.currentTimeMillis())
    val fa = n.putArray("files")
    files.foreach { case (rel, _) => fa.add(rel) }
    // the manifest goes last: a sweep that sees it sees complete data files
    writeBytes(new HadoopPath(inboxRoot, s"$id.req.json"), om.writeValueAsBytes(n))
    awaitAdoption(name, id, dir)
  }

  private def holderGone(): Boolean = leaseHead() match {
    case None => true
    case Some((_, st)) =>
      val dead = leaseInfo(st.getPath).exists { case (_, pid, host) =>
        host == Store.hostName && !pidAlive(pid) }
      dead || System.currentTimeMillis() - st.getModificationTime >= leaseTtlMs
  }

  private def awaitAdoption(name: String, id: String,
      dir: HadoopPath): Long = {
    val req = new HadoopPath(inboxRoot, s"$id.req.json")
    val d = awaitInboxOutcome(id, req,
      cleanupCancel = () => { fs.delete(req, false); fs.delete(dir, true); () },
      what = s"""follower insert on relation "$name"""")
    finishAdoption(name, d, new HadoopPath(inboxRoot, s"$id.done.json"))
  }

  /** Shared follower-side wait: poll the done file, step up if the writer
    * dies, cancel cleanly on timeout via the claim arbitration, and keep
    * extending the deadline while a claimed execution's owner provably
    * lives. Returns the outcome; throws the lock-timeout or
    * outcome-unknown shapes. */
  private def awaitInboxOutcome(id: String, req: HadoopPath,
      cleanupCancel: () => Unit, what: String): Store.InboxDone = {
    val done = new HadoopPath(inboxRoot, s"$id.done.json")
    val waitMs = confLong("spark.graft.followerWaitMs", 60000L)
    val deadline = System.currentTimeMillis() + waitMs
    var outcome: Option[Store.InboxDone] = None
    var lastLive = 0L
    while (outcome.isEmpty && System.currentTimeMillis() < deadline) {
      outcome = readDoneFile(done)
      if (outcome.isEmpty) {
        val now = System.currentTimeMillis()
        if (now - lastLive >= 500L) {
          lastLive = now
          // writer death: step up through the normal fencing path and
          // adopt our own manifest (plus anything else pending)
          if (leaseEpoch == 0L && leaseLostReason == null && holderGone())
            try ensureLease() catch { case _: IllegalStateException => () }
        }
        if (leaseEpoch > 0L && leaseLostReason == null) {
          sweepInbox()
          outcome = readDoneFile(done)
        }
        if (outcome.isEmpty) Thread.sleep(50L)
      }
    }
    outcome match {
      case Some(d) => d
      case None =>
        // timed out: a cancel claim wins iff no execution claimed first
        val claim = new HadoopPath(inboxRoot, s"$id.claim.json")
        if (exclusiveCreate(claim, claimBytes(cancel = true))) {
          // the execution may have fully completed (its claim cleaned up)
          // in the window before our cancel landed
          readDoneFile(done) match {
            case Some(d) =>
              fs.delete(claim, false)
              d
            case None =>
              cleanupCancel()
              fs.delete(claim, false)
              throw new IllegalStateException(
                "canceling statement due to lock timeout: no writer " +
                  s"process took on $what within $waitMs ms")
          }
        } else {
          // an execution claimed the manifest: wait for its outcome. The
          // deadline EXTENDS while the claimant provably lives (its claim
          // nonce matches a fresh lease head) — a bulk adoption, e.g. an
          // object-store COW carry of a big table, may legitimately
          // outlast one wait budget; a crashed claimant stops extending
          // and is re-claimed by the next writer's sweep, which the
          // step-up path may make us
          var extra = System.currentTimeMillis() + waitMs
          var lastLiveProbe = 0L
          while (outcome.isEmpty && System.currentTimeMillis() < extra) {
            outcome = readDoneFile(done)
            if (outcome.isEmpty) {
              val now2 = System.currentTimeMillis()
              if (now2 - lastLiveProbe >= 2000L) {
                lastLiveProbe = now2
                val claimProc = claimInfo(claim).collect {
                  case (proc, _, _, false) => proc }
                val headAlive = leaseHead().exists { case (_, st) =>
                  now2 - st.getModificationTime < leaseTtlMs &&
                    leaseInfo(st.getPath).map(_._1) == claimProc }
                if (claimProc.nonEmpty && headAlive)
                  extra = now2 + waitMs
              }
              if (leaseEpoch == 0L && leaseLostReason == null && holderGone())
                try ensureLease() catch { case _: IllegalStateException => () }
              if (leaseEpoch > 0L && leaseLostReason == null) sweepInbox()
              if (outcome.isEmpty) Thread.sleep(50L)
            }
          }
          outcome.getOrElse(
            throw new IllegalStateException(
              s"$what was claimed by a writer but its outcome is unknown " +
                "(the writer may have crashed mid-execution; the next " +
                "writer's sweep takes it over or garbage-collects it)"))
        }
    }
  }

  private def finishAdoption(name: String, d: Store.InboxDone,
      done: HadoopPath): Long = {
    try fs.delete(done, false) catch { case _: Exception => () }
    if (!d.ok)
      throw new IllegalStateException(
        s"""follower insert on "$name" refused by the writer: ${d.err}""")
    // read-your-writes: adopt the snapshot carrying our version NOW, not at
    // the next rate-limited reader sync
    if (leaseEpoch == 0L) synchronized {
      if (leaseEpoch == 0L) {
        val disk = catalogSnapshots().lastOption.map(_._1).getOrElse(0L)
        if (disk > catalogSeq) loadCatalogSnapshot(clear = true)
      }
    }
    d.rows
  }

  private def forceReaderSync(): Unit = synchronized {
    if (leaseEpoch > 0L) return
    val disk = catalogSnapshots().lastOption.map(_._1).getOrElse(0L)
    if (disk > catalogSeq) loadCatalogSnapshot(clear = true)
  }

  // ---- statement forwarding: any node accepts autocommit DML -------------
  // Follower ingest moves DATA (pure inserts); statement forwarding moves
  // the STATEMENT: a non-holder process spools one autocommit DML text
  // into `_inbox/<id>.stmt.json`, the lease holder executes it through
  // the normal PgDml path under ITS session, and the command tag comes
  // back through the same claim/done/ledger protocol. Exactly-once: the
  // executing writer marks the id into the SAME catalog snapshot as the
  // statement's commit (pendingStmtLedger is drained by persistCatalog on
  // the executing thread), so a crash-successor finishes the ack and
  // never re-executes. Contract: data-plane DML only — the statement runs
  // under the writer's session defaults (timezone, GUCs), no RETURNING,
  // no transaction blocks; PgDml's router enforces the shape.
  private val pendingStmtLedger = new ThreadLocal[String]()
  private[graft] def statementForwardingEnabled: Boolean =
    spark.conf.getOption("spark.graft.statementForwarding")
      .exists(_.equalsIgnoreCase("true"))
  /** Is a transaction staging bound on this thread? (Forwarding is
    * autocommit-only: a txn's statements must all run on one engine.) */
  private[graft] def stagingActive: Boolean = staging() != null

  /** Spool one autocommit DML statement for execution by the lease holder
    * and wait for its outcome; returns the command tag. */
  private[graft] def forwardStatement(sql: String): String = {
    val id = f"${System.currentTimeMillis()}%013d-${Store.procNonce.take(8)}" +
      f"-${Store.inboxSeq.incrementAndGet()}%04d"
    val om = jsonOm; val n = om.createObjectNode()
    n.put("sql", sql)
    n.put("proc", Store.procNonce); n.put("pid", ProcessHandle.current.pid)
    n.put("host", Store.hostName); n.put("ts", System.currentTimeMillis())
    fs.mkdirs(inboxRoot)
    val req = new HadoopPath(inboxRoot, s"$id.stmt.json")
    writeBytes(req, om.writeValueAsBytes(n))
    val d = awaitInboxOutcome(id, req,
      cleanupCancel = () => { fs.delete(req, false); () },
      what = "this forwarded statement")
    try fs.delete(new HadoopPath(inboxRoot, s"$id.done.json"), false)
    catch { case _: Exception => () }
    if (!d.ok)
      throw new IllegalStateException(
        s"forwarded statement refused by the writer: ${d.err}")
    // read-your-writes before returning the tag
    if (leaseEpoch == 0L) forceReaderSync()
    if (d.tag.nonEmpty) d.tag
    else throw new IllegalStateException(
      "the forwarded statement committed, but its command tag was lost " +
        "to a writer crash; verify the effect before retrying")
  }

  /** Holder side: execute one claimed forwarded statement and acknowledge
    * with its command tag (or the error). */
  private def executeForwarded(id: String, sql: String): Unit = {
    val now = System.currentTimeMillis()
    pendingStmtLedger.set(id)
    val outcome =
      try {
        PgDml.execute(spark, this, sql) match {
          case Some(PgDialect.Command(tag)) =>
            Store.InboxDone("", 0, 0L, ok = true, "", now, tag)
          case Some(_) =>
            Store.InboxDone("", 0, 0L, ok = false,
              "forwarded statements cannot return rows " +
                "(RETURNING and queries are not forwardable)", now)
          case None =>
            Store.InboxDone("", 0, 0L, ok = false,
              "not a forwardable DML statement", now)
        }
      } catch {
        case e: Exception =>
          // OUR shutdown or fencing: leave the claim for a successor —
          // a fenced process's retracted commit can survive via the
          // claimant's reload, so an error ack here could contradict an
          // effect that actually landed
          if (spark.sparkContext.isStopped || leaseLostReason != null) throw e
          Store.InboxDone("", 0, 0L, ok = false,
            Option(e.getMessage).getOrElse(e.getClass.getName), now)
      } finally pendingStmtLedger.remove()
    // the mid-statement persist may have recorded the mark without the
    // tag; upgrade the in-memory entry so OUR ack carries the real tag.
    // On failure drop any mark — a failed single-publish statement left
    // no commit, and the error ack below is the outcome of record.
    if (outcome.ok) inboxDone(id) = outcome else inboxDone.remove(id)
    ackOne(id, outcome)
  }

  /** One adoption cycle: claim every pending manifest, adopt them grouped
    * by table (one version + one catalog commit per table per cycle),
    * acknowledge, and garbage-collect abandoned artifacts. Holder-only;
    * non-reentrant (periodic task and a follower's direct step-up call can
    * overlap). */
  private[graft] def sweepInbox(): Unit = {
    if (leaseEpoch == 0L || leaseLostReason != null) return
    // a stopping process must not take on new adoptions: its Spark jobs
    // throw, and turning ITS shutdown into a refusal verdict killed an
    // innocent follower's statement (found by the chaos soak)
    if (spark.sparkContext.isStopped) return
    if (!sweepBusy.compareAndSet(false, true)) return
    try {
      val reqs = Option(fs.globStatus(new HadoopPath(inboxRoot, "*.req.json")))
        .getOrElse(Array.empty[FileStatus]).toSeq.sortBy(_.getPath.getName)
      val claimed = reqs.flatMap(st => claimOne(st.getPath))
      claimed.groupBy(_.table).toSeq.sortBy(_._1).foreach { case (t, ms) =>
        try adoptBatch(t, ms)
        catch {
          case e: Exception =>
            // shutdown or fencing mid-adoption: leave the claim — a
            // fenced process's retracted commit may still SURVIVE via the
            // claimant's reload (ledger and all), so a refusal here could
            // contradict a commit that actually happened; the successor's
            // ledger check or claim takeover resolves it either way. Only
            // a genuine adoption failure becomes the follower's error.
            if (!spark.sparkContext.isStopped && leaseLostReason == null) {
              val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              ms.foreach(m => ackOne(m.id,
                Store.InboxDone(t, 0, 0L, ok = false, msg,
                  System.currentTimeMillis())))
            }
        }
      }
      // forwarded statements execute AFTER delta adoptions, in id (≈ FIFO)
      // order; each statement is its own claim + ledger entry
      Option(fs.globStatus(new HadoopPath(inboxRoot, "*.stmt.json")))
        .getOrElse(Array.empty[FileStatus]).toSeq.sortBy(_.getPath.getName)
        .foreach { st =>
          val id = st.getPath.getName.stripSuffix(".stmt.json")
          if (claimManifest(id)) {
            val sql =
              try Some(jsonOm.readTree(readBytes(st.getPath)).get("sql").asText)
              catch { case _: Exception => None } // racing enqueue
            sql.foreach(executeForwarded(id, _))
          }
        }
      gcInbox()
    } finally sweepBusy.set(false)
  }

  /** Claim arbitration for inbox manifest `id`: true when THIS process
    * now holds the claim. A ledger hit (a predecessor crashed between its
    * catalog commit and the ack) finishes the acknowledgement instead —
    * never re-applies; follower cancels and dead claimants are resolved
    * exactly as before. */
  private def claimManifest(id: String): Boolean = {
    val claim = new HadoopPath(inboxRoot, s"$id.claim.json")
    inboxDone.get(id) match {
      case Some(d) => ackOne(id, d); return false
      case None =>
    }
    if (exclusiveCreate(claim, claimBytes(cancel = false))) return true
    claimInfo(claim) match {
      case Some((proc, pid, host, cancel)) =>
        val dead = host == Store.hostName && !pidAlive(pid)
        if (proc == Store.procNonce) true // our crashed sweep: resume
        else if (cancel && dead) { cleanupInbox(id); false }
        else if (cancel) false // the follower is cleaning up its timeout
        else if (dead) {
          // a dead previous holder's claim: take it over (the ledger check
          // above already ruled out a completed-but-unacked adoption)
          fs.delete(claim, false)
          exclusiveCreate(claim, claimBytes(cancel = false))
        } else false // a live fenced holder: its publish retracts, or its
                     // done ledger reaches us via the chain — next sweep
      case None => false // unreadable mid-write; next sweep
    }
  }

  private def claimOne(req: HadoopPath): Option[Store.InboxReq] = {
    val id = req.getName.stripSuffix(".req.json")
    if (!claimManifest(id)) return None
    try {
      val n = jsonOm.readTree(readBytes(req))
      Some(Store.InboxReq(id, n.get("table").asText, n.get("rows").asLong,
        n.get("files").asScala.toSeq.map(_.asText)))
    } catch { case _: Exception => None } // racing enqueue; next sweep
  }

  /** Adopt every claimed manifest of `name` as ONE new pure-insert version:
    * carry the current files, link each delta in, register the union as an
    * insert delta, and write the `inboxDone` ledger entries in the same
    * catalog snapshot as the version bump. */
  private def adoptBatch(name: String, ms: Seq[Store.InboxReq]): Unit =
    withWriteLock(name) {
      def refuse(why: String): Unit = {
        val now = System.currentTimeMillis()
        ms.foreach(m => ackOne(m.id, Store.InboxDone(name, 0, 0L, ok = false,
          why, now)))
      }
      if (!versions.contains(name)) { refuse(s"no such store table: $name"); return }
      if (layouts.get(name).exists(_.kind == "bucketed")) {
        refuse(s"""table "$name" is bucketed; follower ingest supports """ +
          "heap and hive-partitioned tables only"); return
      }
      val hive = layouts.get(name).filter(_.kind == "partitioned")
      val phys = currentEvo(name).physical
      // hive data FILES omit the partition key columns (they live in the
      // key=value dir names), so the file-level schema contract excludes
      // them; heap tables compare the full physical schema
      val keySet = hive.map(_.keys.toSet).getOrElse(Set.empty[String])
      val want = phys.fields.filterNot(f => keySet.contains(f.name))
        .map(f => (f.name, f.dataType)).toSet
      // precise per-manifest verdicts: a refusal kills the follower's
      // statement, so it must say exactly WHAT failed, and a transient
      // read hiccup gets one retry before it becomes a verdict
      def verdict(m: Store.InboxReq): Option[String] = {
        val src = new HadoopPath(inboxRoot, m.id)
        if (m.files.isEmpty) return Some("manifest lists no delta files")
        // layout-shape contract BEFORE the data is touched: a flat file
        // beside hive dirs makes Spark's partition discovery drop paths
        // silently, so a shape mismatch (stale follower layout view) must
        // refuse loudly here
        if (hive.isDefined && m.files.exists(!_.contains("/")))
          return Some(s"""table "$name" is hive-partitioned but the delta """ +
            s"has flat files (${m.files.filterNot(_.contains("/")).take(2)
              .mkString(", ")}); the follower's layout view may be stale")
        if (hive.isEmpty && m.files.exists(_.contains("/")))
          return Some(s"""table "$name" is unpartitioned but the delta has """ +
            "partition subdirs; the follower's layout view may be stale")
        val missing = m.files.filter(nm =>
          try !fs.exists(new HadoopPath(src, nm))
          catch { case _: Exception => true })
        if (missing.nonEmpty)
          return Some(s"delta files missing from the inbox: " +
            missing.take(3).mkString(", "))
        // hive: one LEAF file read (no partition inference — dir-borne key
        // columns are not in the files, by design); heap: whole-dir read
        def readSchema() = {
          val target =
            if (hive.isDefined) new HadoopPath(src, m.files.head).toString
            else src.toString
          spark.read.parquet(target).schema
            .fields.map(f => (f.name, f.dataType)).toSet
        }
        val got =
          try readSchema()
          catch { case _: Exception =>
            Thread.sleep(100L)
            try readSchema()
            catch { case e2: Exception =>
              // OUR shutdown, not the delta's fault: bubble up so the
              // sweep leaves the claim for a successor instead of acking
              if (spark.sparkContext.isStopped) throw e2
              return Some(s"delta unreadable: ${e2.getClass.getSimpleName} " +
                Option(e2.getMessage).getOrElse("").take(300))
            }
          }
        if (got != want)
          Some(s"delta schema ${got.toSeq.sortBy(_._1).mkString("[", ",", "]")} " +
            s"does not match table \"$name\" physical schema " +
            want.toSeq.sortBy(_._1).mkString("[", ",", "]") +
            " (the follower's catalog view may be stale)")
        else None
      }
      val judged = ms.map(m => (m, verdict(m)))
      val good = judged.collect { case (m, None) => m }
      val now = System.currentTimeMillis()
      judged.foreach { case (m, why) => why.foreach(w =>
        ackOne(m.id, Store.InboxDone(name, 0, 0L, ok = false, w, now))) }
      if (good.isEmpty) return
      val next = nextVersion(name)
      val cur = versionPath(name, next - 1)
      val dir = freshVersionDir(name, next)
      dataFiles(cur).foreach(f => carryFileRel(cur, f.getPath, dir))
      good.foreach { m =>
        val src = new HadoopPath(inboxRoot, m.id)
        m.files.foreach { rel =>
          val dst = new HadoopPath(dir, rel)
          if (rel.contains("/")) fs.mkdirs(dst.getParent)
          carryTo(new HadoopPath(src, rel), dst)
        }
      }
      // heap deltas register for the gateless staged-insert merge (file
      // basenames); hive deltas don't — clustered tables keep the gate
      // path for transactions, and the merge links by basename only
      publishVersion(name, next,
        if (hive.isDefined) null else good.flatMap(_.files))
      good.foreach(m => inboxDone(m.id) =
        Store.InboxDone(name, next, m.rows, ok = true, "", now))
      commitWrite(name) // catalog commit: version bump + ledger, atomically
      good.foreach(m => ackOne(m.id, inboxDone(m.id)))
    }

  /** Acknowledge one manifest: done file first (the follower's signal),
    * then remove the request, claim and delta dir. Safe to repeat. */
  private def ackOne(id: String, d: Store.InboxDone): Unit = {
    writeBytes(new HadoopPath(inboxRoot, s"$id.done.json"), doneBytes(d))
    cleanupInbox(id, keepDone = true)
  }
  private def cleanupInbox(id: String, keepDone: Boolean = false): Unit = {
    try {
      fs.delete(new HadoopPath(inboxRoot, s"$id.req.json"), false)
      fs.delete(new HadoopPath(inboxRoot, s"$id.stmt.json"), false)
      fs.delete(new HadoopPath(inboxRoot, s"$id.claim.json"), false)
      fs.delete(new HadoopPath(inboxRoot, id), true)
      if (!keepDone)
        fs.delete(new HadoopPath(inboxRoot, s"$id.done.json"), false)
      ()
    } catch { case _: Exception => () } // next sweep's gc retries
  }

  /** One-row operational snapshot for the `graft_warehouse_stats` catalog
    * view: who authors this warehouse's commit chain (the lease head),
    * what THIS process's role is (writer / reader / fenced), how far the
    * catalog has advanced, and whether follower deltas await adoption. */
  def warehouseStats: Seq[(String, String, Long, Long, String, Long, Long, Boolean)] = {
    val head = leaseHead()
    val info = head.flatMap { case (_, st) => leaseInfo(st.getPath) }
    val role =
      if (leaseLostReason != null) "fenced"
      else if (leaseEpoch > 0L) "writer"
      else "reader"
    val pending =
      try Option(fs.globStatus(new HadoopPath(inboxRoot, "*.req.json")))
        .map(_.length.toLong).getOrElse(0L)
      catch { case _: Exception => 0L }
    Seq((warehouse, role, head.map(_._1).getOrElse(0L),
      info.map(_._2).getOrElse(0L), info.map(_._3).getOrElse(""),
      catalogSeq, pending, followerInsertsEnabled))
  }

  /** Bounded housekeeping for abandoned inbox artifacts: uncollected done
    * files (their follower crashed) and manifest-less delta dirs (a
    * follower died mid-enqueue) expire after the ledger TTL. */
  private def gcInbox(): Unit = {
    val ttl = confLong("spark.graft.inboxDoneTtlMs", 900000L)
    val now = System.currentTimeMillis()
    Option(fs.globStatus(new HadoopPath(inboxRoot, "*.done.json")))
      .getOrElse(Array.empty[FileStatus])
      .filter(st => now - st.getModificationTime > ttl)
      .foreach(st => try fs.delete(st.getPath, false)
        catch { case _: Exception => () })
    // a corrupt statement manifest (follower died mid-write) would loop
    // the sweep's claim-parse forever: unreadable past the TTL → cleanup
    Option(fs.globStatus(new HadoopPath(inboxRoot, "*.stmt.json")))
      .getOrElse(Array.empty[FileStatus])
      .filter(st => now - st.getModificationTime > ttl)
      .foreach { st =>
        val readable =
          try jsonOm.readTree(readBytes(st.getPath)).get("sql") != null
          catch { case _: Exception => false }
        if (!readable)
          cleanupInbox(st.getPath.getName.stripSuffix(".stmt.json"))
      }
    // manifest-less delta dirs and abandoned spool tmp dirs (a follower
    // died mid-enqueue); the TTL keeps an in-flight slow spool safe
    Option(fs.globStatus(new HadoopPath(inboxRoot, "*")))
      .getOrElse(Array.empty[FileStatus])
      .filter(st => st.isDirectory &&
        now - st.getModificationTime > ttl &&
        !fs.exists(new HadoopPath(inboxRoot, s"${st.getPath.getName}.req.json")))
      .foreach(st => try fs.delete(st.getPath, true)
        catch { case _: Exception => () })
  }

  // ---- catalog durability ------------------------------------------------
  // The reference keeps its catalog (table pointers + matview definitions)
  // in a PG JDBC database (iceberg_catalog.go); here the same durability is
  // a JSON snapshot in the warehouse root, committed as a NEW immutable
  // `_catalog.v{seq}.json` object per mutation (the Iceberg
  // version-file/commit shape): no overwrite, no rename-over — the commit
  // is visible the instant the new object is, which holds on object stores
  // where rename is copy+delete. Readers take the highest sequence; a
  // crashed or restarted process sees every table and matview again.
  private def catalogSnapshots(): Seq[(Long, HadoopPath)] =
    Option(fs.globStatus(new HadoopPath(root, "_catalog.v*.json")))
      .getOrElse(Array.empty[FileStatus]).toSeq
      .flatMap { st =>
        val n = st.getPath.getName.stripPrefix("_catalog.v").stripSuffix(".json")
        n.toLongOption.map(_ -> st.getPath)
      }.sortBy(_._1)

  private var catalogSeq: Long = 0L

  private def persistCatalog(): Unit = synchronized {
    // cross-process safety: only the lease-holding process may commit, and
    // a fenced writer must find out HERE, not corrupt the snapshot chain.
    // No reload on acquisition here: callers already folded this commit
    // into the in-memory maps, so a reload would drop it — the loud
    // remount-required error is the safe degradation.
    ensureLease(reloadOnAcquire = false)
    leaseFenced().foreach(leaseLost)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rootNode = om.createObjectNode()
    val vs = rootNode.putObject("versions")
    versions.toSeq.sortBy(_._1).foreach { case (k, v) => vs.put(k, v) }
    val mv = rootNode.putObject("matviews")
    matviewDefs.toSeq.sortBy(_._1).foreach { case (k, d) => mv.put(k, d) }
    val ivm = rootNode.putObject("ivm")
    ivmViews.toSeq.sortBy(_._1).foreach { case (k, m) =>
      val o = ivm.putObject(k)
      o.put("base", m.base)
      o.put("reflected", m.reflected)
      o.put("group", m.groupCols.mkString(","))
      o.put("sums", m.sumCols.mkString(","))
      o.put("countAlias", m.countAlias)
      o.put("sumAliases", m.sumAliases.mkString(","))
      o.put("outCols", m.outCols.mkString(","))
      o.put("mins", m.minCols.map { case (c, a) => s"$c:$a" }.mkString(","))
      o.put("maxs", m.maxCols.map { case (c, a) => s"$c:$a" }.mkString(","))
      o.put("avgs", m.avgCols.map { case (c, a) => s"$c:$a" }.mkString(","))
      o.put("devs", m.devCols.map { case (c, a, k) => s"$c:$a:$k" }.mkString(","))
      o.put("hlls", m.hllCols.map { case (c, a) => s"$c:$a" }.mkString(","))
      m.where.foreach(o.put("where", _))
      if (m.joins.nonEmpty) {
        val ja = o.putArray("joins")
        m.joins.foreach { case (dim, on) =>
          val jo = ja.addObject(); jo.put("dim", dim); jo.put("on", on) }
        val dv = o.putObject("dimVersions")
        m.dimVersions.toSeq.sortBy(_._1).foreach { case (d, v) => dv.put(d, v) }
      }
    }
    val vw = rootNode.putObject("views")
    viewDefs.toSeq.filter(_._2.durable).sortBy(_._1).foreach { case (k, d) =>
      val o = vw.putObject(k)
      o.put("defn", d.defn)
      if (d.cols.nonEmpty) o.put("cols", d.cols.mkString(","))
    }
    val sb = rootNode.putObject("streamBatches")
    streamBatchIds.toSeq.sortBy(_._1).foreach { case (k, v) => sb.put(k, v) }
    val cm = rootNode.putObject("comments")
    comments.toSeq.sortBy(_._1).foreach { case (k, v) => cm.put(k, v) }
    val da = rootNode.putObject("dirAliases")
    dirAliases.toSeq.sortBy(x => (x._1._1, x._1._2)).foreach { case ((t, v), d) =>
      da.put(s"$t/$v", d) }
    val di = rootNode.putObject("dedupIdx")
    dedupIndexes.toSeq.sortBy(_._1).foreach { case ((t, fam), (idC, valC, tau)) =>
      val o = di.putObject(s"$t/$fam")
      o.put("idCol", idC); o.put("valCol", valC); o.put("tau", tau)
      o.put("ver", dedupIndexedVersion.getOrElse((t, fam), 0))
    }
    val ai = rootNode.putObject("annIdx")
    annIndexes.toSeq.sortBy(_._1).foreach { case (t, (idC, vecC)) =>
      val o = ai.putObject(t)
      o.put("idCol", idC); o.put("vecCol", vecC)
      o.put("ver", annIndexedVersion.getOrElse(t, 0))
    }
    val lo = rootNode.putObject("layouts")
    layouts.toSeq.sortBy(_._1).foreach { case (t, l) =>
      val o = lo.putObject(t)
      o.put("kind", l.kind); o.put("keys", l.keys.mkString(",")); o.put("n", l.n)
      if (l.specs.nonEmpty)
        o.put("specs", l.specs.map { case (c, tr) => s"$c:$tr" }.mkString(","))
    }
    val ev = rootNode.putObject("evo")
    evolution.toSeq.sortBy(_._1).foreach { case (t, e) =>
      val o = ev.putObject(t)
      o.put("physical", e.physical.json)
      val la = o.putArray("logical")
      e.logical.foreach { case (p, l) =>
        val x = la.addArray(); x.add(p); x.add(l); () }
    }
    // follower-ingest exactly-once ledger: adopted manifest ids ride in the
    // same snapshot as the version bumps they describe. TTL-pruned — an
    // entry only matters until its follower collects the ack or a
    // successor holder finishes a crashed acknowledgement.
    locally {
      val ttl = confLong("spark.graft.inboxDoneTtlMs", 900000L)
      val nowMs = System.currentTimeMillis()
      // never prune an entry whose request file still exists: the ledger
      // is what stops a successor's sweep from re-applying a crashed-ack
      // adoption, however late that sweep runs (e.g. the flag was off)
      inboxDone.filterInPlace((id, d) => nowMs - d.ts <= ttl ||
        (try fs.exists(new HadoopPath(inboxRoot, s"$id.req.json"))
         catch { case _: Exception => true }))
      // a forwarded statement in flight ON THIS THREAD marks itself into
      // the same snapshot as the commit it produces — the crash-successor
      // reads the mark and never re-executes (tag stays empty: the row
      // count died with the writer, the effect did not)
      Option(pendingStmtLedger.get).foreach { id =>
        if (!inboxDone.contains(id))
          inboxDone(id) = Store.InboxDone("", 0, 0L, ok = true, "",
            System.currentTimeMillis())
      }
      val ib = rootNode.putObject("inboxDone")
      inboxDone.toSeq.sortBy(_._1).foreach { case (id, d) =>
        val o = ib.putObject(id)
        o.put("table", d.table); o.put("version", d.version)
        o.put("rows", d.rows); o.put("ok", d.ok)
        if (d.err.nonEmpty) o.put("err", d.err)
        if (d.tag.nonEmpty) o.put("tag", d.tag)
        o.put("ts", d.ts)
      }
    }
    val bytes = om.writerWithDefaultPrettyPrinter.writeValueAsBytes(rootNode)
    // Two-step publish per sequence: (1) CLAIM the sequence number with an
    // exclusive-create `.lock` — the cross-process CAS (posix rename
    // silently replaces, so rename alone cannot arbitrate two processes
    // picking the same fresh name); (2) tmp-write + rename the `.json`
    // into the claimed slot — content atomicity for readers, now
    // contention-free. A crash between the steps orphans a lock; the
    // sequence floor below skips past both jsons AND locks so claimants
    // never spin on a dead claim.
    def seqFloor(): Long = {
      val locks = Option(fs.globStatus(new HadoopPath(root, "_catalog.v*.lock")))
        .getOrElse(Array.empty[FileStatus]).toSeq
        .flatMap(_.getPath.getName.stripPrefix("_catalog.v")
          .stripSuffix(".lock").toLongOption)
      (catalogSnapshots().map(_._1) ++ locks).maxOption.getOrElse(0L)
    }
    var committed: HadoopPath = null
    var attempts = 0
    while (committed == null) {
      catalogSeq += 1
      val lock = new HadoopPath(root, s"_catalog.v$catalogSeq.lock")
      if (!exclusiveCreate(lock, Array.emptyByteArray)) {
        attempts += 1
        if (attempts >= 50)
          throw new java.io.IOException(
            s"catalog commit failed: no free sequence after $attempts claims")
        catalogSeq = math.max(catalogSeq, seqFloor())
      } else {
        val tmp = new HadoopPath(root, s"._catalog-$catalogSeq.tmp")
        writeBytes(tmp, bytes)
        val dst = new HadoopPath(root, s"_catalog.v$catalogSeq.json")
        if (fs.rename(tmp, dst)) committed = dst
        else {
          // we hold the claim, so a refused rename means the json slot is
          // occupied WITHOUT a lock (a pre-lock-era warehouse or manual
          // tampering) — treat it like a lost claim: resync past and retry
          fs.delete(tmp, false)
          attempts += 1
          if (attempts >= 50)
            throw new java.io.IOException(s"catalog commit failed: $dst")
          catalogSeq = math.max(catalogSeq, seqFloor())
        }
      }
    }
    // Post-publish fence check: a claimant fences, THEN reloads the
    // catalog — so a commit it cannot have seen must not survive. If a
    // higher foreign epoch appeared while this commit was in flight,
    // retract the snapshot and fail loudly (the claimant either reloaded
    // after our rename and adopted it, or never saw it; both are
    // consistent once it is retracted here).
    leaseFenced().foreach { reason =>
      fs.delete(committed, false)
      leaseLost(reason)
    }
    // GC superseded snapshots and their claim locks (keep a couple for
    // forensic/raced readers)
    val gone = catalogSnapshots().dropRight(2)
    gone.foreach { case (s, p) =>
      fs.delete(p, false)
      fs.delete(new HadoopPath(root, s"_catalog.v$s.lock"), false)
    }
    // superseded lease epochs are dead weight too (keep the predecessor)
    Option(fs.globStatus(new HadoopPath(root, "_lease.e*.json")))
      .getOrElse(Array.empty[FileStatus]).toSeq
      .flatMap(_.getPath.getName.stripPrefix("_lease.e")
        .stripSuffix(".json").toLongOption)
      .filter(_ < leaseEpoch - 1)
      .foreach(e => fs.delete(leasePath(e), false))
  }

  locally { loadCatalogSnapshot(clear = false) }

  /** (Re)load the durable catalog snapshot into the in-memory maps.
    * `clear = true` is the lease-steal reload: a process that fenced a
    * dead writer must adopt every commit that writer published after this
    * process mounted — state the snapshot fully owns is dropped first so
    * tables the dead writer dropped don't resurrect; non-durable session
    * views survive. */
  private def loadCatalogSnapshot(clear: Boolean): Unit = synchronized {
    if (clear) {
      versions.clear(); matviewDefs.clear(); ivmViews.clear()
      streamBatchIds.clear(); dirAliases.clear(); dedupIndexes.clear()
      dedupIndexedVersion.clear(); annIndexes.clear(); annIndexedVersion.clear()
      layouts.clear(); evolution.clear(); comments.clear()
      viewDefs.filterInPlace { case (_, d) => !d.durable }
      committedInsertDeltas.clear()
      inboxDone.clear()
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val legacy = new HadoopPath(root, "_catalog.json")
    // A reader following a HOT foreign writer can list a snapshot that two
    // later commits garbage-collect before the read lands (the GC keeps 2).
    // Re-list and retry: the head it finds next is strictly newer, so this
    // terminates, and a retracted head (post-publish fence) degrades to the
    // predecessor the same way.
    var latest = catalogSnapshots().lastOption
    var bytes: Option[Array[Byte]] = None
    var attempts = 0
    while (bytes.isEmpty && latest.nonEmpty && attempts < 5) {
      attempts += 1
      try bytes = latest.map { case (_, p) => readBytes(p) }
      catch { case _: java.io.FileNotFoundException =>
        latest = catalogSnapshots().lastOption
      }
    }
    latest.foreach { case (seq, _) => catalogSeq = seq }
    if (bytes.isEmpty)
      bytes = if (fs.exists(legacy)) Some(readBytes(legacy)) else None
    bytes.foreach { bs =>
      val rootNode = om.readTree(bs)
      rootNode.get("versions").fields.asScala.foreach(e => versions(e.getKey) = e.getValue.asInt)
      rootNode.get("matviews").fields.asScala.foreach(e => matviewDefs(e.getKey) = e.getValue.asText)
      Option(rootNode.get("ivm")).foreach(_.fields.asScala.foreach { e =>
        val o = e.getValue
        def cols(f: String) =
          o.get(f).asText.split(",").toSeq.filter(_.nonEmpty)
        def pairs(f: String): Seq[(String, String)] =
          Option(o.get(f)).map(_.asText).getOrElse("").split(",").toSeq
            .filter(_.contains(":")).map { kv =>
              val Array(c, a) = kv.split(":", 2); (c, a) }
        val devs = Option(o.get("devs")).map(_.asText).getOrElse("")
          .split(",").toSeq.filter(_.count(_ == ':') == 2).map { kv =>
            val Array(c, a, k) = kv.split(":", 3); (c, a, k) }
        val joins = Option(o.get("joins")).map(_.asScala.toSeq.map(j =>
          (j.get("dim").asText, j.get("on").asText))).getOrElse(Nil)
        val dimVersions = Option(o.get("dimVersions")).map(_.fields.asScala
          .map(f => f.getKey -> f.getValue.asInt).toMap).getOrElse(Map.empty[String, Int])
        ivmViews(e.getKey) = IvmMeta(o.get("base").asText,
          cols("group"), cols("sums"), o.get("countAlias").asText,
          cols("sumAliases"), cols("outCols"), o.get("reflected").asInt,
          pairs("mins"), pairs("maxs"), pairs("avgs"), devs,
          Option(o.get("where")).map(_.asText).filter(_.nonEmpty),
          joins, dimVersions, pairs("hlls"))
      })
      Option(rootNode.get("streamBatches")).foreach(_.fields.asScala.foreach(e =>
        streamBatchIds(e.getKey) = e.getValue.asLong))
      Option(rootNode.get("dirAliases")).foreach(_.fields.asScala.foreach { e =>
        val Array(t, v) = e.getKey.split("/", 2)
        dirAliases((t, v.toInt)) = e.getValue.asText
      })
      Option(rootNode.get("inboxDone")).foreach(_.fields.asScala.foreach { e =>
        val o = e.getValue
        inboxDone(e.getKey) = Store.InboxDone(o.get("table").asText,
          o.get("version").asInt, o.get("rows").asLong, o.get("ok").asBoolean,
          Option(o.get("err")).map(_.asText).getOrElse(""),
          o.get("ts").asLong,
          Option(o.get("tag")).map(_.asText).getOrElse(""))
      })
      Option(rootNode.get("dedupIdx")).foreach(_.fields.asScala.foreach { e =>
        val Array(t, fam) = e.getKey.split("/", 2)
        val o = e.getValue
        dedupIndexes((t, fam)) =
          (o.get("idCol").asText, o.get("valCol").asText, o.get("tau").asDouble)
        dedupIndexedVersion((t, fam)) = o.get("ver").asInt
      })
      Option(rootNode.get("annIdx")).foreach(_.fields.asScala.foreach { e =>
        val o = e.getValue
        annIndexes(e.getKey) = (o.get("idCol").asText, o.get("vecCol").asText)
        annIndexedVersion(e.getKey) = o.get("ver").asInt
      })
      Option(rootNode.get("layouts")).foreach(_.fields.asScala.foreach { e =>
        val o = e.getValue
        val keys = o.get("keys").asText.split(",").toSeq.filter(_.nonEmpty)
        val specs = Option(o.get("specs")).map(_.asText).getOrElse("")
          .split(",").toSeq.filter(_.contains(":")).map { kv =>
            val Array(c, t) = kv.split(":", 2); (c, t) }
        layouts(e.getKey) = Layout(o.get("kind").asText, keys, o.get("n").asInt,
          // legacy snapshots lack specs: identity partitioning is the shape
          // replacePartitioned records, synthesize it
          if (specs.nonEmpty || o.get("kind").asText != "partitioned") specs
          else keys.map((_, "identity")))
      })
      Option(rootNode.get("evo")).foreach(_.fields.asScala.foreach { e =>
        val o = e.getValue
        evolution(e.getKey) = Evo(
          org.apache.spark.sql.types.DataType.fromJson(o.get("physical").asText)
            .asInstanceOf[org.apache.spark.sql.types.StructType],
          o.get("logical").asScala.toSeq.map(a =>
            (a.get(0).asText, a.get(1).asText)))
      })
      Option(rootNode.get("views")).foreach(_.fields.asScala.foreach { e =>
        val o = e.getValue
        viewDefs(e.getKey) = ViewDef(o.get("defn").asText,
          Option(o.get("cols")).map(_.asText.split(",").toSeq.filter(_.nonEmpty))
            .getOrElse(Nil), durable = true)
      })
      Option(rootNode.get("comments")).foreach(_.fields.asScala.foreach(e =>
        comments(e.getKey) = e.getValue.asText))
      // every catalog table (not just matviews) is SQL-resolvable, like the
      // reference's runtime shell tables (query_remapper_table.go:141-178)
      versions.keys.foreach(publish)
      // views re-register after every base table is published (a view's
      // bases may themselves be store tables); failures degrade per-view
      // (a view over a table this mount no longer has costs that view only)
      registerViews()
    }
  }

  private def sharedVersionDir(name: String, v: Int): String =
    dirAliases.get((name, v)) match {
      case Some(d) => s"$root/$name/$d"
      case None => s"$root/$name/v$v"
    }
  /** Version-dir resolution, staged-overlay-aware: on a thread with a bound
    * staging context, a staged table's versions ABOVE its base resolve to
    * the txn-private dirs; everything else (other tables, versions at or
    * below the base — time travel) resolves the shared chain. */
  private def versionDir(name: String, v: Int): String = {
    val st = staging()
    if (st != null) st.tables.get(name) match {
      case Some(e) if v > e.base => return stagedPath(st.id, name, v).toString
      case _ =>
    }
    sharedVersionDir(name, v)
  }
  private def versionPath(name: String, v: Int): HadoopPath =
    new HadoopPath(versionDir(name, v))

  /** Open version dir `next` for a carry-based write. The catalog pointer
    * says `next` was never published, so an existing directory can only be
    * a crash orphan (a writer died between its data write and the catalog
    * commit); cleared first, or its ghost files would silently merge into
    * this version's carried file set — phantom rows after recovery. The
    * Overwrite-mode replace paths clear implicitly; every carryFile path
    * must come through here. */
  private def freshVersionDir(name: String, next: Int): HadoopPath = {
    // refuse BEFORE the heavy data write, not just at catalog publish
    ensureLease()
    val dir = versionPath(name, next)
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    dir
  }
  private def tablePath(name: String): HadoopPath = new HadoopPath(root, name)

  /** Staged-overlay-aware: a table with staged writes on this thread
    * exists for the txn's own statements even before COMMIT publishes it
    * (every other thread sees only the shared map). */
  def exists(name: String): Boolean =
    versions.contains(name) || stagedHere(name)

  /** Mark `batchId` as applied for `streamKey` in memory only — the marker
    * becomes durable on the NEXT catalog commit (i.e. the append it guards),
    * making marker+rows atomic. Roll back with [[restoreStreamBatch]] if
    * that append throws before committing. */
  def noteStreamBatch(streamKey: String, batchId: Long): Unit =
    streamBatchIds(streamKey) = batchId

  /** Roll the in-memory marker back to `prev` (the value before
    * [[noteStreamBatch]]) — callers must first confirm the guarded append
    * did NOT commit (table version unchanged); a blind clear after a
    * throw-after-commit would let an in-session retry double-append. */
  def restoreStreamBatch(streamKey: String, prev: Option[Long]): Unit =
    prev match {
      case Some(v) => streamBatchIds(streamKey) = v
      case None => streamBatchIds.remove(streamKey)
    }

  /** Drop a marker outright (e.g. one from a dead incarnation of a
    * recreated checkpoint dir). Durable on the next catalog commit. */
  def dropStreamBatch(streamKey: String): Unit =
    streamBatchIds.remove(streamKey)

  def streamBatchKeys: Seq[String] = streamBatchIds.keys.toSeq

  /** Set a marker AND commit the catalog now — for progress markers that
    * must become durable without a guarded table write to ride (e.g. the
    * change-feed follower's applied-version watermark, committed after its
    * idempotent apply). */
  def commitStreamBatch(streamKey: String, batchId: Long): Unit = synchronized {
    streamBatchIds(streamKey) = batchId
    persistCatalog()
  }

  def lastStreamBatch(streamKey: String): Option[Long] =
    streamBatchIds.get(streamKey)

  def read(name: String): DataFrame = {
    val df = readRaw(name)
    // an avg-maintaining matview stores hidden __ivm_* state columns
    // (per-avg sum + non-null count) alongside the visible result; the
    // public surface never shows them
    val visible = df.columns.filterNot(_.startsWith("__ivm_"))
    if (visible.length == df.columns.length) df
    else df.select(visible.map(c => col(s"`$c`")): _*)
  }

  /** Stored bytes as-is, hidden IVM state included (refresh merge input).
    * An ALTERed table surfaces its LOGICAL schema: files are read under
    * the physical union schema (absent columns null-fill) and projected
    * through the rename/drop mapping. */
  private def readRaw(name: String): DataFrame = evoGet(name) match {
    case None =>
      val d = versionDir(name, curVersion(name))
      spark.read.schema(inferredSchema(d)).parquet(d)
    case Some(e) =>
      spark.read.schema(e.physical).parquet(versionDir(name, curVersion(name)))
        .select(e.logical.map { case (p, l) => col(s"`$p`").as(l) }.toSeq: _*)
  }

  /** Parquet schema per version dir, inferred ONCE. A schema-less
    * spark.read.parquet launches a footer-inference job on every call —
    * pure scheduler overhead a busy server would pay per statement, since
    * a version dir is immutable after publish. drop()/rename purge a
    * table's entries: a re-created table reuses the same paths with a
    * possibly different schema. */
  private def inferredSchema(dir: String): org.apache.spark.sql.types.StructType =
    dirSchemas.getOrElseUpdate(dir,
      try spark.read.parquet(dir).schema
      catch { case e: org.apache.spark.sql.AnalysisException =>
        // a truncated hive version has zero data files; its schema was
        // persisted beside them at write time (restart-safe)
        val marker = new HadoopPath(dir, "_schema.json")
        if (fs.exists(marker))
          org.apache.spark.sql.types.DataType
            .fromJson(new String(readBytes(marker),
              java.nio.charset.StandardCharsets.UTF_8))
            .asInstanceOf[org.apache.spark.sql.types.StructType]
        else throw e
      })
  private def invalidateSchemas(name: String): Unit = {
    val prefix = s"$root/$name/"
    dirSchemas.keysIterator.filter(_.startsWith(prefix)).toSeq
      .foreach(dirSchemas.remove)
  }

  def currentVersion(name: String): Int = versions(name)

  /** Snapshot (time-travel) read: every publish writes a NEW version dir
    * and old dirs stay immutable, so any prior version remains readable —
    * the Iceberg snapshot-read analog (iceberg snapshots keep data files
    * alive until expiry; here version dirs play that role). */
  def readVersion(name: String, v: Int): DataFrame = {
    require(fs.exists(versionPath(name, v)), s"table $name has no version $v")
    val d = versionDir(name, v)
    spark.read.schema(inferredSchema(d)).parquet(d)
  }

  /** (table, version) behind a store-owned version-dir path, if `p` is one.
    * Drives the transaction snapshot rebind (PgDialect.bindTxnReads): an
    * analyzed plan's parquet relations are matched back to their table +
    * version by path alone — CTEs, aliases, quoting, views and subqueries
    * have all been resolved away by the analyzer at that point. */
  private[graft] def parseVersionDir(p: HadoopPath): Option[(String, Int)] = {
    val q = fs.makeQualified(p).toString
    val prefix = root.toString + "/"
    if (!q.startsWith(prefix)) None
    else q.substring(prefix.length).split("/") match {
      case Array(t, v) if v.matches("v\\d+") && exists(t) =>
        Some((t, v.drop(1).toInt))
      case Array(t, d) if d.matches("\\.txn.+-v\\d+") && exists(t) =>
        // Staged/aliased dirs carry their version in the name (`.txn<id>-
        // v<N>`, stagedDirName): on object-store schemes a committed
        // version STAYS in its staged dir (commitStaging records an alias
        // instead of a byte-copying rename), and a txn's own staged writes
        // bind these dirs directly — both must map back to (table, version)
        // or RR pinning and read-own-writes silently skip the table.
        Some((t, d.substring(d.lastIndexOf("-v") + 2).toInt))
      case _ => None
    }
  }

  /** Snapshot read under an EXPLICIT schema — the txn rebind keeps the
    * original relation's schema so upstream attribute references stay
    * valid; files missing a later-added column null-fill (the same
    * union-schema contract the evolution reader uses). */
  private[graft] def readVersionAs(name: String, v: Int,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(versionDirChecked(name, v))

  /** Resolved dir of a committed version, existence-checked — the loud
    * "expired" error instead of a confusing empty scan. */
  private[graft] def versionDirChecked(name: String, v: Int): String = {
    val d = versionDir(name, v)
    require(fs.exists(new HadoopPath(d)),
      s"version $v of $name has been expired")
    d
  }

  /** Register and return a session view over `name` at snapshot version
    * `v` — the FROM … FOR VERSION AS OF surface
    * (PgDialect.rewriteTimeTravel). Registered UNCONDITIONALLY on every
    * call: a cached registration could outlive a drop/re-create of the
    * table (version counters restart) or collide with another Store on
    * the same session — the warehouse tag in the name disambiguates
    * stores, the re-registration guarantees the view points at THIS
    * store's (immutable) version dir, and readVersion fails loudly if the
    * snapshot no longer exists. */
  def snapshotView(name: String, v: Int): String = {
    val tag = Integer.toHexString(root.toString.hashCode)
    val vn = s"${name}__asof_${tag}_v$v"
    readVersion(name, v).createOrReplaceTempView(vn)
    vn
  }

  /** Highest version of `name` committed at or before `ts` (version-dir
    * commit time) — the FOR TIMESTAMP AS OF resolution. */
  def versionAt(name: String, ts: java.sql.Timestamp): Int = {
    require(exists(name), s"unknown table $name")
    val at = (0 to versions(name))
      .filter(v => fs.exists(versionPath(name, v)))
      .filter(v => fs.getFileStatus(versionPath(name, v))
        .getModificationTime <= ts.getTime)
    require(at.nonEmpty, s"table $name has no snapshot at or before $ts")
    at.max
  }

  /** Row-level change feed between two committed snapshots (the Delta CDF /
    * Iceberg changelog analog): inserts = rows present at `toVersion` but
    * not at `fromVersion`, deletes = the reverse, tagged in a
    * `_change_type` column; an updated row appears as its delete+insert
    * pair. Bag semantics (exceptAll), so duplicate rows retract
    * one-for-one.
    *
    * Cost is O(changed files), NOT O(table): version dirs share unchanged
    * files by name (appendCompacting carries them; COW DML rewrites only
    * hit files), so only the file-level symmetric difference is ever read
    * and the row-level exceptAll runs over just those files' rows — the
    * same delta-bounding the incremental matview refresh rides. The feed
    * describes the visible surface: hidden __ivm_* state columns are
    * projected out, and an ALTERed table's files on BOTH sides are read
    * under the physical union schema and projected through the
    * rename/drop mapping (physical column names are stable across
    * versions — rename/drop are metadata-only — so one mapping serves
    * every snapshot), exactly like [[readRaw]]. A diff whose two sides
    * genuinely disagree on schema (the table was `replace`d with a new
    * shape) is refused. */
  def readChanges(name: String, fromVersion: Int, toVersion: Int): DataFrame = {
    val fromDir = versionPath(name, fromVersion)
    val toDir = versionPath(name, toVersion)
    require(fs.exists(fromDir), s"table $name has no version $fromVersion")
    require(fs.exists(toDir), s"table $name has no version $toVersion")
    val fromFiles = dataFilesRelative(fromDir)
    val toFiles = dataFilesRelative(toDir)
    val fromNames = fromFiles.map(_._1).toSet
    val toNames = toFiles.map(_._1).toSet
    val added = toFiles.collect { case (rel, p) if !fromNames(rel) => p }
    val removed = fromFiles.collect { case (rel, p) if !toNames(rel) => p }
    lastChangeFiles = (added.size + removed.size, toFiles.size)
    val evo = evolution.get(name)
    def sideSchema(paths: Seq[String], dir: HadoopPath) =
      if (paths.isEmpty) None
      else Some(spark.read.option("basePath", fs.makeQualified(dir).toString)
        .parquet(paths: _*).schema)
    val physSchema = evo.map(_.physical).getOrElse {
      val sides = Seq(sideSchema(added, toDir), sideSchema(removed, fromDir)).flatten
      if (sides.distinct.size > 1) throw new IllegalArgumentException(
        s"change feed for $name spans a schema change " +
          s"(v$fromVersion -> v$toVersion); read the snapshots individually")
      sides.headOption.getOrElse(readVersion(name, toVersion).schema)
    }
    def readDelta(paths: Seq[String], dir: HadoopPath): DataFrame = {
      val raw =
        if (paths.isEmpty) spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), physSchema)
        else spark.read.option("basePath", fs.makeQualified(dir).toString)
          .schema(physSchema).parquet(paths: _*)
      val mapped = evo match {
        case None => raw
        case Some(e) =>
          raw.select(e.logical.map { case (p, l) => col(s"`$p`").as(l) }.toSeq: _*)
      }
      val cols = mapped.columns.filterNot(_.startsWith("__ivm_"))
      if (cols.length == mapped.columns.length) mapped
      else mapped.select(cols.map(c => col(s"`$c`")): _*)
    }
    val addedDf = readDelta(added, toDir)
    val removedDf = readDelta(removed, fromDir)
    addedDf.exceptAll(removedDf).withColumn("_change_type", lit("insert"))
      .unionByName(
        removedDf.exceptAll(addedDf).withColumn("_change_type", lit("delete")))
  }

  /** Changes from `fromVersion` up to the table's current version. */
  def changesSince(name: String, fromVersion: Int): DataFrame =
    readChanges(name, fromVersion, versions(name))

  /** (changed files read, files in the newer version) of the last
    * [[readChanges]] — observability for specs pinning the O(delta) cost. */
  @volatile private[graft] var lastChangeFiles: (Int, Int) = (0, 0)

  /** The current version's parquet data files, stat-listed once. */
  /** Every data file under a version dir, RECURSIVE: hive-partitioned
    * layouts keep their files in key=value subdirs, and a non-recursive
    * listing silently enumerated such a version as EMPTY — every carry,
    * footer count, planner stat and prune over a partitioned table saw
    * zero files (the r12 partitioned-write-path corruption class). Flat
    * dirs have no subdirs, so recursion is behavior-identical there. */
  private def dataFiles(dir: HadoopPath): Seq[FileStatus] = {
    // manual walk, NOT fs.listFiles(dir, recursive=true): the located-
    // status iterator stats every file again for block locations, which
    // measured ~3x the per-txn cost of the staged-insert path (ingest
    // scaling collapsed 2.96x -> 1.0x). A flat version dir pays exactly
    // one listStatus — identical to the non-recursive original.
    val buf = scala.collection.mutable.ArrayBuffer[FileStatus]()
    def walk(d: HadoopPath): Unit =
      fs.listStatus(d).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) buf += st
      }
    walk(dir)
    buf.sortBy(_.getPath.toString).toSeq
  }

  /** Min/max-pruned range scan: parquet footer stats on `key` decide which
    * data files can contain [lo, hi] before Spark ever lists them — the
    * Iceberg manifest-pruning analog, same stats the upsert path uses.
    * Returns (filtered frame, files scanned, files total); at 100 TB the
    * win is skipping whole files, not just row groups. */
  def readRange(name: String, key: String, lo: Any, hi: Any): (DataFrame, Int, Int) = {
    val cur = versionPath(name, curVersion(name))
    val stats = fileStats(cur, physicalName(name, key))
    val lon = normKey(lo)
    val hin = normKey(hi)
    def overlaps(range: Option[(Any, Any)]): Boolean = range match {
      case None => true // no stats: must scan
      case Some((flo, fhi)) =>
        keyOrdering.compare(flo, hin) <= 0 && keyOrdering.compare(fhi, lon) >= 0
    }
    val hit =
      try stats.filter { case (_, r) => overlaps(r) }.map(_._1)
      catch { case _: ClassCastException => stats.map(_._1) }
    val base =
      if (hit.isEmpty) read(name).limit(0)
      else readLogicalFiles(name, hit.map(_.toString))
    (base.filter(col(key) >= lit(lo) && col(key) <= lit(hi)), hit.length, stats.length)
  }

  /** Atomic replace: write v(n+1), then flip the pointer. */
  def replace(name: String, df: DataFrame,
      maxFileBytes: Long = 100L << 20): Unit = withWriteLock(name) {
    // `_inbox` is the follower-ingest protocol directory at the warehouse
    // root; every table-creation path funnels through replace, so this is
    // the one choke point that keeps a table dir from shadowing it
    require(name != "_inbox", "\"_inbox\" is reserved for follower ingest")
    // version allocation FIRST: its lease claim may reload the catalog on
    // a takeover, which must precede this statement's metadata mutations
    // (evoClear / layout drop) or the reload would silently undo them
    val next = nextVersion(name)
    evoClear(name) // full rewrite: new files define the schema baseline
    // a declared clustering SURVIVES a plain full refresh (it is table
    // metadata, like Iceberg's sort order — the data may drift, VACUUM
    // FULL restores it) unless the new schema dropped the columns it
    // derives from (hive specs check their SOURCE columns: a transform
    // table's dir fields are computed, never in the logical frame)
    layouts.get(name).foreach { l =>
      val sources =
        if (l.kind == "partitioned" && l.specs.nonEmpty) l.specs.map(_._1)
        else l.keys
      if (!sources.forall(df.columns.contains)) layouts.remove(name)
    }
    layouts.get(name).filter(hiveWritable(df, _)) match {
      case Some(l) =>
        // a hive-declared table's FULL REFRESH keeps the hive shape: every
        // version dir of a partitioned table is uniformly partitioned (a
        // flat version would make the next delta append a mixed layout)
        val hdf = withPartitionCols(df, l)
        hdf.write.mode(SaveMode.Overwrite)
          .option("compression", "zstd")
          .partitionBy(l.keys: _*).parquet(versionDir(name, next))
        // an EMPTY hive write (TRUNCATE) lands zero data files and zero
        // partition dirs — persist the schema beside them or the next
        // read's inference has nothing to infer from
        val vd = new HadoopPath(versionDir(name, next))
        if (dataFiles(vd).isEmpty)
          writeBytes(new HadoopPath(vd, "_schema.json"),
            hdf.schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case None =>
        df.write.mode(SaveMode.Overwrite).option("compression", "zstd")
          .parquet(versionDir(name, next))
    }
    // Post-write cap verification, same contract as appendCompacting: the
    // incoming partitioning decides the initial file count, and for WIDE
    // rows (binary media payloads) a narrow-partitioned input lands files
    // far over the 100 MB cap the reference enforces on every batch file.
    // Re-split only the files that overshoot by >1.5x, by MEASURED bytes.
    val dir = new HadoopPath(versionDir(name, next))
    val over = dataFiles(dir).filter(_.getLen > maxFileBytes * 3 / 2)
    if (over.nonEmpty) {
      val overBytes = over.map(_.getLen).sum
      val needed = math.max(1, math.ceil(overBytes.toDouble / maxFileBytes).toInt)
      // basePath: a hive write keeps partition values in dir names
      val re = spark.read.option("basePath", fs.makeQualified(dir).toString)
        .schema(df.schema).parquet(over.map(_.getPath.toString): _*)
      writeInto(re.repartition(needed), name, dir, s"capped-$next")
      over.foreach(f => fs.delete(f.getPath, false))
    }
    publishVersion(name, next)
    commitWrite(name)
  }

  /** Range-partitioned, sorted-within-partition replace: every output file
    * covers a tight, non-overlapping key range, which turns the footer
    * min/max pruning in [[readRange]] / upsert into near-perfect file
    * skipping (the Iceberg sort-order + manifest-stats combination). Use
    * for tables whose hot filter is a range on `key` — at 100 TB a point
    * or range query then touches O(range / file-span) files, not all. */
  def replaceSorted(name: String, df: DataFrame, key: String, numFiles: Int): Unit = withWriteLock(name) {
    evoClear(name) // full rewrite: new files define the schema baseline
    val next = nextVersion(name)
    df.repartitionByRange(numFiles, col(key))
      .sortWithinPartitions(key)
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(versionDir(name, next))
    layouts(name) = Layout("sorted", Seq(key), numFiles)
    publishVersion(name, next)
    commitWrite(name)
  }

  /** Z-order clustered replace: rows are laid out along a Morton curve over
    * `keys` (each key linearly scaled to 16-bit buckets from its min/max,
    * bits interleaved), range-partitioned and sorted by the interleaved
    * key. Every output file then covers a TIGHT range in every key
    * simultaneously, so footer/manifest min-max pruning works for range
    * predicates on ANY of the keys — the multi-column answer where a plain
    * sort only prunes its leading column (Iceberg/Delta expose the same
    * z-order clustering in their rewrite procedures). Cost: one extra
    * min/max aggregate (a 2-row driver hop) + the same range shuffle a
    * sorted write pays. */
  def replaceZOrdered(name: String, df: DataFrame, keys: Seq[String], numFiles: Int): Unit = withWriteLock(name) {
    evoClear(name) // full rewrite: new files define the schema baseline
    require(keys.size >= 2, "z-order needs at least two keys")
    val aggs = keys.flatMap(k =>
      Seq(min(col(k)).cast("double"), max(col(k)).cast("double")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val BITS = 16
    val scaled = keys.zipWithIndex.map { case (k, i) =>
      val lo = bounds.getDouble(2 * i)
      val hi = bounds.getDouble(2 * i + 1)
      val span = math.max(hi - lo, 1e-12)
      // bucket in [0, 2^BITS)
      least(lit((1 << BITS) - 1), greatest(lit(0),
        floor((col(k).cast("double") - lit(lo)) / lit(span) * lit(1 << BITS))))
        .cast("long")
    }
    // interleave: output bit (b * nKeys + j) = bit b of key j
    val n = keys.size
    val zkey = (0 until BITS).flatMap { b =>
      scaled.zipWithIndex.map { case (s, j) =>
        shiftleft(shiftright(s, b).bitwiseAND(lit(1L)), b * n + j)
      }
    }.reduce((a, c) => a.bitwiseOR(c))
    val next = nextVersion(name)
    df.withColumn("__zkey", zkey)
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(versionDir(name, next))
    layouts(name) = Layout("zorder", keys, numFiles)
    publishVersion(name, next)
    commitWrite(name)
  }

  /** Replace with hive-style partition directories on `partitionCols` —
    * scans with a partition-key predicate prune whole directories
    * (PartitionFilters in the physical plan). Cluster-scale analog of
    * Iceberg hidden partitioning; the reference leaves tables unpartitioned
    * (roadmap item), so this is a beyond-parity scale feature. */
  def replacePartitioned(name: String, df: DataFrame, partitionCols: String*): Unit = withWriteLock(name) {
    evoClear(name) // full rewrite: new files define the schema baseline
    val next = nextVersion(name)
    df.write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .partitionBy(partitionCols: _*)
      .parquet(versionDir(name, next))
    layouts(name) = Layout("partitioned", partitionCols, 0,
      partitionCols.map(c => (c, "identity")))
    publishVersion(name, next)
    commitWrite(name)
  }

  /** Bucketed replace: pays one hash shuffle at write time to pin a fixed
    * bucket layout on `key`, so every later join or aggregation on `key`
    * between same-bucketed tables runs with ZERO exchanges — the 100 TB
    * pattern for fact tables that are repeatedly joined on the same key
    * (Iceberg bucket-transform partitioning / storage-partitioned joins are
    * the cluster-side equivalent). Registers in the session catalog because
    * bucket metadata lives there, not in the files. */
  def replaceBucketed(name: String, df: DataFrame, key: String, numBuckets: Int): Unit = withWriteLock(name) {
    evoClear(name) // full rewrite: new files define the schema baseline
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    // clear any plain temp view published for this name (e.g. by a catalog
    // reload before the bucketed registration existed): the catalog table
    // must win resolution
    spark.catalog.dropTempView(name)
    // saveAsTable registers a session-catalog table IMMEDIATELY — there is
    // no invisible staging for catalog metadata, so refuse inside a txn
    require(staging() == null,
      "bucketed replace cannot run inside a transaction block")
    val next = nextVersion(name)
    df.write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("path", versionDir(name, next))
      .bucketBy(numBuckets, key).sortBy(key)
      .saveAsTable(name)
    layouts(name) = Layout("bucketed", Seq(key), numBuckets)
    publishVersion(name, next)
    persistCatalog()
  }

  def append(name: String, df: DataFrame): Unit = withWriteLock(name) {
    if (!exists(name)) replace(name, df)
    else replace(name, read(name).unionByName(df))
  }

  /** Append with small-file compaction (iceberg_table_writer.go:231-302):
    * data files already at/above `maxFileBytes` are carried into the new
    * version untouched (a metadata-only move on an object store); the small
    * tail files are read back and rewritten TOGETHER with the incoming rows.
    * Steady-state incremental syncs therefore keep O(total/maxFileBytes)
    * files instead of one sliver per batch — at 100 TB this is the
    * difference between thousands and millions of manifest entries.
    *
    * Returns the number of INCOMING rows appended, computed from parquet
    * footers INSIDE the table lock (rows written this version minus the
    * compacted small-file rows). The DML command tag uses this directly: a
    * before/after rowCountFast delta outside the lock would count a
    * concurrent session's insert/delete into this session's tag. */
  def appendCompacting(name: String, df0: DataFrame,
      maxFileBytes: Long = 100L << 20,
      txnConcurrent: Boolean = true): Long = {
    // A transaction's plain INSERT takes the GATELESS pure-delta path: no
    // write-gate claim (concurrent insert txns and updaters proceed, PG
    // row-lock semantics), no small-file compaction (the delta must stay
    // pure so COMMIT can merge it past a moved base; the shared-chain
    // autocommit path keeps compacting), delta files named by txn id so
    // merged dirs never collide. ON CONFLICT passes txnConcurrent=false:
    // its conflict check is only sound while the base is gate-frozen.
    // clustered layouts stay on the gate path: a hive delta is carried by
    // relative path (the merge machinery carries registered deltas by
    // basename), and a bucketed append demotes the catalog registration —
    // both need the gate-frozen base
    val clustered = layouts.get(name)
      .exists(l => l.kind == "partitioned" || l.kind == "bucketed")
    val insertPath = staging() != null && txnConcurrent && !clustered
    // follower ingest accepts heap tables AND hive-partitioned tables
    // whose delta carries the partition source columns (the 100 TB
    // bulk-ingest norm); bucketed tables stay writer-only (bucket
    // metadata lives in the session catalog, not the files)
    def followerWritable: Boolean = layouts.get(name) match {
      case None => true
      case Some(l) => l.kind == "partitioned" && hiveWritable(toPhysical(name, df0), l)
    }
    if (insertPath) appendStagedInsert(name, df0, maxFileBytes)
    // follower ingest (opt-in): an autocommit pure insert from a process
    // that is NOT the warehouse's writer spools its delta to the inbox and
    // waits for the lease holder's adoption instead of refusing — the
    // multi-node bulk-load shape. Everything else (DDL, updates, txn
    // writes, bucketed layouts, table creation) keeps the clean refusal.
    else if (staging() == null && txnConcurrent &&
        followerInsertsEnabled && exists(name) && followerWritable &&
        !leaseObtainable())
      followerAppend(name, df0, maxFileBytes)
    else withWriteLock(name)(appendBody(name, df0, maxFileBytes, insertPath = false))
  }

  /** Staged pure-insert append with the table lock held only for the
    * metadata edges: slot allocation (base capture + staged version number
    * + DDL-guard registration) and the staged-chain publish. The parquet
    * write job itself runs OUTSIDE the lock — every staged dir is
    * txn-private, the carried base files come from an immutable version
    * dir, and the staging context is thread-bound, so concurrent insert
    * transactions' data writes genuinely parallelize instead of queuing on
    * the per-table monitor (same-table ingest scales with clients; the
    * bench's ingest block measures it). Registering the staged name BEFORE
    * the write also closes the DDL window: DROP/RENAME's foreign-staging
    * wait now covers a first in-flight insert, not only published ones. */
  private def appendStagedInsert(name: String, df0: DataFrame,
      maxFileBytes: Long): Long = {
    val st = staging()
    val (dir, next, baseFiles, df) = withTableLock(name) {
      if (!exists(name)) { replace(name, df0); return rowCountFast(name) }
      val df = toPhysical(name, df0)
      val cur = versionPath(name, curVersion(name))
      val files = dataFiles(cur)
      val next = nextVersion(name)
      st.stagedNames.add(name)
      (freshVersionDir(name, next), next, files, df)
    }
    baseFiles.foreach(f => carryFile(f.getPath, dir))
    val targetBytes = math.max(maxFileBytes, 1L << 20)
    // leaf-capped: a join-inflated estimate below the absurdity cutoff
    // would still shred a small insert into hundreds of near-empty files
    val incomingBytes = Tables.cappedPlanBytes(df)
    val est =
      if (incomingBytes > BigInt(1L << 40)) targetBytes else incomingBytes.toLong
    val nParts = math.max(1, math.ceil(est.toDouble / targetBytes).toInt)
    val prefix = s"ins-${st.id}-$next"
    writeInto(df.repartition(nParts), name, dir, prefix)
    var writtenFiles = dataFiles(dir)
      .filter(_.getPath.getName.startsWith(s"$prefix-"))
    val writtenRows = footerRows(writtenFiles.map(_.getPath))
    // post-write size verification, BOTH directions — same contract as
    // appendBody: oversized files violate the cap; a shredded write (an
    // estimate far above the actual output — selective stat-less joins)
    // leaves hundreds of near-empty files that tax every later scan's
    // listing and footer reads
    val writtenBytes = writtenFiles.map(_.getLen).sum
    val wantFiles = math.max(1,
      math.ceil(writtenBytes.toDouble / targetBytes).toInt)
    if (writtenBytes > writtenFiles.length.toLong * targetBytes * 3 / 2 ||
        (writtenFiles.length > 8 && writtenFiles.length > 4 * wantFiles)) {
      val needed = math.max(1,
        math.ceil(writtenBytes.toDouble / targetBytes).toInt)
      val re = spark.read.schema(df.schema)
        .parquet(writtenFiles.map(_.getPath.toString): _*)
      val rePrefix = s"insr-${st.id}-$next"
      writeInto(re.repartition(needed), name, dir, rePrefix)
      writtenFiles.foreach(f => fs.delete(f.getPath, false))
      writtenFiles = dataFiles(dir)
        .filter(_.getPath.getName.startsWith(s"$rePrefix-"))
    }
    withTableLock(name) {
      publishVersion(name, next, writtenFiles.map(_.getPath.getName))
      commitWrite(name)
    }
    writtenRows
  }
  private def appendBody(name: String, df0: DataFrame, maxFileBytes: Long,
      insertPath: Boolean): Long = {
    if (!exists(name)) { replace(name, df0); return rowCountFast(name) }
    val df = toPhysical(name, df0) // ALTERed tables: files stay physical
    val cur = versionPath(name, curVersion(name))
    val files = dataFiles(cur)
    // hive layouts: carry EVERYTHING and write only the (partitioned)
    // delta — the small-file union below reads leaf files flat, which
    // would null the dir-borne partition columns. VACUUM FULL is the
    // compactor for clustered tables (layout-preserving rewrite).
    val hive = layouts.get(name).exists(_.kind == "partitioned")
    val (full, small) =
      if (insertPath || hive) (files, Seq.empty[FileStatus])
      else files.partition(_.getLen >= maxFileBytes)
    val next = nextVersion(name)
    val dir = freshVersionDir(name, next)
    full.foreach(f => carryFileRel(cur, f.getPath, dir))
    val tail =
      if (small.isEmpty) df
      else spark.read.schema(df.schema)
        .parquet(small.map(_.getPath.toString): _*).unionByName(df)
    // The compacted tail is sized to ~maxFileBytes output files, written by
    // that many parallel tasks — a coalesce(1) here would funnel the whole
    // tail + batch through one task (serial choke at the reference's 1 GB
    // batch cap). Catalyst plan stats give the incoming byte estimate; an
    // absurd estimate (stats unknown → 8 EiB default) falls back to one
    // target file's worth.
    val smallBytes = small.map(_.getLen).sum
    val incomingBytes = Tables.cappedPlanBytes(df) // leaf-capped join inflation
    val targetBytes = math.max(maxFileBytes, 1L << 20)
    val est = smallBytes +
      (if (incomingBytes > BigInt(1L << 40)) targetBytes else incomingBytes.toLong)
    val nParts = math.max(1, math.ceil(est.toDouble / targetBytes).toInt)
    val compactedRows = footerRows(small.map(_.getPath))
    // delta files carry the txn id on the insert path: two txns staged
    // from the same base write the same version NUMBER, and their deltas
    // must coexist by name in a merged commit dir
    val prefix =
      if (insertPath) s"ins-${staging().id}-$next" else s"compacted-$next"
    writeInto(tail.repartition(nParts), name, dir, prefix)
    var writtenFiles = dataFiles(dir)
      .filter(_.getPath.getName.startsWith(s"$prefix-"))
    val writtenRows = footerRows(writtenFiles.map(_.getPath))
    // Post-write cap verification: plan stats can under-estimate WIDE rows
    // badly — a LocalRelation prices BinaryType at its 100-byte
    // defaultSize, so a 64 KB media payload is 640x under and the write
    // above lands in far too few, far too large files. The cap is a
    // CONTRACT (the reference hard-caps batch files; downstream readers
    // and manifest math assume it), so re-split by MEASURED on-disk bytes
    // when the output overshoots by >1.5x. The opposite miss matters too:
    // an estimate far ABOVE the actual output (stat-less selective joins)
    // shreds the write into near-empty files that tax every later scan's
    // listing and footer reads — re-coalesce when the file count runs >4x
    // what measured bytes need. One extra pass over only the miswritten
    // output, never the carried files, and only when the estimate was
    // wrong.
    val writtenBytes = writtenFiles.map(_.getLen).sum
    val wantFiles = math.max(1,
      math.ceil(writtenBytes.toDouble / targetBytes).toInt)
    if (writtenBytes > writtenFiles.length.toLong * targetBytes * 3 / 2 ||
        // hive exempt from the shred guard: one file per partition dir is
        // the layout's natural shape, and a re-coalesce can't reduce it
        (!hive && writtenFiles.length > 8 &&
          writtenFiles.length > 4 * wantFiles)) {
      val needed = math.max(1, math.ceil(writtenBytes.toDouble / targetBytes).toInt)
      // basePath: hive delta files keep partition values in dir names
      val re = spark.read
        .option("basePath", fs.makeQualified(dir).toString)
        .schema(df.schema)
        .parquet(writtenFiles.map(_.getPath.toString): _*)
      val rePrefix = if (insertPath) s"insr-${staging().id}-$next" else s"resplit-$next"
      writeInto(re.repartition(needed), name, dir, rePrefix)
      writtenFiles.foreach(f => fs.delete(f.getPath, false))
      writtenFiles = dataFiles(dir).filter(_.getPath.getName.startsWith(s"$rePrefix-"))
    }
    // a pure-carry append's delta is exactly its written files — the
    // registerable shape whether staged (insert path) or autocommit
    // (small.isEmpty: nothing compacted away). Hive deltas never register:
    // the merge paths carry registered deltas by BASENAME, which would
    // strip their partition dirs.
    val insertNames =
      if ((insertPath || (staging() == null && small.isEmpty)) && !hive)
        writtenFiles.map(_.getPath.getName)
      else null
    publishVersion(name, next, insertNames)
    commitWrite(name)
    writtenRows - compactedRows
  }

  /** Carry a data file into a new version dir untouched: a hard link on a
    * local warehouse (the on-disk analog of an object-store metadata-only
    * move / Iceberg manifest re-reference), a FileSystem copy on any other
    * scheme — at object-store scale the Iceberg metadata layer is the real
    * zero-copy carry, this is the directory-layout fallback. */
  /** Carry preserving the file's path RELATIVE to its source version dir:
    * hive-partitioned files keep their key=value subdirs (a basename carry
    * would strip the partition value, which lives in the dir name, not the
    * file). Flat layouts have rel == basename — identical to carryFile. */
  private def carryFileRel(srcVer: HadoopPath, f: HadoopPath,
      dir: HadoopPath): Unit = {
    val base = fs.makeQualified(srcVer).toString.stripSuffix("/") + "/"
    val rel = fs.makeQualified(f).toString.stripPrefix(base)
    val dst = new HadoopPath(dir, rel)
    if (rel.contains("/")) fs.mkdirs(dst.getParent)
    carryTo(f, dst)
  }

  private def carryFile(f: HadoopPath, dir: HadoopPath): Unit =
    carryTo(f, new HadoopPath(dir, f.getName))

  private def carryTo(f: HadoopPath, dst: HadoopPath): Unit = {
    val linked = isLocalFs &&
      (try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri), java.nio.file.Paths.get(f.toUri))
        true
      } catch { case _: Exception => false })
    if (!linked) FileUtil.copy(fs, f, fs, dst, false, hconf)
  }

  /** Write `df` as parquet into `dir` beside any carried files, via a temp
    * dir so partial writes never land in a published version. A table with
    * a declared HIVE layout writes its delta partitionBy(keys) and the
    * files move preserving their key=value subdirs — every version dir of
    * a partitioned table stays uniformly hive-shaped, the invariant the
    * read path's partition discovery depends on (a flat delta beside
    * hive subdirs makes Spark drop paths silently). */
  private def writeInto(df0: DataFrame, name: String, dir: HadoopPath, prefix: String): Unit = {
    val tmp = new HadoopPath(tablePath(name), s".$prefix-tmp")
    val hive = layouts.get(name).filter(hiveWritable(df0, _))
    hive match {
      case Some(l) =>
        withPartitionCols(df0, l).write.mode(SaveMode.Overwrite)
          .option("compression", "zstd")
          .partitionBy(l.keys: _*).parquet(tmp.toString)
        dataFilesRelative(tmp).zipWithIndex.foreach { case ((rel, full), i) =>
          val parent = rel.lastIndexOf('/') match {
            case -1 => ""
            case k => rel.substring(0, k + 1)
          }
          val dst = new HadoopPath(dir, s"$parent$prefix-$i.parquet")
          if (parent.nonEmpty) fs.mkdirs(dst.getParent)
          fs.rename(new HadoopPath(full), dst)
        }
      case None =>
        df0.write.mode(SaveMode.Overwrite)
          .option("compression", "zstd").parquet(tmp.toString)
        dataFiles(tmp).zipWithIndex.foreach { case (f, i) =>
          fs.rename(f.getPath, new HadoopPath(dir, s"$prefix-$i.parquet"))
        }
    }
    fs.delete(tmp, true)
  }

  /** Append tolerating schema evolution: columns new to either side are
    * null-filled (the incremental-sync reality — upstream tables grow
    * columns; the reference re-introspects and rewrites whole tables,
    * Iceberg handles it as metadata-only evolution). */
  def appendEvolving(name: String, df: DataFrame): Unit = withWriteLock(name) {
    if (!exists(name)) replace(name, df)
    else replace(name, read(name).unionByName(df, allowMissingColumns = true))
  }

  /** MERGE-by-unique-key with file-level pruning (reference:
    * iceberg_table_writer.go:304-378): only data files whose parquet-footer
    * key range overlaps an incoming key are read back, anti-joined and
    * rewritten; every other file is carried into the new version untouched
    * (metadata-only at object-store scale). At 100 TB a small upsert batch
    * therefore rewrites O(touched files), not the table. Driver memory is
    * O(distinct incoming keys) — the same order as Iceberg's equality-delete
    * key set. Returns (filesRewritten, filesTotal) for observability. */
  def upsert(name: String, incoming: DataFrame, key: String): (Int, Int) = withWriteLock(name) {
    if (!exists(name)) { replace(name, incoming); return (0, 0) }
    prunedRewrite(name, toPhysical(name, incoming),
      physicalName(name, key), appendIncoming = true)
  }

  /** Delete rows matching `keys`, rewriting only footer-overlapping files
    * (iceberg_table_writer.go:380-452). Returns (filesRewritten, filesTotal). */
  def deleteByKey(name: String, keys: DataFrame, key: String): (Int, Int) =
    withWriteLock(name) {
      prunedRewrite(name,
        keys.select(col(key).as(physicalName(name, key))),
        physicalName(name, key), appendIncoming = false)
    }

  // ---- SQL DML engine (beyond the reference, which rejects writes;
  // PgDml routes INSERT/UPDATE/DELETE/MERGE on store tables here) ---------

  /** Copy-on-write UPDATE … SET … [WHERE]: one discovery pass finds the
    * data files that actually contain matching rows (the predicate pushes
    * into the parquet scan and only per-file match counts reach the
    * driver); only those files are read back and rewritten with the SET
    * projection applied, every other file carries into the new version
    * untouched (metadata-only at object-store scale — the Iceberg
    * copy-on-write shape). All SET expressions see the OLD row (PG
    * semantics: `SET a = b, b = a` swaps) and each value is cast to its
    * column's type (PG's assignment cast).
    * Returns (rowsUpdated, filesRewritten, filesTotal). */
  def updateWhere(name: String, sets: Seq[(String, String)],
      where: Option[String]): (Long, Int, Int) = {
    val bySet = sets.toMap
    require(bySet.size == sets.size, "multiple assignments to the same column")
    cowRewrite(name, where) { (src, cond) =>
      src.select(src.schema.fields.map { f =>
        bySet.get(f.name) match {
          case Some(e) => when(cond, expr(e).cast(f.dataType))
            .otherwise(col(s"`${f.name}`")).as(f.name)
          case None => col(s"`${f.name}`")
        }
      }.toSeq: _*)
    }
  }

  /** Copy-on-write DELETE … [WHERE]: same file-level discovery as
    * [[updateWhere]]; hit files are rewritten keeping only rows where the
    * predicate is not TRUE (NULL keeps the row, like SQL WHERE). */
  def deleteWhere(name: String, where: Option[String]): (Long, Int, Int) =
    cowRewrite(name, where)((src, cond) => src.filter(!coalesce(cond, lit(false))))

  /** Post-UPDATE image of the matching rows, bound to the CURRENT
    * (pre-commit) snapshot — version dirs are immutable, so the frame
    * stays valid after the commit flips (the RETURNING surface). */
  def previewUpdate(name: String, sets: Seq[(String, String)],
      where: Option[String]): DataFrame = {
    val src = previewMatching(name, where)
    src.select(src.schema.fields.map { f =>
      sets.find(_._1 == f.name)
        .map(e => expr(e._2).cast(f.dataType).as(f.name))
        .getOrElse(col(s"`${f.name}`"))
    }.toSeq: _*)
  }

  /** Rows a WHERE matches in the current snapshot (DELETE … RETURNING). */
  def previewMatching(name: String, where: Option[String]): DataFrame = {
    require(exists(name), s"no such store table: $name")
    where.map(w => read(name).filter(expr(w))).getOrElse(read(name))
  }

  private def cowRewrite(name: String, where: Option[String])(
      transform: (DataFrame, org.apache.spark.sql.Column) => DataFrame): (Long, Int, Int) = withWriteLock(name) {
    require(exists(name), s"no such store table: $name")
    val cond = where.map(expr).getOrElse(lit(true))
    // discovery: predicate-pushed scan → per-file match counts; the driver
    // sees O(files) rows, never data rows
    val hits = readRaw(name).filter(cond)
      .groupBy(input_file_name().as("__file")).count()
      .collect().map(r => baseName(r.getString(0)) -> r.getLong(1)).toMap
    val matched = hits.values.sum
    if (matched == 0)
      return (0L, 0, dataFiles(versionPath(name, curVersion(name))).length)
    val (rewrote, total) = rewriteFiles(name, hits.keySet)(transform(_, cond))
    (matched, rewrote, total)
  }

  /** Copy-on-write rewrite of an EXPLICIT hit-file set: `transform` maps
    * the hit files' logical rows to their replacement, every other file
    * carries into the new version untouched (metadata-only at object-store
    * scale). Callers that discover matches by their own means — the
    * join-DML surface's one input_file_name() aggregate, for example —
    * route here so a 1%-selectivity join-update rewrites O(touched files),
    * never the table. Returns (filesRewritten, filesTotal). */
  def rewriteFiles(name: String, hitNames: Set[String])(
      transform: DataFrame => DataFrame): (Int, Int) = withWriteLock(name) {
    require(exists(name), s"no such store table: $name")
    val cur = versionPath(name, curVersion(name))
    val files = dataFiles(cur)
    val (hit, carried) =
      files.map(_.getPath).partition(f => hitNames.contains(f.getName))
    if (hit.isEmpty) return (0, files.length)
    val next = nextVersion(name)
    val dir = freshVersionDir(name, next)
    carried.foreach(carryFileRel(cur, _, dir))
    val src = readLogicalFiles(name, hit.map(_.toString))
    writeInto(toPhysical(name, transform(src)), name, dir, s"cow-$next")
    publishVersion(name, next)
    commitWrite(name)
    (hit.length, files.length)
  }

  /** Exact row count of the current snapshot from parquet footers alone —
    * O(files) metadata reads, zero data scanned (the Iceberg
    * manifest-count analog; Spark's count(*) would materialize rows). The
    * DML command tags use this so INSERT/CTAS never re-scan what they just
    * wrote. */
  def rowCountFast(name: String): Long = {
    require(exists(name), s"no such store table: $name")
    footerRows(dataFiles(versionPath(name, curVersion(name))).map(_.getPath))
  }

  /** Exact row count of specific parquet files from footers alone. */
  private def footerRows(paths: Seq[HadoopPath]): Long =
    paths.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, hconf))
      try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally reader.close()
    }.sum

  private def baseName(uri: String): String =
    uri.substring(uri.lastIndexOf('/') + 1)

  // ---- metadata-only schema evolution (ALTER TABLE … COLUMN) ------------
  //
  // Iceberg evolves schemas without touching data files (field-id mapping);
  // this store gets the same property with a persisted per-table record:
  // `physical` is the union schema data files may carry (grows on ADD,
  // never shrinks — a file written before an ADD simply misses the column
  // and the reader null-fills it), `logical` the visible
  // (physicalName -> logicalName) projection in order. DROP removes the
  // logical entry — the bytes stay in old files but column pruning never
  // reads them; RENAME rewrites only the logical name; ADD appends (a
  // re-added name after a DROP gets a fresh physical name so old bytes
  // can never resurface). Writes convert logical -> physical so every
  // data file stays homogeneous; a replace() is a full rewrite and RESETS
  // the record (the new files' schema becomes the baseline).
  /** Evolution record as seen on THIS thread: a staged REPLACE clears it
    * for the txn only (the staged files define their own baseline); the
    * shared record survives untouched until COMMIT applies the clear. */
  private def evoGet(name: String): Option[Evo] = {
    val st = staging()
    if (st != null && st.evoCleared.contains(name)) None
    else evolution.get(name)
  }
  /** A full-rewrite REPLACE resets the evolution baseline; staged, the
    * reset is itself staged (keyed by the staged version that caused it,
    * so a savepoint rewind un-stages it with the write). */
  private def evoClear(name: String): Unit = staging() match {
    case null => evolution.remove(name); ()
    case st =>
      val e = st.tables.getOrElseUpdate(name,
        new Store.StagedTable(versions.getOrElse(name, 0)))
      st.evoCleared(name) = e.base + e.count + 1
  }

  private def currentEvo(name: String): Evo = evoGet(name).getOrElse {
    val s = inferredSchema(versionDir(name, curVersion(name)))
    Evo(s, s.fields.map(f => f.name -> f.name).toSeq)
  }

  /** Incoming logical-space rows -> the table's physical file schema
    * (identity for never-altered tables). */
  private def toPhysical(name: String, df: DataFrame): DataFrame =
    evoGet(name) match {
      case None => df
      case Some(e) =>
        df.select(e.physical.fields.map { pf =>
          e.logical.find(_._1 == pf.name).map(_._2) match {
            case Some(l) if df.columns.contains(l) =>
              col(s"`$l`").cast(pf.dataType).as(pf.name)
            case _ => lit(null).cast(pf.dataType).as(pf.name)
          }
        }.toSeq: _*)
    }

  /** Physical file-column name behind a logical column (identity when the
    * table was never altered). */
  private[graft] def physicalName(name: String, logical: String): String =
    evoGet(name).flatMap(_.logical.find(_._2 == logical).map(_._1))
      .getOrElse(logical)

  /** Read specific data files of `name` under the PHYSICAL file schema
    * (missing-in-file columns of an ALTERed table null-fill). */
  private def physicalRead(name: String, paths: Seq[String]): DataFrame = {
    // basePath anchors partition discovery: on a hive-partitioned version
    // dir a partition column lives in the key=value DIR NAME, not in the
    // file — a bare leaf read under the full schema would silently null it
    // (flat layouts: no-op, discovery finds no partition dirs)
    val base = fs.makeQualified(
      new HadoopPath(versionDir(name, curVersion(name)))).toString
    evoGet(name) match {
      case Some(e) => spark.read.option("basePath", base)
        .schema(e.physical).parquet(paths: _*)
      case None =>
        // specific files of the current version: homogeneous with the
        // version dir's (cached) schema — no per-call inference job
        spark.read.option("basePath", base)
          .schema(inferredSchema(versionDir(name, curVersion(name))))
          .parquet(paths: _*)
    }
  }

  /** Read specific data files of `name` surfacing the LOGICAL schema
    * (missing-in-file physical columns null-fill). */
  private def readLogicalFiles(name: String, paths: Seq[String]): DataFrame =
    evoGet(name) match {
      case None =>
        // basePath: hive partition values come from the dir names — see
        // physicalRead
        spark.read.option("basePath", fs.makeQualified(
            new HadoopPath(versionDir(name, curVersion(name)))).toString)
          .schema(readRaw(name).schema).parquet(paths: _*)
      case Some(e) =>
        physicalRead(name, paths)
          .select(e.logical.map { case (p, l) => col(s"`$p`").as(l) }.toSeq: _*)
    }

  private def assertEvolvable(name: String): Unit = {
    require(exists(name), s"no such store table: $name")
    require(!matviewDefs.contains(name) && !ivmViews.contains(name),
      s"cannot alter a materialized view: $name")
    val word = ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    val dep = matviewDefs.collectFirst {
      case (v, d) if word.findFirstIn(d).isDefined => v
    }.orElse(ivmViews.collectFirst {
      case (v, m) if m.base == name || m.joins.exists(_._1 == name) => v
    })
    require(dep.isEmpty,
      s"materialized view ${dep.getOrElse("")} depends on $name; drop it first")
  }

  /** ALTER TABLE … ADD COLUMN: pure catalog write, zero data files touched.
    * Returns false when IF NOT EXISTS suppressed a duplicate. */
  def addColumn(name: String, colName: String,
      field: org.apache.spark.sql.types.StructField,
      ifNotExists: Boolean = false): Boolean = withWriteLock(name) {
    assertEvolvable(name)
    val e = currentEvo(name)
    if (e.logical.exists(_._2.equalsIgnoreCase(colName))) {
      if (ifNotExists) return false
      throw new IllegalArgumentException(
        s"""column "$colName" of relation "$name" already exists""")
    }
    val phys =
      if (e.physical.fieldNames.exists(_.equalsIgnoreCase(colName)))
        s"__evo${e.physical.length}_$colName"
      else colName
    evolution(name) = Evo(
      org.apache.spark.sql.types.StructType(
        e.physical.fields :+ field.copy(name = phys)),
      e.logical :+ (phys -> colName))
    persistCatalog()
    publish(name)
    true
  }

  /** ALTER TABLE … DROP COLUMN: catalog-only; old bytes stay in files but
    * parquet column pruning never reads them again. */
  def dropColumn(name: String, colName: String,
      ifExists: Boolean = false): Boolean = withWriteLock(name) {
    assertEvolvable(name)
    val e = currentEvo(name)
    if (!e.logical.exists(_._2.equalsIgnoreCase(colName))) {
      if (ifExists) return false
      throw new IllegalArgumentException(
        s"""column "$colName" of relation "$name" does not exist""")
    }
    require(e.logical.size > 1, s"cannot drop the only column of $name")
    evolution(name) =
      e.copy(logical = e.logical.filterNot(_._2.equalsIgnoreCase(colName)))
    persistCatalog()
    publish(name)
    true
  }

  /** ALTER TABLE … RENAME COLUMN a TO b: catalog-only (the Iceberg
    * field-id rename — files keep the physical name forever). */
  def renameColumn(name: String, from: String, to: String): Unit = withWriteLock(name) {
    assertEvolvable(name)
    val e = currentEvo(name)
    require(e.logical.exists(_._2.equalsIgnoreCase(from)),
      s"""column "$from" of relation "$name" does not exist""")
    require(!e.logical.exists(_._2.equalsIgnoreCase(to)),
      s"""column "$to" of relation "$name" already exists""")
    evolution(name) = e.copy(logical = e.logical.map {
      case (p, l) if l.equalsIgnoreCase(from) => (p, to)
      case x => x
    })
    persistCatalog()
    publish(name)
  }

  /** Schema-only CREATE TABLE (the DDL companion of the CTAS path). */
  def createEmpty(name: String, schema: org.apache.spark.sql.types.StructType): Unit =
    replace(name, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** Current version pointer of every table (txn write discovery). */
  def versionSnapshot: Map[String, Int] = versions.toMap

  // ---- staging commit / abort ---------------------------------------------

  /** Atomically publish a transaction's staged writes into the shared
    * chain: under ALL touched tables' locks (taken in sorted order — no
    * lock cycles), verify every staged table still sits at the base the
    * txn staged from (the write gates make a violation impossible in this
    * process; the check guards the invariant), rename the staged dirs into
    * their shared `v<N>` slots, flip the pointers and evolution records,
    * then ONE durable catalog snapshot and temp-view publish covering every
    * table — cross-table commits are atomic at the catalog. On a posix/
    * HDFS warehouse the renames are O(1) metadata ops whatever the staged
    * volume; on an object-store scheme rename is copy+delete (the S3A
    * contract ObjectStoreFs models), where the production-scale answer is
    * an Iceberg-style manifest re-point — the catalog-flip design here is
    * deliberately one indirection away from that. */
  private[graft] def commitStaging(st: Store.TxnStaging,
      serialReads: Map[String, Int] = Map.empty): Unit = {
    // SERIALIZABLE read-set tables lock too: the rw-antidependency check
    // below must be atomic with this txn's publish
    val names = (st.tables.keys ++ serialReads.keys).toSeq.distinct.sorted
    def locked[T](rest: Seq[String])(body: => T): T = rest match {
      case Seq() => body
      case h +: t => withTableLock(h)(locked(t)(body))
    }
    val committedNames = try locked(names) {
      def cur(n: String) = versions.getOrElse(n, 0)
      // SSI first-committer-wins: a table this txn READ whose committed
      // version moved past the read carries an rw-antidependency into a
      // committed writer — abort with PG's serialization failure (the
      // substring maps to SQLSTATE 40001 on the wire). Runs before any
      // publish work so an abort leaves the shared chain untouched.
      val rw = serialReads.collect {
        case (t, v) if cur(t) != v => t
      }
      if (rw.nonEmpty) {
        abortStagedDirs(st)
        throw new IllegalStateException(
          "could not serialize access due to read/write dependencies " +
            "among transactions (" + rw.mkString(", ") + ")")
      }
      // Merge eligibility when the shared chain moved past the txn's base:
      // (a) every interleaved version is a REGISTERED pure-insert delta —
      //     any entry (insert or update/delete COW) merges by linking
      //     exactly those delta files into its staged head: the updater
      //     never saw those rows (PG REPEATABLE READ: concurrently-
      //     inserted rows are invisible to an update and survive it), and
      //     an insert txn's own rows conflict with nothing;
      // (b) the entry itself is insert-only — merges against ANY
      //     interleaving (compaction, update, replace) by carrying the
      //     current version and adding its own delta files.
      // Only a non-insert entry straddling a non-insert interleave aborts —
      // first-updater-wins, unchanged.
      def interleaved(n: String, e: Store.StagedTable): Seq[Int] =
        ((e.base + 1) to cur(n)).toSeq
      def registered(n: String, e: Store.StagedTable): Boolean =
        interleaved(n, e).forall(v => committedInsertDeltas.contains((n, v)))
      val conflicted = st.tables.collect {
        case (n, e) if e.count > 0 && cur(n) != e.base &&
          !e.insertOnly && !registered(n, e) => n
      }
      if (conflicted.nonEmpty) {
        abortStagedDirs(st)
        throw new IllegalStateException(
          "could not serialize access due to concurrent update (" +
            conflicted.mkString(", ") + ")")
      }
      val touched = st.tables.toSeq.filter(_._2.count > 0)
      // (table, final shared version) decided per entry below
      val finals = scala.collection.mutable.LinkedHashMap[String, Int]()
      def publishDirAs(n: String, src: HadoopPath, stagedName: String, v: Int): Unit =
        if (isLocalFs) {
          // posix/HDFS: an O(1) atomic rename into the `v<N>` slot
          val dst = new HadoopPath(s"$root/$n/v$v")
          if (fs.exists(dst)) fs.delete(dst, true) // crash orphan in the slot
          if (!fs.rename(src, dst))
            throw new java.io.IOException(s"staged commit rename failed: $src -> $dst")
          // carry the staged dir's cached schema to its committed path
          dirSchemas.remove(src.toString)
            .foreach(s => dirSchemas.put(dst.toString, s))
        } else {
          // object store: rename would COPY every data byte — record the
          // staged dir as the committed version's alias instead. COMMIT
          // stays metadata-only at any staged volume; the alias persists
          // with the catalog snapshot below (the Iceberg manifest
          // re-point shape).
          dirAliases((n, v)) = stagedName
        }
      touched.foreach { case (n, e) =>
        val c = cur(n)
        if (c == e.base) {
          // base unmoved: staged dirs take their slots 1:1
          (1 to e.count).foreach { k =>
            publishDirAs(n, stagedPath(st.id, n, e.base + k),
              stagedDirName(st.id, e.base + k), e.base + k)
          }
          if (e.insertOnly) e.deltaNames.foreach { case (v, names) =>
            committedInsertDeltas((n, v)) = names
          }
          finals(n) = e.base + e.count
        } else {
          // base moved: merge. The staged HEAD dir holds the txn's whole
          // private chain; interleaved registered deltas all exist BY NAME
          // in the current shared dir (pure-insert commits carry every
          // prior file), so dir(cur) is the single link source.
          val head = stagedPath(st.id, n, e.base + e.count)
          val headNames = dataFiles(head).map(_.getPath.getName).toSet
          val curDir = new HadoopPath(sharedVersionDir(n, c))
          val linkable = registered(n, e) && {
            val names = interleaved(n, e).flatMap(v => committedInsertDeltas((n, v)))
            names.forall(!headNames.contains(_)) // paranoia: never clobber
          }
          val v = c + 1
          if (linkable) {
            // metadata-only merge: link the interleaved delta files into
            // the staged head, publish the head as cur+1 (rename on posix,
            // alias + delta-sized copies on an object store)
            interleaved(n, e).flatMap(x => committedInsertDeltas((n, x)))
              .foreach(nm => carryFile(new HadoopPath(curDir, nm), head))
            publishDirAs(n, head, stagedDirName(st.id, e.base + e.count), v)
          } else {
            // insert-only entry over an unregistered interleave (a
            // compacting autocommit append, a committed updater): build
            // cur+1 = carry(cur) + own delta files. Hard links on posix;
            // a real copy of the carried files on an object store — the
            // documented COW fallback, same cost class as any autocommit
            // append there.
            val dir = new HadoopPath(s"$root/$n/v$v")
            if (fs.exists(dir)) fs.delete(dir, true)
            fs.mkdirs(dir)
            dataFiles(curDir).foreach(f => carryFileRel(curDir, f.getPath, dir))
            e.deltaNames.values.flatten.foreach { nm =>
              if (!fs.rename(new HadoopPath(head, nm), new HadoopPath(dir, nm)))
                throw new java.io.IOException(s"staged merge move failed: $nm")
            }
            // the head's leftovers (carried base files) are now orphans
            dirSchemas.remove(head.toString)
            try fs.delete(head, true) catch { case _: Exception => () }
          }
          // only the head was published (or consumed); the chain's earlier
          // staged dirs are orphans either way
          (1 until e.count).foreach { k =>
            val p = stagedPath(st.id, n, e.base + k)
            dirSchemas.remove(p.toString)
            try fs.delete(p, true) catch { case _: Exception => () }
          }
          if (e.insertOnly)
            committedInsertDeltas((n, v)) = e.deltaNames.values.flatten.toSeq
          finals(n) = v
        }
      }
      touched.foreach { case (n, _) => versions(n) = finals(n) }
      st.evoCleared.keys.foreach(evolution.remove)
      // clear the overlay BEFORE stats/publish: both read through the
      // version resolution and must see the now-shared chain
      st.tables.clear(); st.evoCleared.clear(); st.stagedNames.clear()
      touched.foreach { case (n, _) =>
        pruneInsertDeltas(n); publishSizeStats(n, finals(n))
      }
      if (touched.nonEmpty) {
        persistCatalog()
        touched.foreach { case (n, _) => publish(n) }
      }
      touched.map(_._1)
    } finally {
      gateRelease(st)
      activeStagings.remove(st.id)
    }
    // Index maintenance AFTER the lock chain and gates release: a
    // registered table's concurrent committers must not queue behind this
    // txn's Spark index jobs. The refresh is per-table serialized and
    // watermark-driven, so racing drains from interleaved commits are
    // safe (a later commit's refresh covers this one via the change feed).
    committedNames.foreach(runIndexHooks)
  }

  /** Discard a transaction's staged writes: delete the staged dirs, drop
    * the overlay, release the write gates. The shared chain was never
    * touched, so rollback can NEVER fail on concurrent activity and never
    * destroys another session's committed version (or a pinned one). */
  private[graft] def abortStaging(st: Store.TxnStaging): Unit = {
    try abortStagedDirs(st)
    finally {
      gateRelease(st)
      activeStagings.remove(st.id)
    }
  }

  private def abortStagedDirs(st: Store.TxnStaging): Unit = {
    st.tables.foreach { case (n, e) =>
      (1 to e.count).foreach { k =>
        val p = stagedPath(st.id, n, e.base + k)
        dirSchemas.remove(p.toString)
        try fs.delete(p, true) catch { case _: Exception => () }
      }
      // a table whose whole existence was staged leaves no empty shell dir
      if (e.base == 0 && !versions.contains(n))
        try {
          if (Option(fs.listStatus(tablePath(n))).forall(_.isEmpty))
            fs.delete(tablePath(n), true)
        } catch { case _: Exception => () }
    }
    st.tables.clear(); st.evoCleared.clear(); st.stagedNames.clear()
  }

  /** Savepoint rewind WITHIN the stage: delete staged versions above
    * `target` (overlay numbering) and reset the chain head; a target at or
    * below the base removes the table's staged state entirely. Never
    * touches the shared chain, so it cannot fail on concurrent commits.
    * The write gate stays held — PG keeps row locks across ROLLBACK TO.
    * Returns the effective floor the table rewound to (its base when the
    * target lay below it), None when the table holds no staged state. */
  private[graft] def rollbackStagedTo(st: Store.TxnStaging, name: String,
      target: Int): Option[Int] =
    st.tables.get(name).map { e =>
      val floor = math.max(target, e.base)
      ((floor + 1) to (e.base + e.count)).foreach { k =>
        val p = stagedPath(st.id, name, k)
        dirSchemas.remove(p.toString)
        try fs.delete(p, true) catch { case _: Exception => () }
      }
      // an evolution clear staged by a now-undone REPLACE must not apply
      st.evoCleared.filterInPlace((t, v) => t != name || v <= floor)
      e.deltaNames.filterInPlace((v, _) => v <= floor)
      if (floor <= e.base) { st.tables.remove(name); st.stagedNames.remove(name); () }
      else e.count = floor - e.base
      floor
    }

  /** Per-table staged chain heads (overlay numbering) — the savepoint
    * snapshot of the staged side. */
  private[graft] def stagedMarks(st: Store.TxnStaging): Map[String, Int] =
    if (st == null) Map.empty
    else st.tables.iterator.map { case (n, e) => n -> (e.base + e.count) }.toMap

  /** table → staged-current dir for every table with staged writes — the
    * bindTxnReads own-writes overlay (resolved WITHOUT the thread-local:
    * the SELECT path never binds the staging context). */
  private[graft] def stagedReadDirs(st: Store.TxnStaging): Map[String, String] =
    st.tables.iterator.collect { case (n, e) if e.count > 0 =>
      n -> stagedPath(st.id, n, e.base + e.count).toString
    }.toMap

  /** Read a staged dir under an explicit schema (see [[readVersionAs]]). */
  private[graft] def readStagedDir(dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(dir)

  /** Transactional undo: restore `name`'s version pointer to `v` (old
    * dirs are immutable, so undo is a catalog flip), or drop the table
    * when `v == 0` (it was created inside the txn). Refuses when the
    * current version is not `expectedCurrent` — a concurrent writer
    * committed on top and must not be clobbered. */
  def restoreVersion(name: String, v: Int, expectedCurrent: Int): Unit =
    withTableLock(name) {
      require(exists(name), s"no such store table: $name")
      require(versions(name) == expectedCurrent,
        s"version ${versions(name)} != expected $expectedCurrent (concurrent write)")
      if (v <= 0) drop(name)
      else {
        require(fs.exists(versionPath(name, v)),
          s"version $v of $name has been expired")
        versions(name) = v
        // the pointer flip is not a write to journal, but the planner
        // stats must track the now-current snapshot, not the undone one
        publishSizeStats(name, v)
        // the undone dirs must not linger: the next write recomputes
        // v+1 and would land files beside the rolled-back ones (same
        // raced-reader hazard class as expireVersions)
        ((v + 1) to expectedCurrent).foreach { i =>
          fs.delete(versionPath(name, i), true)
          dirAliases.remove((name, i))
          // the slot may be re-published by a later write: a stale
          // pure-insert registration must not survive into the reuse
          committedInsertDeltas.remove((name, i))
        }
        persistCatalog()
        publish(name)
      }
    }

  /** Maintenance behind one statement (the Iceberg rewrite_data_files +
    * expire_snapshots pair, PG-spelled as VACUUM): compact the small-file
    * tail into full-size files, then expire superseded snapshots. FULL
    * forces a whole-table rewrite — which also re-baselines an ALTERed
    * schema (evolution record folds into the files). Returns
    * (filesBefore, filesAfter, versionsExpired). */
  def vacuum(name: String, full: Boolean = false): (Int, Int, Int) = withWriteLock(name) {
    require(exists(name), s"no such store table: $name")
    val before = dataFiles(versionPath(name, curVersion(name))).length
    // FULL re-applies the table's DECLARED layout (Iceberg
    // rewrite_data_files with the table's sort order / partition spec):
    // appends decay clustering into an unsorted tail, and a heap rewrite
    // here would throw the clustering away exactly when the user asked
    // for maintenance. File count re-derives from CURRENT bytes (the
    // declaration's count reflects the table size at declaration time);
    // bucket count stays pinned — co-located joins key on it.
    def clusterFiles(declared: Int): Int = math.max(math.max(1, declared),
      math.ceil(dataFiles(versionPath(name, curVersion(name)))
        .map(_.getLen).sum / (100 << 20).toDouble).toInt)
    if (full) layouts.get(name) match {
      case Some(Layout("sorted", Seq(k), n, _)) =>
        replaceSorted(name, read(name), k, clusterFiles(n))
      case Some(Layout("zorder", ks, n, _)) =>
        replaceZOrdered(name, read(name), ks, clusterFiles(n))
      case Some(l @ Layout("partitioned", _, _, _)) =>
        // replace() itself routes a hive-declared table through the
        // partitioned writer; transform specs re-derive their dir fields
        replace(name, read(name))
      case Some(Layout("bucketed", Seq(k), nb, _)) =>
        replaceBucketed(name, read(name), k, nb)
      case _ => replace(name, read(name))
    }
    else appendCompacting(name, read(name).limit(0))
    // crashed writers leave `.<prefix>-tmp` spool dirs (writeInto renames
    // out of them before deleting) and version dirs above the published
    // pointer; both are invisible to readers — vacuum reclaims the bytes
    fs.listStatus(tablePath(name)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".") &&
        s.getPath.getName.endsWith("-tmp"))
      .foreach(s => fs.delete(s.getPath, true))
    // crashed transactions leave `.txn<id>-v<k>` staged dirs — invisible to
    // every reader, reclaimed here unless the staging is LIVE in this
    // process (the warehouse is single-writer-per-process by design, see
    // persistCatalog)
    locally {
      val aliased =
        dirAliases.iterator.collect { case ((t, _), d) if t == name => d }.toSet
      fs.listStatus(tablePath(name)).toSeq
        .filter { s =>
          val n = s.getPath.getName
          s.isDirectory && n.startsWith(".txn") && !aliased.contains(n) &&
            !activeStagings.contains(
              n.stripPrefix(".txn").replaceAll("-v\\d+$", ""))
        }
        .foreach(s => fs.delete(s.getPath, true))
    }
    val expired = expireVersions(name).length
    val after = dataFiles(versionPath(name, curVersion(name))).length
    (before, after, expired)
  }

  /** TRUNCATE: an atomic replace with the empty frame — prior versions
    * stay time-travelable like any other snapshot. */
  def truncate(name: String): Unit =
    withWriteLock(name)(replace(name, read(name).limit(0)))

  /** MERGE INTO target USING source ON target.key = source.key — Iceberg
    * copy-on-write MERGE restricted to the equi-key shape (the reference's
    * whole write model is merge-by-unique-key,
    * iceberg_table_writer.go:304-378). File-level pruning is the same
    * footer-stats path upsert uses: only key-overlapping files are read
    * back and rewritten, everything else carries. WHEN clauses apply in
    * textual order, first match wins per row; several source rows hitting
    * one target key error like PG's "cannot affect row a second time".
    * Expressions reference the two sides through `targetAlias`/
    * `sourceAlias`. Returns (updated, deleted, inserted). */
  def merge(name: String, source0: DataFrame, targetKey: String,
      sourceKey: String, clauses: Seq[Store.MergeClause],
      targetAlias: String = "t", sourceAlias: String = "s"): (Long, Long, Long) = withWriteLock(name) {
    require(exists(name), s"no such store table: $name")
    require(clauses.nonEmpty, "MERGE requires at least one WHEN clause")
    val source = source0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dup = source.groupBy(col(s"`$sourceKey`")).count()
        .filter(col("count") > 1).limit(1).count()
      require(dup == 0,
        "MERGE command cannot affect row a second time (duplicate source keys)")
      val cur = versionPath(name, curVersion(name))
      val files = dataFiles(cur).map(_.getPath)
      val physKey = physicalName(name, targetKey)
      val keyed = source.select(col(s"`$sourceKey`").as(physKey))
      val (hit, carried) = overlapPartition(cur, files, keyed, physKey)
      val tgtSchema = readRaw(name).schema
      val matchedClauses = clauses.filter(!_.isInstanceOf[Store.NotMatchedInsert])
      val insertClauses = clauses.collect { case c: Store.NotMatchedInsert => c }

      def condExpr(c: Option[String]) = c.map(expr).getOrElse(lit(true))
      // per-row index of the first applicable clause, -1 = keep unchanged
      def actionIndex(cs: Seq[Store.MergeClause], gate: org.apache.spark.sql.Column) =
        cs.zipWithIndex.foldRight(lit(-1)) { case ((c, i), rest) =>
          val cnd = c match {
            case Store.MatchedUpdate(w, _) => condExpr(w)
            case Store.MatchedDelete(w) => condExpr(w)
            case Store.NotMatchedInsert(w, _, _) => condExpr(w)
          }
          when(gate && coalesce(cnd, lit(false)), lit(i)).otherwise(rest)
        }

      // rewritten target rows: hit files left-joined to the source; first
      // applicable matched clause applies, one codegen'd projection. The
      // command tag's nUpd/nDel come from a CollectMetrics observation
      // placed BEFORE the delete filter — the counts ride the write job
      // itself (one pass, guaranteed consistent with what was written)
      // instead of re-running the matched join a second time.
      val matchObs = org.apache.spark.sql.Observation()
      val rewritten = if (hit.isEmpty) None else {
        val back = readLogicalFiles(name, hit.map(_.toString))
        val joined = back.alias(targetAlias).join(source.alias(sourceAlias),
          col(s"$targetAlias.$targetKey") === col(s"$sourceAlias.$sourceKey"), "left")
        val matched = col(s"$sourceAlias.$sourceKey").isNotNull
        val act = actionIndex(matchedClauses, matched).as("__act")
        val deleteIdx = matchedClauses.zipWithIndex.collect {
          case (Store.MatchedDelete(_), i) => i }
        val isDel = col("__act").isin(deleteIdx.map(Int.box): _*)
        val out = joined.withColumn("__act", act)
          .observe(matchObs,
            count(when(col("__act") >= 0 && !coalesce(isDel, lit(false)), 1)).as("n_upd"),
            count(when(coalesce(isDel, lit(false)), 1)).as("n_del"))
          .filter(!col("__act").isin(deleteIdx: _*))
        Some(out.select(tgtSchema.fields.map { f =>
          matchedClauses.zipWithIndex.foldRight(
            col(s"$targetAlias.`${f.name}`")) { case ((c, i), rest) =>
            c match {
              case Store.MatchedUpdate(_, sets) if sets.exists(_._1 == f.name) =>
                when(col("__act") === i,
                  expr(sets.find(_._1 == f.name).get._2).cast(f.dataType))
                  .otherwise(rest)
              case _ => rest
            }
          }.as(f.name)
        }.toSeq: _*))
      }
      // NOT MATCHED inserts: source keys absent from the WHOLE target (one
      // key-column scan — the same join Iceberg MERGE plans); nIns is an
      // observation on the post-filter insert rows, again riding the write
      val insObs = org.apache.spark.sql.Observation()
      val inserts = if (insertClauses.isEmpty) None else {
        val tgtKeys = read(name).select(col(s"`$targetKey`").as("__tk"))
        val missing = source.alias(sourceAlias).join(tgtKeys,
          col(s"$sourceAlias.$sourceKey") === col("__tk"), "left_anti")
        val withAct = missing.withColumn("__act",
          actionIndex(insertClauses, lit(true))).filter(col("__act") >= 0)
          .observe(insObs, count(lit(1)).as("n_ins"))
        Some(withAct.select(tgtSchema.fields.map { f =>
          insertClauses.zipWithIndex.foldRight(
            lit(null).cast(f.dataType)) { case ((c, i), rest) =>
            val j = c.cols.indexWhere(_.equalsIgnoreCase(f.name))
            if (j < 0) rest
            else when(col("__act") === i, expr(c.vals(j)).cast(f.dataType))
              .otherwise(rest)
          }.as(f.name)
        }.toSeq: _*))
      }
      val next = nextVersion(name)
      val dir = freshVersionDir(name, next)
      carried.foreach(carryFileRel(cur, _, dir))
      val out = (rewritten, inserts) match {
        case (Some(r), Some(i)) => Some(r.unionByName(i))
        case (r, i) => r.orElse(i)
      }
      out.foreach(o => writeInto(toPhysical(name, o), name, dir, s"merge-$next"))
      // the write action fired both CollectMetrics nodes; a leg that never
      // planned (no hit files / no insert clauses) contributes zero
      def metric(obs: org.apache.spark.sql.Observation, attached: Boolean,
          key: String): Long =
        if (!attached) 0L
        else obs.get.get(key).map(_.asInstanceOf[Long]).getOrElse(0L)
      val nUpd = metric(matchObs, rewritten.isDefined, "n_upd")
      val nDel = metric(matchObs, rewritten.isDefined, "n_del")
      val nIns = metric(insObs, inserts.isDefined, "n_ins")
      publishVersion(name, next)
      commitWrite(name)
      (nUpd, nDel, nIns)
    } finally { source.unpersist(); () }
  }

  /** Shared engine for upsert/deleteByKey: partition the current version's
    * data files into footer-overlap hits (rewritten without the incoming
    * keys) and misses (carried into the new version by name). Pruning
    * runs only for integral/string keys with usable footer stats; anything
    * else degrades to rewrite-everything, which is the old (correct)
    * behavior. */
  private def prunedRewrite(name: String, incoming0: DataFrame, key: String,
      appendIncoming: Boolean): (Int, Int) = {
    // hidden-partitioned tables: the kept side reads its derived dir
    // fields back through partition discovery — materialize them on the
    // incoming side too or the union below would mismatch
    val incoming = layouts.get(name).filter(_.kind == "partitioned")
      .map(withPartitionCols(incoming0, _)).getOrElse(incoming0)
    val cur = versionPath(name, curVersion(name))
    val files = dataFiles(cur).map(_.getPath)
    val (hit, carried) = overlapPartition(cur, files, incoming, key)
    val next = nextVersion(name)
    val dir = freshVersionDir(name, next)
    carried.foreach(carryFileRel(cur, _, dir))
    val kept =
      if (hit.isEmpty) None
      else Some(physicalRead(name, hit.map(_.toString))
        .join(incoming.select(col(key)).distinct(), Seq(key), "left_anti"))
    val out =
      if (appendIncoming) Some(kept.fold(incoming)(_.unionByName(incoming)))
      else kept
    out.foreach(writeInto(_, name, dir, s"rw-$next"))
    publishVersion(name, next)
    commitWrite(name)
    (hit.length, files.length)
  }

  /** Partition a version's data files into footer-overlap hits vs misses
    * for `incoming`'s `key` values — shared by upsert/deleteByKey/merge.
    * Pruning runs only for integral/string keys with usable footer stats;
    * anything else degrades to everything-hits (the correct fallback). */
  private def overlapPartition(cur: HadoopPath, files: Seq[HadoopPath],
      incoming: DataFrame, key: String): (Seq[HadoopPath], Seq[HadoopPath]) = {
    val prunable = incoming.schema(key).dataType match {
      case IntegerType | LongType | ShortType | ByteType | StringType => true
      case _ => false
    }
    // routing probe: ONE limit-bounded job collects at most threshold+1
    // distinct keys. If they all fit, those keys drive the driver-side
    // binary-search overlap test directly (no second pass); if the limit is
    // hit, the batch is "large" and the overlap test runs as a distributed
    // join against broadcast file stats instead — no key set ever
    // materializes on the driver (a 10^9-row upsert prunes with driver
    // memory O(threshold + files))
    val probe: Array[Any] =
      if (!prunable) Array.empty
      else incoming.select(col(key)).where(col(key).isNotNull).distinct()
        .limit(math.min(maxDriverPruneKeys + 1, Int.MaxValue).toInt).collect()
        .map(r => normKey(r.get(0)))
    lastPruneViaJoin = prunable && probe.length > maxDriverPruneKeys
    if (!prunable) (files, Seq.empty[HadoopPath])
    else try {
      val stats = fileStats(cur, key).toMap
      if (!lastPruneViaJoin) {
        val inKeys: Array[Any] = probe.sorted(keyOrdering)
        def overlaps(range: Option[(Any, Any)]): Boolean = range match {
          case None => true // no usable stats: must assume the file is hit
          case Some((lo, hi)) =>
            val i = lowerBound(inKeys, lo)
            i < inKeys.length && keyOrdering.compare(inKeys(i), hi) <= 0
        }
        files.partition(f => overlaps(stats.getOrElse(f, None)))
      } else {
        val hits = overlapHitsByJoin(incoming, key,
          stats.collect { case (p, Some(r)) => (p, r) }.toSeq)
        files.partition(f => stats.getOrElse(f, None).isEmpty
          || hits.contains(f.getName))
      }
    } catch { case _: ClassCastException => (files, Seq.empty[HadoopPath]) }
  }

  /** Per-file min/max stats for every prunable column of a version dir,
    * manifest-cached: the FIRST consultation scans each parquet footer once
    * and writes `_manifest.json` beside the data; every later pruned read
    * or upsert is one small JSON read instead of N footer opens — the
    * Iceberg manifest role (manifests carry per-file column bounds so
    * planning never touches data files). A stale manifest (file set
    * changed) rebuilds automatically; Spark ignores `_`-prefixed files. */
  private[graft] def fileStats(dir: HadoopPath, key: String): Seq[(HadoopPath, Option[(Any, Any)])] = {
    val files = dataFiles(dir).map(_.getPath)
    val mf = new HadoopPath(dir, "_manifest.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def decode(node: com.fasterxml.jackson.databind.JsonNode): Option[(Any, Any)] =
      Option(node).map { n =>
        if (n.get("t").asText == "l") (n.get("lo").asLong, n.get("hi").asLong)
        else (n.get("lo").asText, n.get("hi").asText)
      }
    if (fs.exists(mf)) {
      val rootNode = om.readTree(readBytes(mf))
      val known = rootNode.fieldNames.asScala.toSet
      if (files.map(_.getName).toSet == known)
        return files.map(f => f -> decode(rootNode.get(f.getName).get(key)))
    }
    // build (or rebuild) the manifest from one footer pass
    val perFile = files.map { f =>
      f -> footerAllRanges(f)
    }
    val rootNode = om.createObjectNode()
    perFile.foreach { case (f, cols) =>
      val fn = rootNode.putObject(f.getName)
      cols.foreach { case (c, (lo, hi)) =>
        val cn = fn.putObject(c)
        (lo, hi) match {
          case (l: java.lang.Long, h: java.lang.Long) =>
            cn.put("t", "l"); cn.put("lo", l.longValue); cn.put("hi", h.longValue)
          case _ =>
            cn.put("t", "s"); cn.put("lo", lo.toString); cn.put("hi", hi.toString)
        }
      }
    }
    // the manifest is a rebuildable cache: a reader racing the delete+rename
    // below just rebuilds from footers, so overwrite-by-replace is safe here
    val tmp = new HadoopPath(dir, "._manifest.json.tmp")
    writeBytes(tmp, om.writerWithDefaultPrettyPrinter.writeValueAsBytes(rootNode))
    fs.delete(mf, false)
    fs.rename(tmp, mf)
    perFile.map { case (f, cols) => f -> cols.get(key) }
  }

  /** (lo, hi) per prunable column of one file's footer (columns with any
    * stats-free or null-only row group are omitted). */
  private def footerAllRanges(file: HadoopPath): Map[String, (Any, Any)] = {
    val in = HadoopInputFile.fromPath(file, hconf)
    val reader = ParquetFileReader.open(in)
    try {
      val acc = scala.collection.mutable.Map[String, (Any, Any)]()
      val bad = scala.collection.mutable.Set[String]()
      for (b <- reader.getFooter.getBlocks.asScala; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        if (!bad(name)) {
          val st = c.getStatistics
          val usable = st != null && st.hasNonNullValue &&
            (st.genericGetMin match {
              case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
                   _: java.lang.Byte | _: Binary => true
              case _ => false
            })
          if (!usable) { bad += name; acc.remove(name) }
          else {
            val mn = normKey(st.genericGetMin)
            val mx = normKey(st.genericGetMax)
            val cur = acc.get(name)
            acc(name) = cur.fold((mn, mx)) { case (lo, hi) =>
              (if (keyOrdering.compare(mn, lo) < 0) mn else lo,
                if (keyOrdering.compare(mx, hi) > 0) mx else hi)
            }
          }
        }
      }
      acc.toMap
    } finally reader.close()
  }

  /** Iceberg expire_snapshots analog: delete all but the `keep` most recent
    * version dirs (the current version always survives). Time travel to an
    * expired version then fails; kept snapshots are untouched. Returns the
    * expired version numbers. */
  def expireVersions(name: String, keep: Int = 2): Seq[Int] = {
    require(exists(name), s"unknown table $name")
    val all = (fs.listStatus(tablePath(name)).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toInt) ++
      dirAliases.keysIterator.collect { case (t, v) if t == name => v })
      .distinct.sorted
    // above-pointer dirs are crash orphans (never published — a writer
    // died before its catalog commit); below-pointer beyond `keep` are
    // expired time-travel snapshots. Versions PINNED by an open
    // snapshot-isolated txn are retained whatever `keep` says — PG's
    // vacuum holds tuples for open snapshots the same way.
    val held = PgDialect.pinnedVersionsOf(name)
    val doomed = (all.filter(_ <= versions(name)).dropRight(math.max(keep, 1)) ++
      all.filter(_ > versions(name))).filterNot(held.contains)
    doomed.foreach { v =>
      fs.delete(versionPath(name, v), true)
      dirAliases.remove((name, v)) // durable on the next catalog commit
    }
    // keep the Iceberg metadata tree consistent: snapshots over expired
    // version dirs reference deleted data files, so expire them too
    // (snapshot id == store version)
    val live = all.filterNot(doomed.contains).map(_.toLong).toSet
    Iceberg.expireSnapshots(tablePath(name), live, hconf)
    doomed
  }

  /** Above this many incoming rows, upsert/delete overlap pruning switches
    * from a driver-side key collect to the stats join (tunable in tests). */
  private[graft] var maxDriverPruneKeys: Long = 100000L
  /** Whether the last prunedRewrite routed through the join-based overlap
    * test — observability for specs asserting the no-collect path. */
  @volatile private[graft] var lastPruneViaJoin: Boolean = false

  /** Distributed overlap test: incoming keys × broadcast (file, lo, hi)
    * ranges -> the set of hit file names. The only rows reaching the driver
    * are file names, never keys. */
  private def overlapHitsByJoin(incoming: DataFrame, key: String,
      ranges: Seq[(HadoopPath, (Any, Any))]): Set[String] = {
    import spark.implicits._
    val isStr = incoming.schema(key).dataType == StringType
    val statsDf =
      if (isStr) ranges.map { case (p, (lo, hi)) =>
        (p.getName, lo.asInstanceOf[String], hi.asInstanceOf[String])
      }.toDF("__file", "__lo", "__hi")
      else ranges.map { case (p, (lo, hi)) =>
        (p.getName,
          lo.asInstanceOf[Number].longValue, hi.asInstanceOf[Number].longValue)
      }.toDF("__file", "__lo", "__hi")
    val keyCol = if (isStr) col(key).cast("string") else col(key).cast("long")
    incoming.select(keyCol.as("__k")).where(col("__k").isNotNull).distinct()
      .join(broadcast(statsDf),
        col("__k") >= col("__lo") && col("__k") <= col("__hi"))
      .select("__file").distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** Normalize footer-stat and DataFrame key values into one comparable
    * family per type (all integrals → Long, parquet Binary → String). */
  private def normKey(v: Any): Any = v match {
    case b: Binary => b.toStringUsingUTF8
    case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue)
    case s: java.lang.Short => java.lang.Long.valueOf(s.longValue)
    case b: java.lang.Byte => java.lang.Long.valueOf(b.longValue)
    case other => other
  }

  private val keyOrdering: Ordering[Any] =
    (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** First index in sorted `a` whose value is >= x (a.length if none). */
  private def lowerBound(a: Array[Any], x: Any): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (keyOrdering.compare(a(m), x) < 0) lo = m + 1 else hi = m
    }
    lo
  }

  // ---- Iceberg v2 metadata ----------------------------------------------
  // The reference's tables ARE Iceberg tables (storage_utils.go:162-494);
  // here the format layer is optional per table: publishIceberg emits a
  // spec-conformant v2 snapshot commit (metadata.json + Avro manifest tree
  // with per-column footer stats) for the current version, and readIceberg
  // plans a scan purely from that metadata — no directory listing. Like the
  // rest of the Store, the emitter works through the Hadoop FileSystem, so
  // the metadata tree follows the warehouse onto any fs.* scheme.

  /** Commit the table's current version as an Iceberg v2 snapshot; snapshot
    * id = store version (deterministic). Returns the metadata.json path. */
  def publishIceberg(name: String): HadoopPath = {
    require(exists(name), s"unknown table $name")
    // an ALTERed table's files carry pre-rename/pre-drop physical names;
    // true Iceberg carries the mapping as field-ids — this emitter writes
    // name-keyed schemas, so compact first (any replace) to re-baseline
    require(!evolution.contains(name),
      s"$name has pending column evolution; rewrite it (replace) before Iceberg publish")
    val cur = fs.makeQualified(versionPath(name, curVersion(name)))
    // recursive listing covers hive-partitioned layouts (key=value subdirs)
    val buf = scala.collection.mutable.ArrayBuffer[HadoopPath]()
    val it = fs.listFiles(cur, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) buf += st.getPath
    }
    val files = buf.sortBy(_.toString).toSeq
    require(files.nonEmpty, s"publishIceberg($name): no data files in $cur")
    val schema = read(name).schema
    // identity-partition spec from the path segments between the version
    // dir and the file (hive key=value encoding); values typed per schema
    def segs(f: HadoopPath): Seq[(String, String)] = {
      val acc = scala.collection.mutable.ListBuffer[(String, String)]()
      var d = f.getParent
      while (d != null && fs.makeQualified(d) != cur) {
        val s = d.getName
        if (s.contains("=")) {
          val Array(k, v) = s.split("=", 2)
          (k -> java.net.URLDecoder.decode(v, "UTF-8")) +=: acc
        }
        d = d.getParent
      }
      acc.toList
    }
    // spec fields from the hive keys: a key that IS a schema column is an
    // identity partition; a `<col>_<transform>` key (the self-describing
    // names replaceTransformPartitioned emits) is a hidden partition
    // NOTE on precedence: a hive dir key surfaces as a read-schema column
    // (Spark infers partition dirs), so a transform-named key like `ts_day`
    // is in `schema` too — the transform interpretation wins whenever its
    // SOURCE column exists in the data, and the derived field is dropped
    // from the logical schema the metadata declares.
    val transformKey = "^(.*)_(day|month|year|hour|bucket(\\d+)|trunc(\\d+))$".r
    def specFieldFor(key: String): Iceberg.SpecField = key match {
      case transformKey(colName, t, bn, tn) if schema.fieldNames.contains(colName) =>
        val tr =
          if (bn != null) s"bucket[$bn]"
          else if (tn != null) s"truncate[$tn]"
          else t
        Iceberg.SpecField(key, tr, colName, schema(colName).dataType)
      case _ if schema.fieldNames.contains(key) =>
        Iceberg.SpecField.identity(key, schema(key).dataType)
      case _ => throw new IllegalArgumentException(
        s"partition dir $key matches no column or transform of $name")
    }
    val spec: Seq[Iceberg.SpecField] = segs(files.head).map(s => specFieldFor(s._1))
    val hidden = spec.filter(_.transform != "identity").map(_.name).toSet
    val logical = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(f => hidden.contains(f.name)))
    val byName = spec.map(sf => sf.name -> sf).toMap
    def typed(k: String, v: String): Any = byName(k).resultType match {
      case IntegerType | ShortType | ByteType => v.toInt
      case LongType => v.toLong
      case _ => v
    }
    Iceberg.commit(spark, tablePath(name), logical,
      files, versions(name), spec,
      f => segs(f).map { case (k, v) => k -> typed(k, v) })
  }

  /** Replace with an Iceberg hidden-partitioned layout: rows land in hive
    * dirs keyed by `transform(column)` under the spec's field-name
    * convention (`ts_day=…`, `id_bucket16=…`), while the SOURCE column
    * stays in the data files — queries never mention the derived field.
    * publishIceberg then emits the matching transform spec, and the
    * transform-pruned readers plan on the manifest partition values.
    * Scale shape: one shuffle on the derived value (same as any
    * partitioned write); day/month grained dirs bound file counts on
    * time-ordered data, bucket[N] bounds them on high-cardinality keys. */
  /** Multi-field hidden partitioning — e.g. `day(ts), bucket[8](user_id)`,
    * the standard time-plus-key layout for a 100 TB fact table: a one-day
    * one-key probe opens 1/(days·N) of the files. Field order = dir
    * nesting order. */
  def replaceTransformPartitioned(name: String, df: DataFrame,
      specs: Seq[(String, String)]): Unit = {
    val withCols = specs.foldLeft(df) { case (d, (column, transform)) =>
      d.withColumn(Iceberg.SpecField.fieldName(column, transform),
        transformPartitionCol(d, column, transform))
    }
    replacePartitioned(name, withCols,
      specs.map { case (c, t) => Iceberg.SpecField.fieldName(c, t) }: _*)
    // override the identity specs the delegation recorded: a DELTA write
    // on this table re-derives the dir fields from the SOURCE columns
    layouts(name) = Layout("partitioned",
      specs.map { case (c, t) => Iceberg.SpecField.fieldName(c, t) }, 0, specs)
  }

  def replaceTransformPartitioned(name: String, df: DataFrame, column: String,
      transform: String): Unit =
    replaceTransformPartitioned(name, df, Seq(column -> transform))

  private def transformPartitionCol(df: DataFrame, column: String,
      transform: String): Column = {
    val srcType = df.schema(column).dataType
    val bucketN = "bucket\\[(\\d+)\\]".r
    val truncW = "truncate\\[(\\d+)\\]".r
    val pcol: Column = transform match {
      // Written partition values MUST agree with the read-side pruner
      // (Iceberg.transformValue), which is session-timezone-FREE: NTZ wall
      // times are epoch'd as-if-UTC, instants by their absolute micros.
      // Every expression here is therefore pinned to the same definitions —
      // a client's SET timezone can never skew writer vs pruner (a skew
      // would silently drop rows near day/month boundaries on pruned reads).
      case "day" | "month" | "year" | "hour" => srcType match {
        case DateType => transform match {
          case "day" => datediff(col(column), lit("1970-01-01")).cast("int")
          case "month" => expr(s"(year($column) - 1970) * 12 + month($column) - 1")
          case "year" => expr(s"year($column) - 1970")
          case other => throw new IllegalArgumentException(s"$other over DATE")
        }
        case _: TimestampNTZType =>
          // wall-clock fields are the NTZ value's intrinsic content; field
          // extraction and NTZ→DATE are timezone-free
          val epochDay = datediff(col(column).cast(DateType), lit("1970-01-01"))
          transform match {
            case "day" => epochDay.cast("int")
            case "hour" =>
              (epochDay.cast("long") * 24 + expr(s"hour($column)")).cast("int")
            case "month" => expr(s"(year($column) - 1970) * 12 + month($column) - 1")
            case "year" => expr(s"year($column) - 1970")
          }
        case _ =>
          // instant (or castable) column: absolute epoch micros are
          // intrinsic; month/year go through the UTC calendar date derived
          // from them, never through session-zone year()/month()
          val micros = expr(s"unix_micros(CAST($column AS TIMESTAMP))")
          val utcDate = expr("date_add(DATE '1970-01-01', " +
            s"CAST(FLOOR(unix_micros(CAST($column AS TIMESTAMP)) / 86400000000) AS INT))")
          transform match {
            case "day" => floor(micros / lit(86400000000L)).cast("int")
            case "hour" => floor(micros / lit(3600000000L)).cast("int")
            case "month" =>
              ((year(utcDate) - lit(1970)) * 12 + month(utcDate) - 1).cast("int")
            case "year" => (year(utcDate) - lit(1970)).cast("int")
          }
      }
      case bucketN(n) =>
        // murmur3 bucket per the Iceberg spec — a scalar UDF is fine here:
        // this is the WRITE path laying files out, not a query hot loop
        val nb = n.toInt
        srcType match {
          case LongType | IntegerType =>
            udf((v: java.lang.Long) => if (v == null) null
              else Int.box((Iceberg.bucketHash(v, LongType) & Int.MaxValue) % nb))
              .apply(col(column).cast("long"))
          case StringType =>
            udf((v: String) => if (v == null) null
              else Int.box((Iceberg.bucketHash(v, StringType) & Int.MaxValue) % nb))
              .apply(col(column))
          case other => throw new IllegalArgumentException(s"bucket over $other")
        }
      case truncW(w) => srcType match {
        case StringType => substring(col(column), 1, w.toInt)
        case LongType | IntegerType =>
          (col(column) - pmod(col(column), lit(w.toLong))).cast(srcType.sql.toLowerCase)
        case other => throw new IllegalArgumentException(s"truncate over $other")
      }
      case other => throw new IllegalArgumentException(s"transform $other")
    }
    pcol
  }

  /** Read through the Iceberg metadata tree (optionally a past snapshot). */
  def readIceberg(name: String, snapshotId: Option[Long] = None): DataFrame =
    Iceberg.readTable(spark, tablePath(name), snapshotId)

  /** Hidden-partition pruned reads (see Iceberg.readTransform*Pruned):
    * predicates on the SOURCE column, planned via the spec's transform. */
  def readIcebergTransformRange(name: String, column: String, lo: Any,
      hi: Any): (DataFrame, Int, Int) =
    Iceberg.readTransformRangePruned(spark, tablePath(name), column, lo, hi)

  def readIcebergTransformEq(name: String, column: String,
      value: Any): (DataFrame, Int, Int) =
    Iceberg.readTransformEqPruned(spark, tablePath(name), column, value)

  /** Publish the current version as an Iceberg snapshot AND advance the
    * table's pointer in a reference-layout JDBC catalog (iceberg_tables
    * row), registering the row on first publish. The advance is the
    * optimistic CAS commit, retried once against a concurrent writer's
    * location before giving up — exactly-one-winner semantics. */
  def publishIcebergTo(catalog: JdbcIcebergCatalog, namespace: String,
      name: String): HadoopPath = {
    val md = publishIceberg(name)
    val loc = fs.makeQualified(md).toUri.toString
    catalog.metadataLocation(namespace, name) match {
      case None if catalog.tables().contains((namespace, name)) =>
        // registered with NULL location (reference's create-before-sync)
        require(catalog.commitLocation(namespace, name, loc, None),
          s"concurrent catalog commit on $namespace.$name")
      case None => catalog.register(namespace, name, loc)
      case some =>
        if (!catalog.commitLocation(namespace, name, loc, some)) {
          val cur = catalog.metadataLocation(namespace, name)
          require(catalog.commitLocation(namespace, name, loc, cur),
            s"concurrent catalog commit on $namespace.$name")
        }
    }
    md
  }

  /** Type-2 slowly-changing-dimension upsert: incoming (key, attrs,
    * effective ts) closes the open history row of each changed key
    * (valid_to = ts, is_current = false) and opens a new current row.
    * Unchanged keys keep their open row. The reference only replaces or
    * upserts in place (iceberg_table_writer.go:304-378); history tracking
    * is the warehouse-side extension. On Iceberg this is a single MERGE;
    * here: one anti/semi split + union, all hash joins on the key. */
  def scd2Upsert(name: String, incoming: DataFrame, key: String, tsCol: String): Unit = withWriteLock(name) {
    if (!exists(name)) {
      replace(name, incoming
        .withColumn("valid_from", col(tsCol)).drop(tsCol)
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .withColumn("is_current", lit(true)))
      return
    }
    val hist = read(name)
    val incomingKeys = incoming.select(col(key))
    val untouched = hist.join(incomingKeys, Seq(key), "left_anti")
    val closedAt = incoming.select(col(key), col(tsCol).as("__close_ts"))
    val closed = hist.filter(col("is_current"))
      .join(closedAt, Seq(key))
      .withColumn("valid_to", col("__close_ts")).drop("__close_ts")
      .withColumn("is_current", lit(false))
    val priorHistory = hist.filter(!col("is_current"))
      .join(incomingKeys, Seq(key), "left_semi")
    val opened = incoming
      .withColumn("valid_from", col(tsCol)).drop(tsCol)
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    replace(name, untouched.unionByName(priorHistory).unionByName(closed)
      .unionByName(opened))
  }

  /** Cursor-based incremental append with overlap trim: rows of `incoming`
    * at/after the stored max(cursor) are appended unless their unique key is
    * already present (the reference's OverrideRows handling). */
  def cursorAppend(name: String, incoming: DataFrame, cursorCol: String, key: String): Unit = withWriteLock(name) {
    val cursor = read(name).agg(max(col(cursorCol))).collect()(0).get(0)
    val fresh = incoming.filter(col(cursorCol) >= lit(cursor))
      .join(read(name).select(key), Seq(key), "left_anti")
    append(name, fresh)
  }

  // ---- SQL publication ---------------------------------------------------
  // Every store table (synced tables AND matviews) is queryable by name
  // through spark.sql / the wire front end: each version flip re-registers
  // the current snapshot as a session temp view — the reference registers
  // every catalog table as a DuckDB shell table the same way
  // (query_remapper_table.go:141-178). replaceBucketed is the exception:
  // it registers a real catalog table (bucket metadata lives there) and a
  // temp view would shadow it.
  private def publish(name: String): Unit = {
    // a bucketed table lives in the session catalog (bucket metadata only
    // exists there) — registering a temp view over it would shadow the
    // bucket layout AND go stale on the next bucketed replace.
    // DEMOTION: when the current version has moved past the dir the
    // catalog table points at (an append/COW write landed after the
    // bucketed replace), the bucket guarantee no longer holds for the
    // live file set — Spark would keep PLANNING bucketed joins over it
    // and silently drop the unbucketed delta rows (wrong join results).
    // Drop the catalog registration and serve a plain view: reads stay
    // CORRECT, joins pay their shuffle again, and VACUUM FULL re-applies
    // the declared bucketing (catalog table included).
    locally {
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(name)
      val cat = spark.sessionState.catalog
      if (cat.tableExists(ident)) {
        val loc = try cat.getTableMetadata(ident).storage.locationUri
          catch { case _: Exception => None }
        val cur = fs.makeQualified(
          new HadoopPath(versionDir(name, curVersion(name)))).toUri
        if (loc.exists(_.getPath != cur.getPath))
          spark.sql(s"DROP TABLE IF EXISTS `$name`")
      }
    }
    if (!spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(name))) {
      read(name).createOrReplaceTempView(name)
      // an IVM view's hidden sum/count/sumsq state feeds the aggregate
      // rollup rewriter; publish it under a companion name the public
      // surface never lists (SELECT * on the view stays clean)
      if (ivmViews.contains(name))
        readRaw(name).createOrReplaceTempView(name + "__state")
    }
    // SQL views re-bind so they read the new snapshot (their temp views
    // pinned the previous version's plan); analysis-only, no jobs run
    if (viewDefs.nonEmpty) registerViews()
  }

  def createMatview(name: String, defn: String, withData: Boolean = true): Unit = {
    matviewDefs(name) = defn
    // additive-aggregate definitions register for incremental refresh; an
    // avg definition must BUILD through ivmAggregate too — its stored state
    // carries hidden sum/count columns the plain SQL build would lack and
    // the first incremental merge would then fail to find. A WITH NO DATA
    // view registers on its first (full) refresh instead.
    val metaOpt = if (withData) ivmMetaFromDefn(defn, 0) else None
    metaOpt match {
      case Some(m) if m.avgCols.nonEmpty || m.devCols.nonEmpty || m.hllCols.nonEmpty =>
        replace(name, ivmAggregate(ivmJoined(read(m.base), m), m, 1))
      case _ if withData => replace(name, spark.sql(defn))
      case _ => replace(name, spark.sql(defn).limit(0))
    }
    metaOpt.foreach { m =>
      ivmViews(name) = m.copy(reflected = versions(m.base))
      persistCatalog()
    }
    publish(name)
  }

  def refreshMatview(name: String): Unit = {
    lastRefreshIncremental = false
    val defn = matviewDefs(name)
    ivmViews.get(name) match {
      case Some(m) if exists(m.base) =>
        incrementalRefresh(name)
        lastRefreshIncremental = true
      case _ =>
        // a WITH NO DATA (or pre-IVM) additive view registers on its first
        // full refresh: the build reflects the base's current version, so
        // incremental maintenance takes over from here. An avg view must
        // build through ivmAggregate — its stored state carries hidden
        // sum/count columns the plain SQL recompute would not produce.
        val metaOpt = ivmMetaFromDefn(defn, 0)
        metaOpt match {
          case Some(m) if exists(m.base) &&
              (m.avgCols.nonEmpty || m.devCols.nonEmpty || m.hllCols.nonEmpty) =>
            replace(name, ivmAggregate(ivmJoined(read(m.base), m), m, 1))
          case _ => replace(name, spark.sql(defn))
        }
        metaOpt.filter(m => exists(m.base)).foreach { m =>
          ivmViews(name) = m.copy(reflected = versions(m.base))
          persistCatalog()
        }
    }
    publish(name)
  }

  def dropMatview(name: String): Unit = {
    matviewDefs.remove(name)
    drop(name)
    spark.catalog.dropTempView(name)
  }

  def renameMatview(from: String, to: String): Unit = {
    matviewDefs.get(from).foreach { d => matviewDefs(to) = d; matviewDefs.remove(from) }
    ivmViews.get(from).foreach { m => ivmViews(to) = m; ivmViews.remove(from) }
    versions.get(from).foreach { v =>
      // both names gate like any write: a rename must neither move a
      // table out from under a staging txn nor land on one
      gateAcquire(from); gateAcquire(to)
      awaitNoForeignStaging(from); awaitNoForeignStaging(to)
      fs.rename(tablePath(from), tablePath(to))
      invalidateSchemas(from)
      dirAliases.keysIterator.filter(_._1 == from).toSeq.foreach { k =>
        dirAliases((to, k._2)) = dirAliases(k); dirAliases.remove(k)
      }
      committedInsertDeltas.keysIterator.filter(_._1 == from).toSeq.foreach { k =>
        committedInsertDeltas((to, k._2)) = committedInsertDeltas(k)
        committedInsertDeltas.remove(k)
      }
      dedupIndexes.keysIterator.filter(_._1 == from).toSeq.foreach { k =>
        dedupIndexes.remove(k).foreach(dedupIndexes((to, k._2)) = _)
        dedupIndexedVersion.remove(k)
          .foreach(dedupIndexedVersion((to, k._2)) = _)
      }
      annIndexes.remove(from).foreach(annIndexes(to) = _)
      annIndexedVersion.remove(from).foreach(annIndexedVersion(to) = _)
      layouts.remove(from).foreach(layouts(to) = _)
      versions(to) = v
      versions.remove(from)
      spark.catalog.dropTempView(from)
      publish(to)
    }
    persistCatalog()
  }

  def matviewDefinition(name: String): Option[String] = matviewDefs.get(name)

  /** Registered matview names (catalog listing order). */
  def matviewNames: Seq[String] = matviewDefs.keys.toSeq.sorted

  // ---- plain (non-materialized) SQL views --------------------------------
  // A view is a named query, not data: creation validates + registers a
  // session temp view over the translated definition, and every store
  // version flip re-registers all views (publish -> registerViews), so a
  // view over a store table always reads the CURRENT snapshot — Spark temp
  // views pin the analyzed plan at registration, which would otherwise
  // serve the version the base had at CREATE VIEW time. At cluster scale
  // views are catalog entries resolved per-query the same way; the
  // re-registration is analysis-only (no data touched, no jobs run).

  /** Create (or replace) a SQL view. `defn` is the ORIGINAL PG-dialect
    * SELECT; `cols` optionally renames the output columns positionally
    * (PG's `CREATE VIEW v (a, b) AS …`). Durable views survive restarts
    * via the catalog; temp views are session-only. */
  def createView(name: String, defn: String, cols: Seq[String] = Nil,
      orReplace: Boolean = false, durable: Boolean = true): Unit = {
    if (!orReplace && viewDefs.contains(name))
      throw new IllegalStateException(s"""relation "$name" already exists""")
    if (exists(name) || spark.catalog.tableExists(name) && !viewDefs.contains(name))
      throw new IllegalStateException(s"""relation "$name" already exists""")
    val vd = ViewDef(defn, cols, durable)
    registerView(name, vd) // validates by analyzing; throws before any state
    viewDefs(name) = vd
    if (durable) persistCatalog()
  }

  def dropView(name: String, ifExists: Boolean = false): Unit = {
    val known = viewDefs.remove(name).isDefined
    if (!known && !ifExists)
      throw new IllegalStateException(s"""view "$name" does not exist""")
    if (known) {
      spark.catalog.dropTempView(name)
      persistCatalog()
    }
  }

  def viewDefinition(name: String): Option[String] = viewDefs.get(name).map(_.defn)
  def viewNames: Seq[String] = viewDefs.keys.toSeq.sorted

  /** Snapshot/restore of one view's full state — the transaction layer's
    * undo unit for view DDL (CREATE [OR REPLACE]/DROP VIEW inside BEGIN). */
  private[graft] def viewState(name: String): Option[(String, Seq[String], Boolean)] =
    viewDefs.get(name).map(v => (v.defn, v.cols, v.durable))
  private[graft] def restoreView(name: String,
      prior: Option[(String, Seq[String], Boolean)]): Unit = prior match {
    case Some((d, c, durable)) =>
      createView(name, d, c, orReplace = true, durable = durable)
    case None => dropView(name, ifExists = true)
  }

  private def registerView(name: String, vd: ViewDef): Unit = {
    val df = spark.sql(PgDialect.translateSelect(vd.defn))
    val named = if (vd.cols.nonEmpty) df.toDF(vd.cols: _*) else df
    named.createOrReplaceTempView(name)
  }

  /** Re-register every view against the current base-table bindings,
    * bases first: a temp view stores its analysed plan, so a view
    * registered before a view it reads would keep that view's previous
    * binding. A view reads another when its definition names it (a name
    * that only spells a column or a literal merely reorders). Each view is
    * replaced in place, so no name is unregistered at any point. Per-view
    * degradation: a view whose base is GONE (dropped table, partial mount)
    * costs that view, not the catalog. */
  private def registerViews(): Unit = {
    val defs = viewDefs.toMap
    val seen = scala.collection.mutable.Set[String]()
    def visit(n: String): Unit = if (seen.add(n)) {
      defs.keys.filter(m => m != n && ("(?i)(?<![\\w$])" + java.util.regex.Pattern
        .quote(m) + "(?![\\w$])").r.findFirstIn(defs(n).defn).isDefined).foreach(visit)
      try registerView(n, defs(n))
      catch { case _: Exception =>
        System.err.println(s"[store] view $n failed to register (base missing?)") }
    }
    defs.keys.toSeq.sorted.foreach(visit)
  }

  /** Plain (non-matview) table names — the synced-table population the
    * catalog emulation lists as relkind 'r'. */
  def tableNames: Seq[String] =
    (versions.keySet -- matviewDefs.keySet).toSeq.sorted

  // ---- near-duplicate (MinHash) index maintenance --------------------------
  // The write path keeps a persisted signature/shingle index and a verified
  // near-dup pair table current for registered document tables, so a daily
  // ingest batch dedups against the standing corpus by PROBING the index —
  // O(batch) work, zero corpus re-shingling (pipeline/Dedup.minhashProbe).
  // Maintenance is change-feed driven: after any committed write the file
  // diff between the last indexed version and the new one yields row-level
  // inserts/deletes; deletes drop index rows and their pairs, inserts probe
  // and append. Registration + watermark persist in the catalog snapshot,
  // so a fresh mount resumes maintenance INCREMENTALLY — no re-enable call,
  // no rebuild (the maps themselves are declared above the restore block;
  // see the init-order note there).
  // keyed (table, family): one table can maintain several fingerprint
  // indexes at once (text minhash + media phash is the realistic pairing)
  private[graft] def dedupIdxTable(name: String, family: String = "minhash") =
    s"${name}__${Dedup.familyTag(family)}_idx"
  private[graft] def dedupPairsTable(name: String, family: String = "minhash") =
    s"${name}__${Dedup.familyTag(family)}_pairs"

  /** Register `name` for incremental near-dup indexing under `family`
    * (minhash | simhash | phash | embedding — see Dedup's family dispatch)
    * and build/refresh the index to the table's current version. The
    * registration and watermark persist in the catalog snapshot, so a
    * restarted mount resumes maintenance incrementally with NO call here;
    * calling enable again forces a full rebuild (the reindex-after-
    * definition-change hatch). `tau` is the family's threshold: min
    * Jaccard (minhash), max Hamming (simhash), unused (phash exact
    * match), min cosine (embedding). */
  def enableDedupIndex(name: String, idCol: String = "doc_id",
      valCol: String = "text", tau: Double = 0.9,
      family: String = "minhash"): Unit = {
    require(exists(name), s"no such store table: $name")
    Dedup.familyTag(family) // validate up front
    dedupIndexes((name, family)) = (idCol, valCol, tau)
    dedupIndexedVersion.remove((name, family))
    refreshDedupIndex(name)
  }

  /** Bring every registered near-dup index + pair table of `name` up to
    * its current version. Incremental via the change feed when a watermark
    * exists; full build otherwise (first enable, or a schema-changing
    * replace). */
  def refreshDedupIndex(name: String): Unit = withIndexRefreshLock(name) {
    dedupIndexes.keysIterator.filter(_._1 == name).toSeq.sortBy(_._2)
      .foreach { case (_, family) =>
        try {
          refreshDedupFamily(name, family)
          indexRefreshErrors.remove((name, s"dedup:$family")); ()
        } catch { case e: Exception =>
          indexRefreshErrors((name, s"dedup:$family")) =
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(500)
          throw e
        }
      }
  }

  // ---- index staleness surface --------------------------------------
  // The refresh hooks are best-effort by contract (a failed refresh only
  // warns and the watermark stays behind) — but stale must be VISIBLE,
  // not silent: readers get a pg_stat-style report, and probes can be
  // made to refuse (spark.graft.strictIndexProbes=true) instead of
  // serving stale answers. Repair needs no bookkeeping: the change feed
  // is cumulative, so the hook on the NEXT commit (or an explicit
  // refreshDedupIndex/refreshAnnIndex call) covers every missed batch.
  /** Last refresh failure per (table, kind); cleared by the next success. */
  private val indexRefreshErrors = TrieMap[(String, String), String]()

  /** Staleness report over every registered incremental index:
    * (table, kind, indexed_version, current_version, stale, last_error).
    * kind = "dedup:<family>" | "ann". Surfaced in SQL as the
    * `graft_index_stats` catalog view. */
  def indexStaleness: Seq[(String, String, Int, Int, Boolean, String)] = {
    def row(t: String, kind: String, iv: Int) = {
      val cv = versions.getOrElse(t, 0)
      (t, kind, iv, cv, iv != cv, indexRefreshErrors.getOrElse((t, kind), ""))
    }
    (dedupIndexes.keysIterator.map { case (t, fam) =>
      row(t, s"dedup:$fam", dedupIndexedVersion.getOrElse((t, fam), 0))
    } ++ annIndexes.keysIterator.map { t =>
      row(t, "ann", annIndexedVersion.getOrElse(t, 0))
    }).toSeq.sortBy(r => (r._1, r._2))
  }

  /** Throw (strict mode) or warn when a probe is about to serve `kind` on
    * `name` while its watermark is behind the table; with
    * spark.graft.repairIndexOnProbe=true, first attempt a READ-REPAIR
    * (re-run the refresh — the cumulative change feed makes it cover
    * every missed batch) and only complain if it still trails. */
  private def guardStaleProbe(name: String, kind: String,
      curWatermark: () => Int, repair: () => Unit): Unit = {
    def stale = curWatermark() != versions.getOrElse(name, 0)
    if (!stale) return
    if (spark.conf.getOption("spark.graft.repairIndexOnProbe")
        .exists(_.toBoolean)) {
      repair() // the maybe* hooks swallow and RECORD failures
      if (!stale) return
    }
    val iv = curWatermark(); val cv = versions.getOrElse(name, 0)
    val msg = s"$kind index on $name is stale (indexed v$iv, table v$cv)" +
      indexRefreshErrors.get((name, kind)).fold("")(e => s"; last refresh error: $e") +
      " — the next commit (or an explicit refresh) repairs it"
    if (spark.conf.getOption("spark.graft.strictIndexProbes")
        .exists(_.toBoolean))
      throw new IllegalStateException(msg)
    System.err.println(s"[store] $msg")
  }

  /** Guarded accessor for a near-dup index's pair table: surfaces (and in
    * strict mode refuses, and with repairIndexOnProbe heals) staleness
    * that a raw read() would serve silently. */
  def dedupPairs(name: String, family: String = "minhash"): DataFrame = {
    guardStaleProbe(name, s"dedup:$family",
      () => dedupIndexedVersion.getOrElse((name, family), 0),
      () => maybeRefreshDedupIndex(name))
    read(dedupPairsTable(name, family))
  }

  private def refreshDedupFamily(name: String, family: String): Unit =
    withoutStaging {
      val (idCol, valCol, tau) = dedupIndexes.getOrElse((name, family), return)
      val cur = versions.getOrElse(name, return)
      val from = dedupIndexedVersion.getOrElse((name, family), 0)
      if (cur == from) return
      val idxT = dedupIdxTable(name, family)
      val pairsT = dedupPairsTable(name, family)
      import org.apache.spark.sql.functions.{col, lit}
      // the watermark is DURABLE (catalog snapshot): a fresh mount resumes
      // incrementally from here instead of rebuilding the index
      def markIndexed(): Unit = {
        dedupIndexedVersion((name, family)) = cur
        persistCatalog()
      }
      def fullBuild(): Unit = {
        val idx = Dedup.indexFrame(family, readVersion(name, cur), idCol, valCol)
        replace(idxT, idx)
        // a full probe of the fresh index against an empty corpus = every
        // in-corpus pair (each doc is a batch member)
        replace(pairsT, Dedup.probe(family, idx.limit(0), idx, tau)
          .orderBy("id_a", "id_b"))
      }
      if (from == 0 || !exists(idxT)) fullBuild()
      else {
        val changes = try readChanges(name, from, cur) catch {
          case _: Exception => fullBuild(); markIndexed(); return
        }
        val delIds = changes.filter(col("_change_type") === "delete")
          .select(col(idCol).as("doc_id")).distinct()
        val nDel = delIds.limit(100001).count()
        if (nDel > 100000) {
          // a delete set this big is a replace-shaped rewrite: a full
          // rebuild beats incremental retraction plumbing
          fullBuild(); markIndexed(); return
        }
        if (nDel > 0) {
          deleteByKey(idxT, delIds, "doc_id")
          // pair rows die with either endpoint; O(pairs) rewrite — the pair
          // table is the small output side (bounded by true near-dup
          // volume). Anti-join keeps the retraction a plan-side join (the
          // old isin(...) built a 100k-literal In expression that stalled
          // codegen right below the rebuild cutoff).
          val oldPairs = read(pairsT)
          // USING-joins hoist the key column first; restore the table's
          // column order before the positional replace
          replace(pairsT, oldPairs
            .join(delIds.withColumnRenamed("doc_id", "id_a"),
              Seq("id_a"), "left_anti")
            .join(delIds.withColumnRenamed("doc_id", "id_b"),
              Seq("id_b"), "left_anti")
            .select(oldPairs.columns.map(col).toSeq: _*))
        }
        val ins = changes.filter(col("_change_type") === "insert")
          .drop("_change_type")
        val batch = Dedup.indexFrame(family, ins, idCol, valCol)
        if (!batch.isEmpty) {
          // IDEMPOTENT re-application (a crash can land between the index
          // writes and the watermark persist, so a restart may replay this
          // batch): probe against the index MINUS the batch ids — correct
          // on first application (probe before the index grows) and on
          // replay (the half-applied batch rows don't double-count) —
          // upsert the signatures by key, and anti-join new pairs against
          // the pair table before appending.
          // Broadcast the batch-id set only while it is broadcast-sized: a
          // bulk append that takes the incremental path (watermark already
          // set) can carry 100M+ ids, and an unconditional broadcast of
          // that set is a multi-GiB ship that dies at exactly the ingest
          // scale this index exists for. Above the row gate the anti-join
          // falls back to a shuffle (sort-merge) join on doc_id.
          val batchIds = batch.select("doc_id").distinct()
          val bcastGateRows = spark.conf
            .getOption("spark.graft.dedupBroadcastIdRows")
            .flatMap(_.toIntOption).getOrElse(2000000)
          val batchSmall = batchIds.limit(bcastGateRows + 1).count() <= bcastGateRows
          val idxSansBatch = read(idxT)
            .join(if (batchSmall) broadcast(batchIds) else batchIds,
              Seq("doc_id"), "left_anti")
          val newPairs = Dedup.probe(family, idxSansBatch, batch, tau)
          upsert(idxT, batch, "doc_id")
          appendCompacting(pairsT,
            newPairs.join(read(pairsT), Seq("id_a", "id_b"), "left_anti"))
        }
      }
      markIndexed()
    }

  /** Post-commit hook: keep registered near-dup indexes current. The index
    * tables are ordinary store tables and are themselves unregistered, so
    * the hook cannot recurse. */
  private def maybeRefreshDedupIndex(name: String): Unit =
    if (dedupIndexes.keysIterator.exists(_._1 == name))
      try refreshDedupIndex(name)
      catch { case e: Exception =>
        System.err.println(s"[store] dedup index refresh failed for $name: ${e.getMessage}")
      }

  // ---- incremental ANN (IVF) index ---------------------------------------
  // The Faiss add-after-train contract through the write path: centroids
  // are trained once (offline or Similarity.kmeansTrain) and persisted at
  // enable time; from then on every committed batch assigns ONLY its own
  // vectors — a map-only fold against the broadcast centroid literal, no
  // shuffle at any batch size — and deletes retract assignment rows by key.
  // Queries probe the persisted assignments with the top-nprobe cells
  // pushed down as an In(cid) scan filter (cell-clustered files, so parquet
  // footers skip non-probed cells). Same registration contract as the
  // dedup indexes: catalog-persisted registration + watermark, durable
  // tables, incremental resume on a fresh mount.
  private[graft] def annIdxTable(name: String) = s"${name}__ivf_assign"
  private[graft] def annCentsTable(name: String) = s"${name}__ivf_cents"

  /** Register `name` for incremental IVF ANN indexing: persist `centroids`
    * ((cid, cv) — cv array<double>), assign the full current content once,
    * then keep assignments current through the write path. */
  def enableAnnIndex(name: String, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(exists(name), s"no such store table: $name")
    replace(annCentsTable(name), centroids.select(
      org.apache.spark.sql.functions.col("cid").cast("long").as("cid"),
      org.apache.spark.sql.functions.col("cv")))
    annIndexes(name) = (idCol, vecCol)
    annIndexedVersion.remove(name)
    refreshAnnIndex(name)
  }

  /** Bring `name`'s IVF assignments up to its current version: incremental
    * via the change feed when a watermark exists, full assign otherwise.
    * The watermark persists in the catalog snapshot (incremental resume on
    * a fresh mount); batch re-application is idempotent (upsert by key),
    * so the crash window between the assignment write and the watermark
    * persist replays safely. */
  def refreshAnnIndex(name: String): Unit =
    withIndexRefreshLock(name)(withoutStaging {
    val (idCol, vecCol) = annIndexes.getOrElse(name, return)
    val cur = versions.getOrElse(name, return)
    val from = annIndexedVersion.getOrElse(name, 0)
    if (cur == from) return
    val aT = annIdxTable(name)
    import org.apache.spark.sql.functions.col
    def markIndexed(): Unit = {
      annIndexedVersion(name) = cur
      indexRefreshErrors.remove((name, "ann"))
      persistCatalog()
    }
    def fullBuild(): Unit = replace(aT,
      Similarity.ivfAssign(readVersion(name, cur), read(annCentsTable(name)),
        idCol, vecCol))
    if (from == 0 || !exists(aT)) fullBuild()
    else {
      val changes = try readChanges(name, from, cur) catch {
        case _: Exception => fullBuild(); markIndexed(); return
      }
      val delIds = changes.filter(col("_change_type") === "delete")
        .select(col(idCol).as("vec_id")).distinct()
      if (!delIds.isEmpty) deleteByKey(aT, delIds, "vec_id")
      val ins = changes.filter(col("_change_type") === "insert")
        .drop("_change_type")
      val batch = Similarity.ivfAssign(ins, read(annCentsTable(name)),
        idCol, vecCol)
      if (!batch.isEmpty) upsert(aT, batch, "vec_id")
    }
    markIndexed()
  })

  /** Top-k ANN over `name`'s persisted IVF index for external `queries`
    * (carrying the registered id/vector columns). */
  def annQuery(name: String, queries: DataFrame,
      probes: Int = Similarity.PROBES, k: Int = 10): DataFrame = {
    val (idCol, vecCol) = annIndexes.getOrElse(name,
      throw new IllegalArgumentException(s"no ANN index registered on $name"))
    guardStaleProbe(name, "ann",
      () => annIndexedVersion.getOrElse(name, 0),
      () => maybeRefreshAnnIndex(name))
    Similarity.ivfProbeQuery(read(annIdxTable(name)),
      read(annCentsTable(name)), queries, idCol, vecCol, probes, k)
  }

  /** Post-commit hook twin of [[maybeRefreshDedupIndex]] for ANN. */
  private def maybeRefreshAnnIndex(name: String): Unit =
    if (annIndexes.contains(name))
      try { refreshAnnIndex(name); indexRefreshErrors.remove((name, "ann")); () }
      catch { case e: Exception =>
        indexRefreshErrors((name, "ann")) =
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(500)
        System.err.println(s"[store] ANN index refresh failed for $name: ${e.getMessage}")
      }

  def drop(name: String): Unit = {
    // a table another transaction is STAGING on must not be deleted out
    // from under it (PG: DROP TABLE queues on the owner's locks); our own
    // txn's gate passes, and its staged state for the table dies with it
    gateAcquire(name)
    // gateless insert-only stagings hold no gate — wait for them too
    awaitNoForeignStaging(name)
    Option(staging()).foreach { st =>
      st.tables.remove(name); st.evoCleared.remove(name)
      st.stagedNames.remove(name); ()
    }
    versions.remove(name)
    ivmViews.remove(name)
    evolution.remove(name)
    dedupIndexes.keysIterator.filter(_._1 == name).toSeq
      .foreach { k => dedupIndexes.remove(k); dedupIndexedVersion.remove(k) }
    annIndexes.remove(name); annIndexedVersion.remove(name)
    layouts.remove(name)
    TableStats.drop(name) // planner stats die with the relation, like PG
    invalidateSchemas(name)
    spark.catalog.dropTempView(name)
    // if this table shadowed a registered testdata view, put the base
    // view back — a dropped shadow must not leave a hole where readers of
    // the base relation (other sessions, concurrent suites) expect it
    Tables.restoreView(spark, name)
    dirAliases.keysIterator.filter(_._1 == name).toSeq
      .foreach(dirAliases.remove)
    committedInsertDeltas.keysIterator.filter(_._1 == name).toSeq
      .foreach(committedInsertDeltas.remove)
    fs.delete(tablePath(name), true)
    persistCatalog()
  }

  // ---- incremental matview maintenance -----------------------------------
  // refreshMatview recomputes the full definition; for the (very common)
  // aggregate-over-one-table views, the store's immutable version dirs
  // enable true incremental maintenance: every write path either carries a
  // data file into the new version UNCHANGED (same file name — hard link /
  // copy) or writes new files, so diffing two versions' file names yields
  // exact additions and retractions. The view state holds additive
  // aggregates (count + per-column sums); a refresh aggregates ONLY the
  // changed files, retracts with sign -1, and merges — O(changed files)
  // instead of O(table). At 100 TB with steady incremental syncs this is
  // the difference between re-aggregating the table per refresh and
  // touching the day's new files (Iceberg/Materialize-style IVM, restricted
  // to the additive-aggregate shape where retraction is exact).

  // avg/stddev/variance are maintained through exactly-retractable hidden
  // state: per alias `a`, __ivm_s_a = sum, __ivm_c_a = NON-NULL count
  // (SQL divides by non-null rows, not count(*)), and for the deviation
  // aggregates __ivm_q_a = sum of squares (double — a long sumsq would
  // overflow at scale). Visible columns are recomputed from the merged
  // state: avg = s/c (null at c=0); var_samp = (q - s²/c)/(c-1) clamped at
  // 0 against retraction float dust, null below two rows; stddev = sqrt.
  private def avgSumAlias(a: String) = Store.avgSumAlias(a)
  private def avgCntAlias(a: String) = Store.avgCntAlias(a)
  private def devSqAlias(a: String) = Store.devSqAlias(a)
  private def hllAlias(a: String) = Store.hllAlias(a)
  private def ivmHiddenCols(m: IvmMeta): Seq[String] =
    m.avgCols.flatMap { case (_, a) => Seq(avgSumAlias(a), avgCntAlias(a)) } ++
      m.devCols.flatMap { case (_, a, _) =>
        Seq(avgSumAlias(a), avgCntAlias(a), devSqAlias(a)) } ++
      m.hllCols.map { case (_, a) => hllAlias(a) }

  /** Recompute visible avg/stddev/variance columns from hidden state and
    * project the stored layout: visible outCols, then hidden state. */
  private def ivmFinish(df: DataFrame, m: IvmMeta): DataFrame = {
    val withAvgs = m.avgCols.foldLeft(df) { case (d, (_, a)) =>
      d.withColumn(a, when(col(avgCntAlias(a)) =!= 0L,
        col(avgSumAlias(a)).cast("double") / col(avgCntAlias(a)).cast("double")))
    }
    val withDevs = m.devCols.foldLeft(withAvgs) { case (d, (_, a, kind)) =>
      val n = col(avgCntAlias(a)).cast("double")
      val s = col(avgSumAlias(a)).cast("double")
      val variance = greatest(lit(0d),
        (col(devSqAlias(a)) - s * s / n) / (n - 1d))
      d.withColumn(a, when(col(avgCntAlias(a)) >= 2L,
        if (kind == "stddev") sqrt(variance) else variance))
    }
    val withHlls = m.hllCols.foldLeft(withDevs) { case (d, (_, a)) =>
      d.withColumn(a, expr(s"hll_sketch_estimate(${hllAlias(a)})"))
    }
    withHlls.select((m.outCols ++ ivmHiddenCols(m)).map(col): _*)
  }

  /** The view's input frame for a given fact frame: the fact rows joined
    * to the (current) dim tables for star-schema views, the fact rows
    * themselves otherwise. INNER equi-joins distribute over any partition
    * of the fact rows, which is what makes the file-diff delta exact while
    * the dims are unchanged. Dims are broadcast-sized by assumption (the
    * star shape); Spark's own size estimate picks the broadcast join. */
  private def ivmJoined(factDf: DataFrame, m: IvmMeta): DataFrame =
    m.joins.foldLeft(factDf.as(m.base)) { case (df, (dim, on)) =>
      df.join(read(dim).as(dim), expr(on))
    }

  private def ivmAggregate(df0: DataFrame, m: IvmMeta, sign: Int): DataFrame = {
    // a row-level WHERE commutes with the version-dir file diff: filtering
    // each added/removed file before aggregation is exactly filtering the
    // base, so retraction stays exact
    val df = m.where.map(w => df0.filter(expr(w))).getOrElse(df0)
    val aggs = ((count(lit(1)) * sign).cast("long").as(m.countAlias) +:
      m.sumCols.zip(m.sumAliases).map { case (c, a) => (sum(col(c)) * sign).as(a) }) ++
      m.minCols.map { case (c, a) => min(col(c)).as(a) } ++
      m.maxCols.map { case (c, a) => max(col(c)).as(a) } ++
      m.avgCols.flatMap { case (c, a) => Seq(
        (sum(col(c)) * sign).as(avgSumAlias(a)),
        (count(col(c)) * sign).cast("long").as(avgCntAlias(a))) } ++
      m.devCols.flatMap { case (c, a, _) => Seq(
        (sum(col(c).cast("double")) * sign).as(avgSumAlias(a)),
        (count(col(c)) * sign).cast("long").as(avgCntAlias(a)),
        (sum(col(c).cast("double") * col(c).cast("double")) * sign)
          .as(devSqAlias(a))) } ++
      // sign is always +1 here for sketch views: removals take the full
      // rebuild path (sketches are mergeable, not retractable)
      m.hllCols.map { case (c, a) =>
        expr(s"hll_sketch_agg($c)").as(hllAlias(a)) }
    ivmFinish(df.groupBy(m.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*), m)
  }

  /** Materialize `view` = SELECT groupCols, count(*), sum(sumCols...),
    * avg(avgCols...), stddev(stddevCols...), variance(varianceCols...)
    * FROM base GROUP BY groupCols — maintained incrementally by
    * [[incrementalRefresh]]. Output columns: groupCols, n_rows, sum_<c>,
    * avg_<c>, stddev_<c>, var_<c> (sample aggregates, exact retraction via
    * hidden sum/count/sumsq state). */
  def createIncrementalMatview(view: String, base: String,
      groupCols: Seq[String], sumCols: Seq[String],
      avgCols: Seq[String] = Nil,
      stddevCols: Seq[String] = Nil,
      varianceCols: Seq[String] = Nil,
      where: Option[String] = None): Unit = {
    require(exists(base), s"unknown base table $base")
    // fail fast on an unparseable or volatile filter — a row-level WHERE
    // must be deterministic for retractions to diff exactly
    where.foreach { w =>
      require(deterministicWhere(w), s"non-deterministic WHERE: $w")
      spark.sessionState.sqlParser.parseExpression(w)
    }
    val sumAliases = sumCols.map(c => s"sum_$c")
    val avgAliases = avgCols.map(c => s"avg_$c")
    val devCols = stddevCols.map(c => (c, s"stddev_$c", "stddev")) ++
      varianceCols.map(c => (c, s"var_$c", "variance"))
    val meta = IvmMeta(base, groupCols, sumCols, "n_rows", sumAliases,
      groupCols ++ ("n_rows" +: sumAliases) ++ avgAliases ++ devCols.map(_._2),
      versions(base),
      avgCols = avgCols.zip(avgAliases), devCols = devCols, where = where)
    replace(view, ivmAggregate(ivmJoined(read(base), meta), meta, 1))
    ivmViews(view) = meta
    persistCatalog()
    publish(view) // re-publish now that the IVM meta exists (companion state view)
  }

  /** Conservative additive-aggregate matcher for SQL matview definitions:
    * `SELECT <group cols | count(*) AS a | sum/min/max/avg(col) AS a, ...>
    * FROM <table> GROUP BY <group cols>` with nothing else (no WHERE/JOIN/
    * HAVING/..., aggregates explicitly aliased, count(*) present for the
    * retraction bookkeeping). min/max maintain incrementally on append-only
    * refreshes and force a full rebuild when files were removed (they are
    * not retractable); avg retracts exactly through hidden sum + non-null
    * count state and never forces a rebuild. A match registers the view for
    * incremental refresh; any non-match keeps the plain recompute path —
    * never a wrong answer. */
  private def deterministicWhere(w: String): Boolean =
    !"(?is).*\\b(select|rand|randn|random|uuid|shuffle|now|current_timestamp|current_date|current_timezone|unix_timestamp)\\b.*".r
      .matches(w)

  private def ivmMetaFromDefn(defn: String, baseVersion: Int): Option[IvmMeta] = {
    val sql = defn.trim.stripSuffix(";")
    // INNER equi-joins to dims are maintainable (star shape, see ivmJoined);
    // every other join flavor and non-additive construct falls back to the
    // full-recompute path — never a wrong answer
    if (("(?is).*\\b(HAVING|LIMIT|ORDER|DISTINCT|UNION|OVER|WINDOW" +
        "|LEFT|RIGHT|FULL|CROSS|OUTER|SEMI|ANTI|USING|LATERAL)\\b.*").r
        .matches(sql)) return None
    val shape = ("(?is)\\s*SELECT\\s+(.*?)\\s+FROM\\s+(\\w+)" +
      "((?:\\s+(?:INNER\\s+)?JOIN\\s+\\w+\\s+ON\\s+\\w+\\.\\w+\\s*=\\s*\\w+\\.\\w+)*)" +
      "(?:\\s+WHERE\\s+(.+?))?\\s+GROUP\\s+BY\\s+(.*?)\\s*").r
    val joinRe = "(?is)JOIN\\s+(\\w+)\\s+ON\\s+(\\w+\\.\\w+\\s*=\\s*\\w+\\.\\w+)".r
    sql match {
      case shape(selectList, base, joinsRaw, whereRaw, groupList) if exists(base) =>
        val joins = joinRe.findAllMatchIn(Option(joinsRaw).getOrElse(""))
          .map(m2 => (m2.group(1), m2.group(2))).toSeq
        // dims must exist, be distinct, differ from the fact table, and
        // each ON side must reference already-introduced tables
        if (joins.nonEmpty) {
          val names = base +: joins.map(_._1)
          if (names.distinct.size != names.size) return None
          if (!joins.forall(j => exists(j._1))) return None
          val introduced = scala.collection.mutable.Set(base)
          for ((dim, on) <- joins) {
            val refs = "(\\w+)\\.\\w+".r.findAllMatchIn(on).map(_.group(1)).toSeq
            if (refs.size != 2 || !refs.contains(dim) ||
                !refs.forall(t => t == dim || introduced(t))) return None
            introduced += dim
          }
        }
        // a row filter commutes with the fact-table file diff (each
        // added/removed file is filtered — post-join for star views — before
        // aggregation), so WHERE is incrementally maintainable as long as
        // it is deterministic and subquery-free
        val where = Option(whereRaw).map(_.trim).filter(_.nonEmpty)
        if (where.exists(w => !deterministicWhere(w))) return None
        val groupBy = groupList.split(",").map(_.trim).toSeq
        if (!groupBy.forall(_.matches("\\w+"))) return None
        val GroupItem = "(?i)(\\w+)".r
        val CountItem = "(?is)count\\(\\s*\\*\\s*\\)\\s+AS\\s+(\\w+)".r
        val SumItem = "(?is)sum\\(\\s*(\\w+)\\s*\\)\\s+AS\\s+(\\w+)".r
        val MinItem = "(?is)min\\(\\s*(\\w+)\\s*\\)\\s+AS\\s+(\\w+)".r
        val MaxItem = "(?is)max\\(\\s*(\\w+)\\s*\\)\\s+AS\\s+(\\w+)".r
        val AvgItem = "(?is)avg\\(\\s*(\\w+)\\s*\\)\\s+AS\\s+(\\w+)".r
        // sample forms only: PG's bare stddev/variance ARE the sample
        // aggregates, and the hidden-state finish divides by (n-1)
        val StdItem = "(?is)stddev(?:_samp)?\\(\\s*(\\w+)\\s*\\)\\s+AS\\s+(\\w+)".r
        val HllItem = "(?is)approx_count_distinct\\(\\s*(\\w+)\\s*\\)\\s+AS\\s+(\\w+)".r
        val VarItem = "(?is)(?:variance|var_samp)\\(\\s*(\\w+)\\s*\\)\\s+AS\\s+(\\w+)".r
        sealed trait Item
        case class G(g: String) extends Item
        case class Cn(a: String) extends Item
        case class Sm(c: String, a: String) extends Item
        case class Mn(c: String, a: String) extends Item
        case class Mx(c: String, a: String) extends Item
        case class Av(c: String, a: String) extends Item
        case class Dv(c: String, a: String, kind: String) extends Item
        case class Hl(c: String, a: String) extends Item
        val items = selectList.split(",").map(_.trim).toSeq
        val parsed: Seq[Option[Item]] = items.map {
          case CountItem(a) => Some(Cn(a))
          case SumItem(c, a) => Some(Sm(c, a))
          case MinItem(c, a) => Some(Mn(c, a))
          case MaxItem(c, a) => Some(Mx(c, a))
          case AvgItem(c, a) => Some(Av(c, a))
          case HllItem(c, a) => Some(Hl(c, a))
          case StdItem(c, a) => Some(Dv(c, a, "stddev"))
          case VarItem(c, a) => Some(Dv(c, a, "variance"))
          case GroupItem(g) if groupBy.contains(g) => Some(G(g))
          case _ => None
        }
        if (parsed.exists(_.isEmpty)) return None
        val flat = parsed.flatten
        val groups = flat.collect { case G(g) => g }
        val counts = flat.collect { case Cn(a) => a }
        val sums = flat.collect { case Sm(c, a) => (c, a) }
        val mins = flat.collect { case Mn(c, a) => (c, a) }
        val maxs = flat.collect { case Mx(c, a) => (c, a) }
        val avgs = flat.collect { case Av(c, a) => (c, a) }
        val devs = flat.collect { case Dv(c, a, k) => (c, a, k) }
        val hlls = flat.collect { case Hl(c, a) => (c, a) }
        val outCols = flat.map {
          case G(g) => g
          case Cn(a) => a
          case Sm(_, a) => a
          case Mn(_, a) => a
          case Mx(_, a) => a
          case Av(_, a) => a
          case Dv(_, a, _) => a
          case Hl(_, a) => a
        }
        if (groups.sorted != groupBy.sorted || counts.size != 1) None
        else Some(IvmMeta(base, groupBy, sums.map(_._1), counts.head,
          sums.map(_._2), outCols, baseVersion, mins, maxs, avgs, devs, where,
          joins, joins.map(j => j._1 -> versions(j._1)).toMap, hlls))
      case _ => None
    }
  }

  /** Version dir's parquet files keyed by dir-RELATIVE path — recursive, so
    * hive-partitioned layouts (key=value subdirs) diff correctly; a
    * top-level-only listing would see an empty file set and silently skip
    * the refresh. */
  private def dataFilesRelative(dir: HadoopPath): Seq[(String, String)] = {
    // same manual walk as dataFiles — see the located-status cost note
    val base = fs.makeQualified(dir).toString.stripSuffix("/") + "/"
    dataFiles(dir).map { st =>
      val full = fs.makeQualified(st.getPath).toString
      (full.stripPrefix(base), full)
    }.sortBy(_._1)
  }

  /** Bring `view` up to the base table's current version by aggregating
    * only the files that changed since the reflected version. Returns
    * (files read, files in current version). Falls back to a full rebuild
    * when the reflected version dir has been expired. */
  def incrementalRefresh(view: String): (Int, Int) = {
    val meta = ivmViews.getOrElse(view,
      throw new IllegalArgumentException(s"$view is not an incremental matview"))
    val curV = versions(meta.base)
    def curDimVersions: Map[String, Int] =
      meta.joins.map { case (d, _) => d -> versions.getOrElse(d, -1) }.toMap
    def reflectedMeta: IvmMeta =
      meta.copy(reflected = curV, dimVersions = curDimVersions)
    val newFiles = dataFilesRelative(versionPath(meta.base, curV))
    // a changed DIM invalidates every joined row, not just changed fact
    // files — the delta algebra only holds for static dims, so rebuild
    if (meta.joins.nonEmpty && curDimVersions != meta.dimVersions) {
      replace(view, ivmAggregate(ivmJoined(read(meta.base), meta), meta, 1))
      ivmViews(view) = reflectedMeta
      persistCatalog()
      return (newFiles.size, newFiles.size)
    }
    if (curV == meta.reflected) return (0, newFiles.size)
    val oldDir = versionPath(meta.base, meta.reflected)
    if (!fs.exists(oldDir)) { // reflected version expired -> full rebuild
      replace(view, ivmAggregate(ivmJoined(read(meta.base), meta), meta, 1))
      ivmViews(view) = reflectedMeta
      persistCatalog()
      return (newFiles.size, newFiles.size)
    }
    val oldFiles = dataFilesRelative(oldDir)
    val oldNames = oldFiles.map(_._1).toSet
    val newNames = newFiles.map(_._1).toSet
    val added = newFiles.collect { case (rel, p) if !oldNames(rel) => p }
    val removed = oldFiles.collect { case (rel, p) if !newNames(rel) => p }
    // min/max are not retractable: any removed file forces a full rebuild
    // (append-only refreshes — the common incremental-sync case — stay
    // O(new files)); count/sum retract exactly with sign -1
    if (removed.nonEmpty && (meta.minCols.nonEmpty || meta.maxCols.nonEmpty
        || meta.hllCols.nonEmpty)) {
      replace(view, ivmAggregate(ivmJoined(read(meta.base), meta), meta, 1))
      ivmViews(view) = reflectedMeta
      persistCatalog()
      return (newFiles.size, newFiles.size)
    }
    val schema = read(meta.base).schema
    // basePath anchors partition discovery: a hive-partitioned base keeps
    // its partition column in the directory name, not the file — a bare
    // leaf-file read would null it out of the aggregation
    def deltaAgg(paths: Seq[String], dir: HadoopPath, sign: Int): Option[DataFrame] =
      if (paths.isEmpty) None
      else Some(ivmAggregate(ivmJoined(
        spark.read.option("basePath", fs.makeQualified(dir).toString)
          .schema(schema).parquet(paths: _*), meta),
        meta, sign))
    val deltas = Seq(
      deltaAgg(added, versionPath(meta.base, curV), 1),
      deltaAgg(removed, oldDir, -1)).flatten
    if (deltas.nonEmpty) {
      val mergeAggs = (sum(col(meta.countAlias)).as(meta.countAlias) +:
        meta.sumAliases.map(a => sum(col(a)).as(a))) ++
        meta.minCols.map { case (_, a) => min(col(a)).as(a) } ++
        meta.maxCols.map { case (_, a) => max(col(a)).as(a) } ++
        (ivmHiddenCols(meta).toSet -- meta.hllCols.map(p => hllAlias(p._2)))
          .toSeq.sorted.map(h => sum(col(h)).as(h)) ++
        meta.hllCols.map { case (_, a) =>
          expr(s"hll_union_agg(${hllAlias(a)})").as(hllAlias(a)) }
      val merged = ivmFinish(
        deltas.foldLeft(readRaw(view))(_ unionByName _)
          .groupBy(meta.groupCols.map(col): _*)
          .agg(mergeAggs.head, mergeAggs.tail: _*)
          .filter(col(meta.countAlias) > 0), meta)
      replace(view, merged)
    }
    ivmViews(view) = reflectedMeta
    persistCatalog()
    (added.size + removed.size, newFiles.size)
  }

  /** Whether the last [[refreshMatview]] took the incremental path —
    * observability for specs. */
  @volatile private[graft] var lastRefreshIncremental: Boolean = false

  /** The incrementally-maintained views over `base` that the aggregate
    * rollup rewriter ([[RollupRewrite]]) may answer from: FRESH (the view
    * reflects the base's current version — a stale view must never shadow
    * live data) and unfiltered (a view-side WHERE would drop rows the
    * query expects). Hidden avg/dev state columns are part of the
    * published view, so coarser-granularity re-aggregation stays exact. */
  def rollupViews(base: String): Seq[Store.RollupView] =
    rollupProjection(base, fresh = true)

  /** Qualifying-but-STALE views — the rewriter's opt-in auto-refresh path
    * brings one up to date (O(changed files)) and then answers from it. */
  def staleRollupViews(base: String): Seq[Store.RollupView] =
    rollupProjection(base, fresh = false)

  private def rollupProjection(base: String, fresh: Boolean): Seq[Store.RollupView] =
    ivmViews.toSeq.collect {
      case (v, m) if m.base == base && m.where.isEmpty && {
          // a star view is fresh only if its pinned dim versions hold too
          val isFresh = versions.get(m.base).contains(m.reflected) &&
            m.dimVersions.forall { case (d, dv) => versions.get(d).contains(dv) }
          isFresh == fresh
        } =>
        Store.RollupView(v, m.groupCols, m.countAlias,
          m.sumCols.zip(m.sumAliases).toMap, m.minCols.toMap, m.maxCols.toMap,
          m.avgCols.toMap, m.devCols.map { case (c, a, k) => c -> (a, k) }.toMap,
          m.joins, m.hllCols.toMap)
    }
}

object Store {
  /** Process identity for warehouse writer leases: lease ownership is
    * PROCESS-scoped (every Store instance in one JVM shares it — in-JVM
    * write concurrency belongs to the txn gates/registries), so remounts
    * and per-connection sessions never contend with themselves. */
  private[graft] val procNonce: String = java.util.UUID.randomUUID().toString
  private[graft] lazy val hostName: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "unknown-host" }
  /** One shared daemon thread heartbeats every owned lease (tasks are
    * per-warehouse and cancel on fencing). */
  private[graft] val leaseHeartbeats =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-lease-heartbeat"); t.setDaemon(true); t
    })

  /** Follower-ingest adoption sweeps run off the heartbeat thread: an
    * adoption takes table gates and publishes a catalog commit, either of
    * which can block long enough to starve heartbeats into a TTL expiry. */
  private[graft] val inboxSweeper =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-inbox-sweep"); t.setDaemon(true); t
    })
  private[graft] val inboxSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Outcome of one adopted (or refused) follower delta or forwarded
    * statement; `ok = true` entries also live in the catalog snapshot's
    * `inboxDone` ledger — written atomically with the commit they
    * describe, which is what makes adoption/execution exactly-once
    * across writer crashes. `tag` carries a forwarded statement's
    * command tag ("UPDATE 3"); empty for delta adoptions, and empty in
    * a crash-recovered ledger ack (the count died with the writer). */
  private[graft] final case class InboxDone(table: String, version: Int,
      rows: Long, ok: Boolean, err: String, ts: Long, tag: String = "")
  /** Parsed follower manifest: the delta files of `_inbox/<id>/`. */
  private[graft] final case class InboxReq(id: String, table: String,
      rows: Long, files: Seq[String])

  /** Transaction-private write staging (PG MVCC visibility over the store's
    * version chain — reference contract: an open transaction's writes are
    * invisible to every other connection until COMMIT). Writes made while a
    * staging context is bound land in txn-suffixed dirs
    * (`<table>/.txn<id>-v<k>`) instead of the shared `v<k>` slots; the
    * shared version map, the durable catalog and the session temp views
    * stay untouched, so no other connection can observe them. COMMIT swaps
    * the staged dirs into the shared chain under the table locks and
    * publishes once ([[Store.commitStaging]]); ROLLBACK deletes the staged
    * dirs ([[Store.abortStaging]]) — an O(files-own) discard that can never
    * fail on concurrent activity and never touches another session's
    * committed versions (both were real hazards of the old
    * publish-per-statement + restore-on-rollback model). */
  final class TxnStaging private[graft] (private[graft] val id: String) {
    // table -> staged chain state, in first-write order
    private[graft] val tables =
      scala.collection.mutable.LinkedHashMap[String, StagedTable]()
    // per-table txn write gates this txn holds (released at commit/abort)
    private[graft] val gates = scala.collection.mutable.LinkedHashSet[String]()
    // table -> staged version whose REPLACE cleared the evolution record
    // (applied to the shared record only at COMMIT, and only if that staged
    // version survived savepoint rewinds)
    private[graft] val evoCleared =
      scala.collection.mutable.LinkedHashMap[String, Int]()
    // concurrent mirror of tables-with-writes: read by OTHER threads
    // (DDL's foreign-staging guard) — `tables` itself is owner-thread-only
    private[graft] val stagedNames =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  }
  private[graft] final class StagedTable(val base: Int) {
    var count: Int = 0
    // Does every staged write so far ADD rows only (plain INSERT / COPY
    // FROM)? Such a txn never claims the write gate and its COMMIT merges
    // instead of aborting when the shared chain moved. Any replace/upsert/
    // delete/merge/ON CONFLICT write flips this false for the txn's
    // remainder (a savepoint rewind does not un-flip it — conservative:
    // the txn keeps gate-serialized first-updater-wins behavior).
    var insertOnly: Boolean = true
    // staged version (overlay numbering) -> parquet file names that
    // version ADDED — the txn's pure deltas, published into
    // committedInsertDeltas at COMMIT and linked by other txns' merges
    private[graft] val deltaNames =
      scala.collection.mutable.LinkedHashMap[Int, Seq[String]]()
  }

  /** One WHEN clause of a MERGE, in the statement's textual order; the
    * expression strings are Spark SQL resolving against the
    * target/source aliases of [[Store.merge]]. */
  sealed trait MergeClause
  final case class MatchedUpdate(cond: Option[String],
      sets: Seq[(String, String)]) extends MergeClause
  final case class MatchedDelete(cond: Option[String]) extends MergeClause
  final case class NotMatchedInsert(cond: Option[String],
      cols: Seq[String], vals: Seq[String]) extends MergeClause

  // hidden IVM state column naming (shared with the rollup rewriter): per
  // visible alias `a`, sum / non-null-count / sum-of-squares
  private[graft] def avgSumAlias(a: String) = s"__ivm_s_$a"
  private[graft] def avgCntAlias(a: String) = s"__ivm_c_$a"
  private[graft] def devSqAlias(a: String) = s"__ivm_q_$a"
  private[graft] def hllAlias(a: String) = s"__ivm_h_$a"

  /** Catalog projection of one qualifying view for the rollup rewriter:
    * aggregate source column -> the view's visible alias (devs also carry
    * the kind, stddev|variance). */
  case class RollupView(view: String, groupCols: Seq[String],
      countAlias: String, sums: Map[String, String], mins: Map[String, String],
      maxs: Map[String, String], avgs: Map[String, String],
      devs: Map[String, (String, String)],
      joins: Seq[(String, String)] = Nil, // star views: (dim, ON expr)
      hlls: Map[String, String] = Map.empty) // approx-distinct: col -> alias
}
