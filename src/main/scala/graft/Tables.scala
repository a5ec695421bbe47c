package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loads the driver-provided parquet tables (TESTDATA.md) and registers them
  * as temp views so queries can mix the DataFrame API and `spark.sql`.
  *
  * Scale note: at 100 TB these reads become Iceberg/parquet catalog tables
  * with partition pruning; the per-call `spark.read.parquet` here only reads
  * footers at planning time, so registration stays cheap at any scale, and
  * all filters/projections still push down to the scan (DataSource v1 parquet
  * relation with PushedFilters).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables a planner should broadcast in any join. */
  val broadcastable: Set[String] =
    Set("region", "nation", "supplier", "part", "customer")

  /** Measured on-disk bytes of a testdata table (0 when unknown);
    * directory-shaped tables sum their files recursively. */
  def inputBytes(dir: String, name: String): Long =
    onDiskBytes(s"$dir/$name.parquet")

  private def onDiskBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      Option(f.listFiles).map(_.map(c => onDiskBytes(c.getPath)).sum).getOrElse(0L)
    else f.length
  }

  /** Volume-derived shuffle-partition count: BYTE-based and UNCAPPED —
    * partitions are bounded by size, never by count. floor(fact bytes /
    * [[partBytes]]), min 1, where the target is on-disk zstd-parquet bytes
    * per partition (x~4 in memory, TableStats.ParquetExpansion). The local
    * default (12 MB ≈ the measured byte equivalent of the former
    * 1M-rows-per-partition rule on this testdata) keeps the bench
    * operating points: sf0.1 -> 1 partition (measured 1.8x faster than 8),
    * SF1-volume -> 6, SF10-volume -> 53. A count cap (formerly 200) is
    * exactly what makes partitions grow multi-GB at scale — at 100 TB the
    * byte rule instead yields more partitions of the SAME size, and the
    * per-partition SHJ/broadcast gates stay valid by construction.
    * Production target: SPARK_GRAFT_PART_BYTES=512m-class values (SCALE.md
    * has the 100 TB arithmetic); AQE coalescing absorbs the residual. */
  def volumeParts(dir: String): Int = {
    val target = partBytes(sys.env.get("SPARK_GRAFT_PART_BYTES"))
    math.max(1L, inputBytes(dir, "lineitem") / target).toInt
  }

  /** The per-partition byte target: SPARK_GRAFT_PART_BYTES as a byte count
    * or a k/m/g-suffixed size (`12000000`, `512m`), 12 MB when unset. An
    * unparseable or non-positive value fails, naming the variable. */
  def partBytes(raw: Option[String]): Long = raw.fold(12000000L) { v =>
    val n = scala.util.Try(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v.trim)).getOrElse(0L)
    require(n > 0, s"SPARK_GRAFT_PART_BYTES='$v': expected a positive size " +
      "such as 12000000 or 512m")
    n
  }

  /** Plan-output byte estimate with join inflation capped. Catalyst
    * MULTIPLIES cardinality estimates when column stats are absent — a
    * stat-less multi-join can estimate gigabytes for a handful of rows —
    * while LEAF stats are real bytes (parquet file sizes, literal rows).
    * Cap the plan estimate at `factor` x the summed leaves; callers that
    * size partitions or job batches from this must still tolerate residual
    * error (post-write re-split, observation-adaptive batching). */
  def cappedPlanBytes(df: org.apache.spark.sql.DataFrame,
      factor: Int = 8): BigInt = {
    val plan = df.queryExecution.optimizedPlan
    val leafCap = plan.collectLeaves().map(_.stats.sizeInBytes).sum
      .max(BigInt(1)) * factor
    plan.stats.sizeInBytes.min(leafCap).max(BigInt(1))
  }

  /** Default in-memory broadcast ceiling for EXPLICIT hints: 1 GiB —
    * comfortably inside a few-GB executor heap and Spark's 8 GB hard
    * broadcast cap, far above autoBroadcastJoinThreshold's 10 MB (explicit
    * hints exist precisely because dimension tables above that default are
    * still profitable to broadcast). */
  val BroadcastGateBytes: Long = 1L << 30

  /** zstd-parquet → in-memory expansion estimate for the on-disk fallback
    * when no ANALYZE stats exist (shared with the write-path size feed). */
  private def ParquetExpansion = TableStats.ParquetExpansion

  /** Should an explicit broadcast hint be placed on testdata table `name`?
    * True only when the table's MEASURED size — analyzed stats
    * (rows x mean row width) when ANALYZE ran, else on-disk parquet bytes
    * x the compression expansion — fits the gate. Tables that grow with
    * the scale factor (customer/part/supplier) therefore keep their exact
    * broadcast plans at every benchmarked scale but fall back to
    * AQE/autoBroadcastJoinThreshold once a scale-up would make the forced
    * broadcast a multi-GB executor-OOM. An UNKNOWN size (no stats, no
    * readable file) does NOT hint — unknown is exactly the case the gate
    * exists for. Override the ceiling with spark.graft.broadcastGateBytes. */
  def broadcastSized(spark: SparkSession, dir: String, name: String): Boolean = {
    val gate = spark.conf.getOption("spark.graft.broadcastGateBytes")
      .flatMap(_.toLongOption).getOrElse(BroadcastGateBytes)
    // stats resolved under the DIR namespace: an analyzed store table that
    // merely shares the name must not decide this relation's broadcast
    val estimate = TableStats.get(name, ns = dir).map(_.bytesEstimate)
      .getOrElse(inputBytes(dir, name) * ParquetExpansion)
    estimate > 0 && estimate <= gate
  }

  /** Size-gated broadcast hint for a scale-factor-growing dimension:
    * apply `f` (filter/projection) and hint broadcast ONLY when
    * [[broadcastSized]] approves the BASE table's measured size (analyzed
    * stats first, on-disk bytes otherwise). Above the gate the frame
    * returns unhinted and AQE/autoBroadcastJoinThreshold picks the join
    * strategy at runtime — an explicit hint would override both
    * unconditionally, turning a 100x scale-up into a forced multi-GB
    * broadcast. Gating on the BASE size is conservative: filters only
    * shrink the input, and a gated-out filtered dim can still broadcast
    * at runtime once AQE sees its true size. */
  def bdim(spark: SparkSession, dir: String, name: String)(
      f: DataFrame => DataFrame = identity): DataFrame = {
    val d = f(df(spark, dir, name))
    if (broadcastSized(spark, dir, name))
      org.apache.spark.sql.functions.broadcast(d)
    else d
  }

  /** Default ceiling for the PER-PARTITION in-task hash build a forced
    * SHUFFLE_HASH hint commits every task to: 256 MiB — a build that size
    * fits comfortably in a multi-GB executor's execution memory, while a
    * hint whose build partition overshoots it risks the §3.1 OOM (a forced
    * SHJ cannot spill its build side the way sort-merge spills). The gate
    * judges the AVERAGE partition (table bytes / shuffle partitions); with
    * AQE on, coalescing may merge post-shuffle partitions past that
    * average, so one task's build can exceed the gate. */
  val ShjGateBytes: Long = 256L << 20

  /** Should an explicit SHUFFLE_HASH hint be placed with testdata table
    * `name` as the build side? True only when the table's MEASURED size
    * (analyzed stats, else on-disk bytes x compression expansion) divided
    * by the session's shuffle-partition count — i.e. the hash build each
    * task would materialize — fits the gate. Above the gate (or when the
    * size is unknown) the join is left unhinted: the planner still prefers
    * SHJ where per-partition sizes provably fit
    * (spark.sql.join.preferSortMergeJoin=false +
    * spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold, set by
    * [[GraftSession]]), and sort-merge — which spills gracefully —
    * remains the fallback. Override with spark.graft.shjGateBytes. */
  def shjSized(spark: SparkSession, dir: String, name: String): Boolean = {
    val gate = spark.conf.getOption("spark.graft.shjGateBytes")
      .flatMap(_.toLongOption).getOrElse(ShjGateBytes)
    val parts = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(1).max(1)
    val estimate = TableStats.get(name, ns = dir).map(_.bytesEstimate)
      .getOrElse(inputBytes(dir, name) * ParquetExpansion)
    estimate > 0 && estimate / parts <= gate
  }

  /** Size-gated SHUFFLE_HASH hint: apply `f` (filter/projection) and hint
    * shuffle_hash ONLY when [[shjSized]] approves the base table's
    * estimated per-partition build size. Gating on the BASE size is
    * conservative — `f` only shrinks the build side. */
  def shj(spark: SparkSession, dir: String, name: String)(
      f: DataFrame => DataFrame = identity): DataFrame = {
    val d = f(df(spark, dir, name))
    if (shjSized(spark, dir, name)) d.hint("shuffle_hash") else d
  }

  // Frames are rebuilt per call: a frame is CHEAP to construct (a
  // footer-only spark.read plus column normalization, single-digit ms) —
  // the one genuinely expensive step, the long-unit sniff's collect, is
  // memoized session-FREE in [[sniffedSamples]] below. An earlier
  // design memoized whole DataFrames keyed by (SparkSession, dir, table);
  // a DataFrame strongly references its session, so every derived session
  // (CompatAudit, per-connection sessions) was retained for process
  // lifetime — a real leak in a long-lived server. The hot path is
  // unaffected: [[prime]]'s cache (keyed (dir, table), one measuring
  // session by design) still answers the primed mains' reads.
  def df(spark: SparkSession, dir: String, name: String): DataFrame =
    primed.getOrElse((dir, name), load(spark, dir, name))

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The driver regenerates the parquet each round and varies encodings:
    // temporal columns have shipped as TIMESTAMP(NANOS) (which Spark's
    // parquet reader rejects — read as long nanos) and as plain
    // timestamp[us] (surfacing as TIMESTAMP_NTZ). Normalize every temporal
    // column of every table to a session-tz TimestampType so query analysis
    // never depends on this round's writer, and the UTC-pinned DuckDB
    // oracle agrees on the same micros.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    // schema inferred ONCE per file (a schema-less read launches a footer
    // job per call; the testdata files are immutable for the process) —
    // with both memos warm, frame construction is fully driver-side
    val schema = fileSchemas.getOrElseUpdate(path,
      spark.read.parquet(path).schema)
    val raw = spark.read.schema(schema).parquet(path)
    normalizeTemporal(raw, temporalCols.getOrElse(name, Nil),
      sniffKey = Some(path))
  }

  /** Session-free parquet schema memo per testdata file (a StructType
    * holds no SparkSession reference). */
  private val fileSchemas =
    scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.types.StructType]()

  /** Temporal columns in the testdata contract, per table — the columns the
    * parquet writer might re-encode between rounds. DateType is left as-is
    * (date comparisons/truncs analyze fine and DuckDB reads the same file
    * the same way); everything else converges on TimestampType. */
  private val temporalCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_shipdate", "l_commitdate", "l_receiptdate"),
    "orders"   -> Seq("o_orderdate"),
    "events"   -> Seq("ts"))

  /** Normalize the named columns (those present) to TIMESTAMP_NTZ — the
    * stored-column timestamp type (the wire server renders NTZ plain, like
    * the reference renders stored columns; session-tz TimestampType is
    * reserved for COMPUTED timestamptz values, which carry the +00:00
    * suffix) — whatever the parquet writer emitted: long instants (unit
    * sniffed by magnitude — nanos via nanosAsLong, or raw
    * micros/millis/seconds int64), tz-tagged timestamps, or ISO strings.
    * With the session tz pinned to UTC every branch preserves the stored
    * micros, matching the DuckDB oracle's naive read of the same file. */
  def normalizeTemporal(raw: DataFrame, cols: Seq[String],
      sniffKey: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, timestamp_micros, to_timestamp}
    import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
    cols.filter(raw.columns.contains).foldLeft(raw) { (df, c) =>
      df.schema(c).dataType match {
        case LongType =>
          df.withColumn(c,
            timestamp_micros(longInstantMicros(df, c, sniffKey)).cast("timestamp_ntz"))
        case TimestampType => df.withColumn(c, col(c).cast("timestamp_ntz"))
        case StringType => df.withColumn(c, to_timestamp(col(c)).cast("timestamp_ntz"))
        case _ => df // TIMESTAMP_NTZ / DateType: already the stored shape
      }
    }
  }

  /** Events-shaped frame for the STREAMING pipelines: normalize `ts` to
    * session-tz TimestampType (their typed Datasets encode
    * java.sql.Timestamp, which NTZ does not satisfy; under the UTC session
    * the micros are identical either way). */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        raw.withColumn("ts", timestamp_micros(longInstantMicros(raw, "ts")))
      case Some(TimestampNTZType) => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Micros expression for a long-encoded instant column: the unit is
    * sniffed from one row's magnitude. The units are only separable under
    * a plausible-era assumption — for instants in 1975–2200 the four unit
    * windows (seconds ~[1.6e8, 7.3e9], millis ~e11–e12, micros ~e14–e15,
    * nanos ~e17–e18) are disjoint, so classify by DECADE of magnitude
    * (boundaries at 1e10/1e13/1e16), not by a single ascending cutoff — a
    * plain `>= 5e15 → nanos` rule would misread a 2024 micros value
    * (1.7e15) whenever the boundary drifted. A streaming frame can't be
    * probed — there the only long source is nanosAsLong, so assume nanos.
    *
    * The sniff's collect is the one expensive step of frame construction;
    * its RESULT is memoized per (file, column) — session-free (a sample
    * magnitude, not a plan), so the memo retains no SparkSession however
    * many derived sessions read the same testdata. */
  private val sniffedSamples =
    scala.collection.concurrent.TrieMap[(String, String), Long]()

  private def longInstantMicros(df: DataFrame, c: String,
      sniffKey: Option[String] = None): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{abs, col, expr}
    def probe(): Long =
      df.select(abs(col(c)).as("v")).filter(col("v").isNotNull)
        .limit(1).collect().headOption.map(_.getLong(0)).getOrElse(0L)
    val sample =
      if (df.isStreaming) Long.MaxValue
      else sniffKey match {
        case Some(k) => sniffedSamples.getOrElseUpdate((k, c), probe())
        case None => probe()
      }
    if (sample >= 10000000000000000L) expr(s"$c div 1000")    // nanos  (>= 1e16)
    else if (sample >= 10000000000000L) col(c)                // micros (>= 1e13)
    else if (sample >= 10000000000L) expr(s"$c * 1000")       // millis (>= 1e10)
    else expr(s"$c * 1000000")                                // seconds
  }

  /** Partitioning keys for the hot-cache layout: fact tables hash-cluster on
    * their join key so joins and groupBys over that key reuse the cached
    * partitioning (Exchange elided). Cluster-scale analog: bucketed tables /
    * Iceberg hidden partitioning + storage-partitioned joins. */
  private val clusterKey: Map[String, String] = Map(
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "events" -> "user_id")

  @volatile private var primed: Map[(String, String), DataFrame] = Map.empty

  /** Pin all tables in the in-memory columnar cache, fact tables
    * repartitioned by join key (parallel cached scans; the driver data is
    * one parquet file per table = single-partition cold scans otherwise).
    * Bench, Profile and Explain call this once after building their
    * session; queries then hit the cache transparently via [[df]]. The
    * wire server does not prime: it reads parquet on every query. */
  def prime(spark: SparkSession, dir: String, parts: Int): Unit = synchronized {
    import org.apache.spark.storage.StorageLevel
    // Eviction policy for a dir the heap cannot hold: MEMORY_ONLY is the
    // hot-cache layout for bench-scale inputs, but a 100x-larger dir primed
    // the same way would evict blocks and silently recompute. Above a
    // budget (default: a quarter of the driver heap — parquet expands
    // roughly 2-4x into the columnar cache), fall back to
    // MEMORY_AND_DISK_SER: bounded memory, spilled columns, no recompute
    // storms. At real cluster scale priming is replaced by
    // bucketing/page-cache anyway (see Bench notes).
    val inputBytes = names.map { n =>
      scala.util.Try(new java.io.File(s"$dir/$n.parquet").length).getOrElse(0L)
    }.sum
    val budget = sys.env.get("SPARK_GRAFT_CACHE_BUDGET").map(_.toLong)
      .getOrElse(Runtime.getRuntime.maxMemory() / 4)
    val level =
      if (inputBytes * 3 > budget) StorageLevel.MEMORY_AND_DISK_SER
      else StorageLevel.MEMORY_ONLY
    names.foreach { n =>
      val base = load(spark, dir, n)
      val laid = clusterKey.get(n) match {
        case Some(k) => base.repartition(parts, org.apache.spark.sql.functions.col(k))
        case None if broadcastable(n) => base.coalesce(1)
        case None => base.repartition(parts)
      }
      val cached = laid.persist(level)
      cached.count()
      primed += (dir, n) -> cached
    }
  }

  // Registration is idempotent and cheap, but skip re-registration for the
  // common case of many queries against the same sf dir in one session.
  // Tracked PER SESSION: temp views live in a session's own registry, so
  // "already registered" by one session says nothing about another. WEAK
  // keys + a String value (which holds no reference back to the session):
  // a derived session that goes unreachable is evicted by GC instead of
  // being retained for process lifetime.
  private val registeredDirs =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private def registeredDir(spark: SparkSession): String =
    Option(registeredDirs.get(spark)).getOrElse("")

  /** The testdata dir this session registered ("" before registerAll) —
    * the TableStats namespace for parquet-view relations. */
  private[graft] def dirOf(spark: SparkSession): String = registeredDir(spark)

  /** Live entries in the per-session registration map (weak keys — the
    * count shrinks as dead sessions collect; test hook). */
  private[graft] def sessionCacheSize: Int = registeredDirs.size

  def registerAll(spark: SparkSession, dir: String): Unit = synchronized {
    if (registeredDir(spark) != dir) {
      // Each step degrades independently: a table the driver regenerated
      // with an unreadable encoding (or a catalog view that fails analysis
      // against it) costs the queries that touch it, not the whole round —
      // an uncaught throw here once zeroed an entire correctness run.
      var failures = 0
      def step(what: String)(body: => Unit): Unit =
        try body catch { case e: Throwable =>
          failures += 1
          System.err.println(s"[tables] $what failed: ${e.getMessage}") }
      names.foreach(n =>
        step(s"register $n")(df(spark, dir, n).createOrReplaceTempView(n)))
      step("functions")(PgFunctions.register(spark))
      step("expressions")(GraftExpressions.register(spark))
      step("pg_catalog") { PgCatalog.noteDir(dir); PgCatalog.register(spark) }
      // only a CLEAN registration is remembered: a transient failure (e.g.
      // a table mid-rewrite) retries on the next call instead of leaving
      // the view missing for the rest of the session
      if (failures == 0) { registeredDirs.put(spark, dir); () }
    }
  }

  /** Force the next registerAll to re-register (tests that publish store
    * tables shadowing a testdata view call this to restore it). */
  def invalidate(): Unit = synchronized { registeredDirs.clear() }

  /** Restore ONE testdata view after a store table that shadowed its name
    * is dropped. Store.drop removes the temp view outright; without this,
    * a dropped shadow leaves a hole where `nation`/`region` used to be and
    * every concurrent reader of the base table fails until the next full
    * re-registration. No-op for non-testdata names or before any
    * registration. */
  def restoreView(spark: SparkSession, name: String): Unit = synchronized {
    if (registeredDir(spark).nonEmpty && names.contains(name))
      try df(spark, registeredDir(spark), name).createOrReplaceTempView(name)
      catch { case e: Throwable =>
        System.err.println(s"[tables] restore $name failed: ${e.getMessage}") }
  }
}
