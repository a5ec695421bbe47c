package graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.{DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter

/** Postgres v3 wire protocol server (SURVEY §3.1; reference:
  * src/server/postgres_server.go:74-247 + response_handler.go). One thread
  * per connection, shared SparkSession — the same concurrency shape as the
  * reference (goroutine per connection, singleton engine).
  *
  * Startup, simple Query (multi-statement), the extended protocol
  * (Parse/Bind/Describe/Execute/Close/Sync), cursors, SQL-level PREPARE /
  * EXECUTE and COPY in both directions. Every read, whichever message
  * carries it, runs the same [[PgDialect.execute]] call simple Query makes
  * (planned by [[PgDialect.planRead]]), so psql and a JDBC client get the
  * same names, type OIDs and values for the same text. Describe plans a
  * read without running it and never auto-refreshes anything.
  */
object PgWireServer {
  /** Always-accepted user, the analog of the reference's SYSTEM_AUTH_USER
    * (postgres_server.go:18) its own CLI connects as. */
  val SystemAuthUser = "graft"
  /** Largest accepted frontend frame body. PG caps its frontend messages
    * around 1 GB; nothing legitimate here (queries, COPY chunks, Bind
    * params) approaches this — beyond it is a corrupt or hostile length
    * field, refused BEFORE the allocation it names. */
  val MaxFrameBytes: Int = 512 << 20
  private val pidCounter = new java.util.concurrent.atomic.AtomicInteger(1000)
  /** backend pid -> (secret, Spark job group) for CancelRequest routing */
  private val backends =
    new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
}

/** COPY FROM STDIN value parsing — a serializable object so bulk-ingest
  * decode runs on EXECUTOR tasks (the COPY-in twin of [[PgText]]'s
  * executor-side COPY-out encode). The connection thread only buffers raw
  * wire bytes and slices complete lines; field split, backslash/CSV
  * unescape and the assignment cast all run inside the write job's tasks,
  * so a fat COPY load parallelizes across cores instead of funneling
  * through one thread. */
private[graft] object CopyParse extends Serializable {
  /** PG text-format backslash unescape (COPY text format). */
  def unescape(v: String): String = {
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) {
        v.charAt(i + 1) match {
          case 't' => sb.append('\t'); case 'n' => sb.append('\n')
          case 'r' => sb.append('\r'); case '\\' => sb.append('\\')
          case o => sb.append(o)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** One CSV record (no embedded newlines): RFC quoting, `""` escapes;
    * an unquoted empty field (or the NULL marker) is NULL. */
  def parseCsvRecord(l: String, delim: Char, nullStr: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var quoted = false
    var wasQuoted = false
    def emit(): Unit = {
      val v = cur.toString
      out += (if (!wasQuoted && (v == nullStr || v.isEmpty)) null else v)
      cur.clear(); wasQuoted = false
    }
    while (i < l.length) {
      val c = l.charAt(i)
      if (quoted) {
        if (c == '"') {
          if (i + 1 < l.length && l.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else quoted = false
        } else cur.append(c)
      } else c match {
        case '"' => quoted = true; wasQuoted = true
        case `delim` => emit()
        case _ => cur.append(c)
      }
      i += 1
    }
    emit()
    out.result()
  }

  /** One COPY line to its field values (NULL marker compared BEFORE
    * unescape, as PG does — `\N` is the raw NULL token in text format). */
  def parseLine(l: String, csv: Boolean, delim: Char, nullStr: String): Seq[String] =
    if (csv) parseCsvRecord(l, delim, nullStr)
    else l.split(java.util.regex.Pattern.quote(delim.toString), -1)
      .toSeq.map(v => if (v == nullStr) null else unescape(v))

  /** Slice a buffer of COMPLETE lines into ~`target`-byte blocks cut on
    * line boundaries — the per-task unit of parallel COPY-in decode. */
  def sliceLines(s: String, target: Int): Seq[String] = {
    if (s.length <= target) return Seq(s)
    val out = Seq.newBuilder[String]
    var start = 0
    while (start < s.length) {
      var end = math.min(start + target, s.length)
      if (end < s.length) {
        val nl = s.indexOf('\n', end)
        end = if (nl < 0) s.length else nl + 1
      }
      out += s.substring(start, end)
      start = end
    }
    out.result()
  }
}

class PgWireServer(spark: SparkSession, store: Store, port: Int,
    database: String = "graft", user: String = "",
    serverVersion: String = "17.0") {
  import PgWireServer._
  @volatile private var running = true
  private var server: ServerSocket = _

  def start(): Int = {
    server = new ServerSocket(port)
    val t = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          val h = new Thread(() => handle(sock))
          h.setDaemon(true)
          h.start()
        } catch { case _: Throwable => () }
      }
    })
    t.setDaemon(true)
    t.start()
    server.getLocalPort
  }

  def stop(): Unit = { running = false; if (server != null) server.close() }

  /** A portal/cursor: a bound query plus its partially-drained row iterator
    * (Execute and FETCH carry row counts; a drained-to-limit portal suspends
    * and resumes on the next Execute/FETCH — JDBC fetchSize drives this). */
  private final class Portal(val df: DataFrame, val resultFormats: Seq[Short] = Nil,
      val query: String = "",
      /** Non-SELECT statement deferred to Execute (JDBC executeUpdate's
        * Parse/Bind/Execute of INSERT/UPDATE/…); df is null then. */
      val command: Option[String] = None) {
    var ranTag: String = _ // command portals run once; re-Execute replays the tag
    var iterStarted = false // the suspendable per-row iterator was engaged
    var exhausted = false // fully drained by the parallel chunk path
    lazy val rows: java.util.Iterator[Row] = { iterStarted = true; df.toLocalIterator() }
    var sent = 0L // rows streamed so far (pg_stat_statements feed)
    var noted = false // stats recorded once per portal drain
    val bound: Long = System.nanoTime()
    /** format code for column i: one code applies to all, else per-column */
    def fmt(i: Int): Int = resultFormats match {
      case Nil => 0
      case Seq(one) => one
      case many => if (i < many.size) many(i) else 0
    }
  }

  private def handle(sock: Socket): Unit =
    // bind a PER-CONNECTION settings scope chained to the server session:
    // this connection's SET statement_timeout/search_path/... are invisible
    // to every other connection (the PG contract), while identity settings
    // established on the serving session stay readable underneath
    SessionSettings.withConnectionScope(new Object, spark)(handleScoped(sock))

  private def handleScoped(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    // extended-protocol state (query_handler.go:112-238): prepared
    // statements (translated SQL + $N params) and bound portals
    val statements = scala.collection.mutable.Map[String, String]()
    val declaredParamOids = scala.collection.mutable.Map[String, Seq[Int]]()
    val portals = scala.collection.mutable.Map[String, Portal]()
    // DECLARE/FETCH/MOVE/CLOSE cursors (simple protocol; psql FETCH_COUNT
    // and JDBC cursor-fetch drive these — beyond the reference, which
    // errors on DECLARE)
    val cursors = scala.collection.mutable.Map[String, Portal]()
    // connection transaction over the write surface (PgDialect.PgTxn):
    // BEGIN/COMMIT/ROLLBACK are real for store-table writes here
    val txn = new PgDialect.PgTxn
    var errorSkip = false // error in extended flow: skip until Sync
    // an extended-protocol error: reported, aborts an open transaction
    // block exactly as a simple-Query error does, and skips to Sync
    def failExtended(e: Throwable): Unit = { fail(out, e, txn); errorSkip = true }

    // one backend key per connection; queries run in this connection's job
    // group so CancelRequest can abort exactly this backend's Spark jobs
    val pid = pidCounter.incrementAndGet()
    val secret = pid * 7919 + 13
    val jobGroup = s"pgwire-$pid"
    backends.put(pid, (secret, jobGroup))
    try {
      if (!startup(in, out, pid, secret)) return
      spark.sparkContext.setJobGroup(jobGroup, s"pgwire backend $pid",
        interruptOnCancel = true)
      var open = true
      while (open) {
        val tpe = in.read()
        if (tpe < 0) open = false
        else {
          val len = in.readInt()
          // frame sanity before allocating: a corrupt/hostile length would
          // otherwise allocate up to 2 GB per connection (PG itself caps
          // frontend messages ~1 GB; nothing legitimate here approaches it)
          if (len < 4 || len - 4 > PgWireServer.MaxFrameBytes) {
            // no ReadyForQuery: framing is lost, the connection terminates
            // (PG's FATAL protocol-violation shape)
            msg(out, 'E') { b =>
              b.writeByte('S'); cstr(b, "FATAL")
              b.writeByte('C'); cstr(b, "08P01")
              b.writeByte('M'); cstr(b,
                s"invalid message length $len for type ${tpe.toChar}")
              b.writeByte(0)
            }
            out.flush()
            return
          }
          val body = new Array[Byte](len - 4)
          in.readFully(body)
          val b = new DataInputStream(new java.io.ByteArrayInputStream(body))
          def readCStr(): String = {
            val sb = new StringBuilder
            var c = b.read()
            while (c > 0) { sb.append(c.toChar); c = b.read() }
            sb.toString
          }
          tpe.toChar match {
            case 'Q' =>
              val sql = new String(body, 0, body.length - 1, UTF_8) // NUL-terminated
              runQuery(out, sql, cursors, statements, in, txn)
              readyForQuery(out, txn)
            case 'P' if !errorSkip => // Parse
              try {
                val name = readCStr()
                val query = readCStr()
                if (PgDialect.splitStatements(query).size > 1)
                  throw PgDialect.UnsupportedQuery("cannot insert multiple commands into a prepared statement")
                statements(name) = query
                // optional client-declared parameter type OIDs (0 = unknown)
                declaredParamOids(name) =
                  try { val n = b.readShort(); (0 until n).map(_ => b.readInt()) }
                  catch { case _: java.io.IOException => Nil }
                msg(out, '1') { _ => } // ParseComplete
              } catch { case e: Throwable => failExtended(e) }
            case 'B' if !errorSkip => // Bind
              try {
                val portal = readCStr()
                val stmt = readCStr()
                val nFmt = b.readShort()
                val fmts = (0 until nFmt).map(_ => b.readShort())
                val nParams = b.readShort()
                val declared = declaredParamOids.getOrElse(stmt, Nil)
                val args = (0 until nParams).map { pi =>
                  val plen = b.readInt()
                  if (plen < 0) null
                  else {
                    val pb = new Array[Byte](plen); b.readFully(pb)
                    val fmt = if (fmts.isEmpty) 0 else fmts(pi min (fmts.size - 1))
                    decodeParam(pb, fmt,
                      if (pi < declared.size) declared(pi) else 0)
                  }
                }
                val sql = substituteParams(statements(stmt), args)
                // result-column format codes (0 text / 1 binary)
                val resFmts =
                  try { val n = b.readShort(); (0 until n).map(_ => b.readShort()) }
                  catch { case _: java.io.IOException => Seq.empty[Short] }
                // a read plans now, exactly as simple Query runs it (the
                // plan cache makes a re-executed prepared statement skip
                // translation and analysis); anything else (DML/DDL/SET —
                // JDBC's executeUpdate flow) becomes a command portal
                // whose execution defers to the Execute message
                portals(portal) =
                  if (PgDialect.isRead(sql))
                    new Portal(readFrame(sql, txn), resFmts, statements(stmt))
                  else new Portal(null, resFmts, statements(stmt), Some(sql))
                msg(out, '2') { _ => } // BindComplete
              } catch { case e: Throwable => failExtended(e) }
            case 'D' if !errorSkip => // Describe
              try {
                val kind = b.read().toChar
                val name = readCStr()
                if (kind == 'S') {
                  val text = statements(name)
                  val n = countParams(text)
                  msg(out, 't') { bb => // ParameterDescription
                    val declared = declaredParamOids.getOrElse(name, Nil)
                    bb.writeShort(n)
                    (1 to n).foreach { i =>
                      bb.writeInt(
                        if (i <= declared.size && declared(i - 1) != 0) declared(i - 1)
                        else inferParamOid(text, i))
                    }
                  }
                  // a read's row shape is planned, never run; a command's
                  // row set is unknown until Execute
                  if (PgDialect.isRead(text))
                    rowDescription(out, PgDialect.describeRead(spark, store,
                      substituteParams(text, Seq.fill(n)(null))))
                  else msg(out, 'n') { _ => } // NoData
                } else {
                  val p = portals(name)
                  if (p.command.isDefined) msg(out, 'n') { _ => } // NoData
                  else rowDescription(out, p.df.schema)
                }
              } catch { case e: Throwable => failExtended(e) }
            case 'E' if !errorSkip => // Execute [maxRows]
              try {
                val portal = readCStr()
                val maxRows = try b.readInt() catch { case _: java.io.IOException => 0 }
                val p = portals(portal)
                p.command match {
                  case Some(cmdSql) =>
                    // command portal (JDBC executeUpdate): run once; a
                    // re-Execute of the drained portal replays the tag
                    // without re-running the write (PG portal semantics)
                    if (p.ranTag != null) commandComplete(out, p.ranTag)
                    else {
                      val t0 = System.nanoTime()
                      val (n, tag) = sendResult(out,
                        PgDialect.execute(spark, store, cmdSql, txn), null, txn)
                      if (tag.nonEmpty)
                        PgDialect.noteStatement(p.query, (System.nanoTime() - t0) / 1000, n)
                      p.ranTag = tag
                    }
                  case None =>
                    val schema = p.df.schema
                    var n = 0L
                    // an UNLIMITED Execute of a fresh all-text portal is a
                    // full drain: same executor-parallel chunk path as the
                    // simple protocol (JDBC with fetchSize=0 lands here);
                    // limited/binary/partially-drained portals keep the
                    // suspendable per-row iterator
                    val fullDrain = maxRows <= 0 && !p.iterStarted &&
                      !p.exhausted && p.resultFormats.forall(_ == 0)
                    if (fullDrain) {
                      n = sendDataRowsBody(out, p.df)
                      p.exhausted = true
                    } else {
                      while (!p.exhausted && p.rows.hasNext &&
                          (maxRows <= 0 || n < maxRows)) {
                        dataRow(out, p.rows.next(), schema, p.fmt)
                        n += 1
                      }
                    }
                    p.sent += n
                    if (!p.exhausted && p.rows.hasNext)
                      msg(out, 's') { _ => } // PortalSuspended
                    else {
                      commandComplete(out, s"SELECT $n")
                      // extended-protocol statement completed: record the
                      // bind-to-last-row time ONCE per portal (a repeated
                      // Execute on a drained portal must not re-count)
                      if (p.query.nonEmpty && !p.noted) {
                        p.noted = true
                        PgDialect.noteStatement(p.query,
                          (System.nanoTime() - p.bound) / 1000, p.sent)
                      }
                    }
                }
              } catch { case e: Throwable => failExtended(e) }
            case 'C' if !errorSkip => // Close: drop the named statement/portal
              val kind = b.read().toChar
              val name = readCStr()
              if (kind == 'S') { statements.remove(name); declaredParamOids.remove(name) }
              else portals.remove(name)
              msg(out, '3') { _ => } // CloseComplete
            case 'S' => // Sync clears the error state (postgres_server.go:161-173)
              errorSkip = false
              readyForQuery(out, txn)
            case 'H' => out.flush()
            case 'X' => open = false
            case _ => // P/B/D/E while errorSkip, or unknown: ignored
          }
        }
      }
    } catch {
      // a client hanging up is no fault; anything else leaves one line
      case _: java.io.EOFException | _: java.net.SocketException => ()
      case e: Throwable => traceFailure(pid, e)
    } finally {
      // PG aborts an open transaction when the client disappears: undo
      // this connection's uncommitted writes best-effort
      if (txn.inTxn)
        try txn.rollback(store) catch { case e: Exception => traceFailure(pid, e) }
      backends.remove(pid); sock.close()
    }
  }

  /** One stderr line for a connection-level failure no client is left to
    * receive (the `[bench]` / `[tables]` convention). */
  private def traceFailure(pid: Int, e: Throwable): Unit =
    System.err.println(s"[pgwire] backend $pid: ${e.getClass.getName}: ${e.getMessage}")

  /** Binary-format parameter -> canonical text, steered by the OID the
    * client declared at Parse time (PgJDBC/psycopg always declare when they
    * send binary). Without a declared OID the old length heuristic stands —
    * 4 bytes could be int4 OR float4, so drivers that binary-encode floats
    * must declare, exactly as the protocol intends. Dates/timestamps use the
    * PG binary epoch (2000-01-01). */
  private def decodeParam(bytes: Array[Byte], fmt: Int, oid: Int = 0): String =
    if (fmt == 0) new String(bytes, UTF_8)
    else {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      oid match {
        case 16 => if (bytes.nonEmpty && bytes(0) != 0) "t" else "f"
        case 21 => bb.getShort.toString
        case 23 => bb.getInt.toString
        case 20 => bb.getLong.toString
        case 700 => bb.getFloat.toString
        case 701 => bb.getDouble.toString
        case 1082 => // days since 2000-01-01
          java.time.LocalDate.of(2000, 1, 1).plusDays(bb.getInt.toLong).toString
        case 1114 | 1184 => // micros since 2000-01-01 midnight
          val micros = bb.getLong
          val secs = Math.floorDiv(micros, 1000000L)
          val frac = Math.floorMod(micros, 1000000L)
          val ldt = java.time.LocalDateTime.of(2000, 1, 1, 0, 0).plusSeconds(secs)
          val base = ldt.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
          if (frac == 0) base
          else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
        case 2950 =>
          new java.util.UUID(bb.getLong, bb.getLong).toString
        case 17 => // bytea -> PG hex form
          "\\x" + bytes.map(x => f"$x%02x").mkString
        case 1700 => // numeric binary: ndigits/weight/sign/dscale + base-1e4
          val nd = bb.getShort.toInt
          val weight = bb.getShort.toInt
          val sign = bb.getShort.toInt
          val dscale = bb.getShort.toInt
          if (sign == 0xC000) "NaN"
          else {
            val digits = Array.fill(nd)(bb.getShort.toInt)
            val unscaled = digits.foldLeft(BigInt(0))((acc, d) => acc * 10000 + d)
            // value = unscaled * 10^(4*(weight - nd + 1)); negative exponents
            // become a positive BigDecimal scale
            val exp = 4 * (weight - nd + 1)
            val mag = new java.math.BigDecimal(unscaled.bigInteger, -exp)
            val signed = if (sign == 0x4000) mag.negate else mag
            // a non-canonical encoding can carry nonzero digits beyond
            // dscale; surface the value instead of throwing mid-message-loop
            try signed.setScale(dscale,
              java.math.RoundingMode.UNNECESSARY).toPlainString
            catch { case _: ArithmeticException => signed.toPlainString }
          }
        case 0 => bytes.length match { // undeclared: legacy length heuristic
          case 4 => bb.getInt.toString
          case 8 => bb.getLong.toString
          case 16 => new java.util.UUID(bb.getLong, bb.getLong).toString
          case _ => new String(bytes, UTF_8)
        }
        // declared but not one of the numeric/temporal wire forms above
        // (name, char, text, varchar, json, …): binary == text bytes in PG,
        // so pass through rather than int-guess by length
        case _ => new String(bytes, UTF_8)
      }
    }

  /** Parameter type from a `$N::type` cast context in the statement, text
    * (25) otherwise — PG itself infers from full analysis; the cast form is
    * what drivers actually emit when they care about the type. */
  private val castOids = Map(
    "bool" -> 16, "boolean" -> 16, "int2" -> 21, "smallint" -> 21,
    "int4" -> 23, "int" -> 23, "integer" -> 23, "int8" -> 20, "bigint" -> 20,
    "float4" -> 700, "real" -> 700, "float8" -> 701, "numeric" -> 1700,
    "text" -> 25, "varchar" -> 1043, "date" -> 1082, "timestamp" -> 1114,
    "timestamptz" -> 1184, "json" -> 114, "jsonb" -> 3802, "uuid" -> 2950)

  private def inferParamOid(sql: String, i: Int): Int =
    ("\\$" + i + "\\s*::\\s*([a-zA-Z0-9_]+)").r.findFirstMatchIn(sql)
      .flatMap(m => castOids.get(m.group(1).toLowerCase)).getOrElse(25)

  /** Highest $N placeholder in a prepared statement. */
  private def countParams(sql: String): Int =
    "\\$(\\d+)".r.findAllMatchIn(sql).map(_.group(1).toInt)
      .foldLeft(0)(math.max)

  /** $N placeholders -> SQL literals (quoted unless numeric). Token-aware:
    * a $N inside a string literal, quoted identifier, dollar-quoted string
    * or comment is NOT a parameter and passes through untouched (a naive
    * global replace corrupts `SELECT 'costs $1'`). */
  private[graft] def substituteParams(sql: String, args: Seq[String]): String = {
    val sb = new StringBuilder(sql.length + 32)
    val n = sql.length
    var i = 0
    def literal(num: Int): String = {
      val v = args(num - 1)
      if (v == null) "NULL"
      else if (v.matches("-?\\d+(\\.\\d+)?")) v
      else "'" + v.replace("'", "''") + "'"
    }
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'') { // string literal, '' escapes stay inside it
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
      } else if (c == '"') { // quoted identifier
        sb.append(c); i += 1
        var done = false
        while (i < n && !done) {
          sb.append(sql.charAt(i))
          if (sql.charAt(i) == '"') done = true
          i += 1
        }
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') { sb.append(sql.charAt(i)); i += 1 }
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        sb.append("/*"); i += 2
        while (i < n && !(sql.charAt(i) == '*' && i + 1 < n && sql.charAt(i + 1) == '/')) {
          sb.append(sql.charAt(i)); i += 1
        }
        if (i < n) { sb.append("*/"); i += 2 }
      } else if (c == '$' && i + 1 < n && sql.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < n && sql.charAt(j).isDigit) j += 1
        val num = sql.substring(i + 1, j).toInt
        if (num >= 1 && num <= args.length) { sb.append(literal(num)); i = j }
        else { sb.append(c); i += 1 }
      } else if (c == '$' && i + 1 < n &&
          (sql.charAt(i + 1) == '$' || sql.charAt(i + 1).isLetter)) {
        // dollar-quoted string $tag$ ... $tag$: copy through verbatim
        val close = sql.indexOf('$', i + 1)
        if (close < 0) { sb.append(c); i += 1 }
        else {
          val tag = sql.substring(i, close + 1)
          val end = sql.indexOf(tag, close + 1)
          if (end < 0) { sb.append(c); i += 1 }
          else { sb.append(sql.substring(i, end + tag.length)); i = end + tag.length }
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // ---- startup ---------------------------------------------------------
  private def startup(in: DataInputStream, out: DataOutputStream,
      pid: Int, secret: Int): Boolean = {
    var len = in.readInt()
    var proto = in.readInt()
    // Encryption probes can arrive in ANY order: libpq with GSS creds sends
    // GSSENCRequest FIRST and on 'N' retries SSLRequest on the same
    // connection (and vice versa), so loop refusing probes until a startup
    // or cancel packet arrives — a fixed SSL-then-GSS order would drop the
    // post-refusal SSLRequest at the version check. Bounded so a client
    // replaying probes forever cannot pin the thread.
    var probes = 0
    while ((proto == 80877103 /* SSLRequest */ ||
            proto == 80877104 /* GSSENCRequest */) && probes < 4) {
      out.write('N'); out.flush()
      len = in.readInt(); proto = in.readInt()
      probes += 1
    }
    if (proto == 80877102) { // CancelRequest: pid + secret, then close
      val cpid = in.readInt()
      val csecret = in.readInt()
      Option(backends.get(cpid)).foreach { case (s, group) =>
        if (s == csecret) spark.sparkContext.cancelJobGroup(group)
      }
      return false
    }
    // protocol 3.x with minor > 0 (libpq 18 / pgjdbc 42.7+ request 3.2):
    // a 3.0 server must answer NegotiateProtocolVersion with the newest
    // minor it speaks plus any _pq_.* options it doesn't recognize, then
    // carry on in 3.0 — dying or hanging here strands every new client
    val negotiateDown = (proto >>> 16) == 3 && (proto & 0xffff) > 0
    if ((proto >>> 16) != 3) return false
    // startup length sanity before allocating (same guard as the message
    // loop's — a real startup packet is a few hundred bytes of k/v pairs)
    if (len < 8 || len - 8 > PgWireServer.MaxFrameBytes) return false
    val params = new Array[Byte](len - 8)
    in.readFully(params)
    if (negotiateDown) {
      val unknownPq = parseStartupParams(params).keys
        .filter(_.startsWith("_pq_.")).toSeq.sorted
      msg(out, 'v') { b =>
        b.writeInt(196608) // newest protocol this server speaks: 3.0
        b.writeInt(unknownPq.size)
        unknownPq.foreach(cstr(b, _))
      }
    }
    // credential validation before AuthenticationOk, like the reference
    // (postgres_server.go:219-228): the database must match; the user is
    // checked only when one is configured, and the system auth user always
    // connects (the reference's SYSTEM_AUTH_USER backdoor for its own CLI)
    val kv = parseStartupParams(params)
    // pg_dump/pg_restore need the REAL-PG catalog surface (pg_namespace
    // incl. oid 11 for built-in typnamespace resolution) rather than the
    // reference's filtered view; libpq identifies them via
    // fallback_application_name, and `SET graft.system_catalog = 'full'`
    // opts any other client in
    val appName = kv.getOrElse("application_name",
      kv.getOrElse("fallback_application_name", ""))
    if (appName.contains("pg_dump") || appName.contains("pg_restore"))
      SessionSettings.set("graft.system_catalog", "full")
    // the protocol documents `database` as optional, defaulting to the user
    val clientDb = kv.get("database").orElse(kv.get("user")).getOrElse("")
    if (clientDb != database) {
      startupError(out, "3D000", s"database $clientDb does not exist")
      return false
    }
    val clientUser = kv.getOrElse("user", "")
    if (user.nonEmpty && clientUser != user && clientUser != SystemAuthUser) {
      startupError(out, "28000", s"""role "$clientUser" does not exist""")
      return false
    }
    msg(out, 'R') { b => b.writeInt(0) } // AuthenticationOk
    // the full GUC_REPORT parameter set a real PG sends at startup —
    // pgjdbc/libpq read standard_conforming_strings, integer_datetimes and
    // TimeZone during connection setup and break without them
    Seq("server_version" -> serverVersion, "server_encoding" -> "UTF8",
      "client_encoding" -> "UTF8", "DateStyle" -> "ISO, MDY",
      "TimeZone" -> kv.getOrElse("TimeZone", "UTC"),
      "standard_conforming_strings" -> "on", "integer_datetimes" -> "on",
      "IntervalStyle" -> "postgres", "is_superuser" -> "on",
      "session_authorization" -> clientUser,
      "application_name" -> kv.getOrElse("application_name", ""),
      "default_transaction_read_only" -> "off",
      "in_hot_standby" -> "off") // ParameterStatus
      .foreach { case (k, v) =>
        msg(out, 'S') { b => cstr(b, k); cstr(b, v) }
      }
    msg(out, 'K') { b => b.writeInt(pid); b.writeInt(secret) } // BackendKeyData
    readyForQuery(out)
    true
  }

  private def readyForQuery(out: DataOutputStream,
      txn: PgDialect.PgTxn = null): Unit = {
    // PG's transaction status: idle, in a block, or in a failed block
    val status =
      if (txn == null || !txn.inTxn) 'I' else if (txn.isAborted) 'E' else 'T'
    msg(out, 'Z') { b => b.writeByte(status) }
    out.flush()
  }

  /** key/value pairs of a StartupMessage body: NUL-terminated strings in
    * pairs, terminated by an empty key. */
  private def parseStartupParams(params: Array[Byte]): Map[String, String] = {
    val parts = new String(params, UTF_8).split('\u0000').toSeq
    parts.grouped(2).collect { case Seq(k, v) if k.nonEmpty => k -> v }.toMap
  }

  /** Startup rejection: ErrorResponse with an explicit SQLSTATE, then
    * ReadyForQuery — the reference's writeError shape
    * (postgres_server.go:197-207). */
  private def startupError(out: DataOutputStream, code: String, message: String): Unit = {
    msg(out, 'E') { b =>
      b.writeByte('S'); cstr(b, "ERROR")
      b.writeByte('C'); cstr(b, code)
      b.writeByte('M'); cstr(b, message)
      b.writeByte(0)
    }
    readyForQuery(out)
  }

  // ---- query execution -------------------------------------------------
  private val declareRe =
    ("(?is)^DECLARE\\s+(\"[^\"]+\"|[\\w$]+)\\s+(?:BINARY\\s+)?(?:INSENSITIVE\\s+)?" +
      "(?:NO\\s+SCROLL\\s+|SCROLL\\s+)?CURSOR\\s+(?:WITH\\s+HOLD\\s+|WITHOUT\\s+HOLD\\s+)?FOR\\s+(.*)$").r
  private val fetchRe =
    "(?is)^(FETCH|MOVE)\\s+(?:FORWARD\\s+)?(ALL\\b|\\d+)?\\s*(?:FROM\\s+|IN\\s+)?(\"[^\"]+\"|[\\w$]+)$".r
  private val closeRe = "(?is)^CLOSE\\s+(ALL\\b|\"[^\"]+\"|[\\w$]+)$".r
  // SQL-level prepared statements (PREPARE / EXECUTE / DEALLOCATE — the
  // psql-side twins of the extended protocol's Parse/Bind/Close, sharing
  // the same per-connection statement map)
  private val prepareRe =
    "(?is)^PREPARE\\s+(\"[^\"]+\"|[\\w$]+)\\s*(?:\\(([^)]*)\\))?\\s+AS\\s+(.*)$".r
  private val executeRe =
    "(?is)^EXECUTE\\s+(\"[^\"]+\"|[\\w$]+)\\s*(?:\\((.*)\\))?\\s*$".r
  private val deallocRe =
    "(?is)^DEALLOCATE\\s+(?:PREPARE\\s+)?(ALL\\b|\"[^\"]+\"|[\\w$]+)\\s*$".r

  private def unq(n: String): String =
    if (n.startsWith("\"")) n.stripPrefix("\"").stripSuffix("\"") else n.toLowerCase

  /** DECLARE / FETCH / MOVE / CLOSE against the per-connection cursor map,
    * and PREPARE / EXECUTE / DEALLOCATE against the per-connection
    * statement map; None when the statement is neither, Some(rows
    * streamed) when handled (the pg_stat_statements feed). */
  private def cursorStatement(out: DataOutputStream, stmt: String,
      cursors: scala.collection.mutable.Map[String, Portal],
      statements: scala.collection.mutable.Map[String, String],
      in: DataInputStream, txn: PgDialect.PgTxn): Option[Long] = stmt.trim match {
    case prepareRe(name, _, query) =>
      if (statements.contains(unq(name)))
        throw PgDialect.UnsupportedQuery(
          s"""prepared statement "${unq(name)}" already exists""")
      statements(unq(name)) = query
      commandComplete(out, "PREPARE")
      Some(0L)
    case executeRe(name, argsRaw) =>
      val query = statements.getOrElse(unq(name),
        throw PgDialect.UnsupportedQuery(
          s"""prepared statement "${unq(name)}" does not exist"""))
      // EXECUTE arguments are SQL literals; decode to the text values
      // substituteParams expects (it re-quotes strings itself)
      val args = Option(argsRaw).map(PgDialect.splitTopLevel(_).map(_.trim))
        .getOrElse(Nil).map {
          case a if a.equalsIgnoreCase("NULL") => null
          case a if a.startsWith("'") && a.endsWith("'") && a.length >= 2 =>
            a.substring(1, a.length - 1).replace("''", "'")
          case a => a
        }
      // the connection txn rides along: EXECUTE of a prepared DML must
      // journal (ROLLBACK reverts it) and reads must honor the RR pin
      Some(sendResult(out,
        PgDialect.execute(spark, store, substituteParams(query, args), txn), in, txn)._1)
    case deallocRe(name) =>
      if (name.equalsIgnoreCase("ALL")) { statements.clear(); commandComplete(out, "DEALLOCATE ALL") }
      else {
        if (statements.remove(unq(name)).isEmpty)
          throw PgDialect.UnsupportedQuery(
            s"""prepared statement "${unq(name)}" does not exist""")
        commandComplete(out, "DEALLOCATE")
      }
      Some(0L)
    case declareRe(name, query) =>
      if (!PgDialect.isRead(query))
        throw PgDialect.UnsupportedQuery("DECLARE CURSOR can only be used with a query")
      cursors(unq(name)) = new Portal(readFrame(query, txn))
      commandComplete(out, "DECLARE CURSOR")
      Some(0L)
    case fetchRe(verb, count, name) =>
      val p = cursors.getOrElse(unq(name),
        throw PgDialect.UnsupportedQuery(s"cursor \"${unq(name)}\" does not exist"))
      val n = Option(count).map(_.trim) match {
        case Some(c) if c.equalsIgnoreCase("ALL") => Int.MaxValue
        case Some(c) => c.toInt
        case None => 1
      }
      val move = verb.equalsIgnoreCase("MOVE")
      if (!move) rowDescription(out, p.df.schema)
      var sent = 0
      while (p.rows.hasNext && sent < n) {
        val r = p.rows.next()
        if (!move) dataRow(out, r, p.df.schema, p.fmt)
        sent += 1
      }
      commandComplete(out, s"${verb.toUpperCase} $sent")
      Some(if (move) 0L else sent.toLong)
    case closeRe(name) =>
      if (name.equalsIgnoreCase("ALL")) cursors.clear()
      else cursors.remove(unq(name))
      commandComplete(out, "CLOSE CURSOR")
      Some(0L)
    case _ => None
  }

  private def runQuery(out: DataOutputStream, sql: String,
      cursors: scala.collection.mutable.Map[String, Portal],
      statements: scala.collection.mutable.Map[String, String],
      in: DataInputStream, txn: PgDialect.PgTxn): Unit =
    try {
      val stmts = PgDialect.splitStatements(sql)
      if (stmts.isEmpty) msg(out, 'I') { _ => } // EmptyQueryResponse
      else stmts.foreach { stmt =>
        // pg_stat_statements feed: time-to-last-row as the client saw it
        val t0 = System.nanoTime()
        val rows = withStatementTimeout {
          cursorStatement(out, stmt, cursors, statements, in, txn).getOrElse(
            sendResult(out, PgDialect.execute(spark, store, stmt, txn), in, txn)._1)
        }
        PgDialect.noteStatement(stmt, (System.nanoTime() - t0) / 1000, rows)
      }
      // TimeZone has GUC_REPORT: PG pushes a ParameterStatus after SET,
      // RESET timezone, and RESET ALL alike
      if ("(?is).*\\b(SET\\s+(SESSION\\s+|LOCAL\\s+)?|RESET\\s+)time\\s*zone\\b.*".r.matches(sql)
          || "(?is).*\\b(SET\\s+(SESSION\\s+|LOCAL\\s+)?|RESET\\s+)timezone\\b.*".r.matches(sql)
          || "(?is).*\\bRESET\\s+ALL\\b.*".r.matches(sql))
        SessionSettings.get("timezone").foreach { tz =>
          msg(out, 'S') { b => cstr(b, "TimeZone"); cstr(b, tz) }
        }
    } catch { case e: Throwable => fail(out, e, txn) }

  /** The rows of a read ([[PgDialect.isRead]]) from the same
    * [[PgDialect.execute]] call simple Query makes. */
  private def readFrame(sql: String, txn: PgDialect.PgTxn): DataFrame =
    PgDialect.execute(spark, store, sql, txn) match {
      case PgDialect.Rows(df, _) => df
      case _ => throw PgDialect.UnsupportedQuery(s"expected a row-returning query: $sql")
    }

  /** Send one statement's result in its protocol shape. Returns the rows
    * streamed (the pg_stat_statements feed) and the CommandComplete tag
    * sent ("" for an empty query). `in` is null off the simple protocol,
    * where COPY FROM STDIN cannot run. */
  private def sendResult(out: DataOutputStream, result: PgDialect.PgResult,
      in: DataInputStream, txn: PgDialect.PgTxn): (Long, String) = result match {
    case PgDialect.Rows(df, tag) =>
      rowDescription(out, df.schema)
      // DML … RETURNING keeps its own CommandComplete verb (PG: "UPDATE n");
      // every other Rows result completes as a SELECT
      val verb =
        if (Seq("INSERT", "UPDATE", "DELETE").exists(tag.startsWith)) tag else "SELECT"
      val n = sendDataRowsBody(out, df)
      commandComplete(out, s"$verb $n")
      (n, s"$verb $n")
    case PgDialect.CopyOut(df, csv, header) =>
      val n = sendCopyOut(out, df, csv, header)
      (n, s"COPY $n")
    case ci: PgDialect.CopyIn =>
      if (in == null) throw PgDialect.UnsupportedQuery(
        "COPY FROM STDIN requires the simple protocol")
      // inside an explicit txn the ingested chunks must roll back with it,
      // like any other write — journal the appends the same way the
      // dialect journals PgDml statements
      val journaling = txn.inTxn
      // pin BEFORE the write — a COPY-first RR txn needs the baseline for
      // first-updater-wins (see the DML path)
      if (journaling && txn.isRepeatable) txn.readSnapshot(store)
      if (journaling) store.beginWriteJournal()
      var copied = -1L
      var written: Seq[(String, Int, Int)] = Nil
      // chunk appends STAGE in the txn's private version dirs — invisible
      // to other connections until COMMIT, discarded wholesale at ROLLBACK
      // (same contract as the DML path)
      try copied =
        if (journaling)
          store.withStaging(txn.stagingFor(store))(receiveCopyIn(in, out, ci))
        else receiveCopyIn(in, out, ci)
      finally if (journaling) {
        // drain in the FINALLY: a COPY that dies in a later 64MB chunk
        // (malformed row, CopyFail) has already published the earlier
        // chunk appends — they must be noted into the txn so ROLLBACK can
        // revert them, not silently dropped. "after" derives from the
        // journal (each publish = its before+1), never a live re-read
        // (see checkWriteConflicts)
        written = PgDialect.noteJournaledWrites(store, txn)
      }
      // first-updater-wins BEFORE CommandComplete: a conflicting COPY must
      // never report success then error — per-table coalescing keeps a
      // multi-chunk COPY's own sequential publishes from reading as
      // conflicts
      PgDialect.checkWriteConflicts(txn, journaling, written)
      commandComplete(out, s"COPY $copied")
      (copied, s"COPY $copied")
    case PgDialect.Command(tag) => commandComplete(out, tag); (0L, tag)
    case PgDialect.Empty => msg(out, 'I') { _ => }; (0L, "")
  }

  /** Map Spark error conditions to the SQLSTATEs PG clients branch on
    * (42P01 undefined_table, 42703 undefined_column; reference returns
    * real PG codes via DuckDB the same way). */
  private def sqlState(e: Throwable): String = e match {
    case _ if isCancellation(e) => "57014" // query_canceled (statement_timeout)
    case _ if Option(e.getMessage).exists(_.contains("transaction is aborted")) =>
      "25P02" // in_failed_sql_transaction
    case _ if Option(e.getMessage).exists(_.contains("could not serialize access")) =>
      "40001" // serialization_failure — drivers/pools retry on this code
    case _ if Option(e.getMessage).exists(_.contains("in a read-only transaction")) =>
      "25006" // read_only_sql_transaction
    case se: org.apache.spark.SparkThrowable if se.getCondition != null =>
      val c = se.getCondition
      if (c.startsWith("TABLE_OR_VIEW_NOT_FOUND")) "42P01"
      else if (c.startsWith("UNRESOLVED_COLUMN") || c.startsWith("UNRESOLVED_FIELD")) "42703"
      else if (c.startsWith("UNRESOLVED_ROUTINE")) "42883"
      else if (c.startsWith("PARSE_SYNTAX_ERROR")) "42601"
      else if (c.startsWith("DIVIDE_BY_ZERO")) "22012"
      else if (c.startsWith("CAST_INVALID_INPUT") || c.startsWith("NUMERIC_VALUE_OUT_OF_RANGE")) "22P02"
      else Option(se.getSqlState).getOrElse("42601")
    case _ => "42601"
  }

  private def isCancellation(e: Throwable): Boolean = {
    var c = e
    var depth = 0
    while (c != null && depth < 8) {
      val m = Option(c.getMessage).getOrElse("")
      if (m.contains("cancelled") && m.contains("job group")) return true
      c = c.getCause; depth += 1
    }
    false
  }

  /** `SET statement_timeout = '5s'|'500ms'|5000` (PG default unit ms;
    * 0/off disables). Enforced by cancelling this connection's Spark job
    * group when the watchdog fires — cooperative like PG's timeout, and
    * scoped to the one running statement because each connection is one
    * job group with one statement in flight. */
  private def statementTimeoutMs: Long =
    SessionSettings.get("statement_timeout").map(_.trim.toLowerCase) match {
      case Some(v) if v.nonEmpty && v != "0" && v != "off" =>
        val num = "(\\d+)\\s*(ms|s|min|h)?".r
        v.replace("'", "") match {
          case num(n, unit) => Option(unit).getOrElse("ms") match {
            case "ms" => n.toLong
            case "s" => n.toLong * 1000
            case "min" => n.toLong * 60000
            case "h" => n.toLong * 3600000
          }
          case _ => 0L
        }
      case _ => 0L
    }

  /** Run `body` under the statement-timeout watchdog (no-op when off). */
  private def withStatementTimeout[T](body: => T): T = {
    val ms = statementTimeoutMs
    if (ms <= 0) body
    else {
      val group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
      val timer = new java.util.Timer("stmt-timeout", true)
      if (group != null)
        // repeating: cancelJobGroup only kills ALREADY-RUNNING jobs, and a
        // statement past its deadline may still be planning — keep firing
        // until the statement returns and cancels the watchdog
        timer.scheduleAtFixedRate(new java.util.TimerTask {
          def run(): Unit = spark.sparkContext.cancelJobGroup(group)
        }, ms, 100)
      try body finally timer.cancel()
    }
  }

  /** Report a failed statement. PG: an error inside a transaction block
    * aborts it — everything until ROLLBACK is then refused with 25P02. */
  private def fail(out: DataOutputStream, e: Throwable, txn: PgDialect.PgTxn): Unit = {
    txn.markFailed()
    sendError(out, e)
  }

  private def sendError(out: DataOutputStream, e: Throwable): Unit =
    msg(out, 'E') { b =>
      b.writeByte('S'); cstr(b, "ERROR")
      b.writeByte('C'); cstr(b, sqlState(e))
      b.writeByte('M'); cstr(b,
        if (isCancellation(e)) "canceling statement due to user request or statement timeout"
        else Option(e.getMessage).getOrElse(e.toString).take(500))
      b.writeByte(0)
    }

  private def rowDescription(out: DataOutputStream, schema: StructType): Unit =
    msg(out, 'T') { b => // RowDescription
      b.writeShort(schema.fields.length)
      schema.fields.foreach { f =>
        cstr(b, f.name)
        b.writeInt(0); b.writeShort(0)
        b.writeInt(fieldOid(f))
        b.writeShort(-1); b.writeInt(-1); b.writeShort(0) // text format
      }
    }

  /** Column type OID matching the reference's RowDescription surface
    * (query_handler_test.go pins one per golden query): STORED columns
    * report their storage representation (timetz→time, uuid/json/jsonb→
    * text, interval→numeric micros, timestamptz loses the zone), while
    * COMPUTED expressions report the live engine type (::jsonb / `->` /
    * json functions carry the "jsonval" tag → the JSON type OID, a
    * ::timestamptz cast stays 1184). pg_catalog columns can pin an exact
    * OID via [[PgTypes.OidKey]] (`oid` columns → 26 like the reference's
    * DuckDB catalog). */
  private[graft] def fieldOid(f: StructField): Int = {
    if (f.metadata.contains(PgTypes.OidKey))
      return f.metadata.getLong(PgTypes.OidKey).toInt
    val logical =
      if (f.metadata.contains(PgTypes.LogicalKey))
        f.metadata.getString(PgTypes.LogicalKey)
      else ""
    logical match {
      case "time" | "timetz" => 1083 // both stored as micros-of-day
      case "jsonval" => 114          // computed json (DuckDB JSON type)
      case "json" | "jsonb" => f.dataType match {
        case _: ArrayType => 1009    // _jsonb stored as _text
        case _ => 25                 // stored as VARCHAR
      }
      case "uuid" => 25              // stored as VARCHAR
      case "interval" => 1700        // stored as numeric micros
      case "timestamptz" => 1114     // storage loses the zone
      case _ => f.dataType match {
        case ArrayType(et, _) => arrayOidOf(et)
        case dt => PgCatalog.pgTypeOf(dt)._1
      }
    }
  }

  /** Element-typed PG array OIDs (pg_type typarray of the element type). */
  private def arrayOidOf(et: DataType): Int = et match {
    case StringType => 1009
    case IntegerType => 1007
    case ShortType | ByteType => 1005
    case LongType => 1016
    case BooleanType => 1000
    case FloatType => 1021
    case DoubleType => 1022
    case _: DecimalType => 1231
    case DateType => 1182
    case TimestampType => 1185
    case TimestampNTZType => 1115
    case _ => 2277
  }

  /** COPY-in subprotocol (COPY table FROM STDIN — the psql \copy ingestion
    * path): CopyInResponse, then CopyData frames buffered and flushed into
    * the store in bounded chunks (64 MB — the reference's 1 GB load-batch
    * cap scaled to the wire; driver memory stays one chunk regardless of
    * COPY size, the same shape as the HTTP syncer's page spool). Values
    * parse from PG text format (tab/\N/backslash escapes) or CSV (RFC
    * quoting, one record per line) and get PG's assignment cast onto the
    * target schema. CopyFail (or a parse error) aborts with no partial
    * chunk committed — each flushed chunk is an atomic store append. */
  private def receiveCopyIn(in: DataInputStream, out: DataOutputStream,
      ci: PgDialect.CopyIn): Long = {
    val target = store.read(ci.table).schema
    val cols =
      if (ci.cols.nonEmpty) ci.cols else target.fields.map(_.name).toSeq
    msg(out, 'G') { b =>
      b.writeByte(0)
      b.writeShort(cols.length)
      cols.foreach(_ => b.writeShort(0))
    }
    out.flush()
    val buf = new java.io.ByteArrayOutputStream()
    var total = 0L
    var headerPending = ci.header
    // chunked publish bounds driver memory for arbitrarily large COPYs;
    // the sys-prop override exists so tests can force multi-chunk behavior
    // (partial-publish + rollback) without shipping 64MB of rows
    val chunkBytes = sys.props.get("graft.copy.chunkBytes")
      .flatMap(_.toIntOption).getOrElse(64 << 20)
    // Below this, a driver-side decode beats job-scheduling overhead (the
    // interactive psql \copy case); above it, decode parallelizes across
    // executor tasks — the ingest twin of copyParallelMinBytes. Sys-prop
    // override so specs can force the parallel path without fat fixtures.
    val parallelMinBytes = sys.props.get("graft.copyIn.parallelMinBytes")
      .flatMap(_.toIntOption).getOrElse(8 << 20)
    val strSchema = org.apache.spark.sql.types.StructType(
      cols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    val (csv, delim, nullStr, ncols) =
      (ci.csv, ci.delimiter, ci.nullStr, cols.length)

    def flush(tail: Boolean): Unit = {
      val text = new String(buf.toByteArray, UTF_8)
      val cut = if (tail) text.length else text.lastIndexOf('\n') + 1
      val (ready0, rest) = text.splitAt(cut)
      buf.reset()
      buf.write(rest.getBytes(UTF_8))
      var ready = ready0
      if (headerPending && ready.nonEmpty) {
        val nl = ready.indexOf('\n')
        ready = if (nl < 0) "" else ready.substring(nl + 1)
        headerPending = false
      }
      if (ready.isEmpty) return
      if (ready.length < parallelMinBytes) {
        // small chunk: decode on the connection thread, local relation
        val lines = ready.split("\n", -1).toSeq
          .map(_.stripSuffix("\r")).filter(l => l.nonEmpty && l != "\\.")
        if (lines.isEmpty) return
        val rows: java.util.List[org.apache.spark.sql.Row] =
          new java.util.ArrayList[org.apache.spark.sql.Row](lines.length)
        lines.foreach { l =>
          val vals = CopyParse.parseLine(l, csv, delim, nullStr)
          if (vals.length != ncols)
            throw PgDialect.UnsupportedQuery(
              s"COPY row has ${vals.length} fields, expected $ncols: $l")
          rows.add(org.apache.spark.sql.Row.fromSeq(vals))
        }
        store.appendCompacting(ci.table,
          PgDml.align(spark.createDataFrame(rows, strSchema), target, cols))
        total += lines.length
      } else {
        // fat chunk: slice complete lines into ~4 MB blocks and decode on
        // executor tasks — split/unescape/cast never touch the connection
        // thread, so bulk-load throughput scales with cores, not with one
        // thread's parse speed. The appended-row return is the parsed line
        // count (footer-measured), so the COPY tag stays exact.
        val slices = CopyParse.sliceLines(ready, 4 << 20)
        val rdd = spark.sparkContext
          .parallelize(slices, slices.length)
          .flatMap { block =>
            block.split("\n", -1).iterator
              .map(_.stripSuffix("\r"))
              .filter(l => l.nonEmpty && l != "\\.")
              .map { l =>
                val vals = CopyParse.parseLine(l, csv, delim, nullStr)
                if (vals.length != ncols)
                  throw new IllegalArgumentException(
                    s"COPY row has ${vals.length} fields, expected $ncols: $l")
                org.apache.spark.sql.Row.fromSeq(vals)
              }
          }
        total += unwrapCopyRowError {
          store.appendCompacting(ci.table,
            PgDml.align(spark.createDataFrame(rdd, strSchema), target, cols))
        }
      }
    }

    var done = false
    var failMsg: Option[String] = None
    while (!done) {
      val tpe = in.read()
      if (tpe < 0) throw new java.io.EOFException("connection closed during COPY")
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      tpe.toChar match {
        case 'd' =>
          buf.write(body)
          if (buf.size > chunkBytes) flush(tail = false)
        case 'c' => done = true
        case 'f' =>
          failMsg = Some(new String(body, UTF_8).takeWhile(_ != 0))
          done = true
        case _ => // Flush/Sync mid-copy: ignored like PG
      }
    }
    failMsg.foreach(m =>
      throw PgDialect.UnsupportedQuery(s"COPY from stdin failed: $m"))
    flush(tail = true)
    // CommandComplete is the CALLER's to send — post-COPY transaction
    // checks (serialization conflicts) must be able to fail the statement
    // before any success tag reaches the client
    total
  }

  /** A malformed COPY row detected inside an executor task surfaces as a
    * SparkException wrapping our field-count error; unwrap it back to the
    * clean PG-shaped message the driver-side decode path throws. */
  private def unwrapCopyRowError[T](body: => T): T =
    try body catch {
      case e: Exception =>
        var c: Throwable = e
        while (c.getCause != null && (c.getCause ne c)) c = c.getCause
        val m = c.getMessage
        if (m != null && m.startsWith("COPY row has"))
          throw PgDialect.UnsupportedQuery(m)
        else throw e
    }

  /** COPY-out subprotocol: CopyOutResponse, one CopyData per line (PG text
    * format: tab-delimited with \N nulls and backslash escapes; or CSV with
    * RFC quoting + optional header), CopyDone, CommandComplete "COPY n". */
  // COPY-out parallel-path tuning (private[graft]: specs shrink them to
  // force the batched path over small tables)
  private[graft] var copyParallelMinBytes: Long = 8L << 20
  private[graft] var copyTaskBytes: Long = 24L << 20
  private[graft] var copyJobBytes: Long = 256L << 20

  private def sendCopyOut(out: DataOutputStream, df: DataFrame,
      csv: Boolean, header: Boolean): Long = {
    val schema = df.schema
    msg(out, 'H') { b =>
      b.writeByte(0) // overall text format
      b.writeShort(schema.fields.length)
      schema.fields.foreach(_ => b.writeShort(0))
    }
    // The data phase is the wire hot path (pg_dump drains whole tables
    // through here). Rows are encoded into pre-framed CopyData chunks ON
    // EXECUTOR TASKS (PgText.encodeCopyChunks via mapPartitions) so the
    // text encode parallelizes with the scan across every core — at
    // cluster scale across every executor — and the driver's only work is
    // pumping ~1 MiB framed chunks into a buffered socket. Measured on
    // lineitem sf0.1 at local[32]: ~10x the old per-row driver-encode
    // throughput. Chunks arrive in partition order, so an ORDER BY's
    // range-partitioned output streams out still sorted.
    val bout = new java.io.BufferedOutputStream(out, 1 << 16)
    if (csv && header)
      bout.write(PgText.frameLine(
        schema.fieldNames.map(PgText.csvQuote).mkString(",")))
    val fields = schema.fields
    val n = drainChunks(bout, df,
      rows => PgText.encodeCopyChunks(rows, fields, csv))
    bout.flush() // hand the (unbuffered) stream back in order
    msg(out, 'c') { _ => }
    commandComplete(out, s"COPY $n")
    n
  }

  /** Is the frame's OUTPUT ordered by a top-level global Sort? Unwraps the
    * order-preserving wrappers the analyzer leaves above it (projections,
    * aliases, LIMIT/OFFSET/FETCH — a limit of sorted rows is sorted — and
    * CTE scaffolding). Misclassifying sorted-as-unsorted would stream an
    * ORDER BY out of order; the reverse only costs parallelism. */
  private def topSorted(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Sort,
      SubqueryAlias, WithCTE}
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => unwrap(c)
      case SubqueryAlias(_, c) => unwrap(c)
      case GlobalLimit(_, c) => unwrap(c)
      case LocalLimit(_, c) => unwrap(c)
      case Offset(_, c) => unwrap(c)
      case WithCTE(c, _) => unwrap(c)
      case other => other
    }
    unwrap(df.queryExecution.analyzed) match {
      case s: Sort => s.global
      case _ => false
    }
  }

  /** Output-size estimate for drain sizing. The PLAN-level sizeInBytes
    * multiplies join cardinalities when column stats are absent and can
    * land astronomically high for a small result — an unguarded read of it
    * once classified every join query in the golden corpus as a fat
    * export, repartitioned each to 4096 and drained it through 4096
    * one-task jobs (hours for 271 sub-second queries). LEAF stats are real
    * bytes (parquet file sizes, literal rows), so cap the plan estimate at
    * 8x the summed leaves — text encoding of compressed parquet rarely
    * expands more, and [[drainChunks]]'s observation-adaptive job sizing
    * absorbs the residual error in either direction. */
  private[graft] def estOutBytes(df: DataFrame): BigInt =
    Tables.cappedPlanBytes(df)

  /** Messages of `t` and every cause below it (cycle-bounded). */
  private def causeChain(t: Throwable): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var cur = t; var depth = 0
    while (cur != null && depth < 16) {
      Option(cur.getMessage).foreach(out += _)
      cur = cur.getCause; depth += 1
    }
    out.toSeq
  }

  /** Shared drain pump for executor-framed wire output (COPY CopyData
    * chunks, fat-SELECT DataRow chunks): when the result is big and its
    * order free, encode in parallel and pump partition batches; otherwise
    * stream partitions in order (a global sort is range-partitioned, so
    * in-order concatenation IS the sorted output — still executor-encoded).
    * Returns rows written to `bout` (caller flushes). */
  private def drainChunks(bout: java.io.BufferedOutputStream, df: DataFrame,
      chunk: Iterator[Row] => Iterator[(Long, Array[Byte])]): Long = {
    // A bulk export that arrives as ONE scan partition (a single parquet
    // file) would encode on one task; round-robin it across the cores
    // first — UNLESS the query carries a top-level ORDER BY (whose
    // range-partitioned order must stream out intact) or is small enough
    // that a shuffle costs more than it buys.
    val bigUnsorted = !topSorted(df) &&
      estOutBytes(df) > copyParallelMinBytes
    def chunked(d: DataFrame) = d.mapPartitions(chunk)(
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY))
    if (bigUnsorted) {
      // Output order is free: submit PARTITION BATCHES as Spark jobs
      // (toLocalIterator would run one sequential job per partition — all
      // parallelism lost). Every job collects its tasks' results on the
      // driver, and Spark counts the WHOLE job against
      // spark.driver.maxResultSize — a single job over a fat export dies
      // at ~1 GiB and silently truncates the COPY (caught at SF10: 11M of
      // 60M rows). So: partition the export finely enough that one task's
      // framed text is ~24 MiB, then batch ~256 MiB of results per job.
      val sc = df.sparkSession.sparkContext
      val est = estOutBytes(df)
      // The leaf-capped estimate is right for fat/small CLASSIFICATION and
      // job batching, but PARTITION sizing must survive a genuine >8x
      // expansion (many-to-many join, explode, heavy text expansion): the
      // adaptive loop below can only shrink to one partition per job,
      // never split a partition, so a single under-partitioned task's
      // framed text can cross spark.driver.maxResultSize and kill the
      // export. When the leaf cap actually bit (raw plan estimate above
      // it), size partitions for up to 64x the leaves (still bounded by
      // the raw estimate) — over-partitioning an overestimate is cheap
      // because observation-adaptive job sizing drains many partitions
      // per job.
      val raw = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val sizingEst = if (raw > est) (est * 8).min(raw) else est
      def runDrain(fine: Int, maxParts: Int): Long = {
        val wantParts = BigInt(sc.defaultParallelism)
          .max(sizingEst * fine / copyTaskBytes + 1).min(maxParts).toInt
        val src =
          if (df.rdd.getNumPartitions < wantParts) df.repartition(wantParts)
          else df
        val rdd = chunked(src).rdd
        val parts = rdd.getNumPartitions
        val perJob = (BigInt(parts) * copyJobBytes / est).min(64).max(1).toInt
        val pump = new ChunkPump(sc, rdd, bout)
        var next = 0
        // First job runs at a quarter of the estimate-derived batch: the
        // estimate may UNDERSHOOT real output (explodes, extreme text
        // expansion) and the first job has no observation to correct with.
        var perJobDyn = math.max(1, perJob / 4)
        try {
          while (next < parts) {
            val batch = next until math.min(next + perJobDyn, parts)
            pump.submit(batch)
            next = batch.end
            // Re-size later jobs from OBSERVED bytes/task: a residually
            // wrong estimate must neither leave a small result draining
            // through thousands of one-task jobs nor overrun the per-job
            // driver buffer when tasks come back fatter than sized.
            if (pump.tasks > 0) {
              val avg = math.max(pump.bytes / pump.tasks, 64L << 10)
              perJobDyn = math.min(math.max(copyJobBytes / avg, 1L), 512L).toInt
            }
          }
          pump.finish()
        } catch {
          // A 100-300x expansion can still cross the driver ceiling on the
          // very first job. While NOTHING has reached the socket a full
          // restart is safe (a repartition redistributes every row, so a
          // mid-stream retry is not) — rerun the whole export 8x finer.
          case e: Exception
              if fine == 1 && pump.rows == 0 &&
                causeChain(e).exists(m => m.contains("maxResultSize") ||
                  m.contains("bigger than spark.driver")) =>
            runDrain(fine = 8, maxParts = 16384)
        }
      }
      runDrain(fine = 1, maxParts = 4096)
    } else {
      // Ordered output streams partitions IN ORDER (a global sort is
      // range-partitioned, so in-order concatenation IS the sorted
      // output) — but still through the pump with one-partition jobs:
      // partition i+1 encodes on executors while i drains to the socket.
      // toLocalIterator would leave the cluster idle during every socket
      // write at the same one-collected-partition memory cost.
      val rdd = chunked(df).rdd
      val pump = new ChunkPump(df.sparkSession.sparkContext, rdd, bout)
      (0 until rdd.getNumPartitions).foreach(p => pump.submit(Seq(p)))
      pump.finish()
    }
  }

  /** Double-buffered executor→socket pump shared by the wire drains:
    * `submit(batch)` starts encoding a partition batch on executors while
    * the PREVIOUS batch's results drain to the socket on the calling
    * (connection) thread.
    *
    * The job's result handler MUST NOT touch the socket: Spark invokes it
    * on the DAGScheduler event-loop thread (JobWaiter.taskSucceeded), and
    * a socket write there blocks on the CLIENT's read pace — freezing job
    * scheduling for the whole SparkContext, every other connection
    * included (caught live: one psql buffering a 6M-row SELECT stalled
    * concurrent sub-second queries indefinitely). Handlers append to a
    * memory queue only; at most two batches' results sit on the driver. */
  private final class ChunkPump(sc: org.apache.spark.SparkContext,
      rdd: org.apache.spark.rdd.RDD[(Long, Array[Byte])],
      bout: java.io.BufferedOutputStream) {
    var rows = 0L
    var bytes = 0L
    var tasks = 0
    private var pending: (org.apache.spark.FutureAction[Unit],
      java.util.concurrent.ConcurrentLinkedQueue[(Long, Array[Byte])],
      Int) = null
    private def flush(): Unit = if (pending != null) {
      val (fut, buf, size) = pending
      pending = null
      scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration.Inf)
      var e = buf.poll()
      while (e != null) {
        bout.write(e._2); rows += e._1; bytes += e._2.length
        e = buf.poll()
      }
      tasks += size
    }
    def submit(batch: Seq[Int]): Unit = {
      val buf =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Array[Byte])]()
      val fut = sc.submitJob[(Long, Array[Byte]), Array[(Long, Array[Byte])], Unit](
        rdd,
        (it: Iterator[(Long, Array[Byte])]) => it.toArray,
        batch,
        (_: Int, res: Array[(Long, Array[Byte])]) =>
          { res.foreach(buf.add); () },
        ())
      // previous batch drains while this one computes; if it FAILED,
      // cancel the just-submitted job before propagating
      try flush()
      catch { case t: Throwable => fut.cancel(); throw t }
      pending = (fut, buf, batch.size)
    }
    /** Drain the last in-flight batch and return total rows written. */
    def finish(): Long = { flush(); rows }
  }

  /** One DataRow; `fmt(i)` = 1 requests PG binary encoding for column i
    * (ints/floats/bool/date/timestamp/numeric — the types JDBC asks for in
    * binary; all else falls back to text). */
  private def dataRow(out: DataOutputStream, row: Row, schema: StructType,
      fmt: Int => Int = _ => 0): Unit =
    msg(out, 'D') { b =>
      b.writeShort(schema.fields.length)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (row.isNullAt(i)) b.writeInt(-1)
        else if (fmt(i) == 1) binaryEncode(b, row, i, f.dataType)
        else {
          val bytes = PgText.textEncodeField(row, i, f).getBytes(UTF_8)
          b.writeInt(bytes.length); b.write(bytes)
        }
      }
    }

  /** PG binary-format value encodings (big-endian, length-prefixed). */
  private def binaryEncode(b: DataOutputStream, row: Row, i: Int,
      dt: DataType): Unit = dt match {
    case ShortType => b.writeInt(2); b.writeShort(row.getShort(i))
    case IntegerType => b.writeInt(4); b.writeInt(row.getInt(i))
    case LongType => b.writeInt(8); b.writeLong(row.getLong(i))
    case FloatType => b.writeInt(4); b.writeFloat(row.getFloat(i))
    case DoubleType => b.writeInt(8); b.writeDouble(row.getDouble(i))
    case BooleanType => b.writeInt(1); b.writeByte(if (row.getBoolean(i)) 1 else 0)
    case DateType => // int4 days since 2000-01-01
      val days = row.getAs[java.sql.Date](i).toLocalDate.toEpochDay - PgEpochDays
      b.writeInt(4); b.writeInt(days.toInt)
    case TimestampType => // int8 micros since 2000-01-01T00:00:00Z
      val t = row.getAs[java.sql.Timestamp](i)
      val micros = t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L
      b.writeInt(8); b.writeLong(micros - PgEpochMicros)
    case TimestampNTZType => // int8 micros since 2000-01-01T00:00 (no tz)
      val ldt = row.getAs[java.time.LocalDateTime](i)
      val micros = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        ldt.getNano / 1000L
      b.writeInt(8); b.writeLong(micros - PgEpochMicros)
    case _: DecimalType =>
      val payload = numericBinary(row.getDecimal(i))
      b.writeInt(payload.length); b.write(payload)
    case other => // not binary-encodable: text payload
      val bytes = PgText.textEncode(row, i, other).getBytes(UTF_8)
      b.writeInt(bytes.length); b.write(bytes)
  }

  /** 2000-01-01 in days / micros past the Unix epoch (PG's wire epoch). */
  private val PgEpochDays = 10957L
  private val PgEpochMicros = 946684800000000L

  /** PG numeric binary payload: ndigits, weight, sign, dscale (int16 each)
    * then base-10000 digit groups aligned to the decimal point — the exact
    * wire form `recv` in PG's numeric.c accepts and PgJDBC decodes. */
  private[graft] def numericBinary(dec: java.math.BigDecimal): Array[Byte] = {
    val sign = if (dec.signum < 0) 0x4000 else 0x0000
    val dscale = math.max(dec.scale, 0)
    val plain = dec.abs.toPlainString
    val (ip, fp) = plain.indexOf('.') match {
      case -1 => (plain, "")
      case k => (plain.substring(0, k), plain.substring(k + 1))
    }
    val ipPad = "0" * ((4 - ip.length % 4) % 4) + ip
    val fpPad = fp + "0" * ((4 - fp.length % 4) % 4)
    var digits = ipPad.grouped(4).map(_.toInt).toVector ++
      fpPad.grouped(4).map(_.toInt).toVector
    var weight = ipPad.length / 4 - 1
    while (digits.nonEmpty && digits.head == 0) { digits = digits.tail; weight -= 1 }
    while (digits.nonEmpty && digits.last == 0) digits = digits.dropRight(1)
    if (digits.isEmpty) weight = 0
    val out = java.nio.ByteBuffer.allocate(8 + 2 * digits.length)
    out.putShort(digits.length.toShort)
    out.putShort(weight.toShort)
    out.putShort(sign.toShort)
    out.putShort(dscale.toShort)
    digits.foreach(d => out.putShort(d.toShort))
    out.array()
  }

  /** DataRow stream for a FULL drain (no portal row limit): fat results
    * encode on executor tasks through the COPY chunk pump (the pre-r12
    * per-row toLocalIterator funnel capped any BI tool or `psql -c
    * "SELECT * FROM big"` at ~132k rows/s on one driver thread); small
    * results keep the per-row path, whose latency is lower than a chunk
    * job's scheduling floor. */
  private def sendDataRowsBody(out: DataOutputStream, df: DataFrame): Long = {
    val schema = df.schema
    if (estOutBytes(df) > copyParallelMinBytes) {
      val fields = schema.fields
      val bout = new java.io.BufferedOutputStream(out, 1 << 16)
      val n = drainChunks(bout, df,
        rows => PgText.encodeDataRowChunks(rows, fields))
      bout.flush()
      n
    } else {
      var n = 0L
      df.toLocalIterator().forEachRemaining { row =>
        dataRow(out, row, schema)
        n += 1
      }
      n
    }
  }

  private def commandComplete(out: DataOutputStream, tag: String): Unit =
    msg(out, 'C') { b => cstr(b, tag) }

  // ---- framing ---------------------------------------------------------
  private def msg(out: DataOutputStream, tpe: Char)(body: DataOutputStream => Unit): Unit = {
    val buf = new java.io.ByteArrayOutputStream()
    val b = new DataOutputStream(buf)
    body(b)
    out.writeByte(tpe)
    out.writeInt(buf.size() + 4)
    buf.writeTo(out)
  }

  private def cstr(b: DataOutputStream, s: String): Unit = {
    b.write(s.getBytes(UTF_8)); b.writeByte(0)
  }
}
