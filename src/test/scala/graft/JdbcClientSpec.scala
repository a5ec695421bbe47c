package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** Drives the wire server through the EXACT message sequences the
  * PostgreSQL JDBC driver (pgjdbc) emits, reconstructed from its public
  * protocol implementation (org.postgresql.core.v3.QueryExecutorImpl /
  * ConnectionFactoryImpl). The container has no pgjdbc jar (offline), so
  * the flows are replayed byte-faithfully by this client instead: startup
  * parameter set, describe-before-bind prepared statements with declared
  * param OIDs, named-statement reuse past prepareThreshold, fetchSize
  * cursor suspension inside an explicit transaction, multi-Bind batches
  * under one Sync, isValid()'s empty query, and DatabaseMetaData's real
  * getTables SQL. A server that satisfies this suite speaks the subset of
  * the protocol a real JDBC client exercises on connect and per query.
  *
  * Reference behavior: BemiDB's CI drives its server with real psql
  * (docker/bin-test/test.sh:1-40); this is the same end-to-end contract
  * pinned without a native client in the container. */
class JdbcClientSpec extends SparkSpecBase {

  // ---- protocol plumbing ---------------------------------------------------

  /** A v3-protocol client that speaks in pgjdbc's message shapes. */
  private class Jdbc(port: Int) {
    val sock = new Socket("127.0.0.1", port)
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)

    def send(tpe: Char, body: Array[Byte]): Unit = {
      out.writeByte(tpe); out.writeInt(4 + body.length); out.write(body)
    }
    def bb(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray
    def cstr(s: String): Array[Byte] = (s + "\u0000").getBytes(UTF_8)
    def i16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
    def i32(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()

    /** pgjdbc's startup parameter set (ConnectionFactoryImpl.startConnection):
      * user, database, client_encoding=UTF8, DateStyle=ISO, TimeZone,
      * extra_float_digits, application_name. */
    def connect(): Seq[(Char, Array[Byte])] = {
      val params = Seq(
        "user" -> "graft", "database" -> "graft",
        "client_encoding" -> "UTF8", "DateStyle" -> "ISO",
        "TimeZone" -> "UTC", "extra_float_digits" -> "3",
        "application_name" -> "PostgreSQL JDBC Driver")
      val body = new java.io.ByteArrayOutputStream()
      params.foreach { case (k, v) =>
        body.write(cstr(k)); body.write(cstr(v))
      }
      body.write(0)
      val b = body.toByteArray
      out.writeInt(8 + b.length); out.writeInt(196608); out.write(b); out.flush()
      drainUntilReady()
    }

    def parse(stmt: String, sql: String, oids: Seq[Int] = Nil): Unit =
      send('P', bb(cstr(stmt), cstr(sql), i16(oids.length),
        bb(oids.map(i32): _*)))

    def bind(portal: String, stmt: String, params: Seq[String] = Nil): Unit =
      send('B', bb(cstr(portal), cstr(stmt),
        i16(0), // no param format codes → all text (pgjdbc's default)
        i16(params.length),
        bb(params.map { p =>
          if (p == null) i32(-1)
          else bb(i32(p.getBytes(UTF_8).length), p.getBytes(UTF_8))
        }: _*),
        i16(0))) // no result format codes → all text

    def describeStatement(stmt: String): Unit =
      send('D', bb(Array('S'.toByte), cstr(stmt)))
    def describePortal(portal: String): Unit =
      send('D', bb(Array('P'.toByte), cstr(portal)))
    def execute(portal: String, maxRows: Int): Unit =
      send('E', bb(cstr(portal), i32(maxRows)))
    def closePortal(portal: String): Unit =
      send('C', bb(Array('P'.toByte), cstr(portal)))
    def closeStatement(stmt: String): Unit =
      send('C', bb(Array('S'.toByte), cstr(stmt)))
    def sync(): Seq[(Char, Array[Byte])] = {
      send('S', Array.emptyByteArray); out.flush()
      drainUntilReady()
    }

    def drainUntilReady(): Seq[(Char, Array[Byte])] = {
      val msgs = Seq.newBuilder[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val tpe = in.read().toChar
        val len = in.readInt()
        val body = new Array[Byte](len - 4)
        in.readFully(body)
        msgs += ((tpe, body))
        if (tpe == 'Z') done = true
      }
      msgs.result()
    }

    /** pgjdbc's Statement.executeQuery: Parse(unnamed) / Bind(unnamed) /
      * Describe(portal) / Execute(0) / Sync — always extended protocol. */
    def executeQuery(sql: String): Seq[(Char, Array[Byte])] = {
      parse("", sql); bind("", ""); describePortal(""); execute("", 0)
      sync()
    }

    /** psql's path for the same text: one simple Query message. */
    def simpleQuery(sql: String): Seq[(Char, Array[Byte])] = {
      send('Q', cstr(sql)); out.flush()
      drainUntilReady()
    }

    def close(): Unit = {
      out.writeByte('X'); out.writeInt(4); out.flush(); sock.close()
    }
  }

  private def rows(msgs: Seq[(Char, Array[Byte])]): Seq[Seq[String]] =
    msgs.filter(_._1 == 'D').map { m =>
      val in = new DataInputStream(new java.io.ByteArrayInputStream(m._2))
      val n = in.readShort()
      (0 until n).map { _ =>
        val len = in.readInt()
        if (len < 0) null
        else { val b = new Array[Byte](len); in.readFully(b); new String(b, UTF_8) }
      }
    }

  private def tags(msgs: Seq[(Char, Array[Byte])]): Seq[String] =
    msgs.filter(_._1 == 'C').map(m =>
      new String(m._2, 0, m._2.length - 1, UTF_8))

  private def colNames(msgs: Seq[(Char, Array[Byte])]): Seq[String] =
    columns(msgs).map(_._1)

  /** RowDescription's (name, type OID) pairs. */
  private def columns(msgs: Seq[(Char, Array[Byte])]): Seq[(String, Int)] = {
    val t = msgs.find(_._1 == 'T').get._2
    val in = new DataInputStream(new java.io.ByteArrayInputStream(t))
    val n = in.readShort()
    (0 until n).map { _ =>
      val name = new StringBuilder
      var b = in.read()
      while (b != 0) { name.append(b.toChar); b = in.read() }
      in.skipBytes(6) // table oid(4) attnum(2)
      val oid = in.readInt()
      in.skipBytes(8) // len(2) mod(4) fmt(2)
      (name.toString, oid)
    }
  }

  /** SQLSTATEs of the ErrorResponses in `msgs`. */
  private def errorCodes(msgs: Seq[(Char, Array[Byte])]): Seq[String] =
    msgs.filter(_._1 == 'E').map { m =>
      new String(m._2, UTF_8).split('\u0000').find(_.startsWith("C"))
        .map(_.drop(1)).getOrElse("")
    }

  private lazy val store =
    new Store(spark, java.nio.file.Files.createTempDirectory("graft-jdbc").toString)

  private lazy val port: Int = {
    Tables.registerAll(spark, sfDir)
    new PgWireServer(spark, store, 0).start()
  }

  // ---- flows ---------------------------------------------------------------

  test("connect handshake delivers every ParameterStatus pgjdbc reads") {
    val c = new Jdbc(port)
    val msgs = c.connect()
    assert(msgs.head._1 == 'R', "AuthenticationOk first")
    // pgjdbc's ConnectionFactoryImpl reads these server parameters; a
    // missing one breaks its connection setup
    val params = msgs.filter(_._1 == 'S').map { m =>
      val s = new String(m._2, UTF_8).split("\u0000")
      s(0) -> s(1)
    }.toMap
    for (k <- Seq("server_version", "client_encoding", "server_encoding",
        "standard_conforming_strings", "integer_datetimes", "DateStyle",
        "TimeZone"))
      assert(params.contains(k), s"pgjdbc requires ParameterStatus $k")
    assert(params("client_encoding") == "UTF8")
    assert(params("integer_datetimes") == "on")
    assert(msgs.exists(_._1 == 'K'), "BackendKeyData")
    assert(msgs.last._1 == 'Z' && msgs.last._2.head == 'I'.toByte)
    c.close()
  }

  test("SSL and GSS encryption probes refuse with 'N', then startup proceeds") {
    // pgjdbc's default sslmode sends SSLRequest before startup; libpq with
    // a kerberos cache sends GSSENCRequest — both must get a clean 'N' and
    // leave the stream usable for the cleartext startup
    for (magic <- Seq(80877103, 80877104)) {
      val c = new Jdbc(port)
      c.out.writeInt(8); c.out.writeInt(magic); c.out.flush()
      assert(c.in.read() == 'N'.toInt, s"magic $magic must refuse with N")
      val msgs = c.connect()
      assert(msgs.head._1 == 'R' && msgs.last._1 == 'Z')
      c.close()
    }
  }

  test("GSS probe then SSL probe on one connection both refuse, startup works") {
    // libpq with GSS creds sends GSSENCRequest FIRST, and on 'N' falls back
    // to SSLRequest on the SAME connection before the cleartext startup —
    // the probe loop must answer both in either order
    for (order <- Seq(Seq(80877104, 80877103), Seq(80877103, 80877104))) {
      val c = new Jdbc(port)
      order.foreach { magic =>
        c.out.writeInt(8); c.out.writeInt(magic); c.out.flush()
        assert(c.in.read() == 'N'.toInt, s"magic $magic must refuse with N")
      }
      val msgs = c.connect()
      assert(msgs.head._1 == 'R' && msgs.last._1 == 'Z')
      c.close()
    }
  }

  test("protocol 3.2 request negotiates down to 3.0 and the session works") {
    // libpq 18 / new pgjdbc open with protocol 3.2 (196610) and expect
    // NegotiateProtocolVersion from a 3.0 server, then a normal session
    val c = new Jdbc(port)
    val params = Seq("user" -> "graft", "database" -> "graft",
      "_pq_.fancy_new_option" -> "on")
    val body = new java.io.ByteArrayOutputStream()
    params.foreach { case (k, v) => body.write(c.cstr(k)); body.write(c.cstr(v)) }
    body.write(0)
    val b = body.toByteArray
    c.out.writeInt(8 + b.length); c.out.writeInt((3 << 16) | 2)
    c.out.write(b); c.out.flush()
    val msgs = c.drainUntilReady()
    val neg = msgs.find(_._1 == 'v')
    assert(neg.isDefined, s"expected NegotiateProtocolVersion, got ${msgs.map(_._1)}")
    val nb = new DataInputStream(new java.io.ByteArrayInputStream(neg.get._2))
    assert(nb.readInt() == 196608, "server's newest protocol is 3.0")
    assert(nb.readInt() == 1, "one unrecognized _pq_ option echoed")
    assert(msgs.exists(_._1 == 'R') && msgs.last._1 == 'Z')
    val run = c.executeQuery("SELECT 1 AS one")
    assert(rows(run) == Seq(Seq("1")))
    c.close()
  }

  test("Statement.executeQuery: unnamed parse/bind/describe/execute/sync") {
    val c = new Jdbc(port); c.connect()
    val msgs = c.executeQuery(
      "SELECT n_name FROM nation WHERE n_regionkey = 0 ORDER BY n_name LIMIT 3")
    assert(msgs.map(_._1).containsSlice(Seq('1', '2', 'T')), msgs.map(_._1))
    assert(rows(msgs).flatten.forall(_.startsWith("NATION_")))
    assert(tags(msgs).exists(_.startsWith("SELECT")))
    c.close()
  }

  test("PreparedStatement: describe-before-bind yields param and row metadata") {
    val c = new Jdbc(port); c.connect()
    // pgjdbc parses with the OIDs its setters imply (setLong → int8=20),
    // then Describe(STATEMENT) for getParameterMetaData/getMetaData BEFORE
    // any Bind — the server must answer ParameterDescription + RowDescription
    c.parse("S_1", "SELECT n_name, n_regionkey FROM nation WHERE n_nationkey = $1",
      Seq(20))
    c.describeStatement("S_1")
    val meta = c.sync()
    assert(meta.map(_._1).containsSlice(Seq('1', 't', 'T')), meta.map(_._1))
    val pd = meta.find(_._1 == 't').get._2
    val pdIn = new DataInputStream(new java.io.ByteArrayInputStream(pd))
    assert(pdIn.readShort() == 1, "one parameter")
    assert(pdIn.readInt() == 20, "declared int8 OID echoes back")
    assert(colNames(meta) == Seq("n_name", "n_regionkey"))
    // then the usual bind/execute on the described statement
    c.bind("", "S_1", Seq("7")); c.describePortal(""); c.execute("", 0)
    val run = c.sync()
    assert(rows(run) == Seq(Seq("NATION_7", "2")))
    c.close()
  }

  test("prepareThreshold: one named Parse, many Bind/Execute cycles") {
    val c = new Jdbc(port); c.connect()
    c.parse("S_2", "SELECT count(*) AS n FROM orders WHERE o_custkey = $1", Seq(20))
    val first = { c.bind("", "S_2", Seq("1")); c.describePortal(""); c.execute("", 0); c.sync() }
    assert(first.count(_._1 == '1') == 1)
    // three more executions of the SAME named statement: no Parse message at
    // all — the server must keep S_2 alive across Syncs
    val reruns = (1 to 3).map { _ =>
      c.bind("", "S_2", Seq("1")); c.describePortal(""); c.execute("", 0); c.sync()
    }
    reruns.foreach { m =>
      assert(!m.map(_._1).contains('1'), "no ParseComplete without a Parse")
      assert(rows(m) == rows(first), "stable results across reuses")
    }
    // Statement.close() → Close(STATEMENT) + CloseComplete
    c.closeStatement("S_2")
    val closed = c.sync()
    assert(closed.map(_._1).contains('3'), "CloseComplete")
    c.close()
  }

  test("fetchSize cursor: named portal suspends and resumes inside a txn") {
    val c = new Jdbc(port); c.connect()
    // autocommit(false): pgjdbc prepends BEGIN through the extended
    // protocol in the same batch as the first statement
    c.parse("", "BEGIN"); c.bind("", ""); c.execute("", 0)
    // fetchSize=3 → named portal C_1, Execute(maxRows=3)
    c.parse("S_3", "SELECT n_nationkey FROM nation ORDER BY n_nationkey", Nil)
    c.bind("C_1", "S_3"); c.describePortal("C_1"); c.execute("C_1", 3)
    val firstBatch = c.sync()
    assert(tags(firstBatch).contains("BEGIN"))
    assert(rows(firstBatch).flatten == Seq("0", "1", "2"))
    assert(firstBatch.map(_._1).contains('s'), "PortalSuspended after 3 of 25")
    assert(firstBatch.last._2.head == 'T'.toByte, "ReadyForQuery(inTxn)")
    // rs.next() past the batch: Execute again on the SAME portal, no re-Bind
    c.execute("C_1", 3)
    val secondBatch = c.sync()
    assert(rows(secondBatch).flatten == Seq("3", "4", "5"))
    assert(secondBatch.map(_._1).contains('s'))
    // drain the rest with maxRows=0, then Close(PORTAL) + COMMIT
    c.execute("C_1", 0)
    val rest = c.sync()
    assert(rows(rest).flatten == (6 to 24).map(_.toString))
    assert(tags(rest).exists(_.startsWith("SELECT")))
    c.closePortal("C_1")
    c.parse("", "COMMIT"); c.bind("", ""); c.execute("", 0)
    val done = c.sync()
    assert(done.map(_._1).contains('3'))
    assert(tags(done).contains("COMMIT"))
    assert(done.last._2.head == 'I'.toByte, "back to idle")
    c.close()
  }

  test("executeBatch: one Parse, N Bind/Execute pairs, one Sync") {
    val c = new Jdbc(port); c.connect()
    assert(tags(c.executeQuery(
      "CREATE TABLE jdbc_batch (id int8, v text)")).contains("CREATE TABLE"))
    c.parse("S_4", "INSERT INTO jdbc_batch VALUES ($1, $2)", Seq(20, 1043))
    for (i <- 1 to 3) { c.bind("", "S_4", Seq(i.toString, s"row$i")); c.execute("", 0) }
    val msgs = c.sync()
    assert(msgs.count(_._1 == '2') == 3, "three BindCompletes")
    assert(tags(msgs) == Seq.fill(3)("INSERT 0 1"), tags(msgs))
    val back = c.executeQuery("SELECT v FROM jdbc_batch ORDER BY id")
    assert(rows(back).flatten == Seq("row1", "row2", "row3"))
    assert(tags(c.executeQuery("DROP TABLE jdbc_batch")).contains("DROP TABLE"))
    c.close()
  }

  test("isValid(): empty extended query round-trips EmptyQueryResponse") {
    val c = new Jdbc(port); c.connect()
    c.parse("", ""); c.bind("", ""); c.execute("", 0)
    val msgs = c.sync()
    assert(msgs.map(_._1).contains('I'), "EmptyQueryResponse")
    assert(msgs.last._1 == 'Z')
    c.close()
  }

  test("DatabaseMetaData.getTables: pgjdbc's real catalog SQL runs") {
    store.replace("jdbc_meta_t",
      spark.read.parquet(s"$sfDir/region.parquet"))
    try {
      val c = new Jdbc(port); c.connect()
      // the SELECT PgDatabaseMetaData.getTables issues (pgjdbc public
      // source), with the TABLE/VIEW filter a vanilla getTables(null, null,
      // "%", {"TABLE","VIEW"}) produces
      val getTablesSql = """
        SELECT NULL AS TABLE_CAT, n.nspname AS TABLE_SCHEM, c.relname AS TABLE_NAME,
          CASE n.nspname ~ '^pg_' OR n.nspname = 'information_schema'
            WHEN true THEN CASE WHEN n.nspname = 'pg_catalog' OR n.nspname = 'information_schema'
              THEN CASE c.relkind WHEN 'r' THEN 'SYSTEM TABLE' WHEN 'v' THEN 'SYSTEM VIEW' ELSE NULL END
              ELSE NULL END
            WHEN false THEN CASE c.relkind
              WHEN 'r' THEN 'TABLE' WHEN 'p' THEN 'PARTITIONED TABLE'
              WHEN 'v' THEN 'VIEW' WHEN 'm' THEN 'MATERIALIZED VIEW' ELSE NULL END
            ELSE NULL END AS TABLE_TYPE,
          d.description AS REMARKS
        FROM pg_catalog.pg_namespace n, pg_catalog.pg_class c
          LEFT JOIN pg_catalog.pg_description d
            ON (c.oid = d.objoid AND d.objsubid = 0 AND d.classoid = 'pg_class'::regclass)
        WHERE c.relnamespace = n.oid
          AND c.relname LIKE '%'
          AND (false OR (c.relkind = 'r' AND n.nspname !~ '^pg_' AND n.nspname <> 'information_schema')
               OR (c.relkind = 'v' AND n.nspname <> 'pg_catalog' AND n.nspname <> 'information_schema'))
        ORDER BY TABLE_TYPE, TABLE_SCHEM, TABLE_NAME"""
      val got = rows(c.executeQuery(getTablesSql))
      assert(got.exists(_.apply(2) == "jdbc_meta_t"),
        s"getTables must list the store table, got ${got.map(_.apply(2))}")
      assert(got.filter(_.apply(2) == "jdbc_meta_t").forall(_.apply(3) == "TABLE"))
      // COMMENT ON lands in pg_description → the same getTables query's
      // REMARKS column (the join closes through classoid = 1259)
      tags(c.executeQuery("COMMENT ON TABLE jdbc_meta_t IS 'regions copy'"))
      val again = rows(c.executeQuery(getTablesSql))
      assert(again.find(_.apply(2) == "jdbc_meta_t").get.apply(4) == "regions copy",
        again.find(_.apply(2) == "jdbc_meta_t").toString)
      c.close()
    } finally store.drop("jdbc_meta_t")
  }

  test("a trailing permissions comment is enforced over Bind as over Query") {
    val c = new Jdbc(port); c.connect()
    // sqlcommenter-style: the comment trails the statement
    val sql = "SELECT n_nationkey FROM nation " +
      """/*BEMIDB_PERMISSIONS {"public.nation": ["n_name"]} BEMIDB_PERMISSIONS*/"""
    val simple = c.simpleQuery(sql)
    assert(errorCodes(simple).nonEmpty && rows(simple).isEmpty, simple.map(_._1))
    val extended = c.executeQuery(sql)
    assert(errorCodes(extended).nonEmpty && rows(extended).isEmpty,
      s"the denied column came back over Bind: ${rows(extended).take(3)}")
    // the permitted column still reads over both
    val allowed = sql.replace("n_nationkey", "n_name")
    assert(rows(c.simpleQuery(allowed)).size == 25)
    assert(rows(c.executeQuery(allowed)).size == 25)
    c.close()
  }

  test("Describe(statement) of a comment-prefixed SELECT returns its row shape") {
    val c = new Jdbc(port); c.connect()
    // Metabase-style leading comment
    c.parse("S_note", "-- note\nSELECT n_name FROM nation")
    c.describeStatement("S_note")
    val meta = c.sync()
    assert(!meta.map(_._1).contains('n'), "a SELECT is not NoData")
    assert(colNames(meta) == Seq("n_name"))
    c.close()
  }

  test("comment markers inside quotes are text over both protocols") {
    val c = new Jdbc(port); c.connect()
    val sql = """SELECT 'a--b' AS "x--y", '/*c*/' AS z -- trailing note"""
    for (msgs <- Seq(c.simpleQuery(sql), c.executeQuery(sql))) {
      assert(errorCodes(msgs).isEmpty, msgs.map(m => new String(m._2, UTF_8)))
      assert(colNames(msgs) == Seq("x--y", "z"))
      assert(rows(msgs) == Seq(Seq("a--b", "/*c*/")))
    }
    c.close()
  }

  test("a failing Bind inside BEGIN aborts the transaction until ROLLBACK") {
    val c = new Jdbc(port); c.connect()
    assert(tags(c.executeQuery("BEGIN")) == Seq("BEGIN"))
    val bad = c.executeQuery("SELECT no_such_column FROM nation")
    assert(errorCodes(bad).nonEmpty)
    assert(bad.last._2.head == 'E'.toByte, "ReadyForQuery(failed txn)")
    // every later statement is refused with 25P02, over both protocols
    assert(errorCodes(c.executeQuery("SELECT 1")) == Seq("25P02"))
    assert(errorCodes(c.simpleQuery("SELECT 1")) == Seq("25P02"))
    assert(tags(c.executeQuery("ROLLBACK")) == Seq("ROLLBACK"))
    val after = c.executeQuery("SELECT 1 AS one")
    assert(rows(after) == Seq(Seq("1")) && after.last._2.head == 'I'.toByte)
    c.close()
  }

  test("EXPLAIN over Bind answers in PG's QUERY PLAN shape") {
    val c = new Jdbc(port); c.connect()
    val msgs = c.executeQuery("EXPLAIN SELECT 1")
    assert(errorCodes(msgs).isEmpty, msgs.map(m => new String(m._2, UTF_8)))
    assert(columns(msgs) == Seq(("QUERY PLAN", 25)))
    assert(rows(msgs).nonEmpty)
    c.close()
  }

  test("getColumns-shaped query resolves attributes for a store table") {
    store.replace("jdbc_meta_c",
      spark.read.parquet(s"$sfDir/region.parquet"))
    try {
      val c = new Jdbc(port); c.connect()
      // the attribute core of PgDatabaseMetaData.getColumns
      val msgs = c.executeQuery("""
        SELECT n.nspname, c.relname, a.attname, a.atttypid::int8 AS atttypid,
          a.attnotnull, a.attnum, pg_catalog.format_type(a.atttypid, a.atttypmod) AS type_name
        FROM pg_catalog.pg_namespace n
          JOIN pg_catalog.pg_class c ON (c.relnamespace = n.oid)
          JOIN pg_catalog.pg_attribute a ON (a.attrelid = c.oid)
        WHERE c.relname LIKE 'jdbc\_meta\_c' AND a.attnum > 0 AND NOT a.attisdropped
        ORDER BY n.nspname, c.relname, a.attnum""")
      val errs = msgs.filter(_._1 == 'E').map(m => new String(m._2, UTF_8))
      assert(errs.isEmpty, errs)
      val got = rows(msgs)
      assert(got.map(_.apply(2)) == Seq("r_regionkey", "r_name"),
        got.map(_.apply(2)))
      assert(got.map(_.apply(6)) == Seq("integer", "text"),
        "format_type must resolve display names: " + got.map(_.apply(6)))
      c.close()
    } finally store.drop("jdbc_meta_c")
  }
}
