package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Compatibility audit: replays the reference's own golden query corpus
  * (extracted from /root/reference/src/server/query_handler_test.go into
  * tools/golden_queries.json) through the dialect front end against a
  * test_table built with the engine's own PG->Spark type mapping
  * ([[PgTypes.toSpark]]) and the reference's two fixture rows
  * (syncer-postgres/lib/init_test.go:11-388). Prints pass/fail counts and
  * every failing query — the measure of "a reference user could switch".
  *
  * Usage: graft.CompatAudit [queriesJson]
  */
object CompatAudit {

  /** (column, pg udt name, row1, row2) — BEMIDB_NULL_STRING -> null. */
  private val cols: Seq[(String, String, String, String)] = Seq(
    ("id", "int4", "1", "2"),
    ("bit_column", "bit", "1", null),
    ("bool_column", "bool", "t", "f"),
    ("bpchar_column", "bpchar", "bpchar", ""),
    ("varchar_column", "varchar", "varchar", null),
    ("text_column", "text", "text", ""),
    ("int2_column", "int2", "32767", "-32767"),
    ("int4_column", "int4", "2147483647", null),
    ("int8_column", "int8", "9223372036854775807", "-9223372036854775807"),
    ("hugeint_column", "numeric", "10000000000000000000", null),
    ("xid_column", "xid", "4294967295", null),
    ("xid8_column", "xid8", "18446744073709551615", null),
    ("float4_column", "float4", "3.14", "NaN"),
    ("float8_column", "float8", "3.141592653589793", "-3.141592653589793"),
    ("numeric_column", "numeric", "12345.67", "-12345.00"),
    ("numeric_column_without_precision", "numeric", "12345.67", null),
    ("date_column", "date", "2024-01-01", "20025-11-12"),
    ("time_column", "time", "12:00:00.123456", "12:00:00.123"),
    ("timeMsColumn", "time", "12:00:00.123", null),
    ("timetz_column", "timetz", "12:00:00.123456-05", "12:00:00.12300+05"),
    ("timetz_ms_column", "timetz", "12:00:00.123-05", "12:00:00.1+05"),
    ("timestamp_column", "timestamp", "2024-01-01 12:00:00.123456", "2024-01-01 12:00:00"),
    ("timestamp_ms_column", "timestamp", "2024-01-01 12:00:00.123", null),
    ("timestamptz_column", "timestamptz", "2024-01-01 12:00:00.123456-05", "2024-01-01 12:00:00.000123+05:30"),
    ("timestamptz_ms_column", "timestamptz", "2024-01-01 12:00:00.123-05", "2024-01-01 12:00:00.12+05"),
    ("uuid_column", "uuid", "58a7c845-af77-44b2-8664-7ca613d92f04", null),
    ("bytea_column", "bytea", "\\x48656c6c6f", null),
    ("interval_column", "interval", "1 mon 2 days 01:00:01.000001", null),
    ("tsvector_column", "tsvector", "'sampl':1 'text':2 'tsvector':4", null),
    ("xml_column", "xml", "<root><child>text</child></root>", null),
    ("pg_snapshot_column", "pg_snapshot", "1896:1896:", null),
    ("point_column", "point", "(37.347301483154,45.002101898193)", null),
    ("inet_column", "inet", "192.168.0.1", null),
    ("json_column", "json", "{\"key\": \"value\"}", null),
    ("jsonb_column", "jsonb",
      "{\"key\": \"value\", \"nestedKey\": { \"key\": \"value\" }}", "{}"),
    ("array_text_column", "_text", "{one,two,three}", null),
    ("array_int_column", "_int4", "{1,2,3}", "{}"),
    ("array_jsonb_column", "_jsonb",
      "{\"{\\\"key\\\": \\\"value1\\\"}\",\"{\\\"key\\\": \\\"value2\\\"}\"}", null),
    ("array_ltree_column", "_ltree", "{\"a.b\",\"c.d\"}", null),
    ("user_defined_column", "custom_type", "(Toronto)", null))

  /** One CSV cell -> the Spark value for its PgTypes-mapped field. */
  private def cell(raw: String, f: StructField): Any = {
    if (raw == null) return null
    f.dataType match {
      case ArrayType(et, _) =>
        val body = raw.stripPrefix("{").stripSuffix("}")
        if (body.isEmpty) Seq.empty[Any]
        else splitPgArray(body).map(e => scalar(e, et))
      case dt => scalar(raw, dt)
    }
  }

  /** PG array-literal split honoring quoted elements with backslash escapes. */
  private def splitPgArray(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (inQ) {
        if (c == '\\' && i + 1 < body.length) { sb += body.charAt(i + 1); i += 1 }
        else if (c == '"') inQ = false
        else sb += c
      } else if (c == '"') inQ = true
      else if (c == ',') { out += sb.toString; sb.clear() }
      else sb += c
      i += 1
    }
    out += sb.toString
    out.result()
  }

  private def scalar(raw: String, dt: DataType): Any = dt match {
    case BooleanType => raw == "t" || raw == "true"
    case IntegerType => raw.toInt
    case LongType if raw.contains(":") => // time[tz]-of-day as micros (UTC)
      val m = "([+-])(\\d{1,2})(?::(\\d{2}))?$".r.findFirstMatchIn(raw)
      val local = raw.replaceAll("[+-]\\d{1,2}(:\\d{2})?$", "")
      val t0 = java.time.LocalTime.parse(local)
      val shifted = m.fold(t0) { mm =>
        val sign = if (mm.group(1) == "+") -1 else 1
        t0.plusHours(sign * mm.group(2).toLong)
          .plusMinutes(sign * Option(mm.group(3)).map(_.toLong).getOrElse(0L))
      }
      shifted.toNanoOfDay / 1000
    case LongType => raw.toLong
    case FloatType => raw.toFloat
    case DoubleType => raw.toDouble
    case d: DecimalType =>
      if (raw.startsWith("(")) null // unexpected
      else Decimal(new java.math.BigDecimal(stripIntervalToMicros(raw)), d.precision, d.scale)
    case DateType => // 5-digit years (the fixture's 20025-11-12) are legal
      val Array(y, mo, dy) = raw.split("-").map(_.toInt)
      java.sql.Date.valueOf(java.time.LocalDate.of(y, mo, dy))
    case TimestampNTZType => java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
    case TimestampType =>
      java.time.OffsetDateTime.parse(normalizeOffset(raw).replace(' ', 'T')).toInstant
    case BinaryType => // \x-prefixed hex
      raw.stripPrefix("\\x").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    case StringType => raw
    case _ => raw
  }

  /** jsonb normalization the reference's sync applies: parse and re-render
    * compact with sorted keys. */
  private def normJsonb(raw: String): String = {
    if (raw == null) return null
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      om.configure(
        com.fasterxml.jackson.databind.SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)
      om.writeValueAsString(om.treeToValue(om.readTree(raw), classOf[Object]))
    } catch { case _: Exception => raw }
  }

  /** interval text -> micros (reference stores micros; 1 mon = 30.4375 days,
    * iceberg_schema_column.go:289-291). */
  private def stripIntervalToMicros(raw: String): String = {
    val iv = "(?:(\\d+) mons? )?(?:(\\d+) days? )?(\\d+):(\\d+):(\\d+)(?:\\.(\\d+))?".r
    raw match {
      case iv(mon, day, h, m, s, frac) =>
        val micros =
          (Option(mon).map(_.toLong).getOrElse(0L) * 2629800000000L) +
            (Option(day).map(_.toLong).getOrElse(0L) * 86400000000L) +
            h.toLong * 3600000000L + m.toLong * 60000000L + s.toLong * 1000000L +
            Option(frac).map(f => (f + "0" * (6 - f.length)).take(6).toLong).getOrElse(0L)
        micros.toString
      case _ => raw
    }
  }

  private def normalizeOffset(raw: String): String =
    // +05 / -05 -> +05:00; +05:30 passes through
    "([+-])(\\d{2})$".r.replaceAllIn(raw, m => m.group(1) + m.group(2) + ":00")

  def buildTestTable(spark: SparkSession): DataFrame = {
    val fields = cols.map { case (name, udt, _, _) =>
      PgTypes.toSpark(udt).copy(name = name)
    }
    def prep(udt: String, v: String): String = v // raw passthrough like the reference
    val schema = StructType(fields)
    val rows = Seq(
      Row.fromSeq(cols.zip(fields).map { case ((_, udt, v1, _), f) => cell(prep(udt, v1), f) }),
      Row.fromSeq(cols.zip(fields).map { case ((_, udt, _, v2), f) => cell(prep(udt, v2), f) }))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Execution + parity counters from one full corpus replay. */
  case class AuditResult(total: Int, executed: Int, failures: Seq[(String, String)],
      descOk: Int, descTot: Int, oidOk: Int, oidTot: Int,
      valOk: Int, valTot: Int, diffs: Seq[(String, String)],
      protocolDiffs: Seq[(String, String)] = Nil)

  /** Replay the golden corpus on `spark`, comparing column names and
    * single-row values against the reference's own test assertions. Sets the
    * reference test-config identity BEFORE registering the catalog so its
    * views pick the names up. */
  /** Reference test-config identity + catalog/function registration shared
    * by the in-process and socket replays. */
  private def prepareSession(spark: SparkSession): Unit =
      SessionSettings.withSession(spark) {
    SessionSettings.set("graft.strip_schemas", "public,postgres,main")
    SessionSettings.set("graft.user", "user")
    SessionSettings.set("graft.database", "bemidb")
    SessionSettings.set("graft.schema_label", "postgres")
    SessionSettings.set("graft.catalog_label", "memory")
    PgFunctions.register(spark)
    GraftExpressions.register(spark)
    PgCatalog.register(spark)
    buildTestTable(spark).createOrReplaceTempView("test_table")
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("id", IntegerType, nullable = false))))
      .createOrReplaceTempView("test_empty_table")
  }

  private def loadCorpus(path: String)
      : (Seq[String], Map[String, (Seq[String], Seq[String], Seq[String])]) = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val queries = om.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))).elements.asScala.map(_.asText).toSeq
    // expected column names / first-row values from the reference's own
    // test assertions (tools/golden_expected.json)
    val expPath = java.nio.file.Paths.get(
      path.replace("golden_queries", "golden_expected"))
    val expected: Map[String, (Seq[String], Seq[String], Seq[String])] =
      if (!java.nio.file.Files.exists(expPath)) Map.empty
      else om.readTree(java.nio.file.Files.readAllBytes(expPath))
        .fields.asScala.map { e =>
          def list(k: String): Seq[String] =
            Option(e.getValue.get(k)).map(_.elements.asScala.map(_.asText).toSeq)
              .getOrElse(null)
          e.getKey -> (list("description"), list("types"), list("values"))
        }.toMap
    (queries, expected)
  }

  def runAudit(spark: SparkSession, store: Store,
      path: String = "tools/golden_queries.json"): AuditResult = {
    prepareSession(spark)
    val (queries, expected) = loadCorpus(path)
    val wire = new PgWireServer(spark, store, 0) // text encoder only

    var ok = 0
    var descOk = 0
    var descTot = 0
    var oidOk = 0
    var oidTot = 0
    var valOk = 0
    var valTot = 0
    val failures = Seq.newBuilder[(String, String)]
    val valueMiss = Seq.newBuilder[(String, String)]
    queries.foreach { q =>
      try {
        PgDialect.executeAll(spark, store, q).foreach {
          case PgDialect.Rows(df, _) =>
            val rows = df.collect()
            expected.get(q).foreach { case (desc, oids, vals) =>
              if (desc != null) {
                descTot += 1
                if (df.schema.fieldNames.toSeq == desc) descOk += 1
                else valueMiss += q -> s"cols: got ${df.schema.fieldNames.toSeq} want $desc"
              }
              // the reference pins RowDescription DataTypeOIDs
              // (query_handler_test.go "types") — its harness compares the
              // listed PREFIX (`for i := range expectedTypes`), so a
              // SELECT * with one pinned type checks the first column only
              if (oids != null) {
                oidTot += 1
                if (oids.length <= df.schema.fields.length) {
                  val got = df.schema.fields.take(oids.length)
                    .map(f => wire.fieldOid(f).toString).toSeq
                  if (got == oids) oidOk += 1
                  else valueMiss += q -> s"oids: got $got want $oids"
                } else // fewer result columns than pins is itself a mismatch
                  valueMiss += q ->
                    s"oids: got ${df.schema.fields.length} cols, want ${oids.length} pins"
              }
              // the reference asserts a single expected row
              if (vals != null && rows.length == 1 &&
                  vals.length == df.schema.fields.length) {
                valTot += 1
                val got = df.schema.fields.indices.map { i =>
                  if (rows(0).isNullAt(i)) ""
                  else PgText.textEncodeField(rows(0), i, df.schema.fields(i))
                }
                if (got == vals) valOk += 1
                else valueMiss += q -> s"vals: got $got want $vals"
              }
            }
          case _ =>
        }
        ok += 1
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          failures += q -> msg.linesIterator.filter(_.trim.nonEmpty)
            .nextOption().getOrElse(e.getClass.getName).take(160)
      }
    }
    AuditResult(queries.size, ok, failures.result(), descOk, descTot,
      oidOk, oidTot, valOk, valTot, valueMiss.result())
  }

  /** Replay the FULL corpus end-to-end over a real socket: every query goes
    * through the v3 simple protocol, and the bytes checked are the ones on
    * the wire — RowDescription field names + type OIDs, DataRow text values
    * (NULL = length -1 → ""). Same expected triples and same comparison
    * semantics as [[runAudit]]; the difference is that the encoder, the
    * message framing, and the session plumbing are all inside the loop.
    * Each query is then sent again on the same connection over the
    * extended protocol (Parse/Bind/Describe(portal)/Execute/Sync, a JDBC
    * executeQuery), and any difference from the simple answer — error,
    * names, OIDs or rows — lands in `protocolDiffs`. */
  def runSocketAudit(spark: SparkSession, store: Store,
      path: String = "tools/golden_queries.json"): AuditResult = {
    import java.io.{DataInputStream, DataOutputStream}
    import java.nio.charset.StandardCharsets.UTF_8
    prepareSession(spark)
    val (queries, expected) = loadCorpus(path)
    val server = new PgWireServer(spark, store, 0,
      database = "bemidb", user = "user") // the reference test identity
    val port = server.start()
    val sock = new java.net.Socket("127.0.0.1", port)
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)

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
    def frame(tpe: Char, body: Array[Byte]): Unit = {
      out.writeByte(tpe); out.writeInt(4 + body.length); out.write(body)
    }
    def cstr(v: String): Array[Byte] = v.getBytes(UTF_8) :+ 0.toByte
    def send(sql: String): Seq[(Char, Array[Byte])] = {
      frame('Q', cstr(sql)); out.flush()
      drainUntilReady()
    }
    def sendExtended(sql: String): Seq[(Char, Array[Byte])] = {
      frame('P', cstr("") ++ cstr(sql) ++ Array[Byte](0, 0)) // no param OIDs
      // unnamed portal: no param formats, no params, no result formats
      frame('B', cstr("") ++ cstr("") ++ Array.fill[Byte](6)(0))
      frame('D', 'P'.toByte +: cstr(""))
      frame('E', cstr("") ++ Array.fill[Byte](4)(0)) // no row limit
      frame('S', Array.emptyByteArray); out.flush()
      drainUntilReady()
    }
    def rowDescription(body: Array[Byte]): (Seq[String], Seq[Int]) = {
      val din = new DataInputStream(new java.io.ByteArrayInputStream(body))
      val n = din.readShort().toInt
      val cols = (0 until n).map { _ =>
        val name = new java.io.ByteArrayOutputStream()
        var c = din.readByte()
        while (c != 0) { name.write(c); c = din.readByte() }
        din.readInt(); din.readShort()
        val oid = din.readInt()
        din.readShort(); din.readInt(); din.readShort()
        (new String(name.toByteArray, UTF_8), oid)
      }
      (cols.map(_._1), cols.map(_._2))
    }
    def dataRow(body: Array[Byte]): Seq[String] = {
      val din = new DataInputStream(new java.io.ByteArrayInputStream(body))
      val n = din.readShort().toInt
      (0 until n).map { _ =>
        val len = din.readInt()
        if (len < 0) "" // wire NULL, same "" the reference harness expects
        else { val b = new Array[Byte](len); din.readFully(b); new String(b, UTF_8) }
      }
    }

    var ok = 0
    var descOk = 0; var descTot = 0
    var oidOk = 0; var oidTot = 0
    var valOk = 0; var valTot = 0
    val failures = Seq.newBuilder[(String, String)]
    val valueMiss = Seq.newBuilder[(String, String)]
    val protocolMiss = Seq.newBuilder[(String, String)]
    // what a client reads off one answer: failed?, columns, rows (as a
    // multiset: without ORDER BY a fat result drains in task order)
    def answer(msgs: Seq[(Char, Array[Byte])]) =
      (msgs.exists(_._1 == 'E'), msgs.find(_._1 == 'T').map(m => rowDescription(m._2)),
        msgs.filter(_._1 == 'D').map(m => dataRow(m._2)).sortBy(_.mkString("\u0000")))
    try {
      // startup as the configured reference-test identity
      val params = "user\u0000user\u0000database\u0000bemidb\u0000\u0000".getBytes(UTF_8)
      out.writeInt(8 + params.length); out.writeInt(196608)
      out.write(params); out.flush()
      val hello = drainUntilReady()
      require(!hello.exists(_._1 == 'E'), "startup rejected")
      queries.foreach { q =>
        val msgs = send(q)
        val (simple, extended) = (answer(msgs), answer(sendExtended(q)))
        if (extended != simple)
          protocolMiss += q -> s"extended: got $extended want $simple"
        msgs.find(_._1 == 'E') match {
          case Some((_, body)) =>
            failures += q -> new String(body, UTF_8).replace('\u0000', ' ').take(160)
          case None =>
            ok += 1
            val desc = msgs.find(_._1 == 'T').map(m => rowDescription(m._2))
            val rows = msgs.filter(_._1 == 'D').map(m => dataRow(m._2))
            expected.get(q).foreach { case (wantCols, wantOids, wantVals) =>
              desc.foreach { case (names, oids) =>
                if (wantCols != null) {
                  descTot += 1
                  if (names == wantCols) descOk += 1
                  else valueMiss += q -> s"cols: got $names want $wantCols"
                }
                // prefix compare, like the reference harness (see runAudit)
                if (wantOids != null) {
                  oidTot += 1
                  if (wantOids.length <= oids.length &&
                      oids.take(wantOids.length).map(_.toString) == wantOids) oidOk += 1
                  else valueMiss += q -> s"oids: got $oids want $wantOids"
                }
                if (wantVals != null && rows.length == 1 &&
                    wantVals.length == names.length) {
                  valTot += 1
                  if (rows.head == wantVals) valOk += 1
                  else valueMiss += q -> s"vals: got ${rows.head} want $wantVals"
                }
              }
            }
        }
      }
    } finally {
      try { out.writeByte('X'); out.writeInt(4); out.flush(); sock.close() }
      catch { case _: Exception => () }
      server.stop()
    }
    AuditResult(queries.size, ok, failures.result(), descOk, descTot,
      oidOk, oidTot, valOk, valTot, valueMiss.result(), protocolMiss.result())
  }

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("tools/golden_queries.json")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val store = new Store(spark,
      java.nio.file.Files.createTempDirectory("graft-audit").toString)
    val r = runAudit(spark, store, path)
    println(s"golden corpus: ${r.total} queries, ${r.executed} pass, " +
      s"${r.failures.size} fail; column-name parity ${r.descOk}/${r.descTot}; " +
      s"type-OID parity ${r.oidOk}/${r.oidTot}; " +
      s"single-row value parity ${r.valOk}/${r.valTot}")
    r.failures.foreach { case (q, e) =>
      println("FAIL: " + q.linesIterator.mkString(" ").take(200))
      println("      " + e)
    }
    r.diffs.foreach { case (q, d) =>
      println("DIFF: " + q.linesIterator.mkString(" ").take(160))
      println("      " + d.take(240))
    }
  }
}
