package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** pg_catalog / information_schema emulation (SURVEY.md §2.B "Scan:
  * pg_catalog" row; reference builds these as static rowsets + views over the
  * DuckDB catalog in /root/reference/src/server/query_remapper_table.go:
  * 41-110,275-775 and pg_constants.go:27-144).
  *
  * Spark-first: static tables are literal DataFrames registered as temp
  * views at session boot; dynamic views (pg_class, pg_attribute,
  * information_schema_*) derive from `spark.catalog` metadata so they stay
  * in sync with whatever tables are registered — the same pattern the
  * reference uses against DuckDB's catalog, minus the shell-table dance
  * (Spark's catalog is already visible to SQL).
  *
  * Temp views cannot contain '.', so `information_schema.columns` surfaces
  * as `information_schema_columns`; the dialect front end rewrites the
  * qualified names (same trick the reference uses for pg_catalog prefixes).
  */
object PgCatalog {

  /** PG type OIDs for Spark types — mirrors the reference's DuckDB-type ->
    * OID switch (/root/reference/src/server/response_handler.go:28-113). */
  def pgTypeOf(dt: DataType): (Int, String) = dt match {
    case BooleanType => (16, "boolean")
    case ByteType | ShortType => (21, "smallint")
    case IntegerType => (23, "integer")
    case LongType => (20, "bigint")
    case FloatType => (700, "real")
    case DoubleType => (701, "double precision")
    case _: DecimalType => (1700, "numeric")
    case StringType => (25, "text")
    case BinaryType => (17, "bytea")
    case DateType => (1082, "date")
    case TimestampType => (1184, "timestamp with time zone")
    case TimestampNTZType => (1114, "timestamp without time zone")
    // element-specific array OIDs like the reference (response_handler.go:
    // 28-113 returns pgtype.Float4ArrayOID etc., not anyarray) — resolved
    // from the element row's typarray; unknown/nested elements stay anyarray
    case ArrayType(et, _) =>
      val (elemOid, elemName) = pgTypeOf(et)
      typeRows.find(r => r.oid == elemOid.toLong && r.typarray != 0L)
        .map(r => (r.typarray.toInt, elemName + "[]"))
        .getOrElse((2277, "ARRAY"))
    case _: DayTimeIntervalType | _: YearMonthIntervalType => (1186, "interval")
    case _ => (25, "text")
  }

  /** PG's format_type(oid, typmod): the display name of a type OID, with
    * the typmod folded in for the length-carrying types. JDBC's
    * getColumns and psql's \d both call it; resolved from the same
    * [[typeRows]] set pg_type serves, internal name → SQL-standard display
    * name like the real function (format_type.c's public behavior). */
  def formatType(oid: java.lang.Long, typmod: java.lang.Integer): String = {
    if (oid == null) return null
    val display = Map(
      "bool" -> "boolean", "int2" -> "smallint", "int4" -> "integer",
      "int8" -> "bigint", "float4" -> "real", "float8" -> "double precision",
      "varchar" -> "character varying", "bpchar" -> "character",
      "timestamp" -> "timestamp without time zone",
      "timestamptz" -> "timestamp with time zone",
      "time" -> "time without time zone", "timetz" -> "time with time zone",
      "char" -> "\"char\"", "decimal" -> "numeric")
    def name(row: PgTypeRow): String = {
      if (row.typname.startsWith("_"))
        typeRows.find(_.typarray == row.oid)
          .map(e => name(e) + "[]").getOrElse(row.typname)
      else display.getOrElse(row.typname, row.typname)
    }
    typeRows.find(_.oid == oid.longValue) match {
      case None => "???"
      case Some(row) =>
        val base = name(row)
        val tm = if (typmod == null) -1 else typmod.intValue
        if (tm < 4) base
        else row.typname match {
          case "varchar" | "bpchar" => s"$base(${tm - 4})"
          case "numeric" | "decimal" =>
            s"$base(${((tm - 4) >> 16) & 0xffff},${(tm - 4) & 0xffff})"
          case _ => base
        }
    }
  }

  /** Namespace oid for anonymous session temp views (real PG: pg_temp_N);
    * listed only in pg_namespace_full so pg_dump resolves-and-skips them. */
  val TempNsOid = 12400L

  /** Variable-length type oids (typlen<0) — pg_type reports typstorage 'x'
    * for exactly these, and pg_attribute.attstorage must agree or pg_dump
    * emits SET STORAGE clauses for every text/array column. */
  private lazy val varlenaOids: Seq[Long] =
    typeRows.filter(_.typlen < 0).map(_.oid)

  /** One pg_type row with the metadata columns drivers and BI tools read. */
  case class PgTypeRow(oid: Long, typname: String, typlen: Int,
      typbyval: Boolean, typtype: String, typcategory: String,
      typelem: Long, typarray: Long)

  /** The full pg_type rowset (standard PostgreSQL catalog contents; the
    * reference inlines the same set as ~180 UNION ALL rows,
    * query_remapper_table.go:344-712). Base types are declared once with
    * their array-type oid; `_name` array rows are derived mechanically. */
  val typeRows: Seq[PgTypeRow] = {
    // (oid, name, typlen, typbyval, typtype, typcategory, arrayOid)
    val base: Seq[(Long, String, Int, Boolean, String, String, Long)] = Seq(
      (16L, "bool", 1, true, "b", "B", 1000L),
      (17L, "bytea", -1, false, "b", "U", 1001L),
      (18L, "char", 1, true, "b", "Z", 1002L),
      (19L, "name", 64, false, "b", "S", 1003L),
      (20L, "int8", 8, true, "b", "N", 1016L),
      (21L, "int2", 2, true, "b", "N", 1005L),
      (22L, "int2vector", -1, false, "b", "A", 1006L),
      (23L, "int4", 4, true, "b", "N", 1007L),
      (24L, "regproc", 4, true, "b", "N", 1008L),
      (25L, "text", -1, false, "b", "S", 1009L),
      (26L, "oid", 4, true, "b", "N", 1028L),
      (27L, "tid", 6, false, "b", "U", 1010L),
      (28L, "xid", 4, true, "b", "U", 1011L),
      (29L, "cid", 4, true, "b", "U", 1012L),
      (30L, "oidvector", -1, false, "b", "A", 1013L),
      (32L, "pg_ddl_command", 8, true, "p", "P", 0L),
      (71L, "pg_type", -1, false, "c", "C", 210L),
      (75L, "pg_attribute", -1, false, "c", "C", 270L),
      (81L, "pg_proc", -1, false, "c", "C", 272L),
      (83L, "pg_class", -1, false, "c", "C", 273L),
      (114L, "json", -1, false, "b", "U", 199L),
      (142L, "xml", -1, false, "b", "U", 143L),
      (194L, "pg_node_tree", -1, false, "b", "Z", 0L),
      (269L, "table_am_handler", 4, true, "p", "P", 0L),
      (325L, "index_am_handler", 4, true, "p", "P", 0L),
      (600L, "point", 16, false, "b", "G", 1017L),
      (601L, "lseg", 32, false, "b", "G", 1018L),
      (602L, "path", -1, false, "b", "G", 1019L),
      (603L, "box", 32, false, "b", "G", 1020L),
      (604L, "polygon", -1, false, "b", "G", 1027L),
      (628L, "line", 24, false, "b", "G", 629L),
      (650L, "cidr", -1, false, "b", "I", 651L),
      (700L, "float4", 4, true, "b", "N", 1021L),
      (701L, "float8", 8, true, "b", "N", 1022L),
      (705L, "unknown", -2, false, "p", "X", 0L),
      (718L, "circle", 24, false, "b", "G", 719L),
      (774L, "macaddr8", 8, false, "b", "U", 775L),
      (790L, "money", 8, true, "b", "N", 791L),
      (829L, "macaddr", 6, false, "b", "U", 1040L),
      (869L, "inet", -1, false, "b", "I", 1041L),
      (1033L, "aclitem", 12, false, "b", "U", 1034L),
      (1042L, "bpchar", -1, false, "b", "S", 1014L),
      (1043L, "varchar", -1, false, "b", "S", 1015L),
      (1082L, "date", 4, true, "b", "D", 1182L),
      (1083L, "time", 8, true, "b", "D", 1183L),
      (1114L, "timestamp", 8, true, "b", "D", 1115L),
      (1184L, "timestamptz", 8, true, "b", "D", 1185L),
      (1186L, "interval", 16, false, "b", "T", 1187L),
      (1248L, "pg_database", -1, false, "c", "C", 0L),
      (1266L, "timetz", 12, false, "b", "D", 1270L),
      (1560L, "bit", -1, false, "b", "V", 1561L),
      (1562L, "varbit", -1, false, "b", "V", 1563L),
      (1700L, "numeric", -1, false, "b", "N", 1231L),
      (1790L, "refcursor", -1, false, "b", "U", 2201L),
      (2202L, "regprocedure", 4, true, "b", "N", 2207L),
      (2203L, "regoper", 4, true, "b", "N", 2208L),
      (2204L, "regoperator", 4, true, "b", "N", 2209L),
      (2205L, "regclass", 4, true, "b", "N", 2210L),
      (2206L, "regtype", 4, true, "b", "N", 2211L),
      (2249L, "record", -1, false, "p", "P", 0L),
      (2275L, "cstring", -2, false, "p", "P", 1263L),
      (2276L, "any", 4, true, "p", "P", 0L),
      (2277L, "anyarray", -1, false, "p", "P", 0L),
      (2278L, "void", 4, true, "p", "P", 0L),
      (2279L, "trigger", 4, true, "p", "P", 0L),
      (2280L, "language_handler", 4, true, "p", "P", 0L),
      (2281L, "internal", 8, true, "p", "P", 0L),
      (2283L, "anyelement", 4, true, "p", "P", 0L),
      (2776L, "anynonarray", 4, true, "p", "P", 0L),
      (2950L, "uuid", 16, false, "b", "U", 2951L),
      (2970L, "txid_snapshot", -1, false, "b", "U", 2949L),
      (3115L, "fdw_handler", 4, true, "p", "P", 0L),
      (3220L, "pg_lsn", 8, true, "b", "U", 3221L),
      (3310L, "tsm_handler", 4, true, "p", "P", 0L),
      (3361L, "pg_ndistinct", -1, false, "b", "Z", 0L),
      (3402L, "pg_dependencies", -1, false, "b", "Z", 0L),
      (3500L, "anyenum", 4, true, "p", "P", 0L),
      (3614L, "tsvector", -1, false, "b", "U", 3643L),
      (3615L, "tsquery", -1, false, "b", "U", 3645L),
      (3642L, "gtsvector", -1, false, "b", "U", 3644L),
      (3734L, "regconfig", 4, true, "b", "N", 3735L),
      (3769L, "regdictionary", 4, true, "b", "N", 3770L),
      (3802L, "jsonb", -1, false, "b", "U", 3807L),
      (3831L, "anyrange", -1, false, "p", "P", 0L),
      (3838L, "event_trigger", 4, true, "p", "P", 0L),
      (3904L, "int4range", -1, false, "r", "R", 3905L),
      (3906L, "numrange", -1, false, "r", "R", 3907L),
      (3908L, "tsrange", -1, false, "r", "R", 3909L),
      (3910L, "tstzrange", -1, false, "r", "R", 3911L),
      (3912L, "daterange", -1, false, "r", "R", 3913L),
      (3926L, "int8range", -1, false, "r", "R", 3927L),
      (4066L, "pg_shseclabel", -1, false, "c", "C", 0L),
      (4072L, "jsonpath", -1, false, "b", "U", 4073L),
      (4089L, "regnamespace", 4, true, "b", "N", 4090L),
      (4096L, "regrole", 4, true, "b", "N", 4097L),
      (4191L, "regcollation", 4, true, "b", "N", 4192L),
      (4451L, "int4multirange", -1, false, "m", "R", 6150L),
      (4532L, "nummultirange", -1, false, "m", "R", 6151L),
      (4533L, "tsmultirange", -1, false, "m", "R", 6152L),
      (4534L, "tstzmultirange", -1, false, "m", "R", 6153L),
      (4535L, "datemultirange", -1, false, "m", "R", 6155L),
      (4536L, "int8multirange", -1, false, "m", "R", 6157L),
      (4537L, "anymultirange", -1, false, "p", "P", 0L),
      (4538L, "anycompatiblemultirange", -1, false, "p", "P", 0L),
      (4600L, "pg_brin_bloom_summary", -1, false, "b", "Z", 0L),
      (4601L, "pg_brin_minmax_multi_summary", -1, false, "b", "Z", 0L),
      (5017L, "pg_mcv_list", -1, false, "b", "Z", 0L),
      (5038L, "pg_snapshot", -1, false, "b", "U", 5039L),
      (5069L, "xid8", 8, true, "b", "U", 271L),
      (5077L, "anycompatible", 4, true, "p", "P", 0L),
      (5078L, "anycompatiblearray", -1, false, "p", "P", 0L),
      (5079L, "anycompatiblenonarray", 4, true, "p", "P", 0L),
      (5080L, "anycompatiblerange", -1, false, "p", "P", 0L),
      (6101L, "pg_subscription", -1, false, "c", "C", 0L))
    val bases = base.map { case (o, n, l, bv, tt, cat, arr) =>
      PgTypeRow(o, n, l, bv, tt, cat, 0L, arr)
    }
    val arrays = base.filter(_._7 != 0L).map { case (o, n, _, _, _, _, arr) =>
      PgTypeRow(arr, "_" + n, -1, false, "b", "A", o, 0L)
    }
    // vector types are arrays in disguise: their element oids are real
    val patched = bases.map {
      case r if r.typname == "int2vector" => r.copy(typelem = 21L)
      case r if r.typname == "oidvector" => r.copy(typelem = 26L)
      case r => r
    }
    (patched ++ arrays).sortBy(_.oid)
  }

  private val registered =
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit =
    SessionSettings.withSessionIfUnbound(spark)(registerScoped(spark))

  private def registerScoped(spark: SparkSession): Unit = synchronized {
    if (registered.add(spark)) registerAll(spark)
  }

  /** Reference RowDescription OIDs for catalog columns: every column
    * literally named `oid` reports the OID type (26) like the reference's
    * DuckDB pg_catalog, plus the handful of columns the reference corpus
    * pins to a different wire type than their storage
    * (query_handler_test.go "types" rows). Semantics are untouched — only
    * the advertised RowDescription OID changes. */
  private val wireOidOverrides: Map[String, Map[String, Long]] = Map(
    "pg_auth_members" -> Map("oid" -> 25L),
    "pg_description" -> Map("objoid" -> 26L, "classoid" -> 25L, "objsubid" -> 23L),
    "pg_shdescription" -> Map("objoid" -> 26L, "classoid" -> 26L),
    "pg_policy" -> Map("polroles" -> 20L),
    "pg_statistic_ext" -> Map("stxkeys" -> 20L, "stxkind" -> 25L),
    "pg_publication_rel" -> Map("prattrs" -> 25L))

  private def tagWireOids(name: String, df: DataFrame): DataFrame = {
    if (!name.startsWith("pg_")) return df
    val over = wireOidOverrides.getOrElse(name, Map.empty)
    def oidFor(col: String): Option[Long] =
      over.get(col).orElse(if (col == "oid") Some(26L) else None)
    if (!df.schema.fields.exists(f => oidFor(f.name).isDefined)) df
    else df.select(df.schema.fields.map { f =>
      oidFor(f.name) match {
        case Some(o) => col(f.name).as(f.name, new MetadataBuilder()
          .withMetadata(f.metadata).putLong(PgTypes.OidKey, o).build())
        case None => col(f.name)
      }
    }.toSeq: _*)
  }

  /** PG gives every catalog row a `tableoid` system column and pg_dump
    * selects it everywhere; these are PG's own catalog-relation oids
    * (public constants from pg_class). Views whose full column list the
    * golden corpus pins with SELECT * (pg_policy, pg_rewrite, …) are NOT
    * here — adding a column there would break drop-in parity. Cross-
    * checks against pg_depend/pg_init_privs never bite: both ship empty. */
  private val catalogTableOids = Map(
    "pg_class" -> 1259L, "pg_class_dump" -> 1259L,
    "pg_attribute" -> 1249L, "pg_namespace" -> 2615L,
    "pg_namespace_full" -> 2615L,
    "pg_type" -> 1247L, "pg_proc" -> 1255L, "pg_extension" -> 3079L,
    "pg_collation" -> 3456L, "pg_constraint" -> 2606L, "pg_index" -> 2610L,
    "pg_attrdef" -> 2604L, "pg_am" -> 2601L, "pg_depend" -> 2608L,
    "pg_init_privs" -> 3394L, "pg_language" -> 2612L, "pg_cast" -> 2605L,
    "pg_operator" -> 2617L, "pg_conversion" -> 2607L, "pg_ts_parser" -> 3601L,
    "pg_ts_template" -> 3764L, "pg_ts_dict" -> 3600L, "pg_ts_config" -> 3602L,
    "pg_opfamily" -> 2753L, "pg_aggregate" -> 2600L,
    "pg_foreign_data_wrapper" -> 2328L, "pg_foreign_server" -> 1417L,
    "pg_foreign_table" -> 3118L, "pg_default_acl" -> 826L,
    "pg_largeobject" -> 2613L, "pg_largeobject_metadata" -> 2995L,
    "pg_transform" -> 3576L, "pg_range" -> 3541L, "pg_enum" -> 3501L,
    "pg_amop" -> 2602L, "pg_amproc" -> 2603L, "pg_subscription" -> 6100L,
    "pg_description" -> 2609L, "pg_description_dump" -> 2609L,
    "pg_database" -> 1262L, "pg_sequence" -> 2224L,
    "pg_trigger" -> 2620L, "pg_event_trigger" -> 3466L)

  /** createOrReplaceTempView with reference wire-OID tags applied. */
  private implicit class CatalogViewOps(df: DataFrame) {
    def asCatalogView(name: String): Unit = {
      val withSys = catalogTableOids.get(name) match {
        case Some(oid) if !df.columns.contains("tableoid") =>
          df.withColumn("tableoid", lit(oid))
        case _ => df
      }
      tagWireOids(name, withSys).createOrReplaceTempView(name)
    }
  }

  /** Widen a 16-column pg_class frame to the full PG 15 column set with
    * constant defaults — real libpq clients (psql \d) select columns like
    * reltoastrelid/relreplident that the compat-corpus queries never
    * touched, and an UNRESOLVED_COLUMN kills the whole describe. */
  private def withFullPgClassColumns(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    df.withColumn("reltype", lit(0L))
      .withColumn("reloftype", lit(0L))
      .withColumn("relfilenode", col("oid"))
      .withColumn("relallvisible", lit(0))
      .withColumn("reltoastrelid", lit(0L))
      .withColumn("relisshared", lit(false))
      .withColumn("relnatts", lit(0))
      .withColumn("relhasrules", lit(false))
      .withColumn("relhastriggers", lit(false))
      .withColumn("relhassubclass", lit(false))
      .withColumn("relispopulated", lit(true))
      .withColumn("relreplident", lit("d"))
      .withColumn("relrewrite", lit(0L))
      .withColumn("relfrozenxid", lit(0L))
      .withColumn("relminmxid", lit(0L))
      .withColumn("reloptions", lit(null).cast("array<string>"))
      .withColumn("relpartbound", lit(null).cast("string"))
  }

  private def registerAll(spark: SparkSession): Unit = {
    import spark.implicits._

    // static 1-row / small views (query_remapper_table.go:275-712)
    // the reference FILTERS pg_namespace to user-visible schemas
    // (query_remapper_table.go: pg_namespace filtered) — that filtered
    // view is the default (golden-corpus parity). pg_dump however needs
    // the REAL-PG set: built-in pg_type rows carry typnamespace 11, and
    // its getTypes aborts when findNamespace(11) misses ("schema with OID
    // 11 does not exist"). pg_namespace_full adds that row; the dialect
    // swaps it in when graft.system_catalog=full (set automatically for
    // pg_dump connections via fallback_application_name).
    val schemaLabel = SessionSettings.get("graft.schema_label").getOrElse("public")
    val userNamespaces =
      Seq((2200L, "public", 10L, Option.empty[String])) ++
        (if (schemaLabel != "public")
          Seq((16000L, schemaLabel, 10L, Option.empty[String])) else Nil)
    userNamespaces.toDF("oid", "nspname", "nspowner", "nspacl")
      .asCatalogView("pg_namespace")
    (Seq((11L, "pg_catalog", 10L, Option.empty[String]),
      (TempNsOid, "pg_temp_1", 10L, Option.empty[String])) ++ userNamespaces)
      .toDF("oid", "nspname", "nspowner", "nspacl")
      .asCatalogView("pg_namespace_full")
    val userName = SessionSettings.get("graft.user").getOrElse("graft")
    val dbName = SessionSettings.get("graft.database").getOrElse("graft")
    Seq((1L, dbName, true, 10L, Option.empty[String], -1, false, 1663L))
      .toDF("oid", "datname", "datallowconn", "datdba", "datacl",
        "datconnlimit", "datistemplate", "dattablespace")
      // the rest of the PG 15 column set — psql \l reads encoding/collation
      .withColumn("encoding", lit(6)) // 6 = UTF8 (pg_encoding_to_char)
      .withColumn("datcollate", lit("C"))
      .withColumn("datctype", lit("C"))
      .withColumn("datlocprovider", lit("c"))
      .withColumn("daticulocale", lit(null).cast("string"))
      .withColumn("datfrozenxid", lit(0L))
      .withColumn("datminmxid", lit(0L))
      .withColumn("datcollversion", lit(null).cast("string")) // pg_dump -Fc
      .asCatalogView("pg_database")
    Seq((10L, userName, true, false, true, true, true, true, false, -1))
      .toDF("oid", "rolname", "rolsuper", "rolreplication", "rolinherit",
        "rolcreaterole", "rolcreatedb", "rolcanlogin", "rolbypassrls", "rolconnlimit")
      .withColumn("rolconfig",
        org.apache.spark.sql.functions.lit(null).cast("array<string>"))
      .withColumn("rolvaliduntil",
        org.apache.spark.sql.functions.lit(null).cast("timestamp"))
      .asCatalogView("pg_roles")
    Seq((userName, 10L, true, true, true, true, Option.empty[String]))
      .toDF("usename", "usesysid", "usecreatedb", "usesuper", "userepl",
        "usebypassrls", "passwd")
      .withColumn("valuntil", lit(null).cast("timestamp"))
      .withColumn("useconfig", lit(null).cast("array<string>"))
      .asCatalogView("pg_user")
    spark.emptyDataFrame.withColumn("oid", lit(0L)).withColumn("extname", lit(""))
      .withColumn("extowner", lit(0L)).withColumn("extnamespace", lit(0L))
      .withColumn("extrelocatable", lit(false)).withColumn("extversion", lit(""))
      .withColumn("extconfig", lit(null).cast("array<bigint>"))
      .withColumn("extcondition", lit(null).cast("array<string>"))
      .limit(0).asCatalogView("pg_extension")
    SessionSettings.defaults.toSeq.sorted.toDF("name", "setting")
      .asCatalogView("pg_settings")
    // pg_get_keywords() rowset (reference delegates to duckdb_keywords(),
    // query_remapper_function.go:75-100); catcode R=reserved, U=unreserved
    Seq(("abort", "U"), ("all", "R"), ("and", "R"), ("any", "R"), ("as", "R"), ("asc", "R"),
      ("between", "U"), ("by", "U"), ("case", "R"), ("cast", "R"),
      ("distinct", "R"), ("else", "R"), ("end", "R"), ("false", "R"),
      ("from", "R"), ("group", "R"), ("having", "R"), ("in", "R"),
      ("join", "U"), ("limit", "R"), ("not", "R"), ("null", "R"),
      ("on", "R"), ("or", "R"), ("order", "R"), ("select", "R"),
      ("table", "R"), ("then", "R"), ("true", "R"), ("union", "R"),
      ("where", "R"), ("window", "R"), ("with", "R"))
      .map { case (w, c) =>
        val desc = c match {
          case "R" => "reserved"
          case _ => "unreserved"
        }
        (w, c, true, desc, "can be bare label")
      }
      .toDF("word", "catcode", "barelabel", "catdesc", "baredesc")
      .asCatalogView("pg_keywords")

    // pg_type: the full static rowset with typed metadata columns — see
    // typeRows below (reference ships ~180 UNION ALL rows on top of DuckDB's
    // catalog, query_remapper_table.go:344-712)
    typeRows.map { r =>
      val typalign = r.typlen match {
        case 1 => "c"; case 2 => "s"; case 4 => "i"; case 8 => "d"; case _ => "i"
      }
      val typstorage = if (r.typlen < 0) "x" else "p"
      (r.oid, r.typname, 11L, 10L, r.typlen, r.typbyval, r.typtype,
        r.typcategory, false, true, ",", 0L, r.typelem, r.typarray,
        typalign, typstorage, false, 0L, -1, 0, 0L)
    }.toDF("oid", "typname", "typnamespace", "typowner", "typlen", "typbyval",
        "typtype", "typcategory", "typispreferred", "typisdefined", "typdelim",
        "typrelid", "typelem", "typarray", "typalign", "typstorage",
        "typnotnull", "typbasetype", "typtypmod", "typndims", "typcollation")
      .withColumn("typacl", lit(null).cast("array<string>")) // pg_dump getTypes
      .asCatalogView("pg_type")

    // dynamic: pg_class / pg_attribute / information_schema over the
    // registered user tables (Tables.names is our "catalog")
    val cols: Seq[(String, String, Int, String, Int)] = Tables.names.flatMap { tbl =>
      val schema = Tables.df(spark, lastDir(spark), tbl).schema
      schema.fields.zipWithIndex.map { case (f, i) =>
        val (oid, pgName) = pgTypeOf(f.dataType)
        (tbl, f.name, i + 1, pgName, oid)
      }
    }
    val classDf = Tables.names.zipWithIndex
      .map { case (n, i) => (16384L + i, n, 2200L, "r", 10L, 2L, 0L, 0.0, false,
        "p", false, 0L, false, false, 0, Option.empty[String]) }
      .toDF("oid", "relname", "relnamespace", "relkind", "relowner", "relam",
        "relpages", "reltuples", "relhasindex", "relpersistence",
        "relispartition", "reltablespace", "relforcerowsecurity", "relrowsecurity",
        "relchecks", "relacl")
    withFullPgClassColumns(classDf).asCatalogView("pg_class")
    withFullPgClassColumns(classDf).asCatalogView("pg_class_dump")
    val relOid = Tables.names.zipWithIndex.map { case (n, i) => n -> (16384L + i) }.toMap
    cols.map { case (t, c, i, dt, oid) =>
        (relOid(t), c, i, oid.toLong, dt, false, false, false, -1, -1, "", "") }
      .toDF("attrelid", "attname", "attnum", "atttypid", "data_type",
        "attnotnull", "atthasdef", "attisdropped",
        "atttypmod", "attlen", "attidentity", "attgenerated")
      // real libpq describe columns: \d joins pg_collation on attcollation,
      // \d+ reads storage/stats targets, \z/\dp read per-column ACLs
      .withColumn("attcollation", lit(0L))
      // matches pg_type.typstorage (x = typlen<0 varlena, incl. every
      // array type) so pg_dump emits no spurious SET STORAGE clauses
      .withColumn("attstorage", when(col("atttypid")
        .isin(varlenaOids: _*), lit("x")).otherwise(lit("p")))
      .withColumn("attstattarget", lit(-1))
      .withColumn("attcompression", lit(""))
      .withColumn("attacl", lit(null).cast("array<string>"))
      .withColumn("attndims", lit(0))
      .withColumn("attislocal", lit(true))
      .withColumn("attinhcount", lit(0))
      .withColumn("attalign", lit("i"))
      .withColumn("attoptions", lit(null).cast("array<string>"))
      .withColumn("attfdwoptions", lit(null).cast("array<string>"))
      .withColumn("atthasmissing", lit(false))
      .withColumn("attmissingval", lit(null).cast("string"))
      .asCatalogView("pg_attribute")

    // remaining static probes BI tools and ORMs issue (the reference ships
    // these as empty shells or 1-row views, query_remapper_table.go:275-712
    // + pg_constants.go PG_SYSTEM_TABLES/VIEWS)
    Tables.names.map(n => ("public", n, "graft", false))
      .toDF("schemaname", "tablename", "tableowner", "hasindexes")
      .asCatalogView("pg_tables")
    Seq.empty[(String, String, String, String)]
      .toDF("schemaname", "viewname", "viewowner", "definition")
      .asCatalogView("pg_views")
    Seq.empty[(Long, String)].toDF("oid", "definition")
      .asCatalogView("pg_viewdefs")
    Seq.empty[(Long, String, Long, Long, String, Int, Long)]
      .toDF("oid", "proname", "pronamespace", "proowner", "prokind",
        "pronargs", "prorettype")
      // pg_dump's getFuncs/getAggregates read the full signature surface
      .withColumn("prolang", lit(12L))
      .withColumn("proargtypes", lit(null).cast("array<bigint>"))
      .withColumn("proallargtypes", lit(null).cast("array<bigint>"))
      .withColumn("proargmodes", lit(null).cast("array<string>"))
      .withColumn("proargnames", lit(null).cast("array<string>"))
      .withColumn("proacl", lit(null).cast("array<string>"))
      .withColumn("prosrc", lit(""))
      .withColumn("probin", lit(null).cast("string"))
      .withColumn("provolatile", lit("i"))
      .withColumn("proisstrict", lit(false))
      .withColumn("proretset", lit(false))
      .withColumn("prosecdef", lit(false))
      .asCatalogView("pg_proc")
    Seq.empty[(Long, String, String, Long, Long, Long, Seq[Int], Seq[Int])]
      .toDF("oid", "conname", "contype", "conrelid", "confrelid", "conindid",
        "conkey", "confkey") // conkey/confkey are PG int2[]
      // pg_dump's constraint walk reads the full definition surface
      .withColumn("connamespace", lit(2200L))
      .withColumn("condeferrable", lit(false))
      .withColumn("condeferred", lit(false))
      .withColumn("convalidated", lit(true))
      .withColumn("contypid", lit(0L))
      .withColumn("conparentid", lit(0L))
      .withColumn("confupdtype", lit(" "))
      .withColumn("confdeltype", lit(" "))
      .withColumn("confmatchtype", lit(" "))
      .withColumn("conislocal", lit(true))
      .withColumn("coninhcount", lit(0))
      .withColumn("connoinherit", lit(true))
      .withColumn("conbin", lit(null).cast("string"))
      .asCatalogView("pg_constraint")
    Seq.empty[(Long, Long, Long, String)]
      .toDF("objoid", "classoid", "objsubid", "description")
      .asCatalogView("pg_description")
    Seq.empty[(Long, Long, Long, String)]
      .toDF("objoid", "classoid", "objsubid", "description")
      .asCatalogView("pg_description_dump")
    Seq((10L, userName, Option("SCRAM-SHA-256$4096:c2FsdA==$c3Q=:c2s=")))
      .toDF("usesysid", "usename", "passwd").asCatalogView("pg_shadow")
    // `SELECT * FROM user` works in PG (the user keyword-view)
    Seq(Tuple1(userName)).toDF("user").asCatalogView("user")
    // the real PG access-method rowset (\dA probes)
    Seq((2L, "heap", "t"), (403L, "btree", "i"), (405L, "hash", "i"),
      (783L, "gist", "i"), (2742L, "gin", "i"), (4000L, "spgist", "i"),
      (3580L, "brin", "i"))
      .toDF("oid", "amname", "amtype")
      .withColumn("amhandler", lit("heap_tableam_handler"))
      .asCatalogView("pg_am")
    Seq.empty[(Long, Long, Int, Boolean)]
      .toDF("inhrelid", "inhparent", "inhseqno", "inhdetachpending")
      .asCatalogView("pg_inherits")
    Seq((100L, "default", 11L)).toDF("oid", "collname", "collnamespace")
      .withColumn("collowner", lit(10L))
      .withColumn("collencoding", lit(-1))
      .withColumn("collprovider", lit("d"))
      .withColumn("collisdeterministic", lit(true))
      .withColumn("collcollate", lit("C"))
      .withColumn("collctype", lit("C"))
      .asCatalogView("pg_collation")
    Seq((1663L, "pg_default", 10L), (1664L, "pg_global", 10L))
      .toDF("oid", "spcname", "spcowner").asCatalogView("pg_tablespace")
    Seq((10L, userName, true, true, true)).toDF("oid", "rolname", "rolsuper", "rolcanlogin", "rolinherit")
      .asCatalogView("pg_authid")
    Seq((12L, "internal", false), (13L, "c", false), (14L, "sql", true))
      .toDF("oid", "lanname", "lanpltrusted")
      // pg_dump's getProcLangs surface: all built-in (lanispl=false)
      .withColumn("lanispl", lit(false))
      .withColumn("lanplcallfoid", lit(0L))
      .withColumn("laninline", lit(0L))
      .withColumn("lanvalidator", lit(0L))
      .withColumn("lanowner", lit(10L))
      .withColumn("lanacl", lit(null).cast("array<string>"))
      .asCatalogView("pg_language")

    // the remainder of the reference's PG_SYSTEM_TABLES set
    // (pg_constants.go:27-98): empty rowsets with the columns drivers
    // actually probe, so `SELECT <col> FROM pg_x WHERE ...` resolves
    // instead of erroring
    def shell(name: String, fields: (String, DataType)*): Unit =
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          StructType(fields.map { case (n, t) => StructField(n, t) }))
        .asCatalogView(name)
    val L = LongType; val S = StringType; val I = IntegerType; val B = BooleanType
    shell("pg_index", "indexrelid" -> L, "indrelid" -> L, "indnatts" -> I,
      "indnkeyatts" -> I, "indisunique" -> B, "indnullsnotdistinct" -> B,
      "indisprimary" -> B, "indisvalid" -> B, "indkey" -> ArrayType(IntegerType), // int2vector
      "indclass" -> ArrayType(LongType), "indoption" -> S,
      "indisready" -> B, "indisclustered" -> B, "indisreplident" -> B,
      "indexprs" -> S, "indpred" -> S)
    // drelid mirrors adrelid: the reference corpus probes pg_get_expr(adbin,
    // drelid) with that spelling (query_handler_test.go)
    shell("pg_attrdef", "oid" -> L, "adrelid" -> L, "drelid" -> L,
      "adnum" -> I, "adbin" -> S)
    shell("pg_depend", "classid" -> L, "objid" -> L, "objsubid" -> I,
      "refclassid" -> L, "refobjid" -> L, "refobjsubid" -> I, "deptype" -> S)
    shell("pg_sequence", "seqrelid" -> L, "seqtypid" -> L, "seqstart" -> L,
      "seqincrement" -> L, "seqmax" -> L, "seqmin" -> L, "seqcache" -> L, "seqcycle" -> B)
    shell("pg_sequences", "schemaname" -> S, "sequencename" -> S,
      "sequenceowner" -> S, "last_value" -> L)
    shell("pg_enum", "oid" -> L, "enumtypid" -> L, "enumsortorder" -> DoubleType,
      "enumlabel" -> S)
    shell("pg_cast", "oid" -> L, "castsource" -> L, "casttarget" -> L,
      "castfunc" -> L, "castcontext" -> S, "castmethod" -> S)
    shell("pg_operator", "oid" -> L, "oprname" -> S, "oprnamespace" -> L,
      "oprowner" -> L, "oprkind" -> S, "oprleft" -> L, "oprright" -> L,
      "oprresult" -> L, "oprcode" -> S)
    shell("pg_opclass", "oid" -> L, "opcmethod" -> L, "opcname" -> S,
      "opcnamespace" -> L, "opcowner" -> L, "opcfamily" -> L,
      "opcintype" -> L, "opcdefault" -> B, "opckeytype" -> L)
    shell("pg_opfamily", "oid" -> L, "opfname" -> S, "opfmethod" -> L,
      "opfnamespace" -> L, "opfowner" -> L)
    shell("pg_amop", "oid" -> L, "amopfamily" -> L, "amoplefttype" -> L,
      "amoprighttype" -> L, "amopstrategy" -> I, "amopopr" -> L)
    shell("pg_amproc", "oid" -> L, "amprocfamily" -> L, "amproclefttype" -> L,
      "amprocrighttype" -> L, "amprocnum" -> I, "amproc" -> L)
    shell("pg_aggregate", "aggfnoid" -> L, "aggkind" -> S,
      "aggnumdirectargs" -> I, "aggtransfn" -> S, "aggfinalfn" -> S,
      "aggsortop" -> L, "aggtranstype" -> L, "agginitval" -> S)
    shell("pg_trigger", "oid" -> L, "tgrelid" -> L, "tgname" -> S,
      "tgtype" -> I, "tgenabled" -> S, "tgisinternal" -> B,
      "tgfoid" -> L, "tgparentid" -> L, "tgconstraint" -> L,
      "tgdeferrable" -> B, "tginitdeferred" -> B)
    shell("pg_rewrite", "oid" -> L, "rulename" -> S, "ev_class" -> L,
      "ev_type" -> S, "ev_enabled" -> S, "is_instead" -> B,
      "ev_qual" -> S, "ev_action" -> S)
    shell("pg_policy", "oid" -> L, "polname" -> S, "polrelid" -> L, "polcmd" -> S,
      "polpermissive" -> B, "polroles" -> ArrayType(LongType), "polqual" -> S,
      "polwithcheck" -> S)
    shell("pg_publication", "oid" -> L, "pubname" -> S, "pubowner" -> L,
      "puballtables" -> B, "pubinsert" -> B, "pubupdate" -> B,
      "pubdelete" -> B, "pubtruncate" -> B, "pubviaroot" -> B)
    shell("pg_publication_namespace", "oid" -> L, "pnpubid" -> L, "pnnspid" -> L)
    shell("pg_publication_rel", "oid" -> L, "prpubid" -> L, "prrelid" -> L,
      "prqual" -> S, "prattrs" -> ArrayType(ShortType))
    shell("pg_partitioned_table", "partrelid" -> L, "partstrat" -> S,
      "partnatts" -> I, "partdefid" -> L,
      "partattrs" -> ArrayType(IntegerType),
      "partclass" -> ArrayType(LongType),
      "partcollation" -> ArrayType(LongType), "partexprs" -> S)
    shell("pg_statistic", "starelid" -> L, "staattnum" -> I, "stainherit" -> B)
    shell("pg_statistic_ext", "oid" -> L, "stxrelid" -> L, "stxname" -> S,
      "stxnamespace" -> L, "stxowner" -> L, "stxstattarget" -> I,
      "stxkeys" -> S, "stxkind" -> ArrayType(StringType), "stxexprs" -> S)
    shell("pg_statistic_ext_data", "stxoid" -> L)
    shell("pg_range", "rngtypid" -> L, "rngsubtype" -> L, "rngmultitypid" -> L)
    shell("pg_conversion", "oid" -> L, "conname" -> S, "connamespace" -> L,
      "conowner" -> L, "conforencoding" -> I, "contoencoding" -> I,
      "conproc" -> S, "condefault" -> B)
    shell("pg_event_trigger", "oid" -> L, "evtname" -> S, "evtevent" -> S,
      "evtowner" -> L, "evtfoid" -> L, "evtenabled" -> S,
      "evttags" -> ArrayType(StringType))
    shell("pg_foreign_data_wrapper", "oid" -> L, "fdwname" -> S,
      "fdwowner" -> L, "fdwhandler" -> L, "fdwvalidator" -> L,
      "fdwacl" -> ArrayType(StringType),
      "fdwoptions" -> ArrayType(StringType))
    shell("pg_foreign_server", "oid" -> L, "srvname" -> S, "srvowner" -> L,
      "srvfdw" -> L, "srvtype" -> S, "srvversion" -> S,
      "srvacl" -> ArrayType(StringType),
      "srvoptions" -> ArrayType(StringType))
    shell("pg_foreign_table", "ftrelid" -> L, "ftserver" -> L)
    shell("pg_user_mapping", "oid" -> L, "umuser" -> L, "umserver" -> L)
    shell("pg_ts_config", "oid" -> L, "cfgname" -> S, "cfgnamespace" -> L,
      "cfgowner" -> L, "cfgparser" -> L)
    shell("pg_ts_config_map", "mapcfg" -> L, "maptokentype" -> I)
    shell("pg_ts_dict", "oid" -> L, "dictname" -> S, "dictnamespace" -> L,
      "dictowner" -> L, "dicttemplate" -> L, "dictinitoption" -> S)
    shell("pg_ts_parser", "oid" -> L, "prsname" -> S, "prsnamespace" -> L,
      "prsstart" -> S, "prstoken" -> S, "prsend" -> S, "prsheadline" -> S,
      "prslextype" -> S)
    shell("pg_ts_template", "oid" -> L, "tmplname" -> S,
      "tmplnamespace" -> L, "tmplinit" -> S, "tmpllexize" -> S)
    shell("pg_transform", "oid" -> L, "trftype" -> L, "trflang" -> L,
      "trffromsql" -> L, "trftosql" -> L)
    shell("pg_auth_members", "oid" -> L, "roleid" -> L, "member" -> L, "grantor" -> L,
      "admin_option" -> B, "inherit_option" -> B, "set_option" -> B)
    shell("pg_db_role_setting", "setdatabase" -> L, "setrole" -> L,
      "setconfig" -> ArrayType(StringType))
    shell("pg_default_acl", "oid" -> L, "defaclrole" -> L,
      "defaclnamespace" -> L, "defaclobjtype" -> S,
      "defaclacl" -> ArrayType(StringType))
    shell("pg_init_privs", "objoid" -> L, "classoid" -> L, "objsubid" -> I,
      "privtype" -> S, "initprivs" -> ArrayType(StringType))
    shell("pg_largeobject", "loid" -> L, "pageno" -> I)
    shell("pg_largeobject_metadata", "oid" -> L, "lomowner" -> L,
      "lomacl" -> ArrayType(StringType))
    shell("pg_parameter_acl", "oid" -> L, "parname" -> S)
    shell("pg_replication_origin", "roident" -> L, "roname" -> S)
    shell("pg_replication_slots", "slot_name" -> S, "plugin" -> S,
      "slot_type" -> S, "active" -> B)
    shell("pg_seclabel", "objoid" -> L, "classoid" -> L, "objsubid" -> I,
      "provider" -> S, "label" -> S)
    shell("pg_shdepend", "dbid" -> L, "classid" -> L, "objid" -> L,
      "refclassid" -> L, "refobjid" -> L, "deptype" -> S)
    shell("pg_shdescription", "objoid" -> L, "classoid" -> L, "description" -> S)
    shell("pg_shseclabel", "objoid" -> L, "classoid" -> L, "provider" -> S, "label" -> S)
    shell("pg_subscription", "oid" -> L, "subname" -> S, "subenabled" -> B,
      "subdbid" -> L, "subowner" -> L, "subconninfo" -> S,
      "subslotname" -> S, "subsynccommit" -> S,
      "subpublications" -> ArrayType(StringType), "subbinary" -> B,
      "substream" -> B, "subtwophasestate" -> S, "subdisableonerr" -> B)
    shell("pg_subscription_rel", "srsubid" -> L, "srrelid" -> L)
    shell("pg_seclabels", "objoid" -> L, "classoid" -> L, "objsubid" -> I,
      "objtype" -> S, "objnamespace" -> L, "objname" -> S,
      "provider" -> S, "label" -> S)

    // the reference's PG_SYSTEM_VIEWS stat/statio set (pg_constants.go:
    // 100-144): activity gets a live 1-row view, per-table stats views get
    // the user-table rowset, the rest are typed empty shells
    Seq((42, "graft", "graft", "graft", "active", "", ""))
      .toDF("pid", "datname", "usename", "application_name", "state",
        "query", "backend_type")
      .withColumn("datid", org.apache.spark.sql.functions.lit(1L))
      .asCatalogView("pg_stat_activity")
    Seq((1L, "graft", 1, 0L, 0L)).toDF("datid", "datname", "numbackends",
        "xact_commit", "xact_rollback")
      .asCatalogView("pg_stat_database")
    for (v <- Seq("pg_stat_all_tables", "pg_stat_sys_tables",
        "pg_stat_xact_all_tables", "pg_stat_xact_sys_tables",
        "pg_stat_xact_user_tables"))
      Tables.names.map(n => ("public", n, 0L))
        .toDF("schemaname", "relname", "n_live_tup").asCatalogView(v)
    for (v <- Seq("pg_stat_all_indexes", "pg_stat_sys_indexes",
        "pg_stat_user_indexes"))
      shell(v, "relid" -> L, "indexrelid" -> L, "schemaname" -> S,
        "relname" -> S, "indexrelname" -> S, "idx_scan" -> L)
    for (v <- Seq("pg_statio_all_tables", "pg_statio_sys_tables",
        "pg_statio_user_tables"))
      shell(v, "relid" -> L, "schemaname" -> S, "relname" -> S,
        "heap_blks_read" -> L, "heap_blks_hit" -> L)
    for (v <- Seq("pg_statio_all_indexes", "pg_statio_sys_indexes",
        "pg_statio_user_indexes"))
      shell(v, "relid" -> L, "indexrelid" -> L, "schemaname" -> S,
        "relname" -> S, "idx_blks_read" -> L, "idx_blks_hit" -> L)
    for (v <- Seq("pg_statio_all_sequences", "pg_statio_sys_sequences",
        "pg_statio_user_sequences"))
      shell(v, "relid" -> L, "schemaname" -> S, "relname" -> S,
        "blks_read" -> L, "blks_hit" -> L)
    for (v <- Seq("pg_stat_user_functions", "pg_stat_xact_user_functions"))
      shell(v, "funcid" -> L, "schemaname" -> S, "funcname" -> S, "calls" -> L)
    shell("pg_stat_replication", "pid" -> I, "usename" -> S, "state" -> S)
    shell("pg_stat_wal_receiver", "pid" -> I, "status" -> S)
    shell("pg_stat_recovery_prefetch", "stats_reset" -> S)
    shell("pg_stat_subscription", "subid" -> L, "subname" -> S)
    shell("pg_stat_subscription_stats", "subid" -> L, "subname" -> S)
    shell("pg_stat_ssl", "pid" -> I, "ssl" -> B)
    shell("pg_stat_gssapi", "pid" -> I, "gss_authenticated" -> B, "principal" -> S,
      "encrypted" -> B, "credentials_delegated" -> B)
    for (v <- Seq("pg_stat_progress_analyze", "pg_stat_progress_create_index",
        "pg_stat_progress_vacuum", "pg_stat_progress_cluster",
        "pg_stat_progress_basebackup", "pg_stat_progress_copy"))
      shell(v, "pid" -> I, "datid" -> L, "relid" -> L, "phase" -> S)
    shell("pg_stat_archiver", "archived_count" -> L, "failed_count" -> L)
    shell("pg_stat_bgwriter", "buffers_clean" -> L, "buffers_alloc" -> L)
    shell("pg_stat_checkpointer", "num_timed" -> L, "num_requested" -> L)
    shell("pg_stat_database_conflicts", "datid" -> L, "datname" -> S)
    shell("pg_stat_io", "backend_type" -> S, "object" -> S, "context" -> S,
      "reads" -> L, "writes" -> L)
    shell("pg_stat_replication_slots", "slot_name" -> S)
    shell("pg_stat_slru", "name" -> S, "blks_hit" -> L, "blks_read" -> L)
    shell("pg_stat_wal", "wal_records" -> L, "wal_bytes" -> L)

    // information_schema constraint views: empty shells (the synthetic
    // tables carry no declared constraints; ORMs still introspect them)
    Seq.empty[(String, String, String, String)]
      .toDF("constraint_name", "table_schema", "table_name", "constraint_type")
      .asCatalogView("information_schema_table_constraints")
    Seq.empty[(String, String, String, String, Int)]
      .toDF("constraint_name", "table_schema", "table_name", "column_name", "ordinal_position")
      .asCatalogView("information_schema_key_column_usage")
    Seq.empty[(String, String)]
      .toDF("constraint_name", "unique_constraint_name")
      .asCatalogView("information_schema_referential_constraints")

    // matview / stats / index emulation (query_remapper_table.go:136-250):
    // fresh sessions have no matviews or indexes; stat rows are faked per
    // table like the reference's pg_stat_user_tables handling
    Seq.empty[(String, String, String)].toDF("schemaname", "matviewname", "definition")
      .asCatalogView("pg_matviews")
    Tables.names.map(n => ("public", n, 0L))
      .toDF("schemaname", "relname", "n_live_tup")
      .asCatalogView("pg_stat_user_tables")

    refreshInfoSchema(spark)
    refreshStats(spark)

    // with every system view registered, rebuild pg_class to list them too:
    // the reference's pg_class carries the engine's own catalog relations
    // with oids from 1978 (golden: min pg_class oid is 1978, not a user oid)
    (systemRels(spark) ++ Tables.names.zipWithIndex.map { case (n, i) =>
        (16384L + i, n, 2200L, "r") })
      .map { case (oid, n, ns, kind) =>
        (oid, n, ns, kind, 10L, 2L, 0L, 0.0, false, "p", false, 0L,
          false, false, 0, Option.empty[String]) }
      .toDF("oid", "relname", "relnamespace", "relkind", "relowner", "relam",
        "relpages", "reltuples", "relhasindex", "relpersistence",
        "relispartition", "reltablespace", "relforcerowsecurity", "relrowsecurity",
        "relchecks", "relacl")
      .transform(withFullPgClassColumns)
      .asCatalogView("pg_class")
    spark.table("pg_class").createOrReplaceTempView("pg_class_dump")
  }

  /** The session's own catalog relations as pg_class rows, numbered from
    * 1978 in name order (the reference surfaces DuckDB's system catalog in
    * pg_class the same way; its lowest oid is 1978). */
  private def systemRels(spark: SparkSession): Seq[(Long, String, Long, String)] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("pg_") || n.startsWith("information_schema"))
      .filterNot(Tables.names.toSet)
      .sorted.toSeq
      .zipWithIndex.map { case (n, i) => (1978L + i, n, 11L, "v") }

  /** Reverse Spark-type -> PG udt name, reporting the STORED type the way
    * the reference does (int8/xid8 widen to DECIMAL -> `numeric`; the
    * time-of-day micros Long keeps its `time`/`timetz` logical tag from
    * [[PgTypes]] metadata). */
  private def udtOf(f: StructField): String = {
    val logical =
      if (f.metadata.contains(PgTypes.LogicalKey))
        f.metadata.getString(PgTypes.LogicalKey)
      else ""
    f.dataType match {
      // the reference reports the STORED type: timetz -> time, timestamptz
      // -> timestamp (no tz at rest), json[b] -> json
      case LongType if logical == "time" || logical == "timetz" => "time"
      case StringType if logical == "json" || logical == "jsonb" => "json"
      case BooleanType => "bool"
      case ByteType | ShortType => "int2"
      case IntegerType => "int4"
      case LongType => "int8"
      case FloatType => "float4"
      case DoubleType => "float8"
      case _: DecimalType => "numeric"
      case BinaryType => "bytea"
      case DateType => "date"
      case TimestampNTZType => "timestamp"
      case TimestampType => "timestamp"
      case ArrayType(e, _) => "_" + udtOf(f.copy(dataType = e))
      case _ => "text"
    }
  }

  /** pg_stats-shaped view over the ANALYZE registry (TableStats): PG's
    * column set where the semantics map (schemaname/tablename/attname/
    * null_frac/avg_width/n_distinct) plus explicit min_val/max_val — PG
    * buries those in histogram_bounds; the broadcast size gate and ad-hoc
    * inspection both want them first-class. Empty until the first ANALYZE,
    * like a fresh PG database. */
  def refreshStats(spark: SparkSession): Unit =
    SessionSettings.withSessionIfUnbound(spark)(refreshStatsScoped(spark))

  private def refreshStatsScoped(spark: SparkSession): Unit = synchronized {
    import spark.implicits._
    TableStats.pgStatsRows
      .toDF("schemaname", "tablename", "attname", "null_frac", "avg_width",
        "n_distinct", "min_val", "max_val")
      .asCatalogView("pg_stats")
  }

  /** information_schema.tables / .columns over every live relation in the
    * session (registered tables, matviews, ad-hoc views) — the reference
    * wraps DuckDB's information_schema with added udt_* columns
    * (query_remapper_table.go:74-91,714-775); here the rows are built from
    * the live Spark schemas on every catalog-refresh trigger. */
  def refreshInfoSchema(spark: SparkSession): Unit =
    SessionSettings.withSessionIfUnbound(spark)(refreshInfoSchemaScoped(spark))

  private def refreshInfoSchemaScoped(spark: SparkSession): Unit = synchronized {
    import spark.implicits._
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(n => !n.startsWith("pg_") && !n.startsWith("information_schema_")
        && n != "user")
      .sorted
    val cat = SessionSettings.get("graft.catalog_label")
      .orElse(SessionSettings.get("graft.database")).getOrElse("graft")
    val sch = SessionSettings.get("graft.schema_label").getOrElse("public")
    val rows = views.toSeq.flatMap { t =>
      val schema =
        try spark.table(t).schema
        catch { case _: Throwable => new StructType() }
      schema.fields.zipWithIndex.map { case (f, i) =>
        val (_, pgName) = pgTypeOf(f.dataType)
        ((cat, sch, t, f.name, i + 1, pgName,
          cat, "pg_catalog", udtOf(f), if (f.nullable) "YES" else "NO"))
      }
    }
    rows.toDF("table_catalog", "table_schema", "table_name", "column_name",
      "ordinal_position", "data_type", "udt_catalog", "udt_schema", "udt_name",
      "is_nullable")
      .asCatalogView("information_schema_columns")
    views.toSeq.map(t => (t, "BASE TABLE"))
      .toDF("table_name", "table_type")
      .selectExpr(s"'$cat' AS table_catalog", s"'$sch' AS table_schema",
        "table_name", "table_type",
        "CAST(NULL AS STRING) AS self_referencing_column_name",
        "CAST(NULL AS STRING) AS reference_generation",
        "CAST(NULL AS STRING) AS user_defined_type_catalog",
        "CAST(NULL AS STRING) AS user_defined_type_schema",
        "CAST(NULL AS STRING) AS user_defined_type_name",
        "'YES' AS is_insertable_into", "'NO' AS is_typed",
        "CAST(NULL AS STRING) AS commit_action")
      .asCatalogView("information_schema_tables")
  }

  // the sf dir last registered by Tables — used to introspect schemas
  @volatile private var dir: String = "/root/testdata/sf0.001"
  def noteDir(d: String): Unit = dir = d
  private def lastDir(spark: SparkSession): String = dir

  /** Catalog refresh trigger (query_remapper_table.go:46-62,136-250): a
    * statement touching pg_class / pg_matviews / pg_stat_user_tables sees
    * the CURRENT table + matview population, so psql \dm and BI refresh
    * panes pick up DDL done in this session. */
  /** Session relations beyond the registered base tables and matviews:
    * ad-hoc temp views a client created (candidates for pg_class rows with
    * relkind 'v'). Catalog plumbing itself is excluded. */
  private def extraViews(spark: SparkSession, known: Set[String]): Seq[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(n => !n.startsWith("pg_") && !n.startsWith("information_schema_")
        && n != "user" && !known.contains(n))
      .sorted.toSeq

  def refreshDynamic(spark: SparkSession, store: Store): Unit =
    SessionSettings.withSessionIfUnbound(spark)(refreshDynamicScoped(spark, store))

  private def refreshDynamicScoped(spark: SparkSession, store: Store): Unit = synchronized {
    import spark.implicits._
    val mvs = store.matviewNames
    // the store's plain tables (the synced-table population): relkind 'r'
    // like the reference's re-created shell tables, minus any name the base
    // testdata registration already lists
    val stTables = store.tableNames.filterNot((Tables.names ++ mvs).contains)
    mvs.map(n => ("public", n, store.matviewDefinition(n).getOrElse("")))
      .toDF("schemaname", "matviewname", "definition")
      .asCatalogView("pg_matviews")
    // plain SQL views, with the user's original definition text
    store.viewNames
      .map(n => ("public", n, "graft", store.viewDefinition(n).getOrElse("")))
      .toDF("schemaname", "viewname", "viewowner", "definition")
      .asCatalogView("pg_views")
    (Tables.names.map(n => ("public", n, 0L)) ++ mvs.map(n => ("public", n, 0L)) ++
      stTables.map(n => ("public", n, 0L)))
      .toDF("schemaname", "relname", "n_live_tup")
      .asCatalogView("pg_stat_user_tables")
    // pg_stat-style incremental-index staleness (dedup/ANN watermarks vs
    // table versions, plus the last refresh failure) — stale must be
    // queryable, not buried in a server log
    store.indexStaleness
      .toDF("relname", "index_kind", "indexed_version", "current_version",
        "stale", "last_error")
      .asCatalogView("graft_index_stats")
    // pg_stat-style warehouse coordination snapshot: who authors the
    // commit chain, this process's role, and follower-ingest backlog —
    // the multi-process questions an operator otherwise answers by
    // reading lease files off the warehouse by hand
    store.warehouseStats
      .toDF("warehouse", "role", "lease_epoch", "holder_pid", "holder_host",
        "catalog_version", "inbox_pending", "follower_inserts")
      .asCatalogView("graft_warehouse_stats")
    (Tables.names ++ stTables).map(n => ("public", n, "graft", false))
      .toDF("schemaname", "tablename", "tableowner", "hasindexes")
      .asCatalogView("pg_tables")
    // pg_stat_statements (extension view surface): fed by the wire server
    // with time-to-last-row per executed statement
    PgDialect.statementStats
      .map { case (q, calls, micros, rows) =>
        (10L, 16384L, q.hashCode.toLong, q, calls, micros / 1000.0,
          if (calls > 0) micros / 1000.0 / calls else 0.0, rows)
      }
      .toDF("userid", "dbid", "queryid", "query", "calls",
        "total_exec_time", "mean_exec_time", "rows")
      .asCatalogView("pg_stat_statements")
    // anything else registered in the session is an ad-hoc VIEW (relkind
    // 'v') — a client's CREATE TEMP VIEW or another component's transient
    // publication, never a table row the oracles pin
    val views = extraViews(spark, (Tables.names ++ mvs ++ stTables).toSet)
    val nsOid =
      if (SessionSettings.get("graft.schema_label").getOrElse("public") == "public") 2200L
      else 16000L
    val rels =
      Tables.names.zipWithIndex.map { case (n, i) => (16384L + i, n, nsOid, "r") } ++
        mvs.zipWithIndex.map { case (n, i) => (20000L + i, n, nsOid, "m") } ++
        stTables.zipWithIndex.map { case (n, i) => (26000L + i, n, nsOid, "r") } ++
        views.zipWithIndex.map { case (n, i) => (24000L + i, n, nsOid, "v") }
    // oid-keyed view definitions: pg_dump reads each view's body as
    // pg_get_viewdef('<oid>') — served from the dialect's stored SQL text
    (mvs.zipWithIndex.map { case (n, i) =>
      (20000L + i, store.matviewDefinition(n).getOrElse("")) } ++
      views.zipWithIndex.flatMap { case (n, i) =>
        store.viewDefinition(n).map(d => (24000L + i, d)) })
      .toDF("oid", "definition")
      .asCatalogView("pg_viewdefs")
    // the pg_dump-mode pg_class: same rows and oids, but ANONYMOUS session
    // views (dataframe temp views with no SQL text — e.g. another
    // component's transient publication) re-home to a pg_temp namespace
    // like real PG temp views, so pg_dump resolves-and-skips them instead
    // of aborting on an empty view definition. The default pg_class keeps
    // them in the user namespace: the corpus treats anonymous registered
    // frames as synced-table stand-ins.
    val relsDump = rels.map {
      case (oid, n, _, "v") if store.viewDefinition(n).isEmpty =>
        (oid, n, TempNsOid, "v")
      case r => r
    }
    def pgClassFrame(rs: Seq[(Long, String, Long, String)]) =
      (systemRels(spark) ++ rs)
        .map { case (oid, n, ns, kind) =>
          (oid, n, ns, kind, 10L, 2L, 0L, 0.0, false, "p", false, 0L,
            false, false, 0, Option.empty[String])
        }
        .toDF("oid", "relname", "relnamespace", "relkind", "relowner", "relam",
          "relpages", "reltuples", "relhasindex", "relpersistence",
          "relispartition", "reltablespace", "relforcerowsecurity", "relrowsecurity",
          "relchecks", "relacl")
        .transform(withFullPgClassColumns)
    pgClassFrame(rels).asCatalogView("pg_class")
    pgClassFrame(relsDump).asCatalogView("pg_class_dump")
    // pg_attribute over every relation pg_class lists, so \d and
    // attrelid = '…'::regclass introspection covers ad-hoc views too
    // store-only tables are not session views — their schema comes from
    // the store itself (JDBC getColumns must see synced tables' columns)
    val relSchemas: Map[String, StructType] = rels.map { case (_, n, _, _) =>
      n -> (try spark.table(n).schema
        catch { case _: Throwable =>
          try store.read(n).schema
          catch { case _: Throwable => new StructType() } })
    }.toMap
    val attrRows = rels.flatMap { case (oid, n, _, _) =>
      relSchemas(n).fields.zipWithIndex.map { case (f, i) =>
        val (toid, pgName) = pgTypeOf(f.dataType)
        (oid, f.name, i + 1, toid.toLong, pgName, false, false, false, -1, -1, "", "")
      }
    }
    attrRows
      .toDF("attrelid", "attname", "attnum", "atttypid", "data_type",
        "attnotnull", "atthasdef", "attisdropped",
        "atttypmod", "attlen", "attidentity", "attgenerated")
      // real libpq describe columns: \d joins pg_collation on attcollation,
      // \d+ reads storage/stats targets, \z/\dp read per-column ACLs
      .withColumn("attcollation", lit(0L))
      // matches pg_type.typstorage (x = typlen<0 varlena, incl. every
      // array type) so pg_dump emits no spurious SET STORAGE clauses
      .withColumn("attstorage", when(col("atttypid")
        .isin(varlenaOids: _*), lit("x")).otherwise(lit("p")))
      .withColumn("attstattarget", lit(-1))
      .withColumn("attcompression", lit(""))
      .withColumn("attacl", lit(null).cast("array<string>"))
      .withColumn("attndims", lit(0))
      .withColumn("attislocal", lit(true))
      .withColumn("attinhcount", lit(0))
      .withColumn("attalign", lit("i"))
      .withColumn("attoptions", lit(null).cast("array<string>"))
      .withColumn("attfdwoptions", lit(null).cast("array<string>"))
      .withColumn("atthasmissing", lit(false))
      .withColumn("attmissingval", lit(null).cast("string"))
      .asCatalogView("pg_attribute")
    // COMMENT ON metadata: "rel" → objsubid 0 (the relation row JDBC
    // getTables REMARKS reads), "rel.col" → the column's attnum (psql \d+
    // and getColumns REMARKS). classoid carries the oid THIS catalog
    // assigns to relname 'pg_class' (the corpus pins the reference's
    // DuckDB-style numbering from 1978, so the real 1259 is not available)
    // — the ::regclass rewrite resolves 'pg_class' through the same
    // numbering, so getTables' classoid join still closes.
    val relByName = rels.map(r => r._2 -> r._1).toMap
    val pgClassOid = systemRels(spark).find(_._2 == "pg_class")
      .map(_._1).getOrElse(1259L)
    val descRows = store.comments.toSeq.flatMap { case (key, text) =>
      key.split("\\.", 2) match {
        case Array(rel) =>
          relByName.get(rel).map(oid => (oid, pgClassOid, 0L, text))
        case Array(rel, colName) =>
          for {
            oid <- relByName.get(rel)
            idx <- relSchemas.get(rel).flatMap(s =>
              s.fieldNames.zipWithIndex.find(_._1 == colName).map(_._2))
          } yield (oid, pgClassOid, (idx + 1).toLong, text)
        case _ => None
      }
    }
    descRows.toDF("objoid", "classoid", "objsubid", "description")
      .asCatalogView("pg_description")
    // dump-mode variant: pg_dump matches a comment to its relation by
    // (classoid, objoid) == (pg_class's REAL oid 1259, c.tableoid-row oid);
    // the default view keeps the reference's 1978-numbered classoid
    descRows.map { case (oid, _, sub, text) => (oid, 1259L, sub, text) }
      .toDF("objoid", "classoid", "objsubid", "description")
      .asCatalogView("pg_description_dump")
  }
}
