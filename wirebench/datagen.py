"""Generates the benchmark's ten tables as Parquet with DuckDB.

The eight TPC-H-shaped tables come from DuckDB's bundled `tpch` extension
(dbgen, which needs no network) at scale factor 0.1, projected onto the
column names and types the server's table loader expects (TESTDATA.md).
`events`, `documents` and `embeddings` are drawn from the run's seed.
"""
import os

import duckdb

SF = 0.1
TPCH_TABLES = {
    "region": "SELECT CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name FROM region",
    "nation": "SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name, "
              "CAST(n_regionkey AS INTEGER) AS n_regionkey FROM nation",
    "customer": "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, "
                "CAST(c_nationkey AS INTEGER) AS c_nationkey, "
                "CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment FROM customer",
    "supplier": "SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, "
                "CAST(s_nationkey AS INTEGER) AS s_nationkey, "
                "CAST(s_acctbal AS DOUBLE) AS s_acctbal FROM supplier",
    "part": "SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name, p_brand, p_type, "
            "CAST(p_size AS INTEGER) AS p_size, "
            "CAST(p_retailprice AS DOUBLE) AS p_retailprice FROM part",
    "orders": "SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, "
              "CAST(o_custkey AS BIGINT) AS o_custkey, o_orderstatus, "
              "CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
              "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority "
              "FROM orders ORDER BY o_orderkey",
    "lineitem": "SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, "
                "CAST(l_partkey AS BIGINT) AS l_partkey, "
                "CAST(l_suppkey AS BIGINT) AS l_suppkey, "
                "CAST(l_linenumber AS INTEGER) AS l_linenumber, "
                "CAST(l_quantity AS DOUBLE) AS l_quantity, "
                "CAST(l_extendedprice AS DOUBLE) AS l_extendedprice, "
                "CAST(l_discount AS DOUBLE) AS l_discount, "
                "CAST(l_tax AS DOUBLE) AS l_tax, l_returnflag, l_linestatus, "
                "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate "
                "FROM lineitem ORDER BY l_orderkey, l_linenumber",
}

SEEDED_TABLES = {
    "events": """
        SELECT CAST(i AS BIGINT) AS event_id,
          TIMESTAMP '2024-01-01 00:00:00'
            + to_microseconds(CAST(floor(random() * 86400e6 * 90) AS BIGINT)) AS ts,
          CAST(floor(random() * 5000) AS BIGINT) AS user_id,
          ['view', 'click', 'purchase', 'signup'][CAST(floor(random() * 4) AS INTEGER) + 1]
            AS event_type,
          round(random() * 500, 2) AS value,
          '{"k":' || CAST(floor(random() * 100) AS INTEGER) || '}' AS props
        FROM range(100000) t(i)""",
    "documents": """
        SELECT CAST(i AS BIGINT) AS doc_id, txt AS text,
          ['en', 'de', 'fr'][CAST(floor(random() * 3) AS INTEGER) + 1] AS lang,
          ['web', 'mail', 'wiki'][CAST(floor(random() * 3) AS INTEGER) + 1] AS source,
          CAST(length(txt) AS BIGINT) AS n_chars
        FROM (SELECT i, 'doc ' || i || ' ' || md5(CAST(random() AS VARCHAR)) AS txt
              FROM range(5000) t(i))""",
    "embeddings": """
        SELECT CAST(i AS BIGINT) AS vec_id,
          [CAST(random() AS FLOAT), CAST(random() AS FLOAT), CAST(random() AS FLOAT),
           CAST(random() AS FLOAT)] AS embedding,
          CAST(floor(random() * 10) AS INTEGER) AS label
        FROM range(2000) t(i)""",
}


def _copy(con, query, path):
    tmp = path + ".tmp"
    con.execute(f"COPY ({query}) TO '{tmp}' (FORMAT PARQUET)")
    os.replace(tmp, path)


def ensure_tpch(cache_dir):
    """Writes the seed-independent TPC-H tables once per checkout."""
    os.makedirs(cache_dir, exist_ok=True)
    if all(os.path.exists(os.path.join(cache_dir, f"{t}.parquet")) for t in TPCH_TABLES):
        return
    con = duckdb.connect()
    con.execute("LOAD tpch")
    con.execute(f"CALL dbgen(sf={SF})")
    for name, query in TPCH_TABLES.items():
        _copy(con, query, os.path.join(cache_dir, f"{name}.parquet"))
    con.close()


def make_dataset(cache_dir, out_dir, seed):
    """Fills `out_dir` with all ten tables: TPC-H ones linked from the cache,
    seeded ones generated for `seed`."""
    ensure_tpch(cache_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in TPCH_TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.link(os.path.join(cache_dir, f"{name}.parquet"), dst)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute(f"SELECT setseed({(seed % 1000003) / 1000003.0})")
    for name, query in SEEDED_TABLES.items():
        _copy(con, query, os.path.join(out_dir, f"{name}.parquet"))
    con.close()
