"""The 22 TPC-H statements, adapted to the server's reduced schema.

The schema has no partsupp and none of the comment, phone, ship-mode or
commit/receipt-date columns; those predicates are re-targeted at columns
that exist, keeping each statement's operator shape (correlated scalar
subqueries in q02/q17, EXISTS / NOT EXISTS in q04/q21/q22, the outer join
distribution of q13, IN over HAVING in q18, the OR-of-ANDs in q19).

Money is summed as exact integer cents (BIGINT), so both engines agree
bit for bit; averages and ratios are one double division of exact
operands. Every ORDER BY is total, so row order is deterministic.

Each template takes text parameters $1..$n. `DEFAULTS` fixes the literals
of the repeated workload; `draw` picks fresh literals from a seeded RNG.
Every choice keeps at least one result row on the sf0.1 data.
"""
import datetime

EXT = "CAST(round(l_extendedprice * 100) AS BIGINT)"
DISC = f"{EXT} * (100 - CAST(round(l_discount * 100) AS BIGINT))"
CHARGE = f"{DISC} * (100 + CAST(round(l_tax * 100) AS BIGINT))"


def ts(p):
    return f"CAST({p} AS TIMESTAMP)"


TEMPLATES = {
    "q01": f"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
 sum({EXT}) AS sum_base_cents, sum({DISC}) AS sum_disc_price, sum({CHARGE}) AS sum_charge,
 avg(l_quantity) AS avg_qty, CAST(sum({EXT}) AS DOUBLE) / count(*) AS avg_price_cents,
 avg(l_discount) AS avg_disc, count(*) AS count_order
FROM lineitem WHERE l_shipdate <= {ts('$1')}
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q02": """SELECT s_name, s_acctbal, n_name FROM supplier, nation, region
WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = $1
 AND s_acctbal > $2
 AND s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2 WHERE s2.s_nationkey = supplier.s_nationkey)
ORDER BY s_acctbal DESC, n_name, s_name""",
    "q03": f"""SELECT l_orderkey, sum({DISC}) AS revenue, o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = $1 AND c_custkey = o_custkey AND l_orderkey = o_orderkey
 AND o_orderdate < {ts('$2')} AND l_shipdate > {ts('$2')}
GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "q04": f"""SELECT o_orderpriority, count(*) AS order_count FROM orders
WHERE o_orderdate >= {ts('$1')} AND o_orderdate < {ts('$2')}
 AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q05": f"""SELECT n_name, sum({DISC}) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
 AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
 AND r_name = $1 AND o_orderdate >= {ts('$2')} AND o_orderdate < {ts('$3')}
GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q06": f"""SELECT sum({EXT} * CAST(round(l_discount * 100) AS BIGINT)) AS revenue, count(*) AS n
FROM lineitem WHERE l_shipdate >= {ts('$1')} AND l_shipdate < {ts('$2')}
 AND l_discount BETWEEN $3 AND $4 AND l_quantity < $5""",
    "q07": f"""SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year, {DISC} AS volume
 FROM supplier, lineitem, orders, customer, nation n1, nation n2
 WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = $1 AND n2.n_name = $2) OR (n1.n_name = $2 AND n2.n_name = $1))
  AND l_shipdate >= {ts('$3')} AND l_shipdate <= {ts('$4')}) shipping
GROUP BY supp_nation, cust_nation, l_year ORDER BY supp_nation, cust_nation, l_year""",
    "q08": f"""SELECT o_year, CAST(sum(CASE WHEN nation = $1 THEN volume ELSE 0 END) AS DOUBLE)
  / sum(volume) AS mkt_share, sum(volume) AS total_volume
FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year, {DISC} AS volume,
  n2.n_name AS nation
 FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
 WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
  AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
  AND r_name = $2 AND s_nationkey = n2.n_nationkey
  AND o_orderdate >= {ts('$3')} AND o_orderdate <= {ts('$4')} AND p_type LIKE $5) all_nations
GROUP BY o_year ORDER BY o_year""",
    "q09": f"""SELECT nation, o_year, sum(amount) AS sum_profit
FROM (SELECT n_name AS nation, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
  {DISC} - CAST(round(p_retailprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT) * 10 AS amount
 FROM part, supplier, lineitem, orders, nation
 WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey AND o_orderkey = l_orderkey
  AND s_nationkey = n_nationkey AND p_name LIKE $1 AND l_quantity > $2) profit
GROUP BY nation, o_year ORDER BY nation, o_year DESC""",
    "q10": f"""SELECT c_custkey, c_name, sum({DISC}) AS revenue, c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
 AND o_orderdate >= {ts('$1')} AND o_orderdate < {ts('$2')}
 AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q11": f"""SELECT l_partkey, sum({DISC}) AS value
FROM lineitem, supplier, nation
WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = $1
GROUP BY l_partkey
HAVING sum({DISC}) * 10000 > (SELECT sum({DISC}) FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = $1) * $2
ORDER BY value DESC, l_partkey""",
    "q12": f"""SELECT l_linestatus,
 sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
 sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey AND l_shipdate >= {ts('$1')} AND l_shipdate < {ts('$2')}
GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q13": """SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
 FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> $1
  AND o_totalprice > $2
 GROUP BY c_custkey) c_orders
GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q14": f"""SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN {DISC} ELSE 0 END) AS DOUBLE)
  / sum({DISC}) AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey AND l_shipdate >= {ts('$1')} AND l_shipdate < {ts('$2')}""",
    "q15": f"""WITH revenue0 AS (SELECT l_suppkey AS supplier_no, sum({DISC}) AS total_revenue
 FROM lineitem WHERE l_shipdate >= {ts('$1')} AND l_shipdate < {ts('$2')} GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue FROM supplier, revenue0
WHERE s_suppkey = supplier_no AND total_revenue = (SELECT max(total_revenue) FROM revenue0)
ORDER BY s_suppkey""",
    "q16": """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand <> $1 AND p_type NOT LIKE $2
 AND p_size IN ($3, $4, $5, $6, $7, $8, $9, $10)
 AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < $11)
GROUP BY p_brand, p_size ORDER BY supplier_cnt DESC, p_brand, p_size""",
    "q17": f"""SELECT sum({EXT}) AS sum_cents, count(*) AS n
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = $1 AND p_size <= $2
 AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""",
    "q18": """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum(l_quantity) AS total_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > $1)
 AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""",
    "q19": f"""SELECT sum({DISC}) AS revenue, count(*) AS n
FROM lineitem, part
WHERE p_partkey = l_partkey AND (
 (p_brand = $1 AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN $4 AND $4 + 10)
 OR (p_brand = $2 AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN $5 AND $5 + 10)
 OR (p_brand = $3 AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN $6 AND $6 + 10))""",
    "q20": f"""SELECT s_name, s_acctbal FROM supplier, nation
WHERE s_nationkey = n_nationkey AND n_name = $1
 AND s_suppkey IN (SELECT l_suppkey FROM lineitem, part
  WHERE p_partkey = l_partkey AND p_name LIKE $2 AND l_quantity > $3
   AND l_shipdate >= {ts('$4')} AND l_shipdate < {ts('$5')})
ORDER BY s_name""",
    "q21": """SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
 AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
 AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
 AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey
  AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
 AND s_nationkey = n_nationkey AND n_name = $1
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""",
    "q22": """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
 sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS totacctbal_cents
FROM customer
WHERE c_nationkey IN ($1, $2, $3, $4, $5, $6, $7)
 AND c_acctbal > (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100 / count(*)
  FROM customer WHERE c_acctbal > $8 AND c_nationkey IN ($1, $2, $3, $4, $5, $6, $7))
 AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey ORDER BY c_nationkey""",
}

NAMES = sorted(TEMPLATES)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
           "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
           "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
           "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4, 2, 3, 3, 1]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["almond", "antique", "aquamarine", "azure", "beige", "bisque", "black", "blanched",
          "blue", "blush", "brown", "burlywood", "burnished", "chartreuse", "chiffon",
          "chocolate", "coral", "cornflower", "cornsilk", "cream", "cyan", "dark", "deep",
          "dim", "dodger", "drab", "firebrick", "floral", "forest", "frosted", "gainsboro",
          "ghost", "goldenrod", "green", "grey", "honeydew", "hot", "indian", "ivory",
          "khaki", "lace", "lavender", "lawn", "lemon", "light", "lime", "linen", "magenta",
          "maroon", "medium", "metallic", "midnight", "mint", "misty", "moccasin", "navajo",
          "navy", "olive", "orange", "orchid", "pale", "papaya", "peach", "peru", "pink",
          "plum", "powder", "puff", "purple", "red", "rose", "rosy", "royal", "saddle",
          "salmon", "sandy", "seashell", "sienna", "sky", "slate", "smoke", "snow", "spring",
          "steel", "tan", "thistle", "tomato", "turquoise", "violet", "wheat", "white",
          "yellow"]
TYPE_SYL1 = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_SYL2 = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_SYL3 = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

DEFAULTS = {
    "q01": ["1998-09-02"],
    "q02": ["EUROPE", -1000],
    "q03": ["BUILDING", "1995-03-15"],
    "q04": ["1993-07-01", "1993-10-01"],
    "q05": ["ASIA", "1994-01-01", "1995-01-01"],
    "q06": ["1994-01-01", "1995-01-01", 0.05, 0.07, 24],
    "q07": ["FRANCE", "GERMANY", "1995-01-01", "1996-12-31"],
    "q08": ["BRAZIL", "AMERICA", "1995-01-01", "1996-12-31", "ECONOMY ANODIZED%"],
    "q09": ["%green%", 0],
    "q10": ["1993-10-01", "1994-01-01"],
    "q11": ["GERMANY", 5],
    "q12": ["1994-01-01", "1995-01-01"],
    "q13": ["1-URGENT", 0],
    "q14": ["1995-09-01", "1995-10-01"],
    "q15": ["1996-01-01", "1996-04-01"],
    "q16": ["Brand#45", "MEDIUM POLISHED%", 49, 14, 23, 45, 19, 3, 36, 9, 0],
    "q17": ["Brand#23", 50],
    "q18": [250],
    "q19": ["Brand#12", "Brand#23", "Brand#34", 1, 10, 20],
    "q20": ["CANADA", "forest%", 10, "1994-01-01", "1995-01-01"],
    "q21": ["SAUDI ARABIA"],
    "q22": [13, 31, 23, 19, 18, 17, 16, 0],
}


def _day(rng, start, end):
    """A random date in [start, end] as ISO text."""
    a = datetime.date.fromisoformat(start)
    b = datetime.date.fromisoformat(end)
    return a + datetime.timedelta(days=rng.randrange((b - a).days + 1))


def _plus_months(d, months):
    m = d.month - 1 + months
    return datetime.date(d.year + m // 12, m % 12 + 1, 1 if d.day > 28 else d.day)


def _span(rng, start, end, months):
    d = _day(rng, start, end)
    return [d.isoformat(), _plus_months(d, months).isoformat()]


def _brand(rng):
    return f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}"


def draw(name, rng):
    """Fresh literals for template `name`; every domain is wide enough that
    a run of ad-hoc statements almost never repeats a text."""
    r = rng
    if name == "q01":
        return [_day(r, "1998-06-01", "1998-10-01").isoformat()]
    if name == "q02":
        return [r.choice(REGIONS), -r.randrange(100000) / 100]
    if name == "q03":
        return [r.choice(SEGMENTS), _day(r, "1995-03-01", "1995-03-31").isoformat()]
    if name == "q04":
        return _span(r, "1993-01-01", "1994-12-31", 3)
    if name == "q05":
        return [r.choice(REGIONS)] + _span(r, "1993-01-01", "1997-01-01", 12)
    if name == "q06":
        d = r.randint(2, 9) / 100
        return _span(r, "1993-01-01", "1997-01-01", 12) + [
            round(d - 0.01, 2), round(d + 0.01, 2), r.randint(24, 25)]
    if name == "q07":
        a, b = r.sample(NATIONS, 2)
        return [a, b] + [_day(r, "1995-01-01", "1995-03-31").isoformat(),
                         _day(r, "1996-10-01", "1996-12-31").isoformat()]
    if name == "q08":
        n = r.randrange(25)
        return [NATIONS[n], REGIONS[NATION_REGION[n]],
                _day(r, "1995-01-01", "1995-03-31").isoformat(),
                _day(r, "1996-10-01", "1996-12-31").isoformat(),
                f"{r.choice(TYPE_SYL1)} {r.choice(TYPE_SYL2)}%"]
    if name == "q09":
        return [f"%{r.choice(COLORS)}%", r.randint(0, 20)]
    if name == "q10":
        return _span(r, "1993-01-01", "1994-12-01", 3)
    if name == "q11":
        return [r.choice(NATIONS), r.randint(4, 6)]
    if name == "q12":
        return _span(r, "1993-01-01", "1997-01-01", 12)
    if name == "q13":
        return [r.choice(PRIORITIES), r.randrange(100000) / 100]
    if name == "q14":
        return _span(r, "1993-01-01", "1997-12-01", 1)
    if name == "q15":
        return _span(r, "1993-01-01", "1997-10-01", 3)
    if name == "q16":
        return [_brand(r), f"{r.choice(TYPE_SYL1)} {r.choice(TYPE_SYL2)}%"] + \
            r.sample(range(1, 51), 8) + [-r.randrange(100000) / 100]
    if name == "q17":
        return [_brand(r), r.randint(20, 50)]
    if name == "q18":
        return [r.randint(230, 260)]
    if name == "q19":
        return [_brand(r), _brand(r), _brand(r), r.randint(1, 10), r.randint(10, 20),
                r.randint(20, 30)]
    if name == "q20":
        return [r.choice(NATIONS), f"{r.choice(COLORS)}%", r.randint(1, 20)] + \
            _span(r, "1993-01-01", "1997-01-01", 12)
    if name == "q21":
        return [r.choice(NATIONS)]
    if name == "q22":
        return r.sample(range(25), 7) + [r.randrange(1000) / 100]
    raise KeyError(name)


def literal(v):
    """The SQL literal the server's parameter substitution makes of a text
    parameter: numerals stay bare, anything else is quoted."""
    s = str(v)
    if s.lstrip("-").replace(".", "", 1).isdigit() and not s.endswith("."):
        return s
    return "'" + s.replace("'", "''") + "'"


def bind(template, params):
    """Substitutes $n placeholders, highest number first ($10 before $1)."""
    sql = template
    for i in range(len(params), 0, -1):
        sql = sql.replace(f"${i}", literal(params[i - 1]))
    return sql
