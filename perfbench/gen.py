"""Seeded input generator for the benchmark.

Writes the harness tables the workloads read (TESTDATA.md schema:
`customer`, `orders`, `lineitem`, `documents`) as parquet files, at any
scale factor, from nothing but a seed. The tables reproduce the shape of
the shipped test tables (measured side by side in README.md): uniform keys,
dates and categories, lines drawn independently onto orders, and
documents of 10-99 random words over a 30-word vocabulary, of which
exactly 5% are a near-duplicate copy of another document with one word
appended. Every value is a hash of (seed, table, row, column), so the same
seed and scale give byte-identical tables and a different seed gives
different rows of the same shape.
"""
import os

import duckdb

VOCAB = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector"]

# rows per scale factor 1.0 (the shipped sf0.1 tables are a tenth of this);
# `part` and `supplier` are not written, they bound lineitem's keys
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "documents": 50_000}


def _lst(xs):
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def _u(seed, tag, *cols):
    """Uniform double in [0, 1) from a hash of the seed, a tag and columns."""
    args = ", ".join([str(seed), f"'{tag}'", *cols])
    return f"((hash({args}) % 1000000007) / 1000000007.0)"


def _pick(seed, tag, n, *cols):
    return f"CAST(floor({_u(seed, tag, *cols)} * {n}) AS BIGINT)"


def _money(seed, tag, lo, hi):
    return f"round({lo} + {_u(seed, tag, 'i')} * {hi - lo}, 2)"


def table_sql(name, n, seed, sizes):
    u = lambda tag, *c: _u(seed, f"{name}.{tag}", *(c or ("i",)))
    pick = lambda tag, k, *c: _pick(seed, f"{name}.{tag}", k, *(c or ("i",)))
    money = lambda tag, lo, hi: _money(seed, f"{name}.{tag}", lo, hi)
    rng = f"FROM range({n}) t(i)"
    if name == "customer":
        return (f"SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, "
                f"CAST({pick('nation', 25)} AS INTEGER) AS c_nationkey, "
                f"{money('bal', -1000, 10000)} AS c_acctbal, "
                f"(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])"
                f"[{pick('seg', 5)} + 1] AS c_mktsegment {rng}")
    if name == "orders":
        return (f"SELECT i AS o_orderkey, {pick('cust', sizes['customer'])} AS o_custkey, "
                f"(['F', 'O', 'P'])[{pick('status', 3)} + 1] AS o_orderstatus, "
                f"{money('price', 1000, 500000)} AS o_totalprice, "
                f"CAST(DATE '1995-01-01' + CAST({pick('date', 2404)} AS INTEGER) AS TIMESTAMP) AS o_orderdate, "
                f"(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])"
                f"[{pick('prio', 5)} + 1] AS o_orderpriority {rng}")
    if name == "lineitem":
        return (f"SELECT {pick('order', sizes['orders'])} AS l_orderkey, "
                f"{pick('part', sizes['part'])} AS l_partkey, "
                f"{pick('supp', sizes['supplier'])} AS l_suppkey, "
                f"CAST({pick('line', 7)} + 1 AS INTEGER) AS l_linenumber, "
                f"CAST({pick('qty', 50)} + 1 AS DOUBLE) AS l_quantity, "
                f"{money('price', 900, 105000)} AS l_extendedprice, "
                f"{pick('disc', 11)} / 100.0 AS l_discount, "
                f"{pick('tax', 9)} / 100.0 AS l_tax, "
                f"(['A', 'N', 'R'])[{pick('flag', 3)} + 1] AS l_returnflag, "
                f"(['F', 'O'])[{pick('status', 2)} + 1] AS l_linestatus, "
                f"CAST(DATE '1995-01-02' + CAST({pick('ship', 2498)} AS INTEGER) AS TIMESTAMP) AS l_shipdate "
                f"{rng}")
    if name == "documents":
        words = (f"array_to_string(list_transform(range(10 + {pick('len', 90)}), "
                 f"j -> ({_lst(VOCAB)})[{_pick(seed, 'documents.word', 30, 'i', 'j')} + 1]), ' ')")
        # exactly 5% of rows (as in the shipped tables), drawn by the seed,
        # are a copy of another row's base text plus " dup"
        return (f"WITH b AS (SELECT i AS b, {words} AS text FROM range({n}) t(i)), "
                f"r AS (SELECT i, row_number() OVER (ORDER BY {u('isdup')}, i) <= {n // 20} "
                f"AS isdup {rng}), "
                f"d AS (SELECT i AS doc_id, CASE WHEN isdup THEN {pick('src', n)} ELSE i END AS b, "
                f"CASE WHEN isdup THEN ' dup' ELSE '' END AS tail, "
                f"(['en', 'en', 'en', 'en', 'en', 'en', 'en', 'en', 'de', 'de', 'de', 'es', 'es', 'es', "
                f"'fr', 'fr', 'fr', 'zh', 'zh', 'zh'])[{pick('lang', 20)} + 1] AS lang FROM r) "
                f"SELECT doc_id, b.text || tail AS text, lang, 'src' || (doc_id % 20) AS source, "
                f"CAST(length(b.text || tail) AS BIGINT) AS n_chars "
                f"FROM d JOIN b USING (b) ORDER BY doc_id")
    raise ValueError(name)


def generate(out_dir, seed, sf, tables):
    """Write the named tables at scale factor `sf` and return their row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {t: max(1, int(round(n * sf))) for t, n in ROWS.items()}
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    counts = {}
    for t in tables:
        n = sizes[t]
        con.execute(f"COPY ({table_sql(t, n, seed, sizes)}) TO "
                    f"'{out_dir}/{t}.parquet' (FORMAT PARQUET)")
        counts[t] = n
    con.close()
    return counts
