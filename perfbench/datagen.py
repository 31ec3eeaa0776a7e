"""Generator for the benchmark's input tables.

Writes the ten tables the catalog reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the schemas, value ranges, key ratios and text vocabulary of the
sf0.1 test fixtures. Every value is a hash of (row id, column salt), so the
tables are byte-identical on every run.

It derives from tools/make_sf.py (same hash macros, column salts and table
SQL) and differs in three ways: region and nation are synthesized here
instead of copied from an existing fixture directory, events get `event_id`
in time order, and every hash carries a fixed offset, so the draw is not
make_sf.py's. The benchmark keeps its own copy so that it builds its inputs
from its own directory.

`landing` replays the events table as time-ordered files for the stream
workload.

Usage: python3 perfbench/datagen.py <outdir> [--sf 0.1]
"""
import argparse
import os
import shutil
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]


def _sql(sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_evt = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_usr = int(50_000 * sf), int(20_000 * sf), max(1, int(15_000 * sf))
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    words = f"""list_transform(range(8 + pick(src, 31, 89)), j ->
        CASE WHEN mix(src * 131 + j, 32) % 1000 = 0 THEN 'dup'
             ELSE {vocab}[1 + CAST(mix(src * 131 + j, 33) % 30 AS INTEGER)] END)"""
    return {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey,
            'NATION_' || i AS n_name, CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
            pick(i, 1, 25) AS c_nationkey,
            floor((-1000 + 11000 * u01(i, 2)) * 100 + 0.5) / 100 AS c_acctbal,
            ['AUTOMOBILE','MACHINERY','BUILDING','HOUSEHOLD','FURNITURE'][1 + pick(i, 3, 5)]
              AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
            pick(i, 4, 25) AS s_nationkey,
            floor((-1000 + 11000 * u01(i, 5)) * 100 + 0.5) / 100 AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            ['large','hot','blue','dark','small','shiny','plain','round'][1 + pick(i, 6, 8)]
              || ' ' || ['ring','bolt','screw','washer','plate','gear','rod','cap'][1 + pick(i, 7, 8)]
              AS p_name,
            'Brand#' || CAST(1 + pick(i, 8, 25) AS VARCHAR) AS p_brand,
            ['LARGE','STANDARD','PROMO','MEDIUM','SMALL','ECONOMY'][1 + pick(i, 9, 6)] AS p_type,
            1 + pick(i, 10, 50) AS p_size,
            900.0 + (i % 1000) / 10.0 AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey,
            CAST(mix(i, 11) % {n_cust} AS BIGINT) AS o_custkey,
            ['F','O','P'][1 + pick(i, 12, 3)] AS o_orderstatus,
            floor((1000 + 499000 * u01(i, 13)) * 100 + 0.5) / 100 AS o_totalprice,
            TIMESTAMP '1995-01-01' + INTERVAL (pick(i, 14, 2404)) DAY AS o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1 + pick(i, 15, 5)]
              AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""WITH o AS (
              SELECT i AS okey,
                TIMESTAMP '1995-01-01' + INTERVAL (pick(i, 14, 2404)) DAY AS odate,
                1 + pick(i, 16, 7) AS nlines
              FROM range({n_ord}) t(i)),
            l AS (SELECT okey, odate, ln, okey * 7 + ln AS k
              FROM o, LATERAL unnest(range(1, nlines + 1)) u(ln))
            SELECT okey AS l_orderkey,
              CAST(mix(k, 17) % {n_part} AS BIGINT) AS l_partkey,
              CAST(mix(k, 18) % {n_supp} AS BIGINT) AS l_suppkey,
              CAST(ln AS INTEGER) AS l_linenumber,
              CAST(1 + pick(k, 19, 50) AS DOUBLE) AS l_quantity,
              floor((900 + 104100 * u01(k, 20)) * 100 + 0.5) / 100 AS l_extendedprice,
              pick(k, 21, 11) / 100.0 AS l_discount,
              pick(k, 22, 9) / 100.0 AS l_tax,
              ['A','N','R'][1 + pick(k, 23, 3)] AS l_returnflag,
              ['O','F'][1 + pick(k, 24, 2)] AS l_linestatus,
              odate + INTERVAL (pick(k, 25, 95)) DAY AS l_shipdate
            FROM l ORDER BY l_orderkey, l_linenumber""",
        # 30 days of 2024-01 at microsecond resolution, event ids in time
        # order (the stream workload replays the table by ts range)
        "events": f"""WITH e AS (
              SELECT i,
                TIMESTAMP '2024-01-01' + INTERVAL
                  (CAST(mix(i, 26) % (30::BIGINT * 86400 * 1000000) AS BIGINT)) MICROSECOND AS ts
              FROM range({n_evt}) t(i))
            SELECT row_number() OVER (ORDER BY ts, i) - 1 AS event_id, ts,
              CAST(mix(i, 27) % {n_usr} AS BIGINT) AS user_id,
              ['view','click','signup','purchase','error'][1 + pick(i, 28, 5)] AS event_type,
              floor(600 * u01(i, 29) * 100 + 0.5) / 100 AS value,
              '{{"k": ' || CAST(pick(i, 30, 100) AS VARCHAR) || '}}' AS props
            FROM e ORDER BY ts, i""",
        # ~0.17% exact duplicates: their text is drawn from the previous id
        "documents": f"""WITH d AS (
              SELECT i, CASE WHEN mix(i, 35) % 600 = 0 AND i > 0 THEN i - 1 ELSE i END AS src
              FROM range({n_doc}) t(i)),
            w AS (SELECT i, array_to_string({words}, ' ') AS text FROM d)
            SELECT i AS doc_id, text,
              ['en','en','en','en','fr','es','zh','de','en','fr'][1 + pick(i, 34, 10)] AS lang,
              'src' || CAST(i % 20 AS VARCHAR) AS source,
              CAST(length(text) AS BIGINT) AS n_chars
            FROM w ORDER BY i""",
        "embeddings": f"""WITH raw AS (
              SELECT i, list_transform(range(64), j -> u01(i * 64 + j, 36) - 0.5) AS x
              FROM range({n_emb}) t(i))
            SELECT i AS vec_id,
              CAST(list_transform(x, v -> v / sqrt(list_dot_product(x, x))) AS FLOAT[]) AS embedding,
              CAST(pick(i, 37, 10) AS INTEGER) AS label
            FROM raw ORDER BY i""",
    }


def connect(near):
    """A small in-memory DuckDB that spills, if at all, beside `near`."""
    return duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                  "temp_directory": near + ".duckdb_tmp"})


def generate(out, sf=0.1):
    """Write the tables into `out` unless a complete set is already there."""
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = connect(out)
    # the offset 1000003 fixes the draw the workload memberships were probed on
    con.execute("""
        CREATE MACRO mix(i, salt) AS
          CAST(hash(CAST(i AS BIGINT) * 2654435761 + salt * 40503 + 1000003) AS UBIGINT);
        CREATE MACRO u01(i, salt) AS (mix(i, salt) % 1000000007) / 1000000007.0;
        CREATE MACRO pick(i, salt, n) AS CAST(mix(i, salt) % n AS INTEGER);
    """)
    for name, sql in _sql(sf).items():
        con.execute(f"COPY ({sql}) TO '{tmp}/{name}.parquet' (FORMAT PARQUET)")
    con.close()
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def landing(fixture, out, files, rows_per_file):
    """Replay the events table as `files` time-ordered parquet files with
    strictly increasing modification times (the file source's replay order)."""
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    ev = os.path.join(tmp, "events.parquet")
    os.makedirs(ev)
    con = connect(out)
    con.execute(f"CREATE VIEW e AS SELECT * FROM '{fixture}/events.parquet' "
                f"ORDER BY ts, event_id LIMIT {files * rows_per_file}")
    t0 = time.time() - 3600
    for i in range(files):
        path = os.path.join(ev, f"part-{i:05d}.parquet")
        con.execute(f"COPY (SELECT * FROM e LIMIT {rows_per_file} OFFSET {i * rows_per_file}) "
                    f"TO '{path}' (FORMAT PARQUET)")
        os.utime(path, (t0 + i, t0 + i))
    con.close()
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.1)
    a = ap.parse_args()
    print(generate(a.out, a.sf))
