"""Seeded synthetic inputs for the lake_scan and curation workloads.

The tables have the shapes of the engine's analytic test data
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), one parquet file each, written by DuckDB. Every
value is a hash of (row, seed, column), so one seed always gives the same
files. `sf` scales the TPC-H-like tables as in the engine's fixtures
(sf 0.01: 60,000 lineitem rows); documents and embeddings stay at 500.
"""
import os

import duckdb

VOCAB = ("the a fast slow big small key order sort table scan merge part window "
         "hash join batch stream spark group query row data filter customer line "
         "value column agg vector dup plan cache file lake commit snapshot delete "
         "schema field index page block chunk token").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _lit(xs):
    return "[" + ", ".join("'%s'" % x for x in xs) + "]"


def generate(out_dir, seed, sf, tables=None):
    os.makedirs(out_dir, exist_ok=True)
    seed = int(seed) % (2 ** 31)
    n_cust, n_ord, n_part, n_supp = (int(150000 * sf), int(1500000 * sf),
                                     int(200000 * sf), int(10000 * sf))
    n_events, n_docs = int(1000000 * sf), 500
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # u(i, c): uniform in [0, 1) from (row, seed, column salt)
    con.execute(f"CREATE MACRO u(i, c) AS "
                f"(hash(i, {seed}, c) % 1000000007)::DOUBLE / 1000000007")
    con.execute("CREATE MACRO pick(xs, i, c) AS "
                "xs[1 + (floor(u(i, c) * len(xs)))::INTEGER]")
    day = "INTERVAL 1 DAY"
    sql = {
        "region": "SELECT i::INTEGER AS r_regionkey, "
                  "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name "
                  "FROM range(5) t(i)",
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                  "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)",
        "customer": f"SELECT i::BIGINT AS c_custkey, printf('Customer#%09d', i) AS c_name, "
                    f"floor(u(i, 1) * 25)::INTEGER AS c_nationkey, "
                    f"round(u(i, 2) * 10991.69 - 994.28, 2) AS c_acctbal, "
                    f"pick({_lit(SEGMENTS)}, i, 3) AS c_mktsegment FROM range({n_cust}) t(i)",
        "supplier": f"SELECT i::BIGINT AS s_suppkey, printf('Supplier#%09d', i) AS s_name, "
                    f"floor(u(i, 1) * 25)::INTEGER AS s_nationkey, "
                    f"round(u(i, 2) * 10000, 2) AS s_acctbal FROM range({n_supp}) t(i)",
        "part": f"SELECT i::BIGINT AS p_partkey, "
                f"pick(['cold','small','large','red','blue','hot','old','new'], i, 1) || ' ' || "
                f"pick(['widget','bolt','gear','ring','gizmo','plate','anvil'], i, 2) AS p_name, "
                f"'Brand#' || (1 + floor(u(i, 3) * 25)::INTEGER) AS p_brand, "
                f"pick(['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO'], i, 4) AS p_type, "
                f"(1 + floor(u(i, 5) * 50))::INTEGER AS p_size, "
                f"round(900 + (i % 1000) / 10.0, 2) AS p_retailprice FROM range({n_part}) t(i)",
        "orders": f"SELECT i::BIGINT AS o_orderkey, floor(u(i, 1) * {n_cust})::BIGINT AS o_custkey, "
                  f"pick(['F','O','P'], i, 2) AS o_orderstatus, "
                  f"round(900 + u(i, 3) * 450000, 2) AS o_totalprice, "
                  f"TIMESTAMP '1995-01-01' + floor(u(i, 4) * 2404)::INTEGER * {day} AS o_orderdate, "
                  f"pick(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'], i, 5) "
                  f"AS o_orderpriority FROM range({n_ord}) t(i)",
        "lineitem": f"SELECT (i // 4)::BIGINT AS l_orderkey, "
                    f"floor(u(i, 1) * {n_part})::BIGINT AS l_partkey, "
                    f"floor(u(i, 2) * {n_supp})::BIGINT AS l_suppkey, "
                    f"(i % 4 + 1)::INTEGER AS l_linenumber, "
                    f"(1 + floor(u(i, 3) * 50))::DOUBLE AS l_quantity, "
                    f"round((1 + floor(u(i, 3) * 50)) * (900 + u(i, 4) * 1200), 2) "
                    f"AS l_extendedprice, "
                    f"floor(u(i, 5) * 11) / 100 AS l_discount, "
                    f"floor(u(i, 6) * 9) / 100 AS l_tax, "
                    f"pick(['A','N','R'], i, 7) AS l_returnflag, "
                    f"pick(['F','O'], i, 8) AS l_linestatus, "
                    f"TIMESTAMP '1995-01-02' + floor(u(i, 9) * 2498)::INTEGER * {day} "
                    f"AS l_shipdate FROM range({4 * n_ord}) t(i)",
        "events": f"SELECT i::BIGINT AS event_id, "
                  f"TIMESTAMP '2024-01-01' + to_microseconds(floor(u(i, 1) * 2592000000000)::BIGINT) AS ts, "
                  f"floor(u(i, 2) * 150)::BIGINT AS user_id, "
                  f"pick(['click','signup','error','view','purchase'], i, 3) AS event_type, "
                  f"round(0.01 + u(i, 4) * 490, 2) AS value, "
                  f"'{{\"k\": ' || floor(u(i, 5) * 100)::INTEGER || '}}' AS props "
                  f"FROM range({n_events}) t(i) ORDER BY ts",
        # every tenth document repeats its predecessor's words but the
        # last, so the dedup keys find near-duplicates
        "documents": f"SELECT i::BIGINT AS doc_id, text, "
                     f"pick(['en','en','en','zh','de','es','fr'], i, 1) AS lang, "
                     f"'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars FROM ("
                     f"SELECT i, array_to_string(list_transform(range(n), "
                     f"j -> CASE WHEN j = n - 1 THEN pick({_lit(VOCAB)}, i, 100 + j) "
                     f"ELSE pick({_lit(VOCAB)}, b, 100 + j) END), ' ') AS text FROM ("
                     f"SELECT i, CASE WHEN i % 10 = 9 THEN i - 1 ELSE i END AS b, "
                     f"(20 + floor(u(CASE WHEN i % 10 = 9 THEN i - 1 ELSE i END, 2) * 80))"
                     f"::INTEGER AS n FROM range({n_docs}) t(i)))",
        "embeddings": f"SELECT i::BIGINT AS vec_id, "
                      f"list_transform(range(64), j -> ((u(i, 10 + j) * 2 - 1) * 0.25)::FLOAT) "
                      f"AS embedding, floor(u(i, 1) * 10)::INTEGER AS label "
                      f"FROM range({n_docs}) t(i)",
    }
    for name in tables or sql:
        path = os.path.join(out_dir, name + ".parquet")
        con.execute(f"COPY ({sql[name]}) TO '{path}' (FORMAT PARQUET)")
    con.close()
