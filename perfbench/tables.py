"""Seeded input tables for the `queries` workload.

Writes the ten tables the registered queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings),
one parquet file each, with the column names and types of the engine's
test-table layout. Every value is a hash of (seed, row, column), so the
same seed gives byte-identical tables. `scale` plays the role of a TPC-H
scale factor (1.0 = 6M lineitems).
"""
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a the data spark query table row column key value join group sort "
         "filter scan hash merge window stream batch line part order customer "
         "vector fast slow big small agg index cache shuffle plan commit log "
         "file page node edge graph rank score").split()


def generate(seed, scale, out_dir):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp = max(150, int(150_000 * scale)), max(10, int(10_000 * scale))
    n_part, n_ord = max(200, int(200_000 * scale)), max(1500, int(1_500_000 * scale))
    n_users, n_events = max(15, int(15_000 * scale)), max(1000, int(1_000_000 * scale))
    n_docs, n_vecs = max(50, int(50_000 * scale)), max(500, int(20_000 * scale))
    con = duckdb.connect()
    con.execute("SET threads = 2")
    # u(i, c): uniform [0, 1) from (seed, row, column); r(i, c, n): integer in [0, n)
    con.execute(f"CREATE MACRO u(i, c) AS (hash(i, c, {int(seed)}) % 1000003) / 1000003.0")
    con.execute("CREATE MACRO r(i, c, n) AS CAST(floor(u(i, c) * n) AS BIGINT)")
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    sql = {
        "region": """SELECT CAST(i AS INTEGER) r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) n_nationkey, 'NATION_' || i n_name,
            CAST(i % 5 AS INTEGER) n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') c_name,
            CAST(r(i, 1, 25) AS INTEGER) c_nationkey,
            round(u(i, 2) * 10999.99 - 999.99, 2) c_acctbal,
            ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][r(i, 3, 5) + 1] c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') s_name,
            CAST(r(i, 11, 25) AS INTEGER) s_nationkey,
            round(u(i, 12) * 10999.99 - 999.99, 2) s_acctbal FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i p_partkey,
            ['small','large','red','blue','hot','old','green','tiny'][r(i, 21, 8) + 1] || ' ' ||
            ['ring','widget','bolt','gear','gizmo','plate','nut','screw'][r(i, 22, 8) + 1] p_name,
            'Brand#' || (r(i, 23, 25) + 1) p_brand,
            ['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO'][r(i, 24, 6) + 1] p_type,
            CAST(r(i, 25, 50) + 1 AS INTEGER) p_size,
            round(900 + (i % 1000) / 10.0, 2) p_retailprice FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i o_orderkey, r(i, 31, {n_cust}) o_custkey,
            ['O','F','P'][r(i, 32, 3) + 1] o_orderstatus,
            round(1000 + u(i, 33) * 499000, 2) o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST(r(i, 34, 2404) AS INTEGER)) o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][r(i, 35, 5) + 1] o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT o l_orderkey, r(o * 8 + ln, 41, {n_part}) l_partkey,
            r(o * 8 + ln, 42, {n_supp}) l_suppkey, CAST(ln AS INTEGER) l_linenumber,
            CAST(r(o * 8 + ln, 43, 50) + 1 AS DOUBLE) l_quantity,
            round(900 + u(o * 8 + ln, 44) * 104100, 2) l_extendedprice,
            r(o * 8 + ln, 45, 11) / 100.0 l_discount, r(o * 8 + ln, 46, 9) / 100.0 l_tax,
            ['A','N','R'][r(o * 8 + ln, 47, 3) + 1] l_returnflag,
            ['F','O'][r(o * 8 + ln, 48, 2) + 1] l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(CAST(r(o * 8 + ln, 49, 2497) AS INTEGER)) l_shipdate
            FROM range({n_ord}) a(o), range(1, 8) b(ln) WHERE ln <= 1 + r(o, 40, 7)""",
        "events": f"""SELECT i event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(CAST(i * (2592000000000 // {n_events})
                + r(i, 51, 2592000000000 // {n_events}) AS BIGINT)) ts,
            r(i, 52, {n_users}) user_id,
            ['signup','click','error','view','purchase'][r(i, 53, 5) + 1] event_type,
            round(CASE WHEN u(i, 54) < 0.02 THEN 100 + u(i, 55) * 390 ELSE u(i, 55) * 100 END + 0.01, 2) "value",
            '{{"k": ' || r(i, 56, 100) || '}}' props FROM range({n_events}) t(i)""",
        "documents": f"""SELECT i doc_id, "text", lang, source, CAST(length("text") AS BIGINT) n_chars FROM (
            SELECT i, ['en','en','de','fr','es','zh'][r(i, 61, 6) + 1] lang, 'src' || r(i, 62, 20) source,
              array_to_string(list_transform(range(CAST(15 + r(i, 63, 50) AS BIGINT)),
                w -> {vocab}[r(CASE WHEN u(i, 64) < 0.1 THEN i // 2 ELSE i END * 97 + w, 65, {len(VOCAB)}) + 1]), ' ') "text"
            FROM range({n_docs}) t(i))""",
        "embeddings": f"""SELECT i vec_id, list_transform(v, x -> CAST(x / sqrt(list_sum(list_transform(v, y -> y * y))) AS FLOAT)) embedding,
            CAST(lbl AS INTEGER) AS "label" FROM (
              SELECT i, r(i, 71, 10) AS lbl,
                list_transform(range(64), d -> (u(r(i, 71, 10) * 64 + d, 72) - 0.5) + 0.6 * (u(i * 64 + d, 73) - 0.5)) v
              FROM range({n_vecs}) t(i))""",
    }
    for t in TABLES:
        con.execute(f"COPY ({sql[t]}) TO '{out / (t + '.parquet')}' (FORMAT parquet)")
    con.close()
