#!/usr/bin/env python3
"""Seeded generator for the TPC-H-ish tables the registered queries read
(`region nation customer supplier part orders lineitem events documents
embeddings`, one parquet file each), with the column types and value ranges
of the schemas in FIXTURES.md section C.

Every value is a hash of (seed, table, row, column), computed by DuckDB on
one thread, so the same seed writes byte-identical files.

Usage: python3 gen_tpch.py <out_dir> <seed> <scale_factor>
"""
import os
import sys

import duckdb

WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()


def tables(sf: float) -> dict:
    k = sf / 0.001
    return {
        "customer": int(150 * k), "supplier": int(10 * k), "part": int(200 * k),
        "orders": int(1500 * k), "events": int(1000 * k),
        "documents": max(500, int(50 * k)), "embeddings": max(500, int(20 * k)),
    }


def generate(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = tables(sf)
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("SET TimeZone='UTC'")
    # u(t, i, c): uniform [0,1) from (seed, table, row, column)
    con.execute(f"""CREATE MACRO u(t, i, c) AS
        (hash({seed}, t, i, c) % 1000000007) / 1000000007.0""")
    con.execute("CREATE TABLE words(k INTEGER, w VARCHAR)")
    con.executemany("INSERT INTO words VALUES (?, ?)", list(enumerate(WORDS)))
    stmts = {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            floor(u('c', i, 1) * 25)::INTEGER AS c_nationkey,
            round(u('c', i, 2) * 11000 - 1000, 2) AS c_acctbal,
            ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][1 + floor(u('c', i, 3) * 5)::INTEGER] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            floor(u('s', i, 1) * 25)::INTEGER AS s_nationkey,
            round(u('s', i, 2) * 11000 - 1000, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            ['small','red','blue','green','large','tiny','shiny','old'][1 + floor(u('p', i, 1) * 8)::INTEGER]
              || ' ' || ['ring','widget','bolt','anvil','gear','nut','spring','valve'][1 + floor(u('p', i, 2) * 8)::INTEGER] AS p_name,
            'Brand#' || (1 + floor(u('p', i, 3) * 25)::INTEGER) AS p_brand,
            ['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO'][1 + floor(u('p', i, 4) * 6)::INTEGER] AS p_type,
            (1 + floor(u('p', i, 5) * 50))::INTEGER AS p_size,
            round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, floor(u('o', i, 1) * {n['customer']})::BIGINT AS o_custkey,
            ['F','O','P'][1 + floor(u('o', i, 2) * 3)::INTEGER] AS o_orderstatus,
            round(1000 + u('o', i, 3) * 499000, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(floor(u('o', i, 4) * 2404)::INTEGER) AS o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1 + floor(u('o', i, 5) * 5)::INTEGER] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT o AS l_orderkey, floor(u('l', o * 8 + j, 1) * {n['part']})::BIGINT AS l_partkey,
            floor(u('l', o * 8 + j, 2) * {n['supplier']})::BIGINT AS l_suppkey,
            (j + 1)::INTEGER AS l_linenumber,
            (1 + floor(u('l', o * 8 + j, 3) * 50))::DOUBLE AS l_quantity,
            round(900 + u('l', o * 8 + j, 4) * 104100, 2) AS l_extendedprice,
            floor(u('l', o * 8 + j, 5) * 11) / 100.0 AS l_discount,
            floor(u('l', o * 8 + j, 6) * 9) / 100.0 AS l_tax,
            ['A','N','R'][1 + floor(u('l', o * 8 + j, 7) * 3)::INTEGER] AS l_returnflag,
            ['F','O'][1 + floor(u('l', o * 8 + j, 8) * 2)::INTEGER] AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(floor(u('l', o * 8 + j, 9) * 2498)::INTEGER) AS l_shipdate
            FROM range({n['orders']}) a(o), range(7) b(j)
            WHERE j < 1 + floor(u('n', o, 0) * 7)""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds((i * 2592000000000 // {n['events']})::BIGINT
              + floor(u('e', i, 1) * 100000)::BIGINT) AS ts,
            floor(u('e', i, 2) * {max(15, n['customer'] // 10)})::BIGINT AS user_id,
            ['click','signup','error','view','purchase'][1 + floor(u('e', i, 3) * 5)::INTEGER] AS event_type,
            round(0.01 + u('e', i, 4) * 490, 2) AS value,
            '{{"k": ' || floor(u('e', i, 5) * 100)::INTEGER || '}}' AS props
            FROM range({n['events']}) t(i)""",
        # unit vectors around one random centre per label
        "embeddings": f"""SELECT vec_id,
            list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding,
            label
            FROM (SELECT i AS vec_id, (i % 10)::INTEGER AS label,
                list_transform(range(64), d -> u('v', i, d) - 0.5 + 0.8 * (u('c', i % 10, d) - 0.5)) AS v
                FROM range({n['embeddings']}) t(i))""",
    }
    # documents: bags of words; every fifth one copies an earlier document
    # with one word changed, so the near-duplicate queries find clusters
    ndoc = n["documents"]
    stmts["documents"] = f"""WITH toks AS (
            SELECT i, j, w FROM range({ndoc}) t(i), range(88) r(j), words
            WHERE j < 8 + floor(u('d', i, 999) * 80)
              AND k = floor(u('d', i, j) * {len(WORDS)})),
        base AS (SELECT i, string_agg(w, ' ' ORDER BY j) AS text FROM toks GROUP BY i),
        docs AS (
            SELECT b.i, CASE WHEN b.i % 5 = 4 THEN o.text || ' ' || x.w ELSE b.text END AS text
            FROM base b LEFT JOIN base o ON o.i = b.i - 4
              LEFT JOIN words x ON x.k = b.i % {len(WORDS)})
        SELECT i AS doc_id, text,
            ['en','en','en','de','fr','es','zh'][1 + floor(u('g', i, 1) * 7)::INTEGER] AS lang,
            'src' || floor(u('g', i, 2) * 20)::INTEGER AS source,
            length(text)::BIGINT AS n_chars
        FROM docs"""
    for name, sql in stmts.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY (SELECT * FROM ({sql}) ORDER BY 1) TO '{path}' (FORMAT PARQUET)")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
