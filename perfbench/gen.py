"""Seeded input generator for the benchmark.

Writes the ten tables the engine's loaders read (`Tables.names`) as one
parquet file each, with the column names, types and value ranges of the
engine's reference fixtures (see FIXTURES.md). Every value is a pure
function of (seed, table, row, column), computed with DuckDB's `hash`,
so the same seed gives byte-identical tables whatever the thread count.

Usage: python3 perfbench/gen.py <out_dir> <sf> <seed>
"""
import os
import sys

import duckdb

# Row counts per scale factor, matching the reference fixtures.
SIZES = {
    "0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                lineitem=600000, events=100000, documents=5000,
                embeddings=2000),
}

VOCAB = ("the a data spark query row column table join filter group agg "
         "sort merge hash scan key value order part line customer window "
         "stream batch vector big small fast slow").split()
ADJ = "blue cold hot red small new old large".split()
NOUN = "ring plate gear rod bolt anvil widget".split()


def _u(seed, tag, i="i"):
    """Uniform double in [0, 1) from (seed, tag, row)."""
    return f"((hash({seed}, '{tag}', {i}) % 1000003) / 1000003.0)"


def _pick(seed, tag, items, i="i"):
    arr = "[" + ",".join(f"'{x}'" for x in items) + "]"
    return f"{arr}[1 + CAST(hash({seed}, '{tag}', {i}) % {len(items)} AS INTEGER)]"


def _int(seed, tag, lo, hi, i="i"):
    """Integer in [lo, hi]."""
    return f"CAST({lo} + hash({seed}, '{tag}', {i}) % {hi - lo + 1} AS BIGINT)"


def generate(out_dir, sf, seed):
    n = SIZES[sf]
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def write(name, sql):
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")

    write("region", """SELECT CAST(i AS INTEGER) AS r_regionkey,
        ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
        FROM range(5) t(i)""")
    write("nation", """SELECT CAST(i AS INTEGER) AS n_nationkey,
        'NATION_' || i AS n_name, CAST(i % 5 AS INTEGER) AS n_regionkey
        FROM range(25) t(i)""")
    write("customer", f"""SELECT i AS c_custkey,
        'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
        CAST({_int(seed, 'c_nat', 0, 24)} AS INTEGER) AS c_nationkey,
        round(-999.99 + {_u(seed, 'c_bal')} * 10999.8, 2) AS c_acctbal,
        {_pick(seed, 'c_seg', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment
        FROM range({n['customer']}) t(i)""")
    write("supplier", f"""SELECT i AS s_suppkey,
        'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
        CAST({_int(seed, 's_nat', 0, 24)} AS INTEGER) AS s_nationkey,
        round(-999.99 + {_u(seed, 's_bal')} * 10999.8, 2) AS s_acctbal
        FROM range({n['supplier']}) t(i)""")
    write("part", f"""SELECT i AS p_partkey,
        {_pick(seed, 'p_adj', ADJ)} || ' ' || {_pick(seed, 'p_noun', NOUN)} AS p_name,
        'Brand#' || {_int(seed, 'p_brand', 1, 25)} AS p_brand,
        {_pick(seed, 'p_type', ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type,
        CAST({_int(seed, 'p_size', 1, 50)} AS INTEGER) AS p_size,
        round(900.0 + (i % 1000) * 0.1, 1) AS p_retailprice
        FROM range({n['part']}) t(i)""")
    write("orders", f"""SELECT i AS o_orderkey,
        {_int(seed, 'o_cust', 0, n['customer'] - 1)} AS o_custkey,
        {_pick(seed, 'o_status', ['F', 'O', 'P'])} AS o_orderstatus,
        round(1000.0 + {_u(seed, 'o_price')} * 499000.0, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + INTERVAL 1 DAY * {_int(seed, 'o_date', 0, 2404)} AS o_orderdate,
        {_pick(seed, 'o_prio', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority
        FROM range({n['orders']}) t(i)""")
    write("lineitem", f"""SELECT
        {_int(seed, 'l_order', 0, n['orders'] - 1)} AS l_orderkey,
        {_int(seed, 'l_part', 0, n['part'] - 1)} AS l_partkey,
        {_int(seed, 'l_supp', 0, n['supplier'] - 1)} AS l_suppkey,
        CAST({_int(seed, 'l_line', 1, 7)} AS INTEGER) AS l_linenumber,
        CAST({_int(seed, 'l_qty', 1, 50)} AS DOUBLE) AS l_quantity,
        round({_int(seed, 'l_qty', 1, 50)} * (900.0 + {_u(seed, 'l_px')} * 1200.0), 2) AS l_extendedprice,
        {_int(seed, 'l_disc', 0, 10)} / 100.0 AS l_discount,
        {_int(seed, 'l_tax', 0, 8)} / 100.0 AS l_tax,
        {_pick(seed, 'l_rf', ['A', 'N', 'R'])} AS l_returnflag,
        {_pick(seed, 'l_ls', ['F', 'O'])} AS l_linestatus,
        TIMESTAMP '1995-01-02' + INTERVAL 1 DAY * {_int(seed, 'l_date', 0, 2497)} AS l_shipdate
        FROM range({n['lineitem']}) t(i)""")
    # events: ts ascending with event_id over 30 days, exponential values
    n_users = max(15, n["customer"] // 10)
    write("events", f"""SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(
          CAST((i + {_u(seed, 'e_ts')}) * (2592000000000.0 / {n['events']}) AS BIGINT)) AS ts,
        {_int(seed, 'e_user', 0, n_users - 1)} AS user_id,
        {_pick(seed, 'e_type', ['click', 'error', 'purchase', 'signup', 'view'])} AS event_type,
        round(-50.0 * ln(1.0 - {_u(seed, 'e_val')}), 2) AS value,
        '{{"k": ' || {_int(seed, 'e_k', 0, 99)} || '}}' AS props
        FROM range({n['events']}) t(i)""")
    # documents: random token strings over the fixture vocabulary; 5 %
    # are "<another doc's text> dup" near-duplicates, the source drawn
    # from all docs, as in the reference fixtures (README: Inputs)
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    nd = n["documents"]
    write("documents", f"""WITH base AS (
          SELECT i, array_to_string(list_transform(
            range(CAST({_int(seed, 'd_len', 10, 99)} AS BIGINT)),
            j -> {vocab}[1 + CAST(hash({seed}, 'd_tok', i, j) % {len(VOCAB)} AS INTEGER)]),
            ' ') AS text
          FROM range({nd}) t(i)),
        role AS (
          SELECT i, {_u(seed, 'd_role')} AS r,
            CAST((i + 1 + hash({seed}, 'd_src', i) % {nd - 1}) % {nd} AS BIGINT) AS j
          FROM range({nd}) t(i)),
        docs AS (
          SELECT r.i AS doc_id,
            CASE WHEN r.r < 0.05 THEN o.text || ' dup' ELSE b.text END AS text
          FROM role r JOIN base b ON b.i = r.i JOIN base o ON o.i = r.j)
        SELECT doc_id, text,
          CASE WHEN {_u(seed, 'd_lang', 'doc_id')} < 0.41 THEN 'en'
               ELSE {_pick(seed, 'd_lang2', ['de', 'es', 'fr', 'zh'], 'doc_id')} END AS lang,
          'src' || (doc_id % 20) AS source,
          CAST(length(text) AS BIGINT) AS n_chars
        FROM docs ORDER BY doc_id""")
    # embeddings: i.i.d. normal components scaled to unit length, and a
    # label drawn apart from the vector, as in the reference fixtures
    write("embeddings", f"""WITH raw AS (
          SELECT i, list_transform(range(64), j ->
              sqrt(-2.0 * ln(1.0 - ((hash({seed}, 'v_a', i, j) % 1000003) / 1000003.0)))
                * cos(2 * pi() * ((hash({seed}, 'v_b', i, j) % 1000003) / 1000003.0)))
              AS v
          FROM range({n['embeddings']}) t(i))
        SELECT i AS vec_id,
          CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS FLOAT[]) AS embedding,
          CAST(hash({seed}, 'v_label', i) % 10 AS INTEGER) AS label
        FROM raw ORDER BY i""")
    con.close()


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <out_dir> <sf> <seed>")
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
