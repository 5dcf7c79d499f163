"""Correctness checks for the benchmark's workloads, computed in DuckDB
and Python apart from the engine.

Each check function takes the paths the JVM side wrote and returns a list
of failure messages; an empty list means the outputs are correct.
"""
import glob
import json
import os
import re

import duckdb


def _pq(path):
    return f"read_parquet('{path}/**/*.parquet')"


def _names(con, path):
    """Every field name, at every nesting level, of the parquet files."""
    names = set()
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        for (n,) in con.execute(
                f"SELECT name FROM parquet_schema('{f}')").fetchall():
            names.add(n)
    return names


# ---------------------------------------------------------------- connector

def planted_429s(first_page, pages, fail_every):
    """Pages of a window whose first request the mock answers with 429."""
    return sum(1 for p in range(first_page, first_page + pages)
               if p % fail_every == fail_every - 1)


def _check_collection(con, path, lo, hi, t_start, t_end, label):
    """The collection at `path` holds ids [lo, hi) once each, with the
    mock's closed-form values and ingestion times inside the run."""
    bad = []
    if not glob.glob(f"{path}/**/*.parquet", recursive=True):
        return [f"{label}: no parquet files under {path}"]
    names = _names(con, path)
    illegal = sorted(n for n in names if "." in n or "$" in n)
    if illegal:
        bad.append(f"{label}: illegal column names {illegal}")
    missing_cols = {"id", "user_name", "value", "ingested_at"} - names
    if missing_cols:
        return bad + [f"{label}: missing columns {sorted(missing_cols)}"]
    src = _pq(path)
    n, nd, missing, extra = con.execute(f"""
        SELECT (SELECT count(*) FROM {src}),
               (SELECT count(DISTINCT id) FROM {src}),
               (SELECT count(*) FROM range({lo}, {hi}) r(i)
                  WHERE i NOT IN (SELECT id FROM {src})),
               (SELECT count(*) FROM {src} WHERE id < {lo} OR id >= {hi})
        """).fetchone()
    if n != hi - lo or nd != n or missing or extra:
        bad.append(f"{label}: ids are not exactly [{lo}, {hi}) once each "
                   f"(rows={n}, distinct={nd}, missing={missing}, extra={extra})")
    wrong = con.execute(f"""SELECT count(*) FROM {src}
        WHERE value IS DISTINCT FROM (id * 10) % 97
           OR user_name IS DISTINCT FROM 'user_' || id""").fetchone()[0]
    if wrong:
        bad.append(f"{label}: {wrong} rows differ from value = id*10 mod 97, "
                   "user_name = user_<id>")
    nulls, lo_ts, hi_ts = con.execute(f"""SELECT
        count(*) FILTER (WHERE ingested_at IS NULL),
        min(epoch(ingested_at)), max(epoch(ingested_at)) FROM {src}""").fetchone()
    if nulls:
        bad.append(f"{label}: {nulls} rows with null ingested_at")
    elif lo_ts is None or lo_ts < t_start or hi_ts > t_end:
        bad.append(f"{label}: ingested_at [{lo_ts}, {hi_ts}] outside the run "
                   f"[{t_start}, {t_end}]")
    return bad


def check_connector(check_dir, passes, t_start, t_end):
    con = duckdb.connect()
    bad = []
    by = {p["pass"]: p for p in passes}
    if set(by) != {"append", "upsert"}:
        return [f"connector: expected an append and an upsert pass, got {sorted(by)}"]
    ps = by["append"]["page_size"]
    a_lo = by["append"]["first_page"] * ps
    a_hi = a_lo + by["append"]["pages"] * ps
    u_lo = by["upsert"]["first_page"] * ps
    u_hi = u_lo + by["upsert"]["pages"] * ps
    bad += _check_collection(con, f"{check_dir}/append", a_lo, a_hi,
                             t_start, t_end, "append")
    bad += _check_collection(con, f"{check_dir}/upsert", min(a_lo, u_lo),
                             max(a_hi, u_hi), t_start, t_end, "upsert")
    for p in passes:
        want = p["pages"] + planted_429s(p["first_page"], p["pages"], p["fail_every"])
        if p["requests"] != want:
            bad.append(f"{p['pass']}: {p['requests']} requests, expected "
                       f"{p['pages']} pages + planted 429s = {want}")
    return bad


# ------------------------------------------------------------- query sweep

def canon(rel):
    """tools/parity_check.py's comparison form: columns sorted by name,
    every value stringified, rows sorted."""
    df = rel.fetchdf()
    df = df[sorted(df.columns)]
    return list(df.columns), sorted(df.astype(str).itertuples(index=False, name=None))


def shingles(text):
    t = re.findall(r"[a-z0-9]+", text.lower())
    return {" ".join(t[i:i + 3]) for i in range(max(len(t) - 2, 0))}


def check_clusters(con, result, threshold=0.8):
    """x20's output (doc_id, cluster_rep) without the all-pairs oracle.

    - every doc_id is a document, listed once;
    - every cluster has at least two members (the oracle lists only docs
      with an edge);
    - each cluster's representative is its smallest id and a member;
    - the pairs of a cluster whose shingle Jaccard meets the threshold
      connect it;
    - the pairs the generator plants share a cluster: a text and the
      same text plus " dup" (Jaccard (n-2)/(n-1) >= 0.8 for n >= 6
      tokens), and two equal texts.

    Cost: the sum of squared cluster sizes, plus a hash join on text."""
    bad = []
    rows = con.execute(f"""SELECT r.doc_id, r.cluster_rep, d.text
        FROM {result} r LEFT JOIN documents d USING (doc_id)""").fetchall()
    if not rows:
        return ["no clusters"]
    unknown = [doc for doc, _, text in rows if text is None]
    if unknown:
        bad.append(f"{len(unknown)} doc_ids are not documents, e.g. {unknown[:5]}")
    clusters = {}
    for doc, rep, text in rows:
        if text is not None:
            clusters.setdefault(rep, []).append((doc, text))
    rep_of = {doc: rep for doc, rep, _ in rows}
    if len(rep_of) != len(rows):
        bad.append(f"{len(rows) - len(rep_of)} doc_ids listed more than once")
    for rep, members in clusters.items():
        ids = [m[0] for m in members]
        if len(set(ids)) < 2:
            bad.append(f"cluster {rep}: a single member")
            continue
        if rep != min(ids):
            bad.append(f"cluster {rep}: representative is not the smallest id "
                       f"of {sorted(ids)[:5]}")
            continue
        sh = {d: shingles(t) for d, t in members}
        seen, todo = {rep}, [rep]
        while todo:
            u = todo.pop()
            for v in ids:
                if v not in seen:
                    a, b = sh[u], sh[v]
                    if a and b and len(a & b) / len(a | b) >= threshold:
                        seen.add(v)
                        todo.append(v)
        if len(seen) != len(ids):
            bad.append(f"cluster {rep}: {len(ids) - len(seen)} members not "
                       f"linked by a pair with Jaccard >= {threshold}")
    planted = con.execute("""
        WITH d AS (SELECT doc_id, text,
                     len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n
                   FROM documents)
        SELECT a.doc_id, b.doc_id FROM d a JOIN d b
          ON b.text = a.text || ' dup' AND a.n >= 6
        UNION ALL
        SELECT a.doc_id, b.doc_id FROM d a JOIN d b
          ON b.text = a.text AND a.doc_id < b.doc_id AND a.n >= 3""").fetchall()
    split = [(a, b) for a, b in planted
             if a not in rep_of or rep_of.get(a) != rep_of.get(b)]
    if split:
        bad.append(f"{len(split)} of {len(planted)} planted near-duplicate pairs "
                   f"are not in one cluster, e.g. {split[:3]}")
    return bad


# Queries whose oracle embeds a brute-force all-pairs step: checked by a
# property linear in their output instead (see README).
PROPERTY_CHECKS = {"x20_dedup_clusters": check_clusters}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_queries(results_dir, data_dir, names):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    bad = []
    for name in names:
        d = os.path.join(results_dir, name)
        if not glob.glob(f"{d}/*.parquet"):
            bad.append(f"{name}: no result written")
            continue
        result = f"read_parquet('{d}/*.parquet')"
        if name in PROPERTY_CHECKS:
            bad += [f"{name}: {m}" for m in PROPERTY_CHECKS[name](con, result)]
            continue
        if name not in oracle:
            bad.append(f"{name}: no oracle")
            continue
        got_cols, got = canon(con.sql(f"SELECT * FROM {result}"))
        try:
            exp_cols, exp = canon(con.sql(oracle[name]))
        except duckdb.Error as e:
            bad.append(f"{name}: oracle error: {e}")
            continue
        if got_cols != exp_cols:
            bad.append(f"{name}: columns {got_cols} != {exp_cols}")
        elif len(got) != len(exp):
            bad.append(f"{name}: {len(got)} rows, oracle has {len(exp)}")
        elif got != exp:
            i = next(i for i, (g, e) in enumerate(zip(got, exp)) if g != e)
            bad.append(f"{name}: sorted row {i} differs: {got[i]} vs {exp[i]}")
    return bad
