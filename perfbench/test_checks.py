"""Shows that each correctness check rejects a corrupted output.

Run: python3 perfbench/test_checks.py
"""
import json
import os
import shutil
import sys
import tempfile
import time
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402


def write_collection(path, lo, hi, ts, extra="", select=None):
    """A collection as the connector writes it: ids [lo, hi) with the
    mock's closed-form fields."""
    os.makedirs(path, exist_ok=True)
    cols = select or f"""i AS id, 'user_' || i AS user_name,
        {{'k': i % 7}} AS _meta, (i * 10) % 97 AS value,
        to_timestamp({ts}) AS ingested_at"""
    duckdb.sql(f"COPY (SELECT {cols} FROM range({lo}, {hi}) t(i) {extra}) "
               f"TO '{path}/part-0.parquet' (FORMAT PARQUET)")


class ConnectorChecks(unittest.TestCase):
    PS, PAGES, FAIL = 10, 8, 4

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.t0 = time.time() - 5
        self.t1 = time.time() + 5
        self.now = time.time()
        self.passes = [
            {"pass": "append", "first_page": 2, "pages": self.PAGES,
             "page_size": self.PS, "fail_every": self.FAIL, "rows": 80,
             "requests": self.PAGES + 2},
            {"pass": "upsert", "first_page": 6, "pages": self.PAGES,
             "page_size": self.PS, "fail_every": self.FAIL, "rows": 120,
             "requests": self.PAGES + 2}]

    def tearDown(self):
        shutil.rmtree(self.dir)

    def run_check(self, append=None, upsert=None):
        write_collection(f"{self.dir}/append", 20, 100, self.now, **(append or {}))
        write_collection(f"{self.dir}/upsert", 20, 140, self.now, **(upsert or {}))
        return checks.check_connector(self.dir, self.passes, self.t0, self.t1)

    def test_correct_output_passes(self):
        self.assertEqual(self.run_check(), [])

    def test_missing_id_rejected(self):
        self.assertTrue(self.run_check(append={"extra": "WHERE i <> 50"}))

    def test_duplicate_id_rejected(self):
        self.assertTrue(self.run_check(
            upsert={"extra": "UNION ALL SELECT 60, 'user_60', {'k': 4}, 18, "
                             f"to_timestamp({self.now})"}))

    def test_wrong_value_rejected(self):
        self.assertTrue(self.run_check(append={"select": f"""i AS id,
            'user_' || i AS user_name, (i * 10) % 96 AS value,
            to_timestamp({self.now}) AS ingested_at"""}))

    def test_wrong_user_name_rejected(self):
        self.assertTrue(self.run_check(append={"select": f"""i AS id,
            'user' || i AS user_name, (i * 10) % 97 AS value,
            to_timestamp({self.now}) AS ingested_at"""}))

    def test_illegal_column_name_rejected(self):
        self.assertTrue(self.run_check(append={"select": f"""i AS id,
            'user_' || i AS user_name, {{'k': i % 7}} AS "$meta",
            (i * 10) % 97 AS value, to_timestamp({self.now}) AS ingested_at"""}))
        self.assertTrue(self.run_check(append={"select": f"""i AS id,
            'user_' || i AS "user.name", (i * 10) % 97 AS value,
            to_timestamp({self.now}) AS ingested_at"""}))

    def test_null_or_stale_ingested_at_rejected(self):
        self.assertTrue(self.run_check(append={"select": """i AS id,
            'user_' || i AS user_name, (i * 10) % 97 AS value,
            CAST(NULL AS TIMESTAMPTZ) AS ingested_at"""}))
        self.assertTrue(self.run_check(append={"select": f"""i AS id,
            'user_' || i AS user_name, (i * 10) % 97 AS value,
            to_timestamp({self.now - 3600}) AS ingested_at"""}))

    def test_upsert_missing_a_window_rejected(self):
        self.assertTrue(self.run_check(upsert={"extra": "WHERE i >= 60"}))

    def test_unretried_429s_rejected(self):
        # a pass that did not reset the mock retries nothing
        self.passes[1]["requests"] = self.PAGES
        self.assertTrue(self.run_check())


class QueryChecks(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.data = f"{self.dir}/data"
        self.out = f"{self.dir}/out"
        os.makedirs(self.data)
        os.makedirs(self.out)
        texts = {
            0: "a b c d e f g h i j",
            1: "a b c d e f g h i j dup",
            2: "k l m n o p q r s t",
            3: "a b c d e f g h i j dup dup",
            4: "u v w x y z u v w x",
        }
        rows = ",".join(f"({k}, '{v}')" for k, v in texts.items())
        duckdb.sql(f"COPY (SELECT * FROM (VALUES {rows}) t(doc_id, text)) "
                   f"TO '{self.data}/documents.parquet' (FORMAT PARQUET)")
        for t in checks.TABLES:
            if t != "documents":
                duckdb.sql(f"COPY (SELECT 1 AS x) TO '{self.data}/{t}.parquet' "
                           "(FORMAT PARQUET)")
        with open(f"{self.out}/oracle_sql.json", "w") as f:
            json.dump({"q_len": "SELECT doc_id, length(text) AS n FROM documents"}, f)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def result(self, name, sql):
        os.makedirs(f"{self.out}/{name}", exist_ok=True)
        duckdb.sql(f"COPY ({sql}) TO '{self.out}/{name}/part-0.parquet' (FORMAT PARQUET)")

    def check(self, name):
        return checks.check_queries(self.out, self.data, [name])

    def test_oracle_match_passes(self):
        self.result("q_len", f"SELECT doc_id, length(text) AS n "
                             f"FROM '{self.data}/documents.parquet'")
        self.assertEqual(self.check("q_len"), [])

    def test_oracle_mismatch_rejected(self):
        self.result("q_len", f"SELECT doc_id, length(text) + (doc_id = 2)::INT AS n "
                             f"FROM '{self.data}/documents.parquet'")
        self.assertTrue(self.check("q_len"))
        self.result("q_len", f"SELECT doc_id, length(text) AS n "
                             f"FROM '{self.data}/documents.parquet' WHERE doc_id > 0")
        self.assertTrue(self.check("q_len"))

    def test_clusters_pass(self):
        self.result("x20_dedup_clusters",
                    "SELECT * FROM (VALUES (0, 0), (1, 0), (3, 0)) t(doc_id, cluster_rep)")
        self.assertEqual(self.check("x20_dedup_clusters"), [])

    def test_cluster_rep_not_smallest_rejected(self):
        self.result("x20_dedup_clusters",
                    "SELECT * FROM (VALUES (0, 1), (1, 1)) t(doc_id, cluster_rep)")
        self.assertTrue(self.check("x20_dedup_clusters"))

    def test_unlinked_cluster_member_rejected(self):
        self.result("x20_dedup_clusters",
                    "SELECT * FROM (VALUES (0, 0), (1, 0), (2, 0)) t(doc_id, cluster_rep)")
        self.assertTrue(self.check("x20_dedup_clusters"))

    def test_empty_output_rejected(self):
        self.result("x20_dedup_clusters",
                    "SELECT * FROM (VALUES (0, 0)) t(doc_id, cluster_rep) WHERE false")
        self.assertTrue(self.check("x20_dedup_clusters"))

    def test_all_singletons_rejected(self):
        self.result("x20_dedup_clusters",
                    "SELECT * FROM (VALUES (0, 0), (1, 1), (3, 3)) t(doc_id, cluster_rep)")
        self.assertTrue(self.check("x20_dedup_clusters"))

    def test_unknown_doc_id_rejected(self):
        self.result("x20_dedup_clusters",
                    "SELECT * FROM (VALUES (0, 0), (1, 0), (3, 0), (9, 9), (10, 9)) "
                    "t(doc_id, cluster_rep)")
        self.assertTrue(self.check("x20_dedup_clusters"))

    def test_split_planted_pair_rejected(self):
        # 0 and 1 are a text and the same text plus " dup"
        self.result("x20_dedup_clusters",
                    "SELECT * FROM (VALUES (1, 1), (3, 1)) t(doc_id, cluster_rep)")
        self.assertTrue(self.check("x20_dedup_clusters"))


if __name__ == "__main__":
    unittest.main()
