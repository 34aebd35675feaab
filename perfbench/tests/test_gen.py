"""Checks the seeded generator against the FIXTURES.md contract.

    python3 -m unittest discover -s perfbench/tests

Every workload's seed-42 tables must have the fixture schema (arrow types,
naive µs timestamps), the fixture value domains, referential integrity and
one file per table; the same seed must give the same logical content.
"""
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import run  # noqa: E402

TS = pa.timestamp("us")
SCHEMA = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", TS), ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", TS)],
    "events": [("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
               ("event_type", pa.string()), ("value", pa.float64()),
               ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}


def q(con, sql):
    return con.execute(sql).fetchall()


class GeneratorContract(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-gen-")
        cls.dirs = {}
        for name, w in run.WORKLOADS.items():
            d = os.path.join(cls.tmp, name)
            cls.dirs[name] = (d, gen.generate(d, 42, **w["shape"]))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def con(self, d):
        c = duckdb.connect()
        for t in gen.TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                      f"'{os.path.join(d, t)}.parquet'")
        return c

    def test_one_file_per_table_with_fixture_types(self):
        for name, (d, stats) in self.dirs.items():
            self.assertEqual(sorted(os.listdir(d)),
                             sorted(f"{t}.parquet" for t in gen.TABLES))
            for t, cols in SCHEMA.items():
                schema = pq.read_schema(os.path.join(d, f"{t}.parquet"))
                got = [(f.name, f.type) for f in schema]
                self.assertEqual(got, cols, f"{name}/{t}")
                for f in schema:
                    if pa.types.is_timestamp(f.type):
                        self.assertIsNone(f.type.tz, f"{t}.{f.name} naive")
                self.assertEqual(pq.read_metadata(
                    os.path.join(d, f"{t}.parquet")).num_rows,
                    stats["rows"][t])

    def test_value_domains(self):
        for name, (d, _) in self.dirs.items():
            c = self.con(d)
            def ok(sql):
                self.assertEqual(q(c, sql), [(0,)], f"{name}: {sql}")
            self.assertEqual([r[0] for r in q(c, "SELECT r_name FROM region "
                              "ORDER BY r_regionkey")], gen.REGIONS)
            ok("SELECT count(*) FROM nation WHERE n_name <> 'NATION_' || "
               "n_nationkey OR n_regionkey NOT BETWEEN 0 AND 4")
            ok("SELECT count(*) FROM supplier WHERE s_name <> 'Supplier#' || "
               "lpad(s_suppkey::VARCHAR, 9, '0') OR s_nationkey "
               "NOT BETWEEN 0 AND 24")
            ok("SELECT count(*) FROM customer WHERE c_name <> 'Customer#' || "
               "lpad(c_custkey::VARCHAR, 9, '0') OR c_mktsegment NOT IN "
               "('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')")
            self.assertEqual(q(c, "SELECT count(DISTINCT c_nationkey) FROM "
                               "customer"), [(25,)])
            ok("SELECT count(*) FROM part WHERE NOT regexp_full_match(p_name, "
               "'[a-z]+ [a-z]+') OR NOT regexp_full_match(p_brand, "
               "'Brand#[0-9]+') OR NOT regexp_full_match(p_type, '[A-Z]+')")
            ok("SELECT count(*) FROM orders WHERE o_orderstatus NOT IN "
               "('F','O','P') OR o_orderpriority NOT IN ('1-URGENT','2-HIGH',"
               "'3-MEDIUM','4-NOT SPECIFIED','5-LOW') OR o_orderdate NOT "
               "BETWEEN '1995-01-01' AND '2001-08-01' OR "
               "o_orderdate <> date_trunc('day', o_orderdate)")
            ok("SELECT count(*) FROM lineitem WHERE l_returnflag NOT IN "
               "('A','N','R') OR l_linestatus NOT IN ('F','O') OR l_quantity "
               "NOT BETWEEN 1 AND 50 OR l_shipdate NOT BETWEEN '1995-01-02' "
               "AND '2001-11-04' OR "
               "l_shipdate <> date_trunc('day', l_shipdate)")
            ok("SELECT count(*) FROM events WHERE event_type NOT IN ('click',"
               "'error','purchase','signup','view') OR ts NOT BETWEEN "
               "'2024-01-01' AND '2024-01-31' OR value < 0 OR NOT "
               "regexp_full_match(props, '\\{\"k\": [0-9]+\\}')")
            self.assertEqual(q(c, "SELECT count(*) - count(DISTINCT event_id) "
                               "FROM events"), [(0,)])
            ok("SELECT count(*) FROM documents WHERE lang NOT IN ('de','en',"
               "'es','fr','zh') OR NOT regexp_full_match(source, 'src[0-9]+')"
               " OR n_chars <> length(text) OR NOT regexp_full_match(text, "
               "'[a-z]+( [a-z]+)*')")
            vocab = {w for (w,) in q(c, "SELECT DISTINCT unnest(string_split("
                                        "text, ' ')) FROM documents")}
            self.assertTrue(vocab <= set(gen.VOCAB), vocab - set(gen.VOCAB))
            ok("SELECT count(*) FROM embeddings WHERE len(embedding) <> 64 OR "
               "label NOT BETWEEN 0 AND 9")

    def test_referential_integrity_and_dense_keys(self):
        for name, (d, _) in self.dirs.items():
            c = self.con(d)
            for child, key, parent, pkey in [
                    ("orders", "o_custkey", "customer", "c_custkey"),
                    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
                    ("lineitem", "l_partkey", "part", "p_partkey"),
                    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
                    ("events", "user_id", "customer", "c_custkey")]:
                self.assertEqual(q(c, f"SELECT count(*) FROM {child} WHERE "
                                      f"{key} NOT IN (SELECT {pkey} FROM "
                                      f"{parent})"), [(0,)],
                                 f"{name}: {child}.{key}")
            for t, k in [("customer", "c_custkey"), ("orders", "o_orderkey"),
                         ("documents", "doc_id"), ("embeddings", "vec_id")]:
                lo, hi, n = q(c, f"SELECT min({k}), max({k}), count(*) "
                                 f"FROM {t}")[0]
                self.assertEqual((lo, hi), (0, n - 1), f"{name}: {t}.{k}")

    def test_same_seed_same_content(self):
        d, _ = self.dirs["stream_join"]
        again = os.path.join(self.tmp, "again")
        other = os.path.join(self.tmp, "other")
        shape = run.WORKLOADS["stream_join"]["shape"]
        gen.generate(again, 42, **shape)
        gen.generate(other, 43, **shape)
        for t in gen.TABLES:
            a = pq.read_table(os.path.join(d, f"{t}.parquet"))
            self.assertTrue(a.equals(pq.read_table(
                os.path.join(again, f"{t}.parquet"))), t)
        def events(root):
            return pq.read_table(os.path.join(root, "events.parquet"))
        self.assertFalse(events(d).equals(events(other)))

    def test_stats_recorded(self):
        for name, (_, stats) in self.dirs.items():
            self.assertGreater(stats["max_shingle_df"], 0)
            self.assertIn("events.user_id", stats["key_skew"])
            self.assertEqual(set(stats["rows"]), set(gen.TABLES))


if __name__ == "__main__":
    unittest.main()
