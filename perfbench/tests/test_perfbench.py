"""Tests of the benchmark's own code (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

SPEC = dict(sf=0.001, docs=200, vecs=100)

# Stand-in oracle SQL. The first group reads key values, so its results
# change with the seed's relabeling; the second only aggregates contents
# (and joins along each key relationship), so it must not change.
KEYED_SQL = [
    "SELECT o_custkey % 20 AS src, o_orderkey % 20 AS dst, count(*) AS n FROM orders "
    "GROUP BY ALL",
    "SELECT doc_id, n_chars FROM documents ORDER BY doc_id LIMIT 20",
    "SELECT vec_id, label FROM embeddings ORDER BY vec_id LIMIT 20",
]
INVARIANT_SQL = [
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q "
    "FROM lineitem GROUP BY ALL",
    "SELECT n_regionkey, count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY ALL",
    "SELECT count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey "
    "JOIN supplier ON l_suppkey = s_suppkey JOIN orders ON l_orderkey = o_orderkey",
    "SELECT event_type, count(*) AS n, max(ts) AS last FROM events GROUP BY ALL",
    "SELECT lang, sum(n_chars) AS c FROM documents GROUP BY ALL",
    "SELECT label, count(*) AS n FROM embeddings GROUP BY ALL",
    "SELECT r_name, count(*) AS n FROM region JOIN nation ON r_regionkey = n_regionkey "
    "GROUP BY ALL",
]


def digest_dir(d):
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(Path(d).glob("*.parquet"))}


def oracle_hashes(d, sqls):
    con = oracle.connect(d)
    return [oracle.oracle_hash(con, sql) for sql in sqls]


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        root = Path(cls.tmp.name)
        for name, seed in (("a", 1), ("b", 1), ("c", 2)):
            gen.write_tables(str(root / name), seed, **SPEC)
        cls.dirs = {n: str(root / n) for n in "abc"}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_files(self):
        a, b = digest_dir(self.dirs["a"]), digest_dir(self.dirs["b"])
        self.assertEqual(sorted(a), sorted(f"{t}.parquet" for t in gen.TABLES))
        self.assertEqual(a, b)

    def test_same_seed_gives_identical_oracle_hashes(self):
        sqls = KEYED_SQL + INVARIANT_SQL
        self.assertEqual(oracle_hashes(self.dirs["a"], sqls), oracle_hashes(self.dirs["b"], sqls))

    def test_other_seed_gives_other_inputs_and_hashes(self):
        a, c = digest_dir(self.dirs["a"]), digest_dir(self.dirs["c"])
        # the fixed dimension tables are the same, every generated one differs
        for t in gen.TABLES:
            same = a[f"{t}.parquet"] == c[f"{t}.parquet"]
            self.assertEqual(same, t in ("region", "nation"), t)
        for x, y in zip(oracle_hashes(self.dirs["a"], KEYED_SQL),
                        oracle_hashes(self.dirs["c"], KEYED_SQL)):
            self.assertNotEqual(x, y)

    def test_other_seed_keeps_the_work(self):
        self.assertEqual(oracle_hashes(self.dirs["a"], INVARIANT_SQL),
                         oracle_hashes(self.dirs["c"], INVARIANT_SQL))

    def test_other_seed_keeps_the_graph_up_to_node_ids(self):
        # the graph queries' edge set: sorted (out-degree, in-degree) per node
        sql = ("WITH e AS (SELECT DISTINCT o_custkey % 2000 AS s, o_orderkey % 2000 AS d "
               "FROM orders WHERE o_custkey % 2000 != o_orderkey % 2000), "
               "o AS (SELECT s AS v, count(*) AS n FROM e GROUP BY 1), "
               "i AS (SELECT d AS v, count(*) AS n FROM e GROUP BY 1) "
               "SELECT coalesce(o.n, 0) AS outd, coalesce(i.n, 0) AS ind, count(*) AS c "
               "FROM o FULL JOIN i ON o.v = i.v GROUP BY ALL")
        self.assertEqual(oracle_hashes(self.dirs["a"], [sql]),
                         oracle_hashes(self.dirs["c"], [sql]))

    def test_keys_resolve(self):
        con = oracle.connect(self.dirs["c"])
        orphans = con.execute(
            "SELECT (SELECT count(*) FROM orders WHERE o_custkey NOT IN "
            "(SELECT c_custkey FROM customer)) + (SELECT count(*) FROM lineitem WHERE "
            "l_orderkey NOT IN (SELECT o_orderkey FROM orders) OR l_partkey NOT IN "
            "(SELECT p_partkey FROM part) OR l_suppkey NOT IN (SELECT s_suppkey FROM supplier))"
        ).fetchone()[0]
        self.assertEqual(orphans, 0)


def span(i, parent, name, start, end, qid=1):
    return {"id": i, "parent": parent, "name": name, "qid": qid, "start": start, "end": end}


class DriverGap(unittest.TestCase):
    def test_gap_is_wall_minus_union_of_overlapping_jobs(self):
        q = span(0, None, "query:x", 0.0, 10.0)
        jobs = [span(3, 1, "job:1", 1.0, 4.0), span(4, 1, "job:2", 3.0, 5.0),
                span(5, 2, "job:3", 7.0, 8.0), span(6, 2, "job:4", 7.5, 8.5),
                span(7, 2, "job:5", 9.5, 12.0)]  # runs past the query: clipped
        # union = [1,5] + [7,8.5] + [9.5,10] = 4 + 1.5 + 0.5 = 6
        self.assertAlmostEqual(layers.driver_gap(q, jobs), 4.0)

    def test_gap_equals_self_time_of_the_query_subtree(self):
        spans = [span(0, None, "query:x", 0.0, 10.0),
                 span(1, 0, "build", 0.0, 6.0), span(2, 0, "execute", 6.0, 10.0),
                 span(3, 1, "job:1", 1.0, 4.0), span(4, 1, "job:2", 3.0, 5.0),
                 span(5, 2, "job:3", 7.0, 8.0), span(6, 2, "job:4", 7.5, 8.5)]
        st = layers.self_times(spans)
        self.assertAlmostEqual(st[1], 2.0)   # 6 - [1,5]
        self.assertAlmostEqual(st[2], 2.5)   # 4 - [7,8.5]
        self.assertAlmostEqual(st[0], 0.0)
        gap = layers.driver_gap(spans[0], spans[3:])
        self.assertAlmostEqual(st[0] + st[1] + st[2], gap)

    def test_union_length(self):
        self.assertEqual(layers.union_length([]), 0.0)
        self.assertAlmostEqual(layers.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(layers.union_length([(0, 10)], 2, 4), 2.0)

    def test_build_spans_ties_jobs_to_their_query(self):
        res = {"queries": [
            {"pass": 1, "qid": 7, "name": "g2_pagerank", "traced": True,
             "start_ms": 1000.0, "build_end_ms": 1600.0, "end_ms": 2000.0}],
            "trace": {"jobs": [
                {"id": 1, "group": "q7", "start_ms": 1100, "end_ms": 1300, "stages": 1},
                {"id": 2, "group": "q7", "start_ms": 1700, "end_ms": 1900, "stages": 2},
                {"id": 3, "group": "q8", "start_ms": 1700, "end_ms": 1900, "stages": 1}],
                "phases": [{"name": "planning", "start_ms": 1650, "end_ms": 1660}]}}
        spans = layers.build_spans(res)
        names = {s["name"]: s for s in spans}
        self.assertEqual(names["job:1"]["parent"], names["build"]["id"])
        self.assertEqual(names["job:2"]["parent"], names["execute"]["id"])
        self.assertNotIn("job:3", names)
        self.assertEqual(names["phase:planning"]["parent"], names["execute"]["id"])
        q = names["query:g2_pagerank"]
        jobs = [s for s in spans if s["name"].startswith("job:")]
        self.assertAlmostEqual(layers.driver_gap(q, jobs), 0.6)


class Tail(unittest.TestCase):
    def test_tail_is_p90_with_its_samples_beyond(self):
        import run
        v, beyond = run.tail(list(range(1, 102)))
        self.assertEqual(v, 91)
        self.assertEqual(beyond, 10)


if __name__ == "__main__":
    unittest.main()
