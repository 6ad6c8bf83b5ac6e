"""The benchmark's own checks must reject corrupted outputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each test feeds a check the right output (it must pass) and the same
output with one planted fault (it must fail), so no check can pass
vacuously.
"""
import copy
import json
import os
import tempfile
import unittest

import pandas as pd

import checks
import gen
import run


def etl_day(seed=3):
    lines, expected = gen.spotify_day(seed, 0, pages=6)
    items = [i for line in lines for i in json.loads(line)["items"]]
    flat = [gen.flat_play(i) for i in items]
    return pd.DataFrame(flat), expected


class EtlChecks(unittest.TestCase):
    def test_table_rejects_a_dropped_or_duplicated_play(self):
        rows, expected = etl_day()
        self.assertEqual(checks.check_ep2_table(rows, expected["played_at"]), [])
        self.assertNotEqual(checks.check_ep2_table(rows.iloc[1:], expected["played_at"]), [])
        dup = pd.concat([rows, rows.iloc[:1]])
        self.assertNotEqual(checks.check_ep2_table(dup, expected["played_at"]), [])
        # a duplicate that replaces a play keeps the row count
        swapped = rows.copy()
        swapped.iloc[0, swapped.columns.get_loc("played_at")] = swapped["played_at"].iloc[1]
        self.assertNotEqual(checks.check_ep2_table(swapped, expected["played_at"]), [])

    def test_summary_rejects_a_value_off_by_one(self):
        _, expected = etl_day()
        for name in ("ep2", "ep3"):
            want = {k: v for k, v in expected[name].items() if k != "distinct_played_at"}
            self.assertEqual(checks.check_summary(name, dict(want), want), [])
            for k, v in want.items():
                if isinstance(v, str):
                    continue
                bad = dict(want, **{k: v + 1})
                self.assertNotEqual(checks.check_summary(name, bad, want), [], k)

    def test_ranked_csv_rejects_a_swapped_rank(self):
        _, expected = etl_day()
        rows = [{"rank": str(i + 1), "played_at": p} for i, p in enumerate(expected["ep3_order"])]
        self.assertEqual(checks.check_ep3_csv(rows, expected), [])
        bad = copy.deepcopy(rows)
        bad[0]["rank"], bad[1]["rank"] = bad[1]["rank"], bad[0]["rank"]
        self.assertNotEqual(checks.check_ep3_csv(bad, expected), [])

    def test_generator_figures_follow_the_reference_defaults(self):
        rows, expected = etl_day()
        self.assertEqual(len(rows), expected["ep2"]["tracks_processed"])
        self.assertEqual(rows["played_at"].nunique(), len(rows))
        # missing tracks are kept by EP2 and dropped by EP3
        self.assertGreater(expected["ep2"]["tracks_processed"], expected["ep3"]["tracks_processed"])
        self.assertIn("Unknown", set(rows["artist_name"]))


class OracleChecks(unittest.TestCase):
    def oracle(self, table, sql, good, bad):
        """check_oracle accepts `good` and rejects `bad` against `sql` over `table`."""
        with tempfile.TemporaryDirectory() as d:
            data, got = os.path.join(d, "data"), os.path.join(d, "got")
            os.makedirs(data)
            os.makedirs(got)
            table.to_parquet(os.path.join(data, "t.parquet"), index=False)
            for out, ok in ((good, True), (bad, False)):
                out.to_parquet(os.path.join(got, "part-0.parquet"), index=False)
                self.assertEqual(checks.check_oracle("q", got, data, sql) == [], ok)

    def test_oracle_compare_rejects_one_changed_row(self):
        t = pd.DataFrame({"k": [1, 2, 3], "v": [10.5, 20.25, 30.0]})
        out = pd.DataFrame({"v2": [21.0, 40.5, 60.0], "k": [1, 2, 3]})
        bad = out.copy()
        bad.loc[2, "v2"] = 61.0
        self.oracle(t, "SELECT k, v * 2 AS v2 FROM t", out, bad)

    def test_pairs_compare_rejects_a_removed_duplicate_pair(self):
        docs = gen.documents(5, n=200, dups=4)
        t = docs[["doc_id", "text"]]
        sql = ("SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM t a JOIN t b "
               "ON a.text = b.text AND a.doc_id < b.doc_id")
        pairs = {(min(a, b), max(a, b)) for a in t.doc_id for b in t.doc_id
                 if a != b and t.text[a] == t.text[b]}
        self.assertGreaterEqual(len(pairs), 2)
        out = pd.DataFrame(sorted(pairs), columns=["doc_a", "doc_b"])
        self.oracle(t, sql, out, out.iloc[1:])


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
