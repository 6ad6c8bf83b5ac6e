"""Output checks of the benchmark. Each returns a list of failures
(empty when the output is right). The expected side is always computed
apart from the program: from the generator's own figures, or from the
catalog's DuckDB oracle SQL over the generated inputs."""
import csv
import glob
import json
import os

import duckdb


def read_parquet(path):
    con = duckdb.connect()
    try:
        return con.execute("SELECT * FROM read_parquet(?, hive_partitioning = true)",
                           [os.path.join(path, "**", "*.parquet")]).fetchdf()
    finally:
        con.close()


def read_csv_dir(path):
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(f, newline="") as fh:
            rows += list(csv.DictReader(fh))
    return rows


def compare_frames(got, want):
    """The oracle compare of `tools/check.py`: column names sorted, rows
    sorted by every column, values compared as strings."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return ["columns %s vs %s" % (list(got.columns), list(want.columns))]
    if len(got) != len(want):
        return ["rows %d vs %d" % (len(got), len(want))]
    try:
        got = got.sort_values(list(got.columns)).reset_index(drop=True)
        want = want.sort_values(list(want.columns)).reset_index(drop=True)
    except Exception as e:  # unsortable column types fail, as in tools/check.py
        return ["row sort: %s" % e]
    for c in got.columns:
        eq = got[c].astype(str) == want[c].astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return ["col %s row %d: got %r want %r" % (c, i, got[c].iloc[i], want[c].iloc[i])]
    return []


def oracle_frame(data_dir, sql):
    con = duckdb.connect()
    try:
        for p in glob.glob(os.path.join(data_dir, "*.parquet")):
            name = os.path.basename(p)[:-8]
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (name, p))
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def check_oracle(name, got_dir, data_dir, sql):
    try:
        got = read_parquet(got_dir)
        want = oracle_frame(data_dir, sql)
    except Exception as e:
        return ["%s: %s" % (name, e)]
    return ["%s: %s" % (name, f) for f in compare_frames(got, want)]


# ------------------------------------------------------------------ ETL

def check_ep2_table(rows, expected_played_at):
    """`rows`: the partitioned table's rows; every generated play appears
    exactly once."""
    got = sorted(rows["played_at"].astype(str))
    if len(got) != len(expected_played_at):
        return ["ep2 table rows %d, generated %d" % (len(got), len(expected_played_at))]
    if len(set(got)) != len(got):
        return ["ep2 table holds duplicate played_at"]
    if got != sorted(expected_played_at):
        return ["ep2 table played_at differ from the generated plays"]
    return []


def check_summary(name, got, want):
    out = []
    for k, v in want.items():
        g = got.get(k)
        ok = abs(float(g) - float(v)) < 1e-9 if isinstance(v, float) and g is not None else g == v
        if not ok:
            out.append("%s summary %s: got %r want %r" % (name, k, g, v))
    return out


def check_ep3_csv(rows, expected):
    """Ranked CSV: 1..N by played_at desc, track_id; summary figures."""
    if len(rows) != expected["ep3"]["tracks_processed"]:
        return ["ep3 csv rows %d want %d" % (len(rows), expected["ep3"]["tracks_processed"])]
    by_rank = sorted(rows, key=lambda r: int(r["rank"]))
    if [int(r["rank"]) for r in by_rank] != list(range(1, len(rows) + 1)):
        return ["ep3 ranks are not 1..N"]
    if [r["played_at"] for r in by_rank] != expected["ep3_order"]:
        return ["ep3 rank order differs from played_at desc, track_id"]
    return []


def load_json(path):
    with open(path) as f:
        return json.load(f)
