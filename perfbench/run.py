"""Benchmark of the jobs the scheduler submits.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see README.md):
  etl_jobs       cold `spark-submit --class graft.Jobs` runs: ep2 and ep3 per day
  stream_drain   the `TurnStream.dailyTurns` drain, the q191 re-pull drain, the q81 top-k read

Builds the program from source (perfbench/build.py), makes every input
from the seed, runs the workload, checks its outputs, and prints one
JSON object as the last line of stdout. `--seconds` sets how much work a
run measures: a whole number of rounds, sized so that a round takes
about that long on a 4-core machine. The line before it carries gauges
(ops, CPU steal share, load) that are not metrics.
"""
T_START = __import__("time").time()

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

CORES = "4"
HEAP = "3g"
JVM_OPTS = [
    "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]

# Nominal seconds of one round on 4 cores: `--seconds` buys
# max(1, round(seconds / nominal)) rounds.
NOMINAL = {"etl_jobs": 35.0, "stream_drain": 30.0}
STREAM_TIERS = ["emb_diff", "signature", "ivf", "dsir"]

END_TO_END = [("setup_s", "s"), ("work_s", "s"), ("op_p50_s", "s"), ("cpu_s", "s")]

# The per-layer metrics of BENCHMARK.json: each shows on etl_jobs,
# stream_drain or both (README.md maps them to end-to-end metrics).
PER_LAYER = [
    ("spark.sql_executions", "count"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.empty_tasks", "count"), ("spark.task_s", "s"),
    ("spark.driver_only_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.gc_s", "s"),
    ("spark.codegen_compiles", "count"), ("jobs.session_start_s", "s"),
    ("etl.validate_s", "s"), ("etl.sink_s", "s"), ("etl.summary_s", "s"),
    ("etl.written_mb", "MB"), ("etl.files_written", "count"),
] + [m for t in STREAM_TIERS for m in (("turn.%s_s" % t, "s"), ("turn.%s.jobs" % t, "count"))] + [
    ("stream.batches", "count"), ("stream.batch_executions", "count"),
    ("stream.add_batch_s", "s"), ("stream.overhead_s", "s"), ("stream.digest_s", "s"),
    ("stream.marker_s", "s"), ("stream.pairs_emit_s", "s"), ("stream.state_commit_s", "s"),
    ("catalog.q81_custom_topk_s", "s"),
]


class Failed(Exception):
    pass


def proc_stat():
    """Host CPU (stolen, busy) jiffies; busy is every state but idle and iowait."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v) - v[3] - v[4]
    except OSError:
        return 0, 0


def steal_share(a, b):
    """Share of busy host CPU time stolen by the hypervisor between readings."""
    return (b[0] - a[0]) / (b[1] - a[1]) if b[1] > a[1] else 0.0


def unstolen(seconds, steal):
    """Wall seconds less the share of them the host stole: the time the
    same work takes on an uncontended host (see README.md)."""
    return seconds * (1.0 - steal)


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return 0.0


# children get 140 s after the build, so checks and clean-up fit in a 180 s run
CHILD_SECONDS = 140
DEADLINE = [0.0]


def time_left():
    """Seconds a child may still run before the run's deadline."""
    left = DEADLINE[0] - time.time()
    if left <= 0:
        raise Failed("run deadline passed")
    return left


def kill_tree(p):
    """Stop a child started in its own session, with anything it spawned."""
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
    p.wait()


def run_checked(cmd, cwd, log):
    """Run a child process to completion; return (rc, stdout, start time,
    wall s, steal share, cpu s)."""
    r0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    stat0 = proc_stat()
    t0 = time.time()
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=time_left())
        except subprocess.TimeoutExpired:
            raise Failed("%s timed out" % cmd[-4:])
        finally:
            kill_tree(p)
    wall = time.time() - t0
    r1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    cpu = (r1.ru_utime - r0.ru_utime) + (r1.ru_stime - r0.ru_stime)
    return p.returncode, out.decode(), t0, wall, steal_share(stat0, proc_stat()), cpu


def tail(log, n=3000):
    try:
        with open(log, "rb") as f:
            return f.read()[-n:].decode(errors="replace")
    except OSError:
        return ""


# ------------------------------------------------------------- etl_jobs

NO_DATA = {"tracks_processed": 0, "status": "no_data"}


def etl_jobs(bdir, run_dir, seed, days, traced):
    data, work, log = (os.path.join(run_dir, d) for d in ("data", "work", "log.txt"))
    os.makedirs(data)
    os.makedirs(os.path.join(work, "tmp"))
    empty = os.path.join(data, "empty.jsonl")
    open(empty, "w").close()
    feeds = []
    for d in range(days):
        lines, expected = gen.spotify_day(seed, d)
        path = os.path.join(data, "day%d.jsonl" % d)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        feeds.append((path, expected, "2024-03-%02d" % (d + 1)))

    table = os.path.join(work, "recently_played")
    ops, failures, metrics, records = [], [], {}, []

    def job(args, name):
        """One cold `spark-submit` of graft.Jobs: (summary, wall s, steal, cpu s, listener record)."""
        out_json = os.path.join(work, "listener_%d.json" % len(records))
        cmd = ["spark-submit", "--master", "local[%s]" % CORES, "--driver-memory", HEAP,
               "--conf", "spark.ui.enabled=false", "--conf", "spark.sql.session.timeZone=UTC",
               "--conf", "spark.sql.shuffle.partitions=" + CORES,
               "--conf", "spark.local.dir=" + os.path.join(work, "spark-local"),
               "--conf", "spark.driver.extraJavaOptions=-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "--conf", "spark.extraListeners=perfbench.JobListener",
               "--conf", "spark.perfbench.out=" + out_json,
               "--conf", "spark.perfbench.trace=" + ("true" if traced else "false"),
               "--driver-class-path", os.path.join(bdir, "harness.jar"),
               "--class", "graft.Jobs", os.path.join(bdir, "program.jar")] + args
        rc, out, t0, wall, steal, cpu = run_checked(cmd, work, log)
        if rc != 0 or not os.path.exists(out_json):
            raise Failed("%s exited %d\n%s" % (name, rc, tail(log)))
        rec = checks.load_json(out_json)
        rec.update(job=name, session_start_s=rec["ready_ms"] / 1e3 - t0)
        records.append(rec)
        return json.loads(out.strip().splitlines()[-1]), wall, steal, cpu, rec

    def timed(args, name):
        before = snapshot(work) if traced else None
        summary, wall, steal, cpu, rec = job(args, name)
        ops.append((name, wall, steal, cpu))
        if traced:
            for k, v in rec["metrics"].items():
                metrics[k] = metrics.get(k, 0.0) + v
            after = snapshot(work)
            new = {p: s for p, s in after.items() if before.get(p) != s}
            metrics["etl.written_mb"] = metrics.get("etl.written_mb", 0.0) + sum(new.values()) / 1e6
            metrics["etl.files_written"] = metrics.get("etl.files_written", 0.0) + len(new)
        return summary

    # set-up: one ep2 job over an empty feed, the no-data path whose
    # start-up every job pays
    s0, wall, steal, _, _ = job(["ep2", empty, os.path.join(work, "empty_table"), "2024-03-01"],
                                "ep2 empty feed")
    failures += checks.check_summary("ep2 empty feed", s0, NO_DATA)
    setup = (wall, steal)

    played = []
    for d, (feed, expected, as_of) in enumerate(feeds):
        s2 = timed(["ep2", feed, table, as_of], "ep2 day %d" % d)
        played += expected["played_at"]
        failures += checks.check_ep2_table(checks.read_parquet(table), played)
        failures += checks.check_summary("ep2", s2, {k: expected["ep2"][k] for k in
                                                     ("tracks_processed", "unique_artists", "date_range")})
        ep3 = os.path.join(work, "ep3_day%d" % d)
        s3 = timed(["ep3", feed, ep3], "ep3 day %d" % d)
        failures += checks.check_summary("ep3", s3, expected["ep3"])
        failures += checks.check_ep3_csv(checks.read_csv_dir(ep3), expected)
    if traced:
        metrics["jobs.session_start_s"] = statistics.mean(r["session_start_s"] for r in records[1:])
    return {"ops": [o[:3] for o in ops], "setup_s": setup, "cpu_s": sum(o[3] for o in ops),
            "failures": failures, "metrics": metrics, "trace": records}


def snapshot(d):
    out = {}
    for base, _, files in os.walk(d):
        if "spark-local" in base or os.sep + "tmp" in base:
            continue
        for f in files:
            if f.endswith(".json") or f.endswith(".txt"):
                continue
            p = os.path.join(base, f)
            out[p] = os.path.getsize(p)
    return out


# --------------------------------------------------------- stream_drain

def stream_drain(bdir, run_dir, seed, rounds, traced):
    data, work, out, log = (os.path.join(run_dir, d) for d in ("data", "work", "out", "log.txt"))
    gen.tables(data, seed, ["documents", "embeddings", "events"])
    for d in (out, os.path.join(work, "tmp")):
        os.makedirs(d)
    cp = os.pathsep.join([os.path.join(bdir, "program.jar"), os.path.join(bdir, "harness.jar"),
                          build.spark_classpath()])
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", cp,
                                 "perfbench.Harness", data, work, out, str(rounds),
                                 "1" if traced else "0", CORES]
    stat0 = proc_stat()
    t0 = time.time()
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=err, stderr=err, start_new_session=True)
        try:
            p.wait(timeout=time_left())
        except subprocess.TimeoutExpired:
            raise Failed("harness timed out")
        finally:
            kill_tree(p)
    res_path = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(res_path):
        raise Failed("harness exited %s\n%s" % (p.returncode, tail(log)))
    res = checks.load_json(res_path)
    sql = checks.load_json(os.path.join(out, "oracle_sql.json"))
    failures = []
    for name, got in [("q151_daily_incremental", "pairs"), ("q152_dsir_weights", "dsir"),
                      ("q191_overlap_repull_dedup", "repull"), ("q81_custom_topk", "topk")]:
        failures += checks.check_oracle(name, os.path.join(out, got), data, sql[name])
    ops = [(o["name"], o["s"], o["steal"]) for o in res["ops"]]
    metrics = dict(res["metrics"])
    if traced:
        metrics["catalog.q81_custom_topk_s"] = statistics.median(
            s for name, s, _ in ops if name == "q81_custom_topk")
    return {"ops": ops, "setup_s": (res["first_op_ms"] / 1e3 - t0, steal_share(stat0, res["first_op_stat"])),
            "cpu_s": res["cpu_s"], "failures": failures, "metrics": metrics, "trace": res}


WORKLOADS = {"etl_jobs": etl_jobs, "stream_drain": stream_drain}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    bdir = build.build()
    DEADLINE[0] = time.time() + CHILD_SECONDS
    rounds = max(1, int(round(a.seconds / NOMINAL[a.workload])))
    run_root = os.path.join(ROOT, ".bench_run")
    run_dir = os.path.join(run_root, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    os.makedirs(run_dir)
    stat0 = proc_stat()
    try:
        try:
            r = WORKLOADS[a.workload](bdir, run_dir, a.seed, rounds, a.trace == 1)
        except Failed as e:
            sys.stderr.write(str(e) + "\n")
            return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(run_root)
        except OSError:
            pass
    stat1 = proc_stat()
    if a.trace:
        # spans and per-job records outlive the run's scratch directory
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "trace-%s-%d.json" % (a.workload, a.seed)), "w") as f:
            json.dump(r["trace"], f, indent=1)
    for f in r["failures"]:
        sys.stderr.write("CHECK FAILED: %s\n" % f)
    secs = [unstolen(s, st) for _, s, st in r["ops"]]
    setup = unstolen(*r["setup_s"])
    # the measured wall times, and work_s and setup_s, let a traced run
    # be set against untraced ones: the difference is tracing overhead
    print(json.dumps({"gauges": {
        "ops_attempted": len(secs), "ops_failed": 0, "rounds": rounds,
        "steal_share": round(steal_share(stat0, stat1), 4),
        "load1": load1(), "run_wall_s": round(time.time() - T_START, 2),
        "wall_work_s": round(sum(s for _, s, _ in r["ops"]), 3),
        "wall_setup_s": round(r["setup_s"][0], 3),
        "work_s": round(sum(secs), 3), "setup_s": round(setup, 3)}}))
    if a.trace:
        metrics = {n: {"value": float(r["metrics"].get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        values = {"setup_s": setup, "work_s": sum(secs),
                  "op_p50_s": statistics.median(secs), "cpu_s": r["cpu_s"]}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": not r["failures"], "attempted": len(secs), "failed": 0,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
