#!/usr/bin/env python3
"""Benchmark of the pipeline engine: one workload, one seed, one result line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program from source (see
``build.py``), generates the workload's inputs from ``--seed`` (``gen.py``),
drives the program through its public Scala API in one JVM
(``src/graft/perfbench/Main.scala``), checks every output against the
generator's expectations or the DuckDB oracles, and prints one JSON object
as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics (0 where a workload does not use a
layer). Everything it writes stays under ``.bench_work/`` and
``.bench_build/`` in the checkout; the work directory is removed at exit.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ["backfill", "daily_incremental", "daily_incremental_bucketed", "query_mix"]
RUN_LIMIT_S = 170     # a run (after the build) ends within this
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss8m", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ checks

def frames_differ(got, want):
    """None when the two result frames hold the same rows (any order);
    else a short reason. Same rule as tools/selfcheck.py."""
    cg, cw = sorted(got.columns), sorted(want.columns)
    if cg != cw:
        return f"columns {cg} != {cw}"
    g = got[cg].sort_values(cg).reset_index(drop=True)
    w = want[cw].sort_values(cw).reset_index(drop=True)
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    return None if g.equals(w) else "values differ"


def plant_wrong_row(df):
    """Change one value of one row: the fault the query check must catch."""
    df = df.copy()
    col = df.columns[0]
    v = df.at[0, col]
    df.at[0, col] = v + "x" if isinstance(v, str) else v + 1
    return df


def check_pipeline(obs, expected, workload):
    """Compare every run's RunStats and the final target with the
    generator's expectations; returns (attempted, failed)."""
    attempted = failed = 0
    for r in obs["runs"]:
        attempted += 1
        if not r["ok"]:
            failed += 1
            log(f"{r['kind']} run failed: {r['error']}")
            continue
        want = expected[r["expect"]]
        got = r["stats"]
        bad = [k for k, v in want["stats"].items() if got.get(k) != v]
        if got["watermarks"] != want["watermarks"]:
            bad.append("watermarks")
        if got["staged_files"] <= 0 or got["staged_bytes"] <= 0:
            bad.append("staging metrics")
        if bad:
            failed += 1
            log(f"{r['kind']} run: wrong {bad}: got {got} want {want['stats']}")
    attempted += 1
    want = expected["backfill" if workload == "backfill" else "day2"]["target"]
    if obs["target"] != want:
        failed += 1
        log(f"target: got {obs['target']} want {want}")
    return attempted, failed


class Oracles(threading.Thread):
    """Evaluates the query mix's DuckDB oracles once per run, while the JVM
    warms up; the JVM waits for ``oracle.done`` before it measures."""

    def __init__(self, work, tables, proc):
        super().__init__(daemon=True)
        self.work, self.tables, self.proc = work, tables, proc
        self.want, self.errors = {}, {}

    def run(self):
        try:
            path = os.path.join(self.work, "oracles.json")
            while not os.path.exists(path):
                if self.proc.poll() is not None:
                    return
                time.sleep(0.05)
            import duckdb
            con = duckdb.connect(config={"threads": 2})
            for f in sorted(os.listdir(self.tables)):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(self.tables, f)}'")
            for q, sql in json.load(open(path)).items():
                try:
                    self.want[q] = con.sql(sql).df()
                except Exception as e:  # reported as a failed check
                    self.errors[q] = f"{type(e).__name__}: {e}"
            con.close()
        finally:
            open(os.path.join(self.work, "oracle.done"), "w").close()


def check_queries(obs, oracles, plant):
    import duckdb
    con = duckdb.connect(config={"threads": 2})
    attempted = failed = 0
    planted = False
    for p in obs["passes"]:
        for q in obs["mix"]:
            attempted += 1
            if q in p["failed"]:
                failed += 1
                continue
            if q not in oracles.want:
                failed += 1
                log(f"{q}: no oracle result ({oracles.errors.get(q)})")
                continue
            got = con.sql(f"SELECT * FROM '{p['dir']}/{q}/*.parquet'").df()
            if plant == "wrong_query_row" and not planted and len(got):
                got, planted = plant_wrong_row(got), True
            why = frames_differ(got, oracles.want[q])
            if why:
                failed += 1
                log(f"{q} ({os.path.basename(p['dir'])}): {why}")
    con.close()
    return attempted, failed


# ------------------------------------------------------------------ run

def run_jvm(args, work, classpath):
    """Generate the inputs, drive the JVM, check its observations.

    The JVM starts while the inputs are generated and waits for
    ``input/ready`` before its timed set-up; the query mix warms up on small
    tables while DuckDB evaluates the oracles, and waits for
    ``oracle.done``."""
    import gen
    inp = os.path.join(work, "input")
    jvm_dir = os.path.join(work, "jvm")
    os.makedirs(jvm_dir)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.monotonic()
    mix = args.workload == "query_mix"
    if mix:
        gen.query_tables(args.seed, os.path.join(inp, "tables_small"), sf=args.sf / 10)

    out = os.path.join(work, "result.json")
    # Class-data sharing: the first run of a workload after a build records
    # the classes it loads; later runs map them instead of loading them.
    archive = os.path.join(os.path.dirname(classpath[0]), f"{args.workload}.jsa")
    cds = ([f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive)
           else [f"-XX:ArchiveClassesAtExit={archive}.{os.getpid()}"])
    cmd = (["java"] + JVM_OPTS + cds + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", os.pathsep.join(classpath),
           "graft.perfbench.Main", "--workload", args.workload,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--input", inp, "--work", jvm_dir, "--out", out,
           "--plant", args.plant or "none"])
    logf = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
    oracles = None
    try:
        if mix:
            gen.query_tables(args.seed, os.path.join(inp, "tables"), sf=args.sf)
            oracles = Oracles(jvm_dir, os.path.join(inp, "tables"), proc)
            oracles.start()
        else:
            expected = gen.pipeline_source(args.seed, inp, n_day1=args.rows)
            open(os.path.join(inp, "ready"), "w").close()
        log(f"inputs generated in {time.monotonic() - t0:.1f} s")
        rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        logf.close()
        if oracles:
            oracles.join(timeout=30)
    jvm_log = open(os.path.join(work, "jvm.log")).read()
    for line in jvm_log.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if os.path.exists(f"{archive}.{os.getpid()}"):
        os.replace(f"{archive}.{os.getpid()}", archive)
    if rc != 0:
        tail = jvm_log[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {rc}:\n{tail}")
    obs = json.load(open(out))
    if mix:
        obs["mix"] = list(json.load(open(os.path.join(work, "jvm", "oracles.json"))))
        attempted, failed = check_queries(obs, oracles, args.plant)
        rows = obs["target_rows"]
    else:
        attempted, failed = check_pipeline(obs, expected, args.workload)
        rows = obs["target"]["rows"]
    obs["target_bytes_per_row"] = obs["target_bytes"] / max(1, rows)
    return obs, attempted, failed


def metrics_of(spec, obs, trace):
    if trace:
        # the downstream read varies too much across seeds to carry a bound
        layers = dict(obs["layers"], target_read_s=statistics.median(obs["target_read_s"]))
        return {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in spec["per_layer"]}
    values = {
        "setup_s": statistics.median(obs["setup_s"]),
        "run_s": statistics.median(obs["run_s"]),
        "target_bytes_per_row": obs["target_bytes_per_row"],
        "retained_heap_mb": obs["retained_heap_mb"],
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]}


def main():
    # a terminated run unwinds through the `finally` that stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rows", type=int, default=20_000,
                    help="day-1 documents of the pipeline source")
    ap.add_argument("--sf", type=float, default=0.05,
                    help="scale factor of the query-mix tables")
    ap.add_argument("--plant", default="",
                    choices=["", "drop_target_row", "wrong_query_row"],
                    help="plant a fault the output checks must catch")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        log("BENCHMARK.json not found at the checkout root")
        return 2
    spec = json.load(open(spec_path))
    import build
    try:
        classpath = build.build()
    except build.BuildError as e:
        log(str(e))
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        obs, attempted, failed = run_jvm(args, work, classpath)
    except Exception as e:
        log(str(e))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics_of(spec, obs, args.trace),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
