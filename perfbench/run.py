#!/usr/bin/env python3
"""graft benchmark: oracle-checked workloads, end-to-end and per-layer metrics.

Run from the repository root:

    python3 perfbench/run.py --workload fcs_vector --seed 1 --seconds 25 --trace 0

The first run builds graft and the harness from source with sbt (the
classpath is cached in .bench_build/ until a source file changes). Each
run generates its inputs from --seed into .bench_data/, starts one JVM
that sets up a graft session, runs one untimed warm-up pass and then
about --seconds of whole timed passes over the workload's queries, and
checks every emitted table against the query's DuckDB oracle.

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics of a traced run, which are also
written to .bench_run/layers_<workload>_<seed>.json. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# name -> queries, input scale factor and lineitem row groups.
WORKLOADS = {
    "fcs_vector": {
        "queries": ["f01_arcsinh", "f03_compensate", "f08_fcs_roundtrip", "f10_gate_tree",
                    "f12_robust_stats", "f20_ellipse_gate", "s17_ivfadc_serve", "d13_edit_pairs",
                    "t02_quality", "t21_bpe"],
        "sf": 0.015, "groups": 8},
    "dml_stream": {
        "queries": ["q84_sql_write", "q95_catalog_tables", "q97_merge_general", "q83_string_zones",
                    "st03_session_window", "st07_interval_join"],
        "sf": 0.01, "groups": 4},
    # Bench-only queries that must land in `failed`; used by the self-tests.
    "selftest": {"queries": ["f04_rect_gate", "bench_throws", "bench_wrong_rows"],
                 "sf": 0.01, "groups": 2},
}
TAIL_BEYOND = 10
JVM_TIMEOUT_S = 165
DATA_SETS_KEPT = 6


def hd_median(values):
    """Harrell-Davis estimate of the median.

    A weighted mean of all order statistics, the i-th of n weighted by the
    Beta((n+1)/2, (n+1)/2) mass on [(i-1)/n, i/n]. Unlike the sample
    median, which rests on the one or two middle samples, it stays steady
    when the samples form clusters (one per query) with a gap at the middle.
    """
    xs = sorted(values)
    n = len(xs)
    a = (n + 1) / 2
    steps = 64  # Simpson sub-intervals per order statistic

    def pdf(t):  # unnormalised Beta(a, a) density
        return (t * (1 - t)) ** (a - 1)

    mass = []
    for i in range(n):
        lo, h = i / n, 1 / (n * steps)
        s = pdf(lo) + pdf(lo + steps * h)
        s += sum((4 if k % 2 else 2) * pdf(lo + k * h) for k in range(1, steps))
        mass.append(s * h / 3)
    return sum(m * x for m, x in zip(mass, xs)) / sum(mass)


def tail(values, beyond=TAIL_BEYOND):
    """Highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, sample count), or None when there are
    too few samples for any such percentile.
    """
    xs = sorted(values)
    rank = len(xs) - beyond
    if rank < 1:
        return None
    return xs[rank - 1], 100.0 * rank / len(xs), len(xs)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _stamp(root):
    h = hashlib.sha256()
    for top in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile graft and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no graft sources under src/main/scala; run from the repository root")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = _stamp(root), os.path.join(out, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp and all(os.path.exists(p) for p in cp.split(":")):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []) + ["-Dsbt.offline=true", "-Xmx3g"]))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


# ---------------------------------------------------------------- run

def java_cmd(cp, run_dir, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.callstack.depth=64"]
            + [a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graftbench.Main"] + args)


def run_jvm(cp, run_dir, data, queries, seconds, trace):
    out = os.path.join(run_dir, "out")
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = java_cmd(cp, run_dir, ["--data", data, "--out", out, "--queries", ",".join(queries),
                                 "--seconds", str(seconds), "--trace", str(trace)])
    t_launch = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
        finally:
            _sweep_scratch(p.pid)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"benchmark JVM exited with {code}")
    with open(os.path.join(out, "results.json")) as f:
        res = json.load(f)
    res["setup_s"] = res["ready_ms"] / 1e3 - t_launch
    return res


def _prune(parent, keep):
    """Keep only the `keep` most recently used input sets."""
    sets = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                  key=os.path.getmtime, reverse=True)
    for d in sets[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def _sweep_scratch(pid):
    """Remove the `/tmp/<tag>_<pid>` scratch tables graft left for this JVM."""
    suffix = f"_{pid}"
    for name in os.listdir("/tmp"):
        path = os.path.join("/tmp", name)
        if name.endswith(suffix) and os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------- check

def _compare_module(root):
    spec = importlib.util.spec_from_file_location("compare", os.path.join(root, "tools", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _canon_sql(expr, typ, depth=0):
    """SQL form of tools/compare.py's canon(): floats as %.9g, lists
    bracketed element by element, NULL as 'NULL', anything else as text.
    """
    t = str(typ).upper()
    if t in ("DOUBLE", "FLOAT", "REAL"):
        s = f"format('{{:.9g}}', ({expr})::DOUBLE)"
    elif t.endswith("[]"):
        x = f"x{depth}"
        elems = f"list_transform({expr}, {x} -> {_canon_sql(x, t[:-2], depth + 1)})"
        s = (f"CASE WHEN ({expr}) IS NOT NULL THEN "
             f"'[' || coalesce(array_to_string({elems}, ','), '') || ']' END")
    else:
        s = f"CAST({expr} AS VARCHAR)"
    return f"coalesce({s}, 'NULL')"


def _canon_rel(con, src):
    rel = con.sql(f"SELECT * FROM {src}")
    cols = sorted(rel.columns)
    types = dict(zip(rel.columns, rel.types))
    sel = ", ".join(f'{_canon_sql(chr(34) + c + chr(34), types[c])} AS "{c}"' for c in cols)
    return cols, f"SELECT {sel} FROM {src}"


class Checker:
    """Compares emitted tables with the DuckDB oracles.

    Rows are canonicalised as tools/compare.py does and compared as
    multisets inside DuckDB; any difference is re-decided row by row with
    compare.py's own canon(), so that function stays the judge.
    """

    def __init__(self, root, data):
        import duckdb
        self.cmp = _compare_module(root)
        self.con = duckdb.connect()
        for t in self.cmp.TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        self.expected = {}

    def _expect(self, q, sql):
        if q not in self.expected:
            name = f"exp_{len(self.expected)}"
            cols, canon = _canon_rel(self.con, f"({sql})")
            self.con.sql(f"CREATE TEMP TABLE {name} AS {canon}")
            self.expected[q] = (cols, name, sql)
        return self.expected[q]

    def check(self, q, sql, out):
        """None when `out` matches the oracle, else the reason it does not."""
        if sql is None:
            return "no oracle"
        try:
            cols, exp, oracle = self._expect(q, sql)
            src = f"read_parquet('{out}/*.parquet')"
            got_cols, got = _canon_rel(self.con, src)
            if got_cols != cols:
                return f"columns {got_cols} != {cols}"
            n_got = self.con.sql(f"SELECT count(*) FROM {src}").fetchone()[0]
            n_exp = self.con.sql(f"SELECT count(*) FROM {exp}").fetchone()[0]
            if n_got != n_exp:
                return f"rows {n_got} != {n_exp}"
            diff = self.con.sql(f"SELECT count(*) FROM (({got}) EXCEPT ALL (SELECT * FROM {exp}))"
                                ).fetchone()[0]
            return None if diff == 0 else self._exact(cols, src, oracle)
        except Exception as e:  # an unreadable output is a failed execution
            return f"check error: {e}"

    def _exact(self, cols, src, sql):
        canon, sel = self.cmp.canon, ",".join(f'"{c}"' for c in cols)
        got = sorted(tuple(canon(v) for v in r)
                     for r in self.con.sql(f"SELECT {sel} FROM {src}").fetchall())
        exp = sorted(tuple(canon(v) for v in r)
                     for r in self.con.sql(f"SELECT {sel} FROM ({sql})").fetchall())
        if got == exp:
            return None
        bad = next(i for i, (g, e) in enumerate(zip(got, exp)) if g != e)
        return f"values differ at sorted row {bad}: got={got[bad]} exp={exp[bad]}"


# ---------------------------------------------------------------- metrics

def evaluate(res, checker, tags):
    """Check every timed execution of the passes tagged `tags`.

    Returns (passes, ok execution times, attempted, failures).
    """
    failures, times, attempted, passes = [], [], 0, []
    for p in res["passes"]:
        if p["tag"] not in tags:
            continue
        ok_s, clean = [], True
        for e in p["execs"]:
            attempted += 1
            why = e["error"] or checker.check(e["query"], res["oracle"].get(e["query"]), e["out"])
            if why:
                failures.append((e["query"], why))
                clean = False
            else:
                ok_s.append(e["build_s"] + e["exec_s"])
        times += ok_s
        passes.append((p["seconds"], clean, sum(ok_s)))
    return passes, times, attempted, failures


def pass_seconds(passes):
    """Median wall time of the passes in which nothing failed; when every
    pass had a failure, the median of their successful executions' time."""
    clean = [s for s, ok, _ in passes if ok]
    return statistics.median(clean) if clean else statistics.median(x for _, _, x in passes)


def end_to_end(res, checker):
    passes, times, attempted, failures = evaluate(res, checker, {"p"})
    pass_s = pass_seconds(passes)
    # Fewer than 11 samples only happens when executions failed, and the
    # run is then incorrect; the slowest sample stands in for the tail.
    times = times or [pass_s]
    t = tail(times) or (max(times), 100.0, len(times))
    metrics = {"setup_s": (res["setup_s"], "s"), "pass_s": (pass_s, "s"),
               "query_p50_s": (hd_median(times), "s")}
    return metrics, attempted, failures, {"passes": len(passes), "tail": t}


def per_layer(res, checker):
    passes, times, attempted, failures = evaluate(res, checker, {"u", "t", "c"})
    metrics = {k: (v, layer_unit(k)) for k, v in sorted(res["layers"].items())}
    return metrics, attempted, failures, {"passes": len(passes)}


def layer_unit(name):
    if name.endswith("_s") or name.startswith("job_s."):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name in ("spark.core_scaling", "trace.overhead"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tools", "compare.py")):
        fail("tools/compare.py not found; run from the repository root")
    w = WORKLOADS[a.workload]
    queries = w["queries"]
    cp = build(root)
    data = os.path.join(root, ".bench_data", f"sf{w['sf']}_g{w['groups']}_seed{a.seed}")
    sizes = gen.generate(data, a.seed, w["sf"], w["groups"])
    _prune(os.path.dirname(data), keep=DATA_SETS_KEPT)
    run_dir = os.path.join(root, ".bench_run", f"{a.workload}_{a.seed}_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res = run_jvm(cp, run_dir, data, queries, a.seconds, a.trace)
        checker = Checker(root, data)
        if a.trace:
            metrics, attempted, failures, info = per_layer(res, checker)
        else:
            metrics, attempted, failures, info = end_to_end(res, checker)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    rows = sum(s["rows"] for s in sizes.values())
    nbytes = sum(s["bytes"] for s in sizes.values())
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {len(queries)} queries, "
          f"{info['passes']} timed passes, {attempted} executions; inputs {rows} rows, "
          f"{nbytes} bytes (lineitem {sizes['lineitem']['rows']} rows in {w['groups']} row groups)")
    for k, (v, unit) in metrics.items():
        print(f"  {k:<32} {v:.6g} {unit}")
    if not a.trace:
        # Printed, not gated: a run holds too few samples for a tail above
        # the median (see perfbench/README.md).
        t = info["tail"]
        print(f"  {'query_tail_s':<32} {t[0]:.6g} s (p{t[1]:.1f} of {t[2]} samples; not gated)")
    print(f"  failed_frac                      {len(failures) / max(attempted, 1):.6g} "
          f"({len(failures)}/{attempted})")
    for q, why in sorted(set(failures)):
        print(f"  FAILED {q}: {why}")
    if a.trace:
        os.makedirs(os.path.join(root, ".bench_run"), exist_ok=True)
        with open(os.path.join(root, ".bench_run", f"layers_{a.workload}_{a.seed}.json"), "w") as f:
            json.dump({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, f, indent=1)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
