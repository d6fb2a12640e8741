#!/usr/bin/env python3
"""Flow benchmark: the program's product flows, timed end to end and
traced per module.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>
    python3 perfbench/run.py --smoke [--trace 1] [--workload <name>]

One run builds the program from source if needed (perfbench/build.py),
starts one JVM for the workload (local[N], N = cores), generates the
inputs from the seed, runs the flow through its public Scala entry points
and checks the outputs: the oracle compare in DuckDB where the program has
one, reconciliation checks, and an artifact fingerprint that must repeat
across iterations. The last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1` (which also
writes the span report under .bench_work/trace/). The exit code is 0 only
when every check passed.

--smoke runs each workload (or the one named) once on sf0.001-sized
inputs and prints one result line per workload.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["spec_lifecycle", "release_build"]
JVM_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_jvm(classpath, workload, seed, seconds, trace, smoke):
    work = os.path.join(WORK, f"{workload}-{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp dir
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", ":".join(classpath), "graft.flowbench.FlowBench",
            workload, str(seed), str(seconds), str(trace),
            "1" if smoke else "0", work, result]
    # these would override the session's spark.local.dir (under `work`)
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"{workload} run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:  # timed out or interrupted: stop the JVM
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(result):
        raise RuntimeError(f"{workload} JVM exited with code {code}")
    with open(result) as fh:
        return work, json.load(fh)


def _rows(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    return sorted(cols), sorted(rows, key=repr)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def oracle_problems(res):
    """Run each oracle SQL in DuckDB over the generated tables and compare
    with the Spark output; returns the mismatches found."""
    if not res["oracle"]:
        return []
    import duckdb
    con = duckdb.connect()
    data = res["data_dir"]
    for name in sorted(os.listdir(data)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data}/{name}/*.parquet')")
    problems = []
    for name, q in sorted(res["oracle"].items()):
        dcols, drows = _rows(con.sql(q["sql"]))
        scols, srows = _rows(con.sql(
            f"SELECT * FROM read_parquet('{q['spark_dir']}/*.parquet')"))
        if dcols != scols:
            problems.append(f"{name}: columns {scols} != oracle {dcols}")
        elif len(drows) != len(srows) or not all(
                _same(x, y) for a, b in zip(drows, srows)
                for x, y in zip(a, b)):
            problems.append(f"{name}: {len(srows)} rows differ from the "
                            f"oracle's {len(drows)}")
    return problems


def summarize(res, problems):
    """(correct, attempted, failed, end-to-end metrics, summary lines)."""
    its = [it for it in res["iterations"] if not it["traced"]]
    errors = [it["error"] for it in res["iterations"] if it["error"]]
    # the warm-up iteration is the checked one: it counts as an attempt
    attempted = len(res["iterations"]) + 1
    failed = len(errors) + (1 if problems else 0)
    walls = [it["wall_s"] for it in its]
    flow_q1, flow_s, flow_q3 = stats.quartiles(walls)
    cpu_s = stats.median([it["cpu_s"] for it in its])
    setup_s = (res["session_s"] + stats.median(res["setup_s"])
               + res["warmup_s"])
    metrics = {
        "setup_s": (setup_s, "s"),
        "flow_s": (flow_s, "s"),
        "cpu_s": (cpu_s, "s"),
        "rows_per_s": (res["input"]["rows"] / flow_s, "rows/s"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
    }
    lines = [
        f"# {res['workload']} seed={res['seed']} cores={res['cores']} "
        f"input rows={res['input']['rows']} bytes={res['input']['bytes']}",
        f"# flow_s median={flow_s:.3f} q1={flow_q1:.3f} q3={flow_q3:.3f} "
        f"n={len(walls)} [{' '.join(f'{x:.2f}' for x in walls)}]; "
        f"cpu_s median={cpu_s:.3f}; "
        f"error_rate={failed / attempted:.3f} ({failed}/{attempted})",
        f"# setup_s={setup_s:.3f} = session {res['session_s']:.3f} + "
        f"median set-up {stats.median(res['setup_s']):.3f} "
        f"(of {len(res['setup_s'])}) + warm-up {res['warmup_s']:.3f}",
    ] + [f"# check failed: {p}" for p in problems + errors]
    return not problems and not errors, attempted, failed, metrics, lines


def one_run(classpath, workload, seed, seconds, trace, smoke):
    work, res = run_jvm(classpath, workload, seed, seconds, trace, smoke)
    problems = res["checks"] + oracle_problems(res)
    correct, attempted, failed, e2e, lines = summarize(res, problems)
    if trace:
        layer = stats.per_layer(res["trace"], res["iterations"],
                                res["extra"])
        units = {n: u for n, u, _ in stats.per_layer_names()}
        metrics = {n: {"value": layer[n], "unit": units[n]} for n in units}
        report_dir = os.path.join(WORK, "trace")
        os.makedirs(report_dir, exist_ok=True)
        report = os.path.join(report_dir, f"{workload}-seed{seed}.json")
        with open(report, "w") as fh:
            json.dump({"spans": stats.span_report(res["trace"]),
                       "jobs": res["trace"]["jobs"]}, fh)
        lines.append(f"# trace overhead {layer['trace.overhead_s']:.3f} s "
                     f"(traced flow_s {layer['trace.flow_s']:.3f}); "
                     f"span report {os.path.relpath(report, ROOT)}")
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    return lines, {"correct": correct, "attempted": attempted,
                   "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required (or --smoke)")
    t0 = time.time()
    try:
        classpath = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    log(f"build ready in {time.time() - t0:.1f} s")
    workloads = [args.workload] if args.workload else WORKLOADS
    ok = True
    for w in workloads:
        try:
            lines, result = one_run(classpath, w, args.seed,
                                    0 if args.smoke else args.seconds,
                                    args.trace, args.smoke)
        except RuntimeError as e:
            log(f"run failed: {e}")
            return 3
        for line in lines:
            print(line)
        print(json.dumps(result), flush=True)
        ok = ok and result["correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    # a terminated run unwinds like an interrupted one, stopping its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
