"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the program. The inputs are the
fixture tables in ``perfbench/data/sf0.1``; the seed fixes the order of
the queries in each pass. It computes the reference outputs without the
program (DuckDB over the key's oracle SQL, an exact Python version of
that SQL where DuckDB cannot finish it, or an exact numpy search),
times a fixed CPU loop as a host canary, then starts the measured
process (``perfbench/measure.py``), which runs a fixed number of
passes. ``--seconds`` is the nominal length of that measured window;
the pass count, not the clock, ends it, so every run has the same
samples. A run that does not end within ``RUN_LIMIT_S`` fails. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones). Everything the run writes stays
under ``.perfbench_work/`` in the checkout: the measured process runs in
a private mount namespace whose /tmp is this run's
``.perfbench_work/run-<pid>/tmp``, so the program's own /tmp scratch
lands there too and is removed with the run's directory.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import metrics, oracle, proc  # noqa: E402
from perfbench.workloads import APPROX_TOPK, WORKLOADS  # noqa: E402

RUN_LIMIT_S = 175.0
WORK_DIR = ".perfbench_work"
SF_DIR = os.path.join(HERE, "data", "sf0.1")

# The namespace script: bind .perfbench_work/tmp over /tmp. If the
# checkout itself lives under /tmp, bind it at the same path inside the
# new /tmp first so the checkout stays reachable.
_NS_SCRIPT = (
    'set -e; W="$1"; R="$2"; shift 2; '
    'case "$R" in /tmp/*) mkdir -p "$W/${R#/tmp/}"; '
    'mount --bind "$R" "$W/${R#/tmp/}";; esac; '
    'mount --rbind "$W" /tmp; exec "$@"'
)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _namespace_available() -> bool:
    if shutil.which("unshare") is None:
        return False
    try:
        r = subprocess.run(
            ["unshare", "--mount", "--propagation", "private", "true"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    return r.returncode == 0


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getpgid(int(d)) == pgid:
                    return True
            except OSError:
                continue
    return False


def _stop_group(pgid: int) -> None:
    """Kill what is left of a measured process's group (its JVM and
    Python workers; the results are already on disk) and wait until
    every member has exited."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30.0
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.05)


def _run_measured(root: str, work: str, namespace: bool, args: list[str],
                  timeout: float) -> dict:
    """Run ``measure.py`` in a fresh process group and return what it
    wrote; every process it started has ended when this returns."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(proc.nproc())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    if not namespace:
        env["TMPDIR"] = tmp
    os.makedirs(tmp)
    out = os.path.join(work, "measure.json")
    cmd = [sys.executable, os.path.join(HERE, "measure.py"), *args,
           "--out", out, "--spawned-at", repr(time.time())]
    if namespace:
        cmd = ["unshare", "--mount", "--propagation", "private",
               "sh", "-c", _NS_SCRIPT, "sh", tmp, root, *cmd]
    p = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                         start_new_session=True)
    try:
        code = p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(p.pid)
        p.wait()
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"measured process failed (exit {code})")
    with open(out) as fh:
        return json.load(fh)


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.path.realpath(os.getcwd())
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "mapreducenonequijoin_spark"))):
        _log("no program here: run from the root of a checkout of the program")
        return 2
    sys.path.insert(0, root)
    cache = os.path.join(root, WORK_DIR)
    # this run's own directory; oracle results are shared between runs
    work = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        keys = WORKLOADS[args.workload]
        sf_dir = os.path.realpath(SF_DIR)
        from mapreducenonequijoin_spark.plans import oracle_sql_map

        memo = os.path.join(cache, "oracle")
        refs: dict = oracle.references(
            [k for k in keys if k != "dedup_clusters"], oracle_sql_map(), sf_dir, memo)
        if "dedup_clusters" in keys:
            # its oracle SQL does not finish at this scale
            refs["dedup_clusters"] = oracle.clusters_reference(sf_dir, memo)
        for key in keys:
            if key in APPROX_TOPK:
                refs[key] = oracle.topk_reference(sf_dir, APPROX_TOPK[key])
            elif key not in refs:
                raise RuntimeError(f"{key}: no reference to check its output against")
        refs_path = os.path.join(work, "refs.pkl")
        with open(refs_path, "wb") as fh:
            pickle.dump(refs, fh)
        canary_s = metrics.host_canary()
        _log(f"references ready after {time.time() - t_start:.1f} s")

        namespace = _namespace_available()
        if not namespace:
            _log("mount namespaces unavailable: the program's /tmp scratch is the host's")
        run = _run_measured(
            root, work, namespace,
            ["--workload", args.workload, "--seed", str(args.seed),
             "--trace", str(args.trace),
             "--sf-dir", sf_dir, "--refs", refs_path],
            RUN_LIMIT_S - (time.time() - t_start))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    _log(f"measured process ended after {time.time() - t_start:.1f} s")
    for f in run["failures"]:
        _log(f"FAILED pass {f['pass']} {f['key']}: {f['error']}")
    attempted = sum(len(p["queries"]) for p in run["passes"])
    failed = len(run["failures"])
    summary = metrics.summary(run, canary_s)
    _log(json.dumps(summary["info"]))
    values = summary["per_layer"] if args.trace else summary["end_to_end"]
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": v, "unit": unit} for name, (v, unit) in values.items()
        },
    }
    sys.stdout.write(json.dumps(line) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
