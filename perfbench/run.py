"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_cold --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The tables are generated once, into
``.perfbench/data/`` in the checkout.  Each run gets a fresh scratch
directory under ``.perfbench/``: the Spark warehouse, temp files and
shuffle files all live there and are deleted afterwards.  The run itself happens in a child process
(``worker.py``) with the environment pinned; this process waits for it
and for every process it started, then prints a short report and, as
its last line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import ctypes
import dataclasses
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
#: the fixtures' data seed: the generated tables are the same for every
#: run, and equal to the repository's fixtures; ``--seed`` picks the
#: query order
DATA_SEED = 42
#: a run that has not finished by then is killed (the harness promises
#: an exit within 180 s)
RUN_TIMEOUT_S = 170
#: physical RAM share the Spark JVM heap may take, capped
HEAP_SHARE, HEAP_CAP_MB = 0.25, 3072
#: Spark task slots: half the cores, so the JIT compiler, the garbage
#: collector and the Python driver keep cores of their own and a stalled
#: core on a shared host holds up fewer tasks of a stage
CPU_SHARE = 0.5
_PR_SET_CHILD_SUBREAPER = 36


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _heap_mb() -> int:
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return min(HEAP_CAP_MB, int(ram_mb * HEAP_SHARE))


def _cpus() -> int:
    return max(1, int((os.cpu_count() or 1) * CPU_SHARE))


def _env(run_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env.update(
        SPARK_GRAFT_CPUS=str(_cpus()),
        SPARK_DRIVER_MEMORY=f"{_heap_mb()}m",
        # Python workers import the engine (UDFs) and the harness
        # (canaries) by module path
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_SUBMIT_OPTS=(
            env.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
        ).strip(),
        PYTHONHASHSEED="0",
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def _reap(pgid: int, grace_s: float = 10.0) -> None:
    """Stop what is left of the child's process group and wait until
    every descendant has ended (this process is their subreaper)."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                pass
            sig = signal.SIGKILL
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _report(res: dict) -> None:
    ctx = res["context"]
    print(
        f"perfbench: {ctx['workload']} seed={ctx['seed']} sf={ctx['sf']} "
        f"passes={ctx['passes']}x{ctx['queries_per_pass']} samples={ctx['samples']} "
        f"window_s={ctx['window_s']} "
        f"worker_wall_s={ctx['worker_wall_s']} setup={json.dumps(ctx['setup'])}"
    )
    for name, m in res["metrics"].items():
        print(f"perfbench:   {name} = {m['value']:.6g} {m['unit']}")
    print(
        f"perfbench:   failed_ratio = {ctx['failed_ratio']:.4g} "
        f"({res['failed']} of {res['attempted']} attempted)"
    )
    print("perfbench:   per-query median s " + json.dumps(ctx["per_query_s"]))
    for f in ctx["failures"]:
        print(f"perfbench:   FAILED {f}")
    print(
        "perfbench:   host canaries (ungated) before="
        + json.dumps(ctx["canary_before"])
        + " after="
        + json.dumps(ctx["canary_after"])
    )
    print("perfbench:   memory " + json.dumps(ctx["memory"]))


def run_once(wl, seed: int, seconds: float, trace: int) -> dict:
    """One run of workload ``wl`` in a fresh scratch directory; the
    worker's result (``attempted``, ``failed``, ``metrics``,
    ``context``).  Raises ``RuntimeError`` when the run fails."""
    import datagen

    # the tables are generated once per checkout and scale factor, and
    # only read afterwards
    data = os.path.join(ROOT, ".perfbench", "data", f"sf{wl.sf}-seed{DATA_SEED}")
    if not os.path.isdir(data):
        datagen.write_tables(data, wl.sf, DATA_SEED)
    run_dir = os.path.join(ROOT, ".perfbench", f"{wl.name}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload-json", json.dumps(dataclasses.asdict(wl)),
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--data", data,
    ]
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            cmd, cwd=run_dir, env=_env(run_dir), stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            rc = child.wait(timeout=RUN_TIMEOUT_S)
        except BaseException:  # timeout, or this process being stopped
            os.killpg(child.pid, signal.SIGKILL)
            _reap(child.pid)
            raise
        _reap(child.pid)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker exited with {rc}; log kept in {log_path}\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def _raise_exit(signum, _frame):
    sys.exit(128 + signum)


def main() -> None:
    ap = argparse.ArgumentParser(description="datafusion_dolomite_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        _fail(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    for need in ("__spark_entry__.py", "datafusion_dolomite_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail(f"{need} not found in {ROOT}: run from a checkout of the repository")
    signal.signal(signal.SIGTERM, _raise_exit)
    try:
        res = run_once(wl, args.seed, args.seconds, args.trace)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        _fail(f"run failed: {e}", 1)

    _report(res)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": res["metrics"],
            }
        )
    )


if __name__ == "__main__":
    main()
