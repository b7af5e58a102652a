"""One benchmark run, executed by ``run.py`` as a child process inside a
fresh scratch directory (its cwd) with the environment pinned.

Writes ``result.json`` into the cwd; ``run.py`` turns it into the
benchmark's output.  Not meant to be started by hand.
"""

import time

_T_START = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import gc  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import traceback  # noqa: E402

def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _vmhwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _files(*roots) -> dict:
    """``{path: (mtime_ns, size)}`` of every file under ``roots``."""
    out = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_mtime_ns, st.st_size)
    return out


def _written_bytes(before: dict, after: dict) -> int:
    """Bytes of the files created or rewritten between two ``_files``
    snapshots (copy-on-write tables rewrite, so net growth reads 0)."""
    return sum(v[1] for p, v in after.items() if before.get(p) != v)


class Run:
    def __init__(self, args, workload):
        self.args = args
        self.wl = workload
        self.sf_dir = os.path.abspath(args.data)
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.entry = None
        self.attempted = 0
        self.failures: list = []
        self.samples: list = []
        self.per_query: dict = {}
        self.tracer = None

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        """Import the engine and the registry and start a Spark session."""
        from datafusion_dolomite_spark.session import get_spark

        self.entry = importlib.import_module("__spark_entry__")
        self.queries = self.entry.queries()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")

    # -- one query -------------------------------------------------------

    def _call(self, name: str):
        if self.wl.cold:
            self.entry._PLANNERS.clear()
        return self.queries[name](self.spark, self.sf_dir)

    def timed(self, name: str):
        """Untraced: seconds from calling ``fn`` to the end of its sink."""
        t0 = time.perf_counter()
        df = self._call(name)
        _sink(df)
        return time.perf_counter() - t0

    def traced(self, name: str, qid):
        tr, probe = self.tracer, self.probe
        probe.drain()
        probe.new_jobs()
        before = _files(*self.write_roots)
        tr.qid = qid
        try:
            with tr.span("query") as q:
                with tr.span("functions"):
                    df = self._call(name)
                with tr.span("trace.probe"):
                    probe.drain()
                    tr.counts["functions.eager_jobs"] += len(probe.new_jobs())
                with tr.span("spark.exec"):
                    _sink(df)
        finally:
            tr.qid = None
        probe.drain()
        jobs = probe.new_jobs()
        stages, tasks, shuffle = probe.stage_work(jobs)
        tr.counts["spark.jobs"] += len(jobs)
        tr.counts["spark.stages"] += stages
        tr.counts["spark.tasks"] += tasks
        tr.counts["spark.shuffle_write_bytes"] += shuffle
        tr.counts["sources.write_bytes"] += _written_bytes(before, _files(*self.write_roots))
        return tr.duration(q)

    # -- the run ---------------------------------------------------------

    def _failed(self, name: str, e: Exception) -> None:
        # a failing query is counted, never dropped from the workload
        self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        traceback.print_exc()

    def check(self, name: str) -> None:
        """Run query ``name`` and compare its rows with its oracle."""
        self.attempted += 1
        try:
            why = self.oracle.mismatch(self._call(name), self.oracle_sql[name])
            if why:
                self.failures.append(f"{name}: {why}")
        except Exception as e:
            self._failed(name, e)
        finally:
            self.spark.catalog.clearCache()

    def run_query(self, name: str, qid) -> None:
        """Time ``name`` to its sink."""
        self.attempted += 1
        try:
            if self.tracer is None:
                dt = self.timed(name)
            else:
                dt = self.traced(name, qid)
            self.samples.append(dt)
            self.per_query.setdefault(name, []).append(dt)
        except Exception as e:
            self._failed(name, e)
        finally:
            self.spark.catalog.clearCache()

    def main(self) -> dict:
        import canary
        from oracle import Oracle

        self.setup()
        session_s = time.perf_counter() - _T_START
        self.oracle_sql = self.entry.oracle_sql()
        self.oracle = Oracle(self.sf_dir)
        names = list(self.wl.queries)
        # the output check is one untimed pass before the window; it is
        # also the warm-up (JIT, Python workers, and on a warm workload
        # the planner's caches and lazily built state)
        for name in names:
            self.check(name)
        # set-up: process start to the end of the warm-up; what follows
        # until the first timed query (canaries, GC) is harness work, and
        # so is the oracle side of the check
        setup_s = time.perf_counter() - _T_START - self.oracle.oracle_s
        canary_before = canary.sample(self.spark, os.getcwd())
        if self.args.trace:
            self._start_tracing()
        # start the window on clean heaps, so a collection of the set-up
        # and check garbage does not land in one run's window only
        gc.collect()
        self.spark._jvm.System.gc()

        rng = random.Random(self.args.seed)
        passes = 0
        while passes < self.wl.passes or sum(self.samples) < self.args.seconds:
            order = names[:]
            rng.shuffle(order)
            for name in order:
                self.run_query(name, (passes, name))
            passes += 1
            if not self.samples:
                raise RuntimeError("every query failed: " + "; ".join(self.failures))
        window_s = sum(self.samples)
        self.oracle.close()

        if self.args.trace:
            self.probe.drain()
        canary_after = canary.sample(self.spark, os.getcwd())
        memory = self.memory()
        context = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "sf": self.wl.sf,
            "queries_per_pass": len(names),
            "passes": passes,
            "samples": len(self.samples),
            "window_s": round(window_s, 3),
            "worker_wall_s": round(time.perf_counter() - _T_START, 3),
            "setup": {
                "session_s": round(session_s, 3),
                "oracle_s": round(self.oracle.oracle_s, 3),
                "setup_s": round(setup_s, 3),
            },
            "failed_ratio": len(self.failures) / self.attempted,
            "failures": self.failures,
            "canary_before": canary_before,
            "canary_after": canary_after,
            "memory": {k: round(v, 1) for k, v in memory.items()},
            "per_query_s": {
                k: round(statistics.median(v), 4) for k, v in sorted(self.per_query.items())
            },
        }
        if self.args.trace:
            metrics = self._layer_metrics(self.samples)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "query_s.p50": (statistics.median(self.samples), "s"),
                "throughput_qpm": (60 * len(self.samples) / window_s, "1/min"),
                "memory_mb": (
                    memory["py_peak_mb"] + memory["jvm_heap_live_mb"] + memory["jvm_nonheap_mb"],
                    "MB",
                ),
            }
        self.spark.stop()
        return {
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "context": context,
        }

    def memory(self) -> dict:
        """The Python driver's peak RSS, and the JVM's memory in use after
        a full GC (its peak RSS follows heap sizing, not the workload,
        and is reported for context only)."""
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        jvm = self.spark._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        jvm.System.gc()
        return {
            "py_peak_mb": _vmhwm_mb(os.getpid()),
            "jvm_heap_live_mb": mx.getHeapMemoryUsage().getUsed() / 2**20,
            "jvm_nonheap_mb": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
            "jvm_peak_rss_mb": _vmhwm_mb(jvm_pid),
        }

    # -- tracing ---------------------------------------------------------

    def _start_tracing(self) -> None:
        from spans import JobProbe, Tracer, streaming_listener

        self.tracer = Tracer()
        self.tracer.install()
        self.probe = JobProbe(self.spark)
        self.listener = streaming_listener()
        self.spark.streams.addListener(self.listener)
        self.write_roots = [os.path.join(os.getcwd(), d) for d in ("tmp", "spark-warehouse")]
        self.probe.drain()

    def _layer_metrics(self, samples) -> dict:
        tr = self.tracer
        self_s, calls, counts = tr.self_times(), tr.call_counts(), tr.counts
        opt, df = calls["planner.optimize"], calls["planner.dataframe"]
        per_query = {
            "sql.parse_s": (self_s["sql.parse"], "s/query"),
            "sql.calls": (calls["sql.parse"], "1/query"),
            "heuristic.s": (self_s["heuristic"], "s/query"),
            "heuristic.calls": (calls["heuristic"], "1/query"),
            "cascades.s": (self_s["cascades"], "s/query"),
            "cascades.calls": (calls["cascades"], "1/query"),
            "cascades.groups": (counts["cascades.groups"], "1/query"),
            "cascades.exprs": (counts["cascades.exprs"], "1/query"),
            "cascades.transformations": (counts["cascades.transformations"], "1/query"),
            "planner.s": (self_s["planner.optimize"] + self_s["planner.dataframe"], "s/query"),
            "planner.optimize_calls": (opt, "1/query"),
            "planner.dataframe_calls": (df, "1/query"),
            "execute.lower_s": (self_s["execute.lower"], "s/query"),
            "execute.calls": (calls["execute.lower"], "1/query"),
            "execute.py4j_calls": (counts["execute.py4j_calls"], "1/query"),
            "sources.stats_s": (self_s["sources.stats"], "s/query"),
            "sources.write_bytes": (counts["sources.write_bytes"], "B/query"),
            "functions.eager_s": (self_s["functions"], "s/query"),
            "functions.eager_jobs": (counts["functions.eager_jobs"], "1/query"),
            "spark.exec_s": (self_s["spark.exec"], "s/query"),
            "spark.jobs": (counts["spark.jobs"], "1/query"),
            "spark.stages": (counts["spark.stages"], "1/query"),
            "spark.tasks": (counts["spark.tasks"], "1/query"),
            "spark.shuffle_write_bytes": (counts["spark.shuffle_write_bytes"], "B/query"),
            "streaming.batches": (self.listener.batches, "1/query"),
            "streaming.batch_s": (self.listener.batch_s, "s/query"),
            "trace.probe_s": (self_s["trace.probe"], "s/query"),
        }
        m = {k: (v / len(samples), u) for k, (v, u) in per_query.items()}
        m["planner.plan_cache_hit_ratio"] = (
            1 - tr.nested_calls("heuristic", "planner.optimize") / max(opt, 1),
            "ratio",
        )
        m["planner.df_cache_hit_ratio"] = (
            1 - tr.nested_calls("execute.lower", "planner.dataframe") / max(df, 1),
            "ratio",
        )
        # share of fn() time no wrapped layer covers: near 0 where fn()
        # only plans, so a wrapper that stops matching shows here
        m["functions.eager_share"] = (
            self_s["functions"] / max(tr.total("functions"), 1e-9),
            "ratio",
        )
        m["trace.query_s_p50"] = (statistics.median(samples), "s")
        m["trace.unattributed_share"] = (self_s["query"] / sum(samples), "ratio")
        return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload-json", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    args = ap.parse_args()

    from workloads import Workload

    wl = json.loads(args.workload_json)
    out = Run(args, Workload(**{**wl, "queries": tuple(wl["queries"])})).main()
    with open("result.json", "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
