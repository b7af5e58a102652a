"""The benchmark's workloads: which registry queries run, at which scale,
and whether each query gets a fresh planner.  NOTES.md says why each
workload was chosen."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: scale factor of the generated tables the queries read
    sf: float
    #: registry query names (``__spark_entry__.queries()`` keys)
    queries: tuple
    #: drop the entry file's planner cache before every query, so the
    #: prepared-plan and prepared-DataFrame caches always miss
    cold: bool
    #: timed passes at least, however short ``--seconds``: a window of
    #: a few seconds takes a host slowdown whole, and the JIT is still
    #: warming during the first pass
    passes: int


#: TPC-H-shaped SQL with multi-way joins, subqueries and grouping, plus
#: a builder-API join-order query that skips the parser: every one goes
#: through Hep, Cascades and lowering.  Nine of the relational set, so
#: that the check pass and two timed passes fit a run.
_RELATIONAL = tuple(f"q_sql_q{i}" for i in (2, 5, 7, 8, 10, 11, 16, 21)) + (
    "q_join_order",
)

#: operators that run Spark jobs inside ``fn()`` (index builds, graph
#: loops, model fits), versioned-table writes, and streaming queries
_PIPELINE = (
    "q_minhash_pairs",
    "q_bm25_search",
    "q_sql_merge",
    "q_sql_dml",
    "q_stream_window_counts",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload("olap_cold", 0.01, _RELATIONAL, cold=True, passes=2),
        Workload("pipeline_mixed", 0.01, _PIPELINE, cold=False, passes=3),
    )
}
