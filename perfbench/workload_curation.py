"""curation_batch: registered queries over the fixture tables.

A fixed subset of the registered queries runs over the read-only
``FIXTURES`` directory: two relational queries and one from each of the
dedup, text, pipeline and multimodal operator modules. The queries read
the fixtures, not the log, so this workload bypasses ``log.wal`` and
``streaming`` entirely.

Set-up loads every fixture table through ``walrus_spark.catalog``,
repeated and its median reported. None of the subset reads the
build-once artifacts ``bench.py`` prepares (bucketed layout, BM25
index), so set-up does not build them.

Passes over the subset, always in the order below, run for about
``--seconds`` (up to the pass boundary nearest to it), at least
``MIN_PASSES`` of them. The inputs
are the fixtures, so the seed changes nothing here; a fixed order keeps
each query in the same place relative to the session's warm-up. Each execution is a query's
first in the session (code generation included), collects its rows
under its own Spark job group and is checked against the query's DuckDB
oracle with ``tests/oracle_util``. ``release_session_caches`` runs
before every execution, so none is served from an operator's memo of an
earlier one.
"""

from __future__ import annotations

import os
import sys
import time

import harness

FIXTURES = os.path.expanduser("~/testdata/sf0.1")  # bench.py's default
QUERIES = (
    "dq08_tumbling_window",  # relational: event-time windows
    "dq13_join_agg_q3",  # relational: join + aggregate
    "dedup_embedding_cosine",  # dedup
    "text_quality",  # text
    "pipeline_decontamination",  # pipeline
    "multimodal_decode",  # multimodal
)
MIN_PASSES = 1
SETUPS = 2

SMOKE = {"fixtures": os.path.expanduser("~/testdata/sf0.01"),
         "queries": ("dq13_join_agg_q3", "pipeline_decontamination"),
         "setups": 1}


class _Collected:
    """Rows already collected, shaped as ``oracle_util.compare`` reads
    a DataFrame, so the timed execution is the one that is checked."""

    def __init__(self, columns, rows) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def _setup_data(spark, fixtures: str) -> float:
    from walrus_spark.catalog import load_tables
    from walrus_spark.session import release_session_caches

    release_session_caches(spark)
    t0 = time.perf_counter()
    for df in load_tables(spark, fixtures).values():
        df.count()
    return time.perf_counter() - t0


def run(ctx) -> dict:
    from walrus_spark.queries import ORACLES
    from walrus_spark.queries import QUERIES as REGISTRY
    from walrus_spark.session import release_session_caches

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests"))
    from oracle_util import compare

    fixtures = SMOKE["fixtures"] if ctx.smoke else FIXTURES
    queries = SMOKE["queries"] if ctx.smoke else QUERIES
    setups = SMOKE["setups"] if ctx.smoke else SETUPS
    if not os.path.isdir(fixtures):
        raise FileNotFoundError(f"fixture directory {fixtures} is missing")

    rss = harness.PeakRss(os.getpid())
    spark, session_s = harness.start_spark("perfbench-curation")
    sc = spark.sparkContext
    times: dict[str, list[float]] = {q: [] for q in queries}
    jobs: dict[str, tuple[int, int]] = {}
    problems: dict[str, list[str]] = {}
    failed = attempted = 0
    tracer = harness.Tracer(ctx.trace == 1)
    try:
        data_s = [_setup_data(spark, fixtures) for _ in range(setups)]
        release_session_caches(spark)

        t_start = time.perf_counter()
        passes = 0
        pass_s = 0.0
        # stop at the pass boundary nearest to --seconds, as log_stream
        # does with its cycles
        while passes < MIN_PASSES or time.perf_counter() - t_start + pass_s / 2 < ctx.seconds:
            t_pass = time.perf_counter()
            for q in queries:
                group = f"perfbench-{q}-{passes}"
                sc.setJobGroup(group, q)
                t0 = time.perf_counter()
                with tracer.span(f"q.{q}"):
                    df = REGISTRY[q](spark, fixtures)
                    rows = df.collect()
                times[q].append(time.perf_counter() - t0)
                sc.setJobGroup("", "")
                jobs[q] = harness.job_counts(spark, group)
                attempted += 1
                bad = compare(_Collected(df.columns, rows), ORACLES[q], fixtures)
                if bad:
                    failed += 1
                    problems[q] = bad
                release_session_caches(spark)
            passes += 1
            pass_s = time.perf_counter() - t_pass
    finally:
        harness.stop_spark(spark)
    peak = rss.stop()

    per_query = {q: harness.p50(v) for q, v in times.items()}
    all_ms = [t * 1e3 for v in times.values() for t in v]
    qm = harness.summarize(all_ms)
    end_to_end = {
        "setup_s": session_s + harness.p50(data_s),
        "peak_rss_mb": peak,
        "p50_ms": qm["p50"],
        "work_s": sum(per_query.values()),
    }
    detail = {
        "fixtures": fixtures,
        "peak_rss_by_process_mb": rss.at_peak,
        "query_ms": qm,
        "suite_s": sum(per_query.values()),
        "passes": passes,
        "failed_ratio": failed / attempted,
        "problems": problems,
        **{f"q.{q}.s": s for q, s in per_query.items()},
        **{f"q.{q}.jobs": j for q, (j, _t) in jobs.items()},
        **{f"q.{q}.tasks": t for q, (_j, t) in jobs.items()},
    }
    if ctx.trace:
        detail["self_time_s"] = tracer.self_time_s()
    layers = {
        "setup.session_s": session_s,
        "setup.data_s": harness.p50(data_s),
        "q.jobs": sum(j for j, _t in jobs.values()),
        "q.tasks": sum(t for _j, t in jobs.values()),
    }
    return {"attempted": attempted, "failed": failed,
            "end_to_end": end_to_end, "layers": layers, "detail": detail,
            "spans": [list(s) for s in tracer.spans]}
