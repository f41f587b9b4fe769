"""The benchmark's workloads.

Each is one client in a closed loop: the next operation starts when the
previous one has finished. A workload returns its end-to-end metrics,
its per-layer metrics (from the traced passes of a ``--trace 1`` run),
the counts of operations attempted and failed, and a record of its
inputs.

* ``filing_etl`` — the paper's pipeline: a full bronze -> silver -> gold
  ``run_pipeline`` build into a fresh sink tree, then the incremental
  re-run that adds ~10% new filings to the same sinks. One pass is the
  two together in the fresh JVM, the cycle an analyst pays for.
* ``filing_analytics`` — read-only registry queries over the generated
  lake: scans, joins, pivots, windows, exact-decimal sums and the
  structured-asset build. Pure Catalyst, no Python kernels, no writes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

from perfbench import checks, inputs
from perfbench.procs import cpu_seconds, cpu_ticks, steal_share
from perfbench.trace import (
    StageReader,
    attach_stage_metrics,
    self_times,
    subtree_stage_sum,
)

N_FILINGS = 200
# Lake scale, from the time budget: on a busy 4-core host a
# filing_analytics run took 50-62 s at sf 0.01 (e3 ~2-4 s warm, the other
# three ~0.4-0.7 s) and 101 s at sf 0.1, which together with filing_etl's
# ~70 s would not fit the runs a benchmark pass is given.
LAKE_SF = 0.01
LAKE_DOCS = 100
ANALYTICS = ["e3", "a2", "w1", "j8"]
# the tables those queries read: the set-up touches these
LAKE_TABLES = ("customer", "orders", "lineitem", "events")
MIN_WARM = 3  # untraced warm runs per query
MAX_RUNS = 40
MAX_FAILS = 3  # raising runs after which a query or the pipeline is given up
# gated end-to-end metrics; the wall-time twins cold_s and pass_s are
# printed only, since on a shared host they follow the neighbours' CPU steal
END_TO_END = ("setup_s", "cold_cpu_s", "pass_cpu_s", "peak_rss_mb")
STAGE_OF_SINK = {"bronze_cells": "bronze", "silver": "silver", "gold_assets": "gold"}


def _median(xs):
    """Median, NaN when nothing was measured (left out of the result)."""
    xs = list(xs)
    return statistics.median(xs) if xs else math.nan


def _p90(xs):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(round(0.9 * (len(xs) - 1))))] if xs else math.nan


def install_tracing(run) -> None:
    """Wrap the engine's public entry points (and the stage boundary
    inside ``run_pipeline``) in spans."""
    from pyspark.sql.readwriter import DataFrameWriter

    from x17a5_spark import cache, pipeline, tables
    from x17a5_spark.operators import structured
    from x17a5_spark.sources import ocr
    from x17a5_spark.streaming import incremental

    t = run.tracer
    t.patch(tables, "load_table", "tables.load_table")
    t.patch(pipeline, "run_pipeline", "pipeline.run_pipeline")
    t.patch(
        pipeline,
        "_incremental_stage",
        lambda spark, inp, transform, path: "pipeline."
        + STAGE_OF_SINK.get(os.path.basename(path), os.path.basename(path)),
    )
    t.patch(pipeline, "clean_filings", "operators.clean_filings")
    t.patch(ocr.OcrSource, "run", "sources.ocr_run")
    t.patch(ocr, "quarantine", "sources.quarantine")
    t.patch(structured, "build_structured_assets", "operators.build_structured")
    t.patch(structured, "build_structured_liabilities", "operators.build_structured")
    t.patch(incremental, "incremental_todo", "streaming.incremental_todo")
    t.patch(cache, "stage_persist", "cache.stage_persist")
    t.patch(cache, "release_stage_caches", "cache.release_stage_caches")
    t.patch(
        DataFrameWriter,
        "parquet",
        lambda self, path, *a, **k: "io.parquet_write." + os.path.basename(path.rstrip("/")),
    )


class Passes:
    """Groups the spans of traced passes and derives per-pass sums. A
    pass is a list of span ids; ``end`` appends the spans opened since
    ``begin`` to the pass named ``key``, so one pass can gather several
    traced stretches (one traced run of every query, say)."""

    def __init__(self, run):
        self.run = run
        self.reader = None
        self.groups: dict[int, list[int]] = {}

    @property
    def passes(self) -> list[list[int]]:
        return list(self.groups.values())

    def begin(self) -> int:
        if self.reader is None:
            self.reader = StageReader(self.run.spark.sparkContext)
            self.reader.collect()  # skip set-up jobs
        self.run.tracer.enabled = True
        return len(self.run.tracer.spans)

    def end(self, first_span: int, key: int) -> None:
        t = self.run.tracer
        t.enabled = False
        attach_stage_metrics(t.spans, self.reader.collect())
        self.groups.setdefault(key, []).extend(range(first_span, len(t.spans)))

    def spans_of(self, p: list[int]) -> list[dict]:
        spans = self.run.tracer.spans
        return [spans[i] for i in p]

    def dur(self, p, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans_of(p) if s["name"] == name)

    def count(self, p, name: str) -> int:
        return sum(1 for s in self.spans_of(p) if s["name"] == name)

    def returned(self, p, name: str) -> float:
        return sum(s.get("returned", 0) for s in self.spans_of(p) if s["name"] == name)

    def stage(self, p, key: str, name: str | None = None) -> float:
        """``key`` over the stages of the spans named ``name`` (whole
        subtrees), or of the whole pass when ``name`` is None."""
        spans = self.run.tracer.spans
        roots = [s["id"] for s in self.spans_of(p)
                 if (s["name"] == name if name else s["parent"] is None)]
        return sum(subtree_stage_sum(spans, r, key) for r in roots)

    def wall(self, p) -> float:
        return sum(s["end"] - s["start"] for s in self.spans_of(p) if s["parent"] is None)

    def per_pass(self, fn) -> float:
        return _median(fn(p) for p in self.passes)

    def common_metrics(self, traced_pass_s: float, untraced_pass_s: float) -> dict:
        run = self.run
        st = self_times(run.tracer.spans)
        pp = self.per_pass
        return {
            "session.start_s": run.start_s,
            "tables.warm_s": run.touch_s,
            "session.busy_ratio": pp(
                lambda p: self.stage(p, "run_ms") / 1000.0 / (self.wall(p) * run.cores)),
            "session.gc_s": pp(lambda p: self.stage(p, "gc_ms") / 1000.0),
            "session.spill_bytes": pp(
                lambda p: self.stage(p, "mem_spill_bytes") + self.stage(p, "disk_spill_bytes")),
            "session.failed_tasks": sum(self.stage(p, "failed_tasks") for p in self.passes),
            "tables.input_bytes": pp(lambda p: self.stage(p, "input_bytes")),
            "trace.overhead_s": traced_pass_s - untraced_pass_s,
            "trace.spans_per_pass": pp(lambda p: len(self.spans_of(p))),
            # self times of a pass's spans add up to its wall time; a gap
            # means spans overlap or escaped their parent
            "trace.self_over_wall": pp(
                lambda p: sum(st[s["id"]] for s in self.spans_of(p)) / self.wall(p)),
            "cache.persists": pp(lambda p: self.count(p, "cache.stage_persist")),
            "cache.caches_released": pp(lambda p: self.returned(p, "cache.release_stage_caches")),
            "cache.release_s": pp(lambda p: self.dur(p, "cache.release_stage_caches")),
            "operators.structured_build_s": pp(lambda p: self.dur(p, "operators.build_structured")),
        }


def _fill(per_layer: dict) -> dict:
    """Every per-layer metric BENCHMARK.json lists, as (value, unit);
    metrics of a layer this workload does not exercise read 0."""
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer"]
    return {m["name"]: (float(per_layer.get(m["name"], 0.0)), m["unit"]) for m in listed}


def _sink_stats(out_dir: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(out_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# --------------------------------------------------------------------------
# filing_etl
# --------------------------------------------------------------------------

def filing_etl(run) -> dict:
    from x17a5_spark import pipeline

    from perfbench.backend import LedgerOcrBackend

    inp = os.path.join(run.work, "inputs")
    plan = inputs.make_filings(run.seed, N_FILINGS, inp)
    paths = {k: os.path.join(inp, f"{k}.parquet") for k in
             ("docs_base", "docs_new", "text_base", "text_new", "labels")}

    def touch(spark):
        for p in paths.values():
            spark.read.parquet(p).count()

    if run.traced:
        install_tracing(run)
    run.setup(touch)
    spark = run.spark
    docs_base = spark.read.parquet(paths["docs_base"])
    text_base = spark.read.parquet(paths["text_base"])
    docs_all = spark.read.parquet(paths["docs_base"], paths["docs_new"])
    text_all = spark.read.parquet(paths["text_base"], paths["text_new"])
    labels = spark.read.parquet(paths["labels"])
    n_base_docs = docs_base.count()
    n_all_docs = docs_all.count()

    attempted = failed = 0
    problems: list[str] = []
    extra: list[dict] = []  # trace-only measurements per traced pass

    def build(label: str, out: str, traced: bool, info: dict) -> tuple[float, float] | None:
        """One ``run_pipeline`` call, timed (wall and CPU seconds), then
        checked against the plan. A wrong result counts as failed but
        keeps its times; an exception leaves none."""
        nonlocal attempted, failed
        docs, text, batches = {
            "full": (docs_base, text_base, ("base",)),
            "increment": (docs_all, text_all, ("base", "new")),
        }[label]
        attempted += 1
        elapsed = None
        try:
            if traced and label == "increment":
                info["bronze_keys_before"] = spark.read.parquet(
                    os.path.join(out, "bronze_cells")).select("cik", "filing_date").distinct().count()
                info["gold_before"] = spark.read.parquet(os.path.join(out, "gold_assets")).count()
            with run.tracer.span(f"etl.{label}"):
                cpu0 = cpu_seconds()
                t0 = time.perf_counter()
                pipeline.run_pipeline(
                    spark, docs, text, out, labels, inputs.LABELS,
                    ocr_backend_factory=LedgerOcrBackend,
                )
                wall = time.perf_counter() - t0
                elapsed = wall, cpu_seconds() - cpu0
            bad = checks.check_build(spark, out, plan, batches)
            if traced and label == "full":
                silver = spark.read.parquet(os.path.join(out, "silver")).count()
                purged = spark.read.parquet(os.path.join(out, "bronze_cells")).filter(
                    "col0 is not null and trim(col0) != ''").count()
                info["parse_yield"] = silver / purged if purged else 0.0
                ledger = spark.read.parquet(os.path.join(out, "ocr_errors")).count()
                info["quarantine_ratio"] = ledger / n_base_docs
            elif traced:
                info["gold_after"] = spark.read.parquet(
                    os.path.join(out, "gold_assets")).count()
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            bad = [f"{type(e).__name__}: {str(e)[:300]}"]
            elapsed = None
        if bad:
            failed += 1
            problems.extend(f"{label}: {b}" for b in bad[:3])
        return elapsed

    # the measured pass, in the fresh JVM: the cold full build, then the
    # incremental re-run over its sinks. Only one pass: a warm full build
    # on top would add ~15% to a run that must fit the benchmark's time.
    # A traced run reports none of these numbers; its cold build only
    # warms the JVM for the passes below.
    out = os.path.join(run.work, "sinks0")
    ticks0 = cpu_ticks()
    cold = build("full", out, False, {}) or (math.nan, math.nan)
    inc = None
    if math.isfinite(cold[0]) and not run.traced:
        inc = build("increment", out, False, {})
    inc = inc or (math.nan, math.nan)
    ticks1 = cpu_ticks()
    sink_bytes = _sink_stats(out)[1]
    shutil.rmtree(out, ignore_errors=True)

    # a traced run adds further passes, each a full build into a fresh
    # sink tree and the re-run over it, until the time is up: untraced,
    # traced, untraced, ... so the overhead estimate compares passes of a
    # JVM that is equally warm
    passes = Passes(run)
    warm: list[float] = []
    traced_walls: list[float] = []
    k = 0
    t_end = time.perf_counter() + run.seconds
    while run.traced:
        k += 1
        traced = k % 2 == 0
        out = os.path.join(run.work, f"sinks{k}")
        info: dict = {}
        if traced:
            first = passes.begin()
        full = build("full", out, traced, info)
        rerun = build("increment", out, traced, info) if full is not None else None
        if traced:
            passes.end(first, k)
        info["sink_files"], info["sink_bytes"] = _sink_stats(out)
        shutil.rmtree(out, ignore_errors=True)
        if full is not None and rerun is not None:
            info.update(full=full[0], increment=rerun[0])
            if traced:
                extra.append(info)
                traced_walls.append(full[0] + rerun[0])
            else:
                warm.append(full[0] + rerun[0])
        if time.perf_counter() >= t_end and warm and extra:
            break
        if k >= MAX_RUNS or (k >= MAX_FAILS and not (warm or extra)):
            break  # given up: what could not be measured is left out

    input_bytes = plan.stats["bytes"]
    report = {
        "setup_s": (run.setup_s, "s"),
        "cold_s": (cold[0], "s"),
        "pass_s": (cold[0] + inc[0], "s"),
        "cold_cpu_s": (cold[1], "s"),
        "pass_cpu_s": (cold[1] + inc[1], "s"),
        "filings_per_s": (n_base_docs / cold[0], "filings/s"),
        "increment_s": (inc[0], "s"),
        "sink_bytes_per_input_byte": (
            sink_bytes / input_bytes if math.isfinite(inc[0]) else math.nan, "ratio"),
        "peak_rss_mb": (run.peak_rss_mb(), "MB"),
        "failed_ops_ratio": (failed / attempted, "ratio"),
    }
    per_layer = {}
    if run.traced:
        per_layer = passes.common_metrics(_median(traced_walls), _median(warm))

        def in_full(p, name: str) -> list[dict]:
            """The spans named ``name`` inside the pass's full build."""
            spans = passes.spans_of(p)
            f = next((s for s in spans if s["name"] == "etl.full"), None)
            return [s for s in spans if f and s["name"] == name
                    and f["start"] <= s["start"] <= f["end"]]

        def dur(p, name: str) -> float:
            return sum(s["end"] - s["start"] for s in in_full(p, name))

        def silver(p, key: str) -> float:
            return sum(subtree_stage_sum(run.tracer.spans, s["id"], key)
                       for s in in_full(p, "pipeline.silver"))

        def med(key: str) -> float:
            return _median(e[key] for e in extra)

        ocr_s = passes.per_pass(lambda p: dur(p, "io.parquet_write.ocr_errors"))
        per_layer.update({
            "sources.ocr_s": ocr_s,
            "sources.docs_per_s": n_base_docs / ocr_s if ocr_s else 0.0,
            "sources.quarantine_ratio": med("quarantine_ratio"),
            "pipeline.bronze_s": passes.per_pass(lambda p: dur(p, "pipeline.bronze")),
            "pipeline.silver_s": passes.per_pass(lambda p: dur(p, "pipeline.silver")),
            "pipeline.gold_s": passes.per_pass(lambda p: dur(p, "pipeline.gold")),
            "pipeline.full_build_s": med("full"),
            "pipeline.increment_s": med("increment"),
            "pipeline.filings_per_s": n_base_docs / med("full"),
            "pipeline.sink_files": med("sink_files"),
            "pipeline.sink_bytes": med("sink_bytes"),
            "pipeline.sink_bytes_per_input_byte": med("sink_bytes") / input_bytes,
            "operators.clean_build_s": passes.per_pass(
                lambda p: dur(p, "operators.clean_filings")),
            "operators.silver_run_s": passes.per_pass(lambda p: silver(p, "run_ms") / 1000.0),
            "operators.silver_shuffle_bytes": passes.per_pass(
                lambda p: silver(p, "shuffle_read_bytes") + silver(p, "shuffle_write_bytes")),
            "operators.silver_tasks": passes.per_pass(lambda p: silver(p, "tasks")),
            "functions.parse_yield": med("parse_yield"),
            "streaming.guard_skip_ratio": _median(
                e["bronze_keys_before"] / n_all_docs for e in extra),
            "streaming.rows_appended": _median(
                e["gold_after"] - e["gold_before"] for e in extra),
        })
        per_layer = _fill(per_layer)
    return {
        "end_to_end": {k: report[k] for k in END_TO_END},
        "per_layer": per_layer,
        "report": report,
        "attempted": attempted,
        "failed": failed,
        "record": {
            "inputs": plan.stats,
            "steal": steal_share(ticks0, ticks1),
            "traced_passes": len(extra),
            "problems": problems[:10],
        },
    }


# --------------------------------------------------------------------------
# query workloads
# --------------------------------------------------------------------------

def _query_workload(run, codes: list[str]) -> dict:
    from x17a5_spark import cache, tables
    from x17a5_spark.queries import registry

    lake = os.path.join(run.work, "inputs", "lake")
    table_rows = inputs.make_lake(run.seed, LAKE_SF, LAKE_DOCS, lake)
    lake_bytes = sum(os.path.getsize(os.path.join(lake, f)) for f in os.listdir(lake))

    def touch(spark):
        for t in LAKE_TABLES:
            tables.load_table(spark, lake, t).count()

    queries, oracles = registry()
    by_code = {n.split("_", 1)[0]: n for n in queries}
    names = {c: by_code[c] for c in codes}
    if run.traced:
        install_tracing(run)
    run.setup(touch)
    spark = run.spark

    attempted = failed = 0
    problems: list[str] = []
    bad_queries: set[str] = set()

    def one(code: str) -> tuple[float, float, float] | None:
        """One timed run of a query: the builder call, then a ``noop``
        execution; (build, execute, CPU) seconds. Stage caches are
        released after the timer stops."""
        nonlocal attempted, failed
        attempted += 1
        try:
            with run.tracer.span(f"queries.{code}"):
                cpu0 = cpu_seconds()
                t0 = time.perf_counter()
                with run.tracer.span(f"queries.{code}.build"):
                    df = queries[names[code]](spark, lake)
                t1 = time.perf_counter()
                with run.tracer.span(f"queries.{code}.exec"):
                    df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
                cpu = cpu_seconds() - cpu0
                cache.release_stage_caches()
                spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            failed += 1
            bad_queries.add(code)
            problems.append(f"{code}: {type(e).__name__}: {str(e)[:300]}")
            cache.release_stage_caches()
            spark.catalog.clearCache()
            return None
        if code in bad_queries:
            failed += 1  # its result was wrong when checked
        return t1 - t0, t2 - t1, cpu

    # cold pass: the first run of every query in this JVM, collected so
    # the oracle comparison (outside the timer) checks that very result
    cold_s = cold_cpu_s = 0.0
    ticks0 = cpu_ticks()
    checker = checks.OracleChecker(run.root, lake, oracles)
    try:
        for c in codes:
            attempted += 1
            try:
                cpu0 = cpu_seconds()
                t0 = time.perf_counter()
                df = queries[names[c]](spark, lake)
                result = df.collect()
                cold_s += time.perf_counter() - t0
                cold_cpu_s += cpu_seconds() - cpu0
                bad = checker.check(names[c], checks.Collected(df, result))
            except Exception as e:  # noqa: BLE001
                bad = [f"{c}: {type(e).__name__}: {str(e)[:300]}"]
            cache.release_stage_caches()
            spark.catalog.clearCache()
            if bad:
                failed += 1
                bad_queries.add(c)
                problems.extend(bad)
    finally:
        checker.close()

    # warm runs, query by query: each gets an equal share of the time
    # and at least MIN_WARM untraced runs (a traced run interleaves them
    # with traced ones: U T U T U); a query that keeps raising is given
    # up after MAX_FAILS runs
    ticks1 = cpu_ticks()
    samples: dict[str, list[tuple[float, float, float]]] = {c: [] for c in codes}
    traced_samples: dict[str, list[tuple[float, float, float]]] = {c: [] for c in codes}
    passes = Passes(run)
    share = run.seconds / len(codes)
    for c in codes:
        t_end = time.perf_counter() + share
        fails = 0
        for i in range(MAX_RUNS):
            traced = run.traced and i % 2 == 1
            if traced:
                first = passes.begin()
            r = one(c)
            if traced:
                passes.end(first, len(traced_samples[c]))
            if r:
                (traced_samples if traced else samples)[c].append(r)
            else:
                fails += 1
            if fails >= MAX_FAILS:
                break
            if (time.perf_counter() >= t_end and len(samples[c]) >= MIN_WARM
                    and (traced_samples[c] or not run.traced)):
                break

    ticks2 = cpu_ticks()
    per_query = {c: _median(b + e for b, e, _ in samples[c]) for c in codes}
    pass_s = sum(per_query.values())
    pass_cpu_s = sum(_median(cpu for _, _, cpu in samples[c]) for c in codes)
    warm_all = [b + e for c in codes for b, e, _ in samples[c]]
    report = {
        "setup_s": (run.setup_s, "s"),
        "cold_s": (cold_s, "s"),
        "pass_s": (pass_s, "s"),
        "cold_cpu_s": (cold_cpu_s, "s"),
        "pass_cpu_s": (pass_cpu_s, "s"),
        "suite_s": (pass_s, "s"),
        "query_p50_s": (_median(warm_all), "s"),
        "query_p90_s": (_p90(warm_all), "s"),
        "peak_rss_mb": (run.peak_rss_mb(), "MB"),
        "failed_ops_ratio": (failed / attempted, "ratio"),
    }
    per_layer = {}
    if run.traced:
        per_layer = passes.common_metrics(
            sum(_median(b + e for b, e, _ in traced_samples[c]) for c in codes), pass_s)
        per_layer["queries.p50_s"] = _median(warm_all)
        per_layer["queries.p90_s"] = _p90(warm_all)
        for c in codes:
            per_layer[f"queries.{c}.build_s"] = _median(b for b, _, _ in traced_samples[c])
            per_layer[f"queries.{c}.exec_s"] = _median(e for _, e, _ in traced_samples[c])
            per_layer[f"queries.{c}.run_s"] = passes.per_pass(
                lambda p, c=c: passes.stage(p, "run_ms", f"queries.{c}") / 1000.0)
        per_layer = _fill(per_layer)
    return {
        "end_to_end": {k: report[k] for k in END_TO_END},
        "per_layer": per_layer,
        "report": report,
        "attempted": attempted,
        "failed": failed,
        "record": {
            "inputs": {"tables": table_rows, "bytes": lake_bytes, "sf": LAKE_SF},
            "steal": {"cold": steal_share(ticks0, ticks1), "warm": steal_share(ticks1, ticks2)},
            "queries": {c: names[c] for c in codes},
            "query_median_s": {c: round(v, 4) for c, v in per_query.items()},
            "warm_runs": {c: len(samples[c]) for c in codes},
            "traced_runs": {c: len(traced_samples[c]) for c in codes},
            "problems": problems[:10],
        },
    }


def filing_analytics(run) -> dict:
    return _query_workload(run, ANALYTICS)


WORKLOADS = {
    "filing_etl": filing_etl,
    "filing_analytics": filing_analytics,
}
