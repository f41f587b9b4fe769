"""Correctness checks, run outside the timed region.

The filing workload is checked against the generator's plan; the query
workloads against the registry's DuckDB oracles, with the comparison
rules of ``tools/check_correctness.py`` imported unchanged.
"""

from __future__ import annotations

import importlib.util
import math
import os

from perfbench.inputs import LABELS, TOTAL_ASSETS


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9)


def verify_gold(rows: list[dict], expected: dict[str, dict]) -> list[str]:
    """Problems with the gold asset table ``rows`` (one dict per row,
    keyed like the gold columns) against the planned rows per cik."""
    problems = []
    keys = [(r["cik"], r["fiscal_year"]) for r in rows]
    if len(set(keys)) != len(keys):
        problems.append(f"duplicate gold keys: {len(keys) - len(set(keys))}")
    if len(rows) != len(expected):
        problems.append(f"gold rows {len(rows)} != planned {len(expected)}")
    for r in rows:
        want = expected.get(r["cik"])
        if want is None:
            problems.append(f"unplanned gold row for cik {r['cik']}")
            continue
        for col in ("filing_date", "fiscal_year", "total_asset_check"):
            if r[col] != want[col]:
                problems.append(f"cik {r['cik']} {col}: {r[col]!r} != {want[col]!r}")
        if not _close(r[TOTAL_ASSETS], want["total_assets"]):
            problems.append(f"cik {r['cik']} total: {r[TOTAL_ASSETS]} != {want['total_assets']}")
        if not _close(r["reconstructed_total_assets"], want["reconstructed_total_assets"]):
            problems.append(f"cik {r['cik']} recon: {r['reconstructed_total_assets']}")
        for lab in LABELS:
            if lab != TOTAL_ASSETS and not _close(r[lab], want["labels"].get(lab)):
                problems.append(f"cik {r['cik']} {lab}: {r[lab]} != {want['labels'].get(lab)}")
    return problems


def class_counts(rows: list[dict]) -> dict[str, int]:
    out: dict[str, int] = {}
    for r in rows:
        out[r["total_asset_check"]] = out.get(r["total_asset_check"], 0) + 1
    return out


def read_gold(spark, out_dir: str) -> list[dict]:
    cols = ["cik", "filing_date", "fiscal_year", *LABELS,
            "reconstructed_total_assets", "total_asset_check"]
    df = spark.read.parquet(os.path.join(out_dir, "gold_assets"))
    return [r.asDict() for r in df.select(*[f"`{c}`" for c in cols]).collect()]


def check_build(spark, out_dir: str, plan, batches: tuple[str, ...]) -> list[str]:
    """Planted expectations after a build over ``batches``: gold rows
    and values, unique keys, identity-check class counts, and the
    quarantine ledger holding exactly the planted OCR failures."""
    expected = {}
    for b in batches:
        expected.update(plan.gold[b])
    rows = read_gold(spark, out_dir)
    problems = verify_gold(rows, expected)
    want_classes = {k: v for k, v in plan.class_counts(batches).items() if v}
    if class_counts(rows) != want_classes:
        problems.append(f"class counts {class_counts(rows)} != {want_classes}")
    planted = set().union(*(plan.failures[b] for b in batches))
    ledger = {
        (r["cik"], r["filing_date"])
        for r in spark.read.parquet(os.path.join(out_dir, "ocr_errors"))
        .select("cik", "filing_date").collect()
    }
    if ledger != planted:
        problems.append(f"quarantine {len(ledger)} keys != planted {len(planted)}")
    return problems


# -- query workloads -------------------------------------------------------

def load_comparison_rules(root: str):
    """``tools/check_correctness.py`` as a module (it is a script, not
    a package member)."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Collected:
    """A DataFrame whose rows were already collected: lets the gate's
    ``compare`` check the result of a timed run without running the
    query again."""

    def __init__(self, df, rows):
        self.columns = df.columns
        self.schema = df.schema
        self._rows = rows

    def collect(self):
        return self._rows


class OracleChecker:
    """Compares a query's result with its DuckDB oracle on the generated
    lake. ``compare`` is the gate's own rule set; only its oracle map
    and connection are pointed at this lake."""

    def __init__(self, root: str, lake_dir: str, oracles: dict[str, str]):
        import duckdb

        self.rules = load_comparison_rules(root)
        self.rules.ORACLES = oracles
        self.con = duckdb.connect()
        for t in self.rules.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{lake_dir}/{t}.parquet'"
            )

    def check(self, name: str, df) -> list[str]:
        info = self.rules.compare(name, df, self.con)
        status = info.pop("status")
        return [] if status == "OK" else [f"{name}: {status} {info}"]

    def close(self) -> None:
        self.con.close()
