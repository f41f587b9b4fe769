"""Seeded input generators for the benchmark.

Everything the program under test reads is written here, from the seed
alone: the same seed gives byte-identical parquet files, a different
seed gives different rows of the same shape. Nothing is read from
outside the output directory.

Two input sets:

* ``make_filings`` — an X-17A-5 filing corpus for ``run_pipeline``:
  binary documents whose lines the OCR backend reads as 3-column table
  cells (dirty number strings, conjoined rows, ~1% planted OCR
  failures, amended filings in the batch of the re-run), the page-text
  channel carrying the unit-scale lines, and a label map covering the
  corpus vocabulary.
  It also returns the *plan*: the gold row every filing must produce.
* ``make_lake`` — the ten-table lake the registry queries read
  (TPC-H-like star schema plus events, documents and embeddings) with
  the tables' column names and types; ``sf`` scales the row counts like
  a TPC-H scale factor.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# filing corpus
# --------------------------------------------------------------------------

# Asset-side line items and their labels. None of the names matches the
# bisection terms ("assets", "liabilit") or the total-row patterns, so
# the planted layout alone decides where the asset side ends.
ASSET_ITEMS = {
    "Cash": "Cash",
    "Cash segregated under federal regulations": "Cash",
    "Receivable from brokers and dealers": "Receivables",
    "Receivable from customers": "Receivables",
    "Securities owned, at fair value": "Securities owned",
    "Securities borrowed": "Securities borrowed",
    "Deposits with clearing organizations": "Deposits",
    "Furniture and equipment, net": "Fixed",
}
OTHER_ASSETS = "Other assets"  # unlabeled on purpose: see _asset_side
TOTAL_ASSETS = "Total assets"
FIRST_LIABILITY = "Accrued liabilities"
LAST_ROW = "Members' capital"
LIABILITY_ITEMS = [
    "Payable to customers",
    "Payable to brokers and dealers",
    "Payable to clearing organizations",
    "Accrued expenses",
    "Accrued compensation",
    "Short-term borrowings",
    "Subordinated borrowings",
    "Bank loans payable",
    "Securities sold, not yet purchased",
    "Securities loaned",
    "Drafts payable",
    "Dividends payable",
    "Income taxes payable",
    "Deferred revenue",
    "Notes payable to affiliates",
    "Repurchase agreements",
]
LABELS = sorted(set(ASSET_ITEMS.values())) + [TOTAL_ASSETS]
SCALE_LINES = [
    ("Amounts in thousands", 1e3),
    ("Amounts in millions", 1e6),
    ("Statement of Financial Condition", None),
]
CLASSES = ("PERFECT MATCH", "BOUNDED MATCH", "GROSS MISMATCH", "NOT FOUND")
FAIL_MARKER = "__FAIL__"


@dataclass
class FilingPlan:
    """What the pipeline must produce for the generated corpus."""

    # (cik, filing_date) of every planted OCR failure, per batch
    failures: dict[str, set] = field(default_factory=dict)
    # cik -> expected gold row, per batch (the earliest filing of a cik)
    gold: dict[str, dict[str, dict]] = field(default_factory=dict)
    stats: dict[str, int] = field(default_factory=dict)

    def class_counts(self, batches: tuple[str, ...]) -> dict[str, int]:
        out = dict.fromkeys(CLASSES, 0)
        for b in batches:
            for row in self.gold[b].values():
                out[row["total_asset_check"]] += 1
        return out


def _subtotal_relation(x1: float, x2: float) -> bool:
    """True when the subtotal scan would treat ``x1`` as a lookback sum
    ``x2`` under any of its three equivalences (exact, power of ten or
    dropped leading digit, one-character OCR slip within 1%). The
    generator redraws any filing where a planted row is related to a
    window sum above it, so the plan never depends on a coincidence."""
    if x1 == x2:
        return True
    if x1 == 0 or x2 == 0:
        return False
    ratio = x2 / x1
    if ratio > 0 and math.log10(ratio).is_integer():
        return True
    s1, s2 = str(x1), str(x2)
    if s2 in s1 and len(s2) == len(s1) - 1:
        return True
    if len(s1) == len(s2):
        n_diff = sum(1 for a, b in zip(s1, s2) if a != b)
        if n_diff == 1 and abs((x1 - x2) / x1) <= 0.01:
            return True
    return False


def _window_clean(values: list[float]) -> bool:
    for i in range(1, len(values)):
        for lo in range(i - 1, -1, -1):
            if _subtotal_relation(values[i], sum(values[lo:i])):
                return False
    return True


def _dirty(rng: np.random.Generator, v: int) -> tuple[str, str | None]:
    """(col1, col2) cells for value ``v`` in one of the OCR shapes the
    silver chain must undo."""
    s = f"{v:,}"
    k = rng.integers(6)
    if k == 0:
        return s, None
    if k == 1:
        return f"$ {s}", None
    if k == 2:
        return "$", s  # sign in one column, amount in the next: merge3
    if k == 3:
        return None, s
    if k == 4:
        return s.replace("1", "I", 1), None  # OCR I-for-1
    return f"${s}", None


def _asset_side(rng: np.random.Generator, cls: str, scale: float):
    """Labeled items, then the unlabeled ``Other assets`` row, then the
    reported total (absent for NOT FOUND). Values are whole dollars in
    [10000, 19000), at most four items, consecutive items more than 1%
    apart, and ``Other assets`` below 1000: then no item or total equals
    a lookback sum of the rows above it, and the unlabeled row keeps the
    reported total from being a subtotal of the labeled ones. The rare
    draw that still relates (checked on the scaled values the scan sees)
    is redrawn."""
    while True:
        k = int(rng.integers(1, 5))
        names = list(rng.choice(list(ASSET_ITEMS), size=k, replace=False))
        vals = [int(x) for x in rng.integers(10_000, 19_000, size=k)]
        other = int(rng.integers(100, 1000))
        sigma = sum(vals)
        if cls == "PERFECT MATCH":
            total = sigma
        elif cls == "BOUNDED MATCH":
            total = sigma + int(rng.integers(1, max(2, sigma // 120)))
        elif cls == "GROSS MISMATCH":
            total = int(sigma * rng.uniform(1.05, 1.3))
        else:
            total = None
        rows = list(zip(names, vals)) + [(OTHER_ASSETS, other)]
        if total is not None:
            rows.append((TOTAL_ASSETS, total))
        if _window_clean([v * scale for _, v in rows]):
            return rows, sigma, total


def _filing(rng: np.random.Generator, cik: str, date: str, fail: bool):
    """One filing: (content bytes, page-text lines, expected gold row or
    None for a planted failure, OCR cell count)."""
    cls = CLASSES[int(rng.integers(len(CLASSES)))]
    scale_line, scale = SCALE_LINES[int(rng.choice(3, p=[0.5, 0.1, 0.4]))]
    s = scale or 1.0
    assets, sigma, total = _asset_side(rng, cls, s)
    m = int(rng.integers(6, 64))
    liab = [FIRST_LIABILITY] + list(rng.choice(LIABILITY_ITEMS, size=m))
    liab_vals = [int(x) for x in rng.integers(1_000, 900_000, size=len(liab))]
    cells: list[tuple[str, str | None, str | None]] = []
    for name, v in assets:
        cells.append((name, *_dirty(rng, v)))
    text = ["Statement of Financial Condition"]
    fused_at = None
    if len(liab) > 4 and rng.random() < 0.3:
        # a conjoined row: two page-text lines fused into one OCR row
        fused_at = int(rng.integers(1, len(liab) - 2))
        a, b = liab[fused_at], liab[fused_at + 1]
        if a in b or b in a:
            fused_at = None
    i = 0
    while i < len(liab):
        if i == fused_at:
            a, b = liab[i], liab[i + 1]
            cells.append(
                (f"{a} {b}", f"{liab_vals[i]:,} {liab_vals[i + 1]:,}", None)
            )
            text += [a, b]
            i += 2
            continue
        cells.append((liab[i], *_dirty(rng, liab_vals[i])))
        i += 1
    cells.append((LAST_ROW, *_dirty(rng, int(rng.integers(1_000, 900_000)))))
    if scale is not None:
        text.insert(1, scale_line)
    lines = [
        "|".join([c0, c1 or "", c2 or ""]) for c0, c1, c2 in cells
    ]
    if fail:
        lines.insert(0, FAIL_MARKER)
    content = "\n".join(lines).encode("utf-8")
    gold = None
    if not fail:
        per_label: dict[str, float] = {}
        for name, v in assets:
            if name in ASSET_ITEMS:
                lab = ASSET_ITEMS[name]
                per_label[lab] = per_label.get(lab, 0.0) + v * s
        recon = sigma * s
        reported = None if total is None else total * s
        if reported is None:
            err, got = None, "NOT FOUND"
        else:
            err = abs(recon - reported) / reported
            got = (
                "PERFECT MATCH" if err == 0
                else "BOUNDED MATCH" if err < 0.01
                else "GROSS MISMATCH"
            )
        assert got == cls, (got, cls)
        gold = {
            "cik": cik,
            "filing_date": date,
            "fiscal_year": int(date[:4]) - 1,
            "labels": per_label,
            "total_assets": reported,
            "reconstructed_total_assets": recon,
            "total_asset_check": cls,
        }
    return content, text, gold, len(cells)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def make_filings(seed: int, n_filings: int, out_dir: str) -> FilingPlan:
    """Write ``docs_{base,new}.parquet``, ``text_{base,new}.parquet`` and
    ``labels.parquet`` under ``out_dir``; ``new`` holds ~10% more filings
    for the incremental re-run. Returns the plan the checks compare
    against."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    plan = FilingPlan()
    n_new = max(1, n_filings // 10)
    ciks = rng.choice(9_000_000, size=n_filings + n_new, replace=False) + 1_000_000
    cells_total = 0
    in_bytes = 0
    n_docs = 0
    for batch, lo, hi in (("base", 0, n_filings), ("new", n_filings, n_filings + n_new)):
        docs: dict[str, list] = {"cik": [], "filing_date": [], "content": []}
        text: dict[str, list] = {
            "cik": [], "filing_date": [], "line_idx": [], "line_text": [],
        }
        plan.failures[batch] = set()
        plan.gold[batch] = {}

        def add(cik, date, content, lines):
            docs["cik"].append(cik)
            docs["filing_date"].append(date)
            docs["content"].append(content)
            for j, ln in enumerate(lines):
                text["cik"].append(cik)
                text["filing_date"].append(date)
                text["line_idx"].append(j)
                text["line_text"].append(ln)

        # ~1% planted OCR failures, at least one per batch
        failing = set(rng.choice(hi - lo, size=max(1, round(0.01 * (hi - lo))), replace=False))
        # ~10% of the new batch amended: a later filing for the same
        # fiscal year, which the gold stage's keep-first dedup must drop.
        # Only the new batch, which no later re-run reads: gold's
        # incremental guard is on the filing key (cik, filing_date), so a
        # re-run over an amendment the full build dropped appends it
        # again and duplicates the gold key (see
        # test_rerun_keeps_a_dropped_amendment_out_of_gold).
        amended = set()
        if batch == "new":
            ok = sorted(set(range(hi - lo)) - failing)
            amended = set(rng.choice(ok, size=max(1, round(0.1 * (hi - lo))), replace=False))
        for i, c in enumerate(ciks[lo:hi]):
            cik = str(int(c))
            year = int(rng.integers(2015, 2023))
            date = f"{year}-{int(rng.integers(1, 7)):02d}-28"
            fail = i in failing
            content, lines, gold, n_cells = _filing(rng, cik, date, fail)
            add(cik, date, content, lines)
            cells_total += n_cells
            if fail:
                plan.failures[batch].add((cik, date))
            else:
                plan.gold[batch][cik] = gold
                if i in amended:
                    adate = f"{year}-{int(rng.integers(7, 13)):02d}-28"
                    acontent, alines, _, an = _filing(rng, cik, adate, False)
                    add(cik, adate, acontent, alines)
                    cells_total += an
        n_docs += len(docs["cik"])
        in_bytes += _write(
            pa.table(
                docs,
                schema=pa.schema(
                    [("cik", pa.string()), ("filing_date", pa.string()),
                     ("content", pa.binary())]
                ),
            ),
            os.path.join(out_dir, f"docs_{batch}.parquet"),
        )
        in_bytes += _write(
            pa.table(
                text,
                schema=pa.schema(
                    [("cik", pa.string()), ("filing_date", pa.string()),
                     ("line_idx", pa.int32()), ("line_text", pa.string())]
                ),
            ),
            os.path.join(out_dir, f"text_{batch}.parquet"),
        )
    label_rows = sorted(
        {**ASSET_ITEMS, TOTAL_ASSETS: TOTAL_ASSETS,
         FIRST_LIABILITY: "Liabilities", LAST_ROW: "Equity",
         **{n: "Liabilities" for n in LIABILITY_ITEMS}}.items()
    )
    _write(
        pa.table(
            {"lineitem": [k for k, _ in label_rows],
             "label": [v for _, v in label_rows]}
        ),
        os.path.join(out_dir, "labels.parquet"),
    )
    plan.stats = {
        "filings": n_docs,
        "cells": cells_total,
        "bytes": in_bytes,
        "planted_failures": sum(len(v) for v in plan.failures.values()),
    }
    return plan


# --------------------------------------------------------------------------
# query lake
# --------------------------------------------------------------------------

WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
EPOCH_US = {
    "1995-01-01": 788918400 * 10**6,
    "2001-08-01": 996624000 * 10**6,
    "2001-11-04": 1004832000 * 10**6,
    "2024-01-01": 1704067200 * 10**6,
}
DAY_US = 86400 * 10**6


def _ts(values_us, unit: str = "us") -> pa.Array:
    v = np.asarray(values_us, dtype=np.int64)
    if unit == "ns":
        v = v * 1000
    return pa.array(v, type=pa.timestamp(unit))


def make_lake(seed: int, sf: float, n_docs: int, out_dir: str) -> dict[str, int]:
    """Write the ten lake tables as ``<name>.parquet`` under ``out_dir``;
    returns {table: rows}. ``sf`` scales the relational and event
    tables like the testdata scale factors; ``n_docs`` sizes the text
    and embedding tables."""
    os.makedirs(out_dir, exist_ok=True)
    ss = np.random.SeedSequence([seed, 2])
    r = {n: np.random.default_rng(s) for n, s in zip(
        ["cust", "supp", "part", "ord", "li", "ev", "doc", "emb"], ss.spawn(8)
    )}
    rows: dict[str, int] = {}

    def put(name: str, cols: dict):
        t = pa.table(cols)
        rows[name] = t.num_rows
        _write(t, os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust = max(50, int(150_000 * sf))
    g = r["cust"]
    put("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": g.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust,
        ),
    })
    n_supp = max(10, int(10_000 * sf))
    g = r["supp"]
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2),
    })
    n_part = max(100, int(200_000 * sf))
    g = r["part"]
    adj = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    put("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": g.choice(
            ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part
        ),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    n_ord = max(500, int(1_500_000 * sf))
    g = r["ord"]
    put("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(g.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(
            EPOCH_US["1995-01-01"]
            + g.integers(0, 2404, n_ord) * DAY_US
        ),
        "o_orderpriority": g.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    n_li = 4 * n_ord
    g = r["li"]
    qty = g.integers(1, 51, n_li).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(g.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 2100, n_li), 2),
        "l_discount": g.integers(0, 11, n_li) / 100,
        "l_tax": g.integers(0, 9, n_li) / 100,
        "l_returnflag": g.choice(["A", "N", "R"], n_li),
        "l_linestatus": g.choice(["F", "O"], n_li),
        "l_shipdate": _ts(
            EPOCH_US["1995-01-01"] + g.integers(1, 2499, n_li) * DAY_US
        ),
    })
    n_ev = max(1000, int(1_000_000 * sf))
    g = r["ev"]
    put("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        # parquet TIMESTAMP(NANOS), which tables.load_table converts
        "ts": _ts(np.sort(
            EPOCH_US["2024-01-01"] + g.integers(0, 30 * DAY_US, n_ev)
        ), "ns"),
        "user_id": pa.array(g.integers(0, max(20, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": g.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.maximum(np.round(g.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    })
    g = r["doc"]
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and g.random() < 0.05:
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            n = int(g.integers(10, 101))
            texts.append(" ".join(g.choice(WORDS, n)))
    put("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": g.choice(LANGS[0], n_docs, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    g = r["emb"]
    n_emb = n_docs
    v = g.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n_emb), pa.int32()),
    })
    return rows
