"""Deterministic OCR backend for the filing workload.

Each document line ``name|col1|col2`` is one table row with three
cells, so the silver chain's 3-to-2 column merge has work to do. A
document holding the failure marker raises on fetch, the way a real
OCR job fails, and lands in the quarantine ledger. No sleeping and no
I/O: the OCR stage costs what the engine's plumbing costs.

This module is imported by Spark's Python workers, so it must stay
importable from the checkout root with nothing but the engine.
"""

from __future__ import annotations

from perfbench.inputs import FAIL_MARKER
from x17a5_spark.sources.ocr import OcrBackend


class LedgerOcrBackend(OcrBackend):
    def __init__(self):
        self._jobs: dict[str, bytes] = {}

    def start(self, doc_id: str, content: bytes) -> str:
        self._jobs[doc_id] = bytes(content)
        return doc_id

    def poll(self, job_id: str) -> bool:
        return True

    def fetch(self, job_id: str) -> list[dict]:
        content = self._jobs.pop(job_id)
        if FAIL_MARKER.encode() in content:
            raise RuntimeError("planted OCR failure")
        rows = []
        for i, line in enumerate(content.decode("utf-8").split("\n")):
            c0, c1, c2 = line.split("|")
            rows.append(
                {
                    "page": 0,
                    "table_idx": 0,
                    "row_idx": i,
                    "col0": c0,
                    "col1": c1 or None,
                    "col2": c2 or None,
                    "confidence": 99.0,
                }
            )
        return rows
