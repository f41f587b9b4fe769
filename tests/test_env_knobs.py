"""The engine package reads exactly four environment variables.

Each one is set by a real protocol: the core count and driver heap of
every session, the GC log of the fresh-JVM 100× protocol
(tools/bench_100x.py), and the fixture twin-id offset the 100× lake
raises. Any other option is a constant in code, so a new env read must
show a caller before it joins this list.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "x17a5_spark"

# os.environ.get("X"), os.environ["X"], os.getenv("X") — any alias of os
_READ = re.compile(r"""(?:\benviron\.get\(|\benviron\[|\bgetenv\()\s*["']([A-Za-z0-9_]+)["']""")
_ANY = re.compile(r"\benviron\b|\bgetenv\b")

EXPECTED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_GC_LOG",
    "X17A5_AUG_OFFSET",
}


def test_package_reads_only_the_four_protocol_env_vars():
    names: set[str] = set()
    dynamic: list[str] = []
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text(encoding="utf-8")
        reads = _READ.findall(text)
        names.update(reads)
        # every environ/getenv mention must be a read of a literal name,
        # so a computed name cannot slip past the pin
        if len(_ANY.findall(text)) != len(reads):
            dynamic.append(str(path.relative_to(PKG.parent)))
    assert not dynamic, f"non-literal environment access in {dynamic}"
    assert names == EXPECTED
