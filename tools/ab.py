"""Single-JVM interleaved A/B of one registry query between the working
tree (NEW) and a git rev (OLD, default HEAD).

The rev's ``x17a5_spark`` package is extracted with ``git archive``
into a temp tree and renamed ``x17a5_old``, so both versions import side
by side and run in ONE SparkSession: JVM-to-JVM drift on a shared host
can exceed the effects under test. The temp tree is removed on exit.
Stage caches are released between runs exactly as bench.py does.

Protocols:
  cold    re-construct and re-materialize every rep, alternating
          NEW,OLD,NEW,OLD,... after one warmup each, so host throttling
          waves hit both variants equally; counts construction-time
          persists in every sample.
  steady  bench.py's own protocol: construct the plan once, one untimed
          warmup (stage caches, codegen, JIT), then timed noop reps that
          reuse plan and caches; each round runs NEW then OLD.

Usage: python tools/ab.py <query_name> [--protocol {cold,steady}]
                          [--reps N] [--rounds R] [--rev REV]
The lake is $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG = "x17a5_spark"
OLD_PKG = "x17a5_old"
# whole words only: the package's own module-name strings (e.g. the
# ``pkg_name="x17a5_spark"`` default that names the zip shipped to the
# workers) must follow the rename, while longer names must not
_PKG_WORD = re.compile(rf"\b{PKG}\b")
DEFAULT_REPS = {"cold": 7, "steady": 5}


def rename_package(src: str, dst: str) -> None:
    """Move the package tree ``src`` to ``dst`` and rewrite every
    whole-word ``x17a5_spark`` in its .py files to ``x17a5_old``."""
    os.rename(src, dst)
    for dirpath, _dirs, files in os.walk(dst):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    text = fh.read()
                with open(path, "w", encoding="utf-8") as fh:
                    fh.write(_PKG_WORD.sub(OLD_PKG, text))


@contextlib.contextmanager
def old_package(rev: str, repo: str = REPO):
    """Yield a temp root holding ``rev``'s package as ``x17a5_old``;
    the tree is removed on exit, also when the body raises."""
    root = tempfile.mkdtemp(prefix="ab_old_")
    try:
        archive = subprocess.run(
            ["git", "-C", repo, "archive", rev, PKG],
            check=True, capture_output=True,
        ).stdout
        with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
            tar.extractall(root, filter="data")
        rename_package(os.path.join(root, PKG), os.path.join(root, OLD_PKG))
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _fmt(xs: list[float]) -> list[float]:
    return [round(x, 3) for x in xs]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("query")
    ap.add_argument("--protocol", choices=sorted(DEFAULT_REPS), default="cold")
    ap.add_argument("--reps", type=int, help="timed reps (cold 7, steady 5)")
    ap.add_argument("--rounds", type=int, default=2, help="steady only")
    ap.add_argument("--rev", default="HEAD")
    args = ap.parse_args()
    reps = args.reps or DEFAULT_REPS[args.protocol]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    with old_package(args.rev) as root:
        sys.path.insert(0, root)
        from x17a5_old.cache import release_stage_caches as rel_old
        from x17a5_old.queries import registry as reg_old
        from x17a5_spark.cache import release_stage_caches as rel_new
        from x17a5_spark.queries import registry as reg_new
        from x17a5_spark.session import get_spark

        spark = get_spark("ab")
        new = (reg_new()[0][args.query], rel_new)
        old = (reg_old()[0][args.query], rel_old)

        def release(rel) -> None:
            rel()
            spark.catalog.clearCache()

        def noop(df) -> float:
            t0 = time.time()
            df.write.mode("overwrite").format("noop").save()
            return time.time() - t0

        if args.protocol == "cold":
            def cold(variant) -> float:
                fn, rel = variant
                dt = noop(fn(spark, sf_dir))
                release(rel)
                return dt

            cold(new)  # warmups, both variants
            cold(old)
            new_s, old_s = [], []
            for _ in range(reps):
                new_s.append(cold(new))
                old_s.append(cold(old))
            print(
                f"{args.query}: NEW median {statistics.median(new_s):.3f} "
                f"OLD median {statistics.median(old_s):.3f}\n"
                f"  new samples {_fmt(new_s)}\n  old samples {_fmt(old_s)}"
            )
            return

        def steady(variant) -> list[float]:
            fn, rel = variant
            df = fn(spark, sf_dir)
            noop(df)  # warmup
            ts = [noop(df) for _ in range(reps)]
            release(rel)
            return ts

        new_s, old_s = [], []
        for r in range(args.rounds):
            tn, to = steady(new), steady(old)
            new_s += tn
            old_s += to
            print(f"round {r}: NEW {_fmt(tn)} | OLD {_fmt(to)}")
        print(
            f"{args.query}: NEW steady median {statistics.median(new_s):.3f} "
            f"OLD steady median {statistics.median(old_s):.3f}"
        )


if __name__ == "__main__":
    main()
