"""The engine's PySpark worker daemon (``x17a5_spark/worker_daemon.py``):
workers fork from a daemon with a frozen import heap and, on CPython
< 3.13, a zip-import cache invalidation that skips unchanged archives;
the daemon starts from any working directory; the stamped invalidation
still re-reads an archive that changed on disk."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from x17a5_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_state(spark) -> list[dict]:
    """Per-partition state of the Python workers of a ``mapInPandas``."""

    def probe(batches):
        import gc
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        f = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({
            "frozen": [gc.get_freeze_count()],
            "name": [f.__name__],
            "file": [f.__code__.co_filename],
        })

    df = spark.range(64).repartition(2)
    return df.mapInPandas(probe, "frozen long, name string, file string").toPandas().to_dict("records")


def check_worker_state(rows: list[dict]) -> None:
    assert len(rows) == 2
    for r in rows:
        assert r["frozen"] > 0
        if sys.version_info < (3, 13):
            assert r["name"] == worker_daemon.invalidate_caches_if_changed.__name__
            assert os.path.samefile(r["file"], worker_daemon.__file__)


def test_workers_fork_from_the_engine_daemon(spark):
    check_worker_state(worker_state(spark))


def test_daemon_starts_outside_the_repo_without_pythonpath(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path[:0] = [{ROOT!r}, {os.path.join(ROOT, "tests")!r}]
        from x17a5_spark.session import get_spark
        from test_worker_daemon import check_worker_state, worker_state
        spark = get_spark("daemon_outside_repo", shuffle_partitions=2)
        check_worker_state(worker_state(spark))
        spark.stop()
        print("worker state ok")
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert "worker state ok" in done.stdout


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "x = 1\n")


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13's stock method is lazy and kept")
def test_stamped_invalidate_rereads_only_a_changed_zip(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["a.py"])
    importer = zipimport.zipimporter(path)
    worker_daemon.invalidate_caches_if_changed(importer)  # records the stamp
    files = importer._files

    worker_daemon.invalidate_caches_if_changed(importer)
    assert importer._files is files  # unchanged archive: not re-read

    _write_zip(path, ["a.py", "b.py"])
    worker_daemon.invalidate_caches_if_changed(importer)
    assert "b.py" in importer._files  # rewritten archive: re-read
    assert importer.find_spec("b") is not None
