"""tools/ab.py's old-package loader: the rev's ``x17a5_spark`` tree is
renamed ``x17a5_old`` by a whole-word rewrite of its .py files, and the
temp tree never outlives the A/B run."""

from __future__ import annotations

import os
import subprocess

import pytest

from tools.ab import OLD_PKG, old_package, rename_package

SRC = '''"""x17a5_spark docstring."""
from x17a5_spark.tables import load_table
import x17a5_spark.queries as q
from x17a5_sparkle import thing


def _content_keyed_zip(pkg_dir, pkg_name="x17a5_spark"):
    return pkg_name
'''


def test_rename_rewrites_whole_words_only(tmp_path):
    pkg = tmp_path / "x17a5_spark"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "sub" / "mod.py").write_text(SRC)
    rename_package(str(pkg), str(tmp_path / OLD_PKG))
    assert not pkg.exists()
    out = (tmp_path / OLD_PKG / "sub" / "mod.py").read_text()
    assert "from x17a5_old.tables import load_table" in out
    assert "import x17a5_old.queries as q" in out
    assert 'pkg_name="x17a5_old"' in out
    assert "from x17a5_sparkle import thing" in out
    assert "x17a5_spark" not in out.replace("x17a5_sparkle", "")


def _git(repo, *args):
    subprocess.run(
        ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t",
         *args],
        check=True, capture_output=True,
    )


def test_old_package_extracts_renames_and_always_cleans_up(tmp_path):
    repo = tmp_path / "repo"
    (repo / "x17a5_spark").mkdir(parents=True)
    (repo / "x17a5_spark" / "__init__.py").write_text(SRC)
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "-m", "seed")

    with old_package("HEAD", str(repo)) as root:
        kept = root
        init = os.path.join(root, OLD_PKG, "__init__.py")
        assert "from x17a5_old.tables" in open(init).read()
    assert not os.path.exists(kept)

    with pytest.raises(RuntimeError):
        with old_package("HEAD", str(repo)) as root:
            raised_in = root
            raise RuntimeError("body failed")
    assert not os.path.exists(raised_in)
