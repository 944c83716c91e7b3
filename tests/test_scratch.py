"""`scratch_dir` is the one owner of per-call scratch directories:
fresh, not-yet-created paths under SCRATCH, removed on every exit."""

from __future__ import annotations

import os
import pathlib

import pytest

from gmt_dbt_spark.sources.sinks import SCRATCH, scratch_dir

PKG = pathlib.Path(__file__).resolve().parent.parent / "gmt_dbt_spark"


def test_scratch_dir_yields_distinct_fresh_paths_under_scratch():
    with scratch_dir("t") as a, scratch_dir("t") as b:
        assert a != b
        for p in (a, b):
            assert os.path.dirname(p) == SCRATCH
            assert os.path.basename(p).startswith("t_")
            assert not os.path.exists(p)


def test_scratch_dir_removed_after_normal_exit():
    with scratch_dir("t") as p:
        os.makedirs(os.path.join(p, "sub"))
        open(os.path.join(p, "sub", "f"), "w").close()
    assert not os.path.exists(p)


def test_scratch_dir_removed_after_exception():
    with pytest.raises(RuntimeError, match="boom"):
        with scratch_dir("t") as p:
            os.makedirs(p)
            raise RuntimeError("boom")
    assert not os.path.exists(p)


def test_only_sinks_names_the_scratch_root():
    offenders = [
        str(f.relative_to(PKG))
        for f in sorted(PKG.rglob("*.py"))
        if f != PKG / "sources" / "sinks.py" and '".scratch"' in f.read_text()
    ]
    assert offenders == []
