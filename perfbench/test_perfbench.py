"""Tests of the benchmark's own parts: seeded generators and span arithmetic.

    python3 -m pytest perfbench -q -p no:cacheprovider

No Spark session is started.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import write_tables, write_yelp_tree  # noqa: E402
from spans import Job, Recorder, clip, union_s  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _s, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("write", [
    lambda d, s: write_tables(d, s, scale=0.001, docs=200),
    lambda d, s: write_yelp_tree(d, s, reviews=500, batches=2),
], ids=["tables", "yelp_tree"])
def test_same_seed_gives_byte_identical_files(tmp_path, write):
    write(str(tmp_path / "a"), 7)
    write(str(tmp_path / "b"), 7)
    write(str(tmp_path / "c"), 8)
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert set(a) == set(c) and a != c


def test_tables_have_the_registry_schema(tmp_path):
    import pyarrow.parquet as pq

    rows = write_tables(str(tmp_path), 3, scale=0.001, docs=120)
    assert rows["lineitem"] == 6000 and rows["documents"] == 120
    ev = pq.read_table(str(tmp_path / "events.parquet"))
    assert str(ev.schema.field("ts").type) == "timestamp[us]"
    ts = ev.column("ts").to_pylist()
    assert ts == sorted(ts) and None not in ts
    emb = pq.read_table(str(tmp_path / "embeddings.parquet")).column("embedding").to_pylist()
    assert {len(v) for v in emb} == {64}
    docs = pq.read_table(str(tmp_path / "documents.parquet")).to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert any(t.endswith(" dup") for t in docs["text"])


def test_yelp_tree_layout(tmp_path):
    info = write_yelp_tree(str(tmp_path), 1, reviews=4000, batches=3)
    src = tmp_path / "src"
    assert (src / "yelp" / "extra" / "yelp_business_extra.json").read_text().startswith("[")
    assert "precipitation inch" in (src / "climate" / "lv_precipitation.csv").read_text()
    lines = (src / "yelp" / "yelp_academic_dataset_review.json").read_text().splitlines()
    assert len(lines) == info["reviews"] + info["corrupt_lines"]
    assert sorted(os.listdir(tmp_path / "batches")) == [f"batch_0{b}.json" for b in range(3)]
    base = [json.loads(x) for x in lines[:info["reviews"]]]
    batch = [json.loads(x) for x in (tmp_path / "batches" / "batch_00.json").read_text().splitlines()]
    assert len(batch) == info["batch_rows"]
    # a batch is newer than every base review, updates known review ids,
    # inserts new ones, and names businesses that have no base review
    assert min(r["date"] for r in batch) > max(r["date"] for r in base)
    ids = {r["review_id"] for r in base}
    assert sum(r["review_id"] in ids for r in batch) == info["batch_rows"] - info["batch_inserts"]
    assert {r["business_id"] for r in batch} - {r["business_id"] for r in base}


def test_union_and_clip():
    assert union_s([]) == 0.0
    assert union_s([(0, 1), (2, 3)]) == 2.0
    assert union_s([(0, 2), (1, 3), (3, 4), (5, 5)]) == 4.0
    assert union_s([(1, 4), (2, 3)]) == 3.0
    assert clip([(0, 2), (3, 9), (10, 11)], 1, 5) == [(1, 2), (3, 5)]


def _synthetic_tree() -> Recorder:
    """root [0,10] with children a [1,4] and b [3,6]; a has child c [1,2].
    Jobs: two inside a (overlapping), one inside b, one spilling past root."""
    rec = Recorder(enabled=False)
    clock = iter([0.0, 1.0, 1.0, 2.0, 4.0, 3.0, 6.0, 10.0])
    import spans

    real_time = spans.time.time
    spans.time.time = lambda: next(clock)
    try:
        with rec.span("root") as root:
            with rec.span("a") as a:
                with rec.span("c"):
                    pass
            with rec.span("b") as b:
                pass
    finally:
        spans.time.time = real_time
    rec.jobs = {
        1: Job(1, 1.5, 2.5, exec_run_s=1.0),
        2: Job(2, 2.0, 3.5, exec_run_s=2.0),
        3: Job(3, 4.0, 5.0, exec_run_s=4.0),
        4: Job(4, 9.0, 12.0, exec_run_s=8.0),
    }
    a.job_ids, b.job_ids = [1, 2], [3]
    root.job_ids = [1, 2, 3, 4]
    return rec


def test_self_time_and_jobs_interval_on_a_synthetic_tree():
    rec = _synthetic_tree()
    root, a, c, b = rec.spans
    assert [s.layer for s in rec.spans] == ["root", "a", "c", "b"]
    assert (root.wall_s, a.wall_s, b.wall_s, c.wall_s) == (10.0, 3.0, 3.0, 1.0)
    assert c.parent == a.idx and a.parent == root.idx and b.parent == root.idx
    # children a [1,4] and b [3,6] overlap by one second: they cover 5 s
    assert rec.self_s(root) == 5.0
    assert rec.self_s(a) == 2.0
    assert rec.self_s(c) == 1.0
    # jobs 1 and 2 overlap: [1.5, 3.5] inside a
    assert rec.jobs_s(a) == 2.0
    # job 4 runs past the end of root and is clipped to it
    assert rec.jobs_s(root) == 2.0 + 1.0 + 1.0
    assert a.wall_s - rec.jobs_s(a) == 1.0  # py_s of a build span
    assert sum(j.exec_run_s for j in rec.span_jobs(root)) == 15.0


def test_disabled_recorder_still_times_and_never_touches_spark():
    rec = Recorder(enabled=False)
    rec.attach(object())  # would fail on a real SparkStatus
    with rec.span("session", "x", tag=1) as sp:
        pass
    assert rec.status is None and sp.wall_s >= 0 and rec.find("session", tag=1) == [sp]
