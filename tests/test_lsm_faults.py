"""Crash consistency of the artifact lifecycle (operators/artifact.py,
operators/lsm.py, io.swap_dir): a fault is injected at each write
step of a fold, an upsert and a sidecar commit on an sf0.001 chunk
index. After each fault the view equals the pre-state or the
post-state and never duplicates a row, the next access recovers, and
no ``__old_*`` / ``__compact_*`` directory remains.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lol_data_pipeline_spark import io
from lol_data_pipeline_spark.io import load_table
from lol_data_pipeline_spark.operators import lsm
from lol_data_pipeline_spark.operators.artifact import CHUNK, CHUNKS
from lol_data_pipeline_spark.operators.chunk_index import (
    _batch_chunk_rows,
    chunk_index_upsert,
    chunks_path,
    ensure_chunk_index,
    read_chunk_rows,
)

C = 2


class Crash(Exception):
    pass


def crash_on_call(n, real):
    """``real`` that raises Crash on its ``n``-th call."""
    calls = [0]

    def f(*args, **kwargs):
        calls[0] += 1
        if calls[0] == n:
            raise Crash(f"injected at call {n} of {real.__name__}")
        return real(*args, **kwargs)

    return f


def _ensure(spark, sf_dir, root):
    return ensure_chunk_index(
        spark, sf_dir, root=str(root), c=C, index_where="doc_id < 40"
    )


def _batch(spark, sf_dir):
    """Two REPLACED ids (changed text) and one new id."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id").isin(1, 2, 3)).select(
        F.when(F.col("doc_id") == 3, F.col("doc_id") + 1_000_000)
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        F.concat(F.lit("zq xq "), F.col("text")).alias("text"),
    )


def _rows(spark, path):
    rows = sorted(map(tuple, read_chunk_rows(spark, path).collect()))
    keys = [(r[0], r[1]) for r in rows]  # (id, chunk_idx)
    assert len(keys) == len(set(keys)), "view duplicates a row"
    return rows


def _after_upsert(pre, batch):
    new = sorted(map(tuple, _batch_chunk_rows(batch, C).collect()))
    ids = {r[0] for r in new}
    return sorted([r for r in pre if r[0] not in ids] + new)


def _leftovers(table_dir):
    parent, name = os.path.split(table_dir)
    return [
        n
        for n in os.listdir(parent)
        if n.startswith((f"{name}__old_", f"{name}__compact_"))
    ]


def _totals_match(meta, rows):
    return meta["n_chunks"] == len(rows) and meta["n_docs"] == len(
        {r[0] for r in rows}
    )


@pytest.mark.parametrize(
    "step", ["before_swap", "between_renames", "before_log_reset"]
)
def test_fold_fault_keeps_view_and_recovers(
    spark, sf_dir, tmp_path, monkeypatch, step
):
    path, meta = _ensure(spark, sf_dir, tmp_path)
    meta = chunk_index_upsert(spark, path, meta, _batch(spark, sf_dir))
    base = chunks_path(path)
    pre = _rows(spark, path)
    with monkeypatch.context() as m:
        if step == "before_log_reset":
            m.setattr(lsm, "lsm_reset", crash_on_call(1, lsm.lsm_reset))
        else:  # the staged fold is complete; crash at the 1st/2nd rename
            n = 1 if step == "before_swap" else 2
            m.setattr(os, "rename", crash_on_call(n, os.rename))
        with pytest.raises(Crash):
            lsm.lsm_compact(spark, base, CHUNKS)
    if step == "between_renames":
        assert not os.path.isdir(base)  # the window the roll-forward closes
    assert bool(_leftovers(base)) == (step != "before_log_reset")
    # ensure reuses the artifact (no rebuild), and the view recovers
    assert _ensure(spark, sf_dir, tmp_path) == (path, meta)
    assert _rows(spark, path) == pre
    assert _leftovers(base) == []
    # the next fold and upsert work from the recovered state
    assert lsm.lsm_compact(spark, base, CHUNKS)
    assert lsm.lsm_epochs(base) == [] and _rows(spark, path) == pre
    meta = chunk_index_upsert(spark, path, meta, _batch(spark, sf_dir))
    assert _rows(spark, path) == pre and _totals_match(meta, pre)


def test_upsert_fault_between_delta_and_tombstones(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The tombstone epoch commits an upsert: a crash after the delta
    write leaves the view exactly at the pre-state (the replaced ids
    keep their old rows), and the retry lands the post-state."""
    path, meta = _ensure(spark, sf_dir, tmp_path)
    pre = _rows(spark, path)
    batch = _batch(spark, sf_dir)
    with monkeypatch.context() as m:
        m.setattr(lsm, "_write_epoch", crash_on_call(2, lsm._write_epoch))
        with pytest.raises(Crash):
            chunk_index_upsert(spark, path, meta, batch)
    assert lsm.lsm_epochs(chunks_path(path)) == [1]  # the orphan delta
    assert _rows(spark, path) == pre
    meta = chunk_index_upsert(spark, path, meta, batch)
    post = _after_upsert(pre, batch)
    assert _rows(spark, path) == post and _totals_match(meta, post)
    # folding drops the orphan delta epoch with the logs
    assert lsm.lsm_compact(spark, chunks_path(path), CHUNKS)
    assert _rows(spark, path) == post


def test_upsert_fault_before_sidecar_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash after the data write, inside the sidecar commit, leaves
    the previous sidecar whole; the view is the post-state, and the
    idempotent retry recounts the totals."""
    path, meta = _ensure(spark, sf_dir, tmp_path)
    pre = _rows(spark, path)
    batch = _batch(spark, sf_dir)
    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_on_call(1, os.replace))
        with pytest.raises(Crash):
            chunk_index_upsert(spark, path, meta, batch)
    assert CHUNK.read(path) == meta
    post = _after_upsert(pre, batch)
    assert _ensure(spark, sf_dir, tmp_path) == (path, meta)
    assert _rows(spark, path) == post
    meta = chunk_index_upsert(spark, path, meta, batch)
    assert CHUNK.read(path) == meta and _totals_match(meta, post)


def test_truncated_sidecar_rebuilds(spark, sf_dir, tmp_path):
    path, meta = _ensure(spark, sf_dir, tmp_path)
    pre = _rows(spark, path)
    sidecar = os.path.join(path, CHUNK.sidecar)
    with open(sidecar) as f:
        text = f.read()
    with open(sidecar, "w") as f:
        f.write(text[: len(text) // 2])
    assert CHUNK.read(path) is None
    assert _ensure(spark, sf_dir, tmp_path) == (path, meta)
    assert CHUNK.read(path) == meta and _rows(spark, path) == pre


def test_compact_parquet_rolls_forward(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    for i in range(4):
        spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(path)
    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash_on_call(2, os.rename))
        with pytest.raises(Crash):
            io.compact_parquet(spark, path)
    assert not os.path.isdir(path)
    assert io.compact_parquet(spark, path) == 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(40))
    assert _leftovers(path) == []
