"""The two workloads: which operations one pass runs, and how.

An operation is a zero-argument callable returning either a DataFrame
(built now, drained to the ``noop`` sink by the runner) or None (a
write that has already happened). ``curate`` operations are registry
plans built by ``REGISTRY[name].fn(spark, sf_dir)``; ``maintain`` calls
the bm25 family's public upsert / delete / probe functions directly.
"""

from __future__ import annotations

import random
import shutil

import pyarrow.parquet as pq

CURATE = [
    "corpus_dedup_keep_first", "emb_power_iteration",
    "stream_session_multibatch",
]
# nominal seconds of one pass on a 4-core host: a run measures
# round(--seconds / PASS_S) whole passes, so every run of a workload
# does the same work however fast the host is at the moment
PASS_S = {"maintain": 20, "curate": 10}

ROUNDS = ("upsert", "delete", "upsert", "delete")
BATCH = 8  # rows per upsert batch
SHIFT = 1_000_000  # upserted ids start past the corpus
LSM_QUOTA = 2  # epochs per fold: ROUNDS gives the index two folds
PROBE_TERMS = ["join", "stream", "vector"]


def curate_ops(spark, sf_dir: str, names: list[str]):
    from lol_data_pipeline_spark.plans import REGISTRY

    return [(n, "read", (lambda n=n: REGISTRY[n].fn(spark, sf_dir))) for n in names]


class Maintain:
    """Seeded upsert/delete batches through the bm25 index's public
    functions (``text_index``), probed while its logs hold deltas.

    Setup builds the index under ``root`` and snapshots it;
    ``restore()`` puts the snapshot back before every pass, so every
    pass (and every run) starts from the same on-disk state."""

    def __init__(self, spark, sf_dir: str, root: str, seed: int) -> None:
        self.spark, self.sf_dir, self.root = spark, sf_dir, root
        self.snapshot = root + "__snapshot"
        self.rng = random.Random(seed)
        docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))

    def build(self) -> None:
        from lol_data_pipeline_spark.operators.text_index import ensure_bm25_index

        self.path, self.meta0 = ensure_bm25_index(self.spark, self.sf_dir, root=self.root)
        self.base_ids = self.view_ids()
        shutil.rmtree(self.snapshot, ignore_errors=True)
        shutil.copytree(self.root, self.snapshot)

    def warm_ops(self):
        """One fold's worth of rounds, run in setup before ``restore()``
        so that the measured pass does not pay first-use costs."""
        self.restore()
        return self.ops(ROUNDS[:LSM_QUOTA])

    def restore(self) -> None:
        self.compactions = 0
        self.batch_bytes = 0
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.snapshot, self.root)
        self.meta = dict(self.meta0)
        self.present = set(self.base_ids)
        self.upserted: list[int] = []

    def view_ids(self) -> set[int]:
        from lol_data_pipeline_spark.operators.text_index import read_doclens

        df = read_doclens(self.spark, self.path).select("doc_id").distinct()
        return {int(r[0]) for r in df.collect()}

    def ops(self, rounds=ROUNDS):
        """(name, kind, fn) for one pass: each round's write, and a
        probe after every round that leaves the logs non-empty."""
        out = []
        for i, kind in enumerate(rounds):
            out.append((f"bm25_{kind}{i}", "write",
                        (lambda kind=kind, i=i: self.write(kind, i))))
            if i % LSM_QUOTA == 0:  # logs non-empty: the probe reads the delta view
                out.append(("bm25_probe", "probe", self.probe))
        return out

    def write(self, kind: str, i: int) -> None:
        from lol_data_pipeline_spark.operators.lsm import lsm_epochs
        from lol_data_pipeline_spark.operators.text_index import (
            bm25_index_delete, bm25_index_upsert, postings_path,
        )

        base = sorted(self.base_ids)
        if kind == "upsert":
            ids = [SHIFT * (i + 1) + j for j in self.rng.sample(base, BATCH)]
            self.upserted = ids
            self.present |= set(ids)
        else:
            ids = self.rng.sample(self.upserted, len(self.upserted) // 2) + self.rng.sample(
                sorted(self.present & set(base)), 2
            )
            self.present -= set(ids)
        rows = [(j, self.texts[j % SHIFT]) for j in ids]
        self.batch_bytes += sum(8 + len(t.encode()) for _j, t in rows)
        batch = self.spark.createDataFrame(rows, "doc_id long, text string")
        fn = bm25_index_upsert if kind == "upsert" else bm25_index_delete
        self.meta = fn(self.spark, self.path, self.meta, batch)
        if not lsm_epochs(postings_path(self.path)):  # a fold clears the logs
            self.compactions += 1

    def probe(self):
        from lol_data_pipeline_spark.caching import release_caches
        from lol_data_pipeline_spark.operators.text_index import served_bm25_topk

        release_caches()  # what a registry entry does on entry
        return served_bm25_topk(self.spark, self.path, self.meta, PROBE_TERMS)

    def check(self) -> dict[str, str | None]:
        """The final view id set must equal base ∪ upserted − deleted,
        and the index must have folded at least twice in the pass."""
        got, want = self.view_ids(), self.present
        return {
            "bm25 view ids": None if got == want else (
                f"view has {len(got)} ids, expected {len(want)} "
                f"(missing {sorted(want - got)[:5]}, extra {sorted(got - want)[:5]})"),
            "bm25 folds": None if self.compactions >= 2
            else f"{self.compactions} folds in the pass",
        }
