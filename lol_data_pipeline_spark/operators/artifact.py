"""The build-once artifact lifecycle, one copy for every served index
and trained model.

The reference persists fetched documents and re-serves them
(src/api/db.py:23-38); the engine's eleven build-once artifacts
follow the same contract. An artifact is a directory
``<root>/<prefix>_<corpus>[_<variant>]`` holding its data (parquet
tables, or nothing for the JSON-only models) and one JSON sidecar
with the source fingerprint, the build params and the family's
totals or payload.

- :meth:`Artifact.ensure` is the whole build-if-absent-or-stale
  contract: the artifact is reused when its sidecar's fingerprint
  and params match, and built otherwise.
- The sidecar is the artifact's commit point. :meth:`Artifact.commit`
  writes it last, through a temp file, fsync and ``os.replace``, so a
  crash leaves the old or the new sidecar, never a torn one. A build
  that dies before its commit leaves a stale or unreadable sidecar,
  and the next ensure rebuilds.
- The LSM families (operators/lsm.py) declare their tables here as
  :class:`Table` specs: subdirectory, DDL, id, partition and sort
  columns, and the sidecar totals counted over the table's view.

This module is the one place that knows the on-disk layout: sidecar
names, artifact roots and table specs.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass
from typing import Callable

from lol_data_pipeline_spark.io import table_path

_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)


def _root(env: str, subdir: str) -> str:
    return os.environ.get(env, os.path.join(_WAREHOUSE, subdir))


def _source_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Content fingerprint of the source table's files (name, size,
    mtime_ns) — cheap staleness detection: a regenerated corpus gets
    a rebuilt artifact, not stale contents.

    Deployment posture (r12 verdict): file metadata is the right key
    LOCALLY, but at cluster scale a source table lives behind a
    catalog — substitute the table's manifest/snapshot version
    (Iceberg snapshot-id, Delta table version, Hive partition
    transient_lastDdlTime) for the os.walk here. The ensure contract
    is unchanged: compare the stored key, rebuild on mismatch; only
    the key's provenance moves."""
    p = table_path(sf_dir, table)
    stats: list[tuple[str, int, int]] = []
    if os.path.isdir(p):
        for root, _dirs, files in os.walk(p):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                stats.append((f, st.st_size, st.st_mtime_ns))
    else:
        st = os.stat(p)
        stats.append((os.path.basename(p), st.st_size, st.st_mtime_ns))
    return hashlib.md5(repr(sorted(stats)).encode()).hexdigest()


@dataclass(frozen=True)
class Table:
    """One LSM table of an artifact; operators/lsm.py reads, writes
    and folds it from this spec alone."""

    subdir: str
    ddl: str  # base table: data + partition columns, in storage order
    id_col: str
    partition_by: tuple[str, ...]
    sort_within: tuple[str, ...] = ()  # row-group-skipping layout of a fold
    # (sidecar key, SQL aggregate over the table's view)
    totals: tuple[tuple[str, str], ...] = ()

    def dir(self, path: str) -> str:
        return os.path.join(path, self.subdir)


@dataclass(frozen=True)
class Artifact:
    prefix: str  # directory name: <prefix>_<corpus>[_<variant>]
    sidecar: str  # JSON file inside the artifact directory
    source: str  # source table whose fingerprint keys staleness
    root: str
    tables: tuple[Table, ...] = ()  # LSM tables, in write order

    def path(self, sf_dir: str, root: str | None = None, variant: str = "") -> str:
        name = os.path.basename(os.path.normpath(sf_dir))
        if variant:
            name += f"_{variant}"
        return os.path.join(root or self.root, f"{self.prefix}_{name}")

    def read(self, path: str) -> dict | None:
        """The committed sidecar; None when absent or unreadable."""
        try:
            with open(os.path.join(path, self.sidecar)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def commit(self, path: str, meta: dict) -> dict:
        """Atomically replace the sidecar with ``meta``. The temp name
        starts with the sidecar's ``_``, so parquet readers skip it."""
        final = os.path.join(path, self.sidecar)
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)
        return meta

    def stamp(self, sf_dir: str, params: dict, **fields) -> dict:
        """A fresh build's sidecar: source fingerprint, params, fields."""
        return {
            "fingerprint": _source_fingerprint(sf_dir, self.source),
            "params": params,
            **fields,
        }

    def ensure(
        self,
        sf_dir: str,
        params: dict,
        build: Callable[[str], dict],
        root: str | None = None,
        variant: str = "",
    ) -> tuple[str, dict]:
        """Build-if-absent-or-stale: (path, sidecar meta). Stale means
        the source fingerprint or the params changed; ``build(path)``
        writes the artifact and returns its committed sidecar."""
        path = self.path(sf_dir, root, variant)
        meta = self.read(path) or {}
        if meta.get("params") == params and meta.get(
            "fingerprint"
        ) == _source_fingerprint(sf_dir, self.source):
            return path, meta
        os.makedirs(path, exist_ok=True)
        return path, build(path)


IVFPQ = Artifact(
    "ivfpq", "_index_meta.json", "embeddings",
    _root("SPARK_GRAFT_INDEX_DIR", "vector_index"),
)

NODES = Table("nodes", "vec_id long, embedding array<double>, code int", "vec_id", ("code",))
GRAPH = Artifact(
    "knn", "_graph_meta.json", "embeddings",
    _root("SPARK_GRAFT_GRAPH_INDEX_DIR", "graph_index"), (NODES,),
)

POSTINGS = Table("postings", "doc_id long, term string, tf long, tb int", "doc_id", ("tb",), ("term",))
DOCLENS = Table(
    "doclens", "doc_id long, dl long, db int", "doc_id", ("db",),
    totals=(("n_docs", "count(*)"), ("total_tokens", "coalesce(sum(dl), 0)")),
)
BM25 = Artifact(
    "bm25", "_text_meta.json", "documents",
    _root("SPARK_GRAFT_TEXT_INDEX_DIR", "text_index"), (POSTINGS, DOCLENS),
)

BUCKETS = Table(
    "buckets", "id long, bkey string, band int", "id", ("band",), ("bkey",),
    (("n_docs", "count(DISTINCT id)"),),
)
MINHASH = Artifact(
    "minhash", "_minhash_meta.json", "documents",
    _root("SPARK_GRAFT_MINHASH_INDEX_DIR", "minhash_index"), (BUCKETS,),
)

_CHUNK_ROOT = _root("SPARK_GRAFT_CHUNK_INDEX_DIR", "chunk_index")
CHUNKS = Table(
    "chunks", "id long, chunk_idx int, h long, hb int", "id", ("hb",), ("h",),
    (("n_docs", "count(DISTINCT id)"), ("n_chunks", "count(*)")),
)
CHUNK = Artifact("chunk", "_chunk_meta.json", "documents", _CHUNK_ROOT, (CHUNKS,))
NGRAMS = Table(
    "chunks", "id long, h long, hb int", "id", ("hb",), ("h",),
    (("n_docs", "count(DISTINCT id)"), ("n_grams", "count(*)")),
)
NGRAM = Artifact("ngram", "_chunk_meta.json", "documents", _CHUNK_ROOT, (NGRAMS,))

BANDS = Table(
    "bands", "id long, simhash long, chunk long, band int", "id", ("band",), ("chunk",),
    (("n_docs", "count(DISTINCT id)"),),
)
PHASH = Artifact(
    "phash", "_phash_meta.json", "documents",
    _root("SPARK_GRAFT_PHASH_INDEX_DIR", "phash_index"), (BANDS,),
)

HLL = Artifact(
    "hll", "_sketch_meta.json", "events",
    _root("SPARK_GRAFT_SKETCH_INDEX_DIR", "sketch_index"),
)
BPE = Artifact(
    "bpe", "_bpe_meta.json", "documents",
    _root("SPARK_GRAFT_BPE_VOCAB_DIR", "bpe_vocab"),
)
POWER_DIRS = Artifact(
    "dirs", "_dirs_meta.json", "embeddings",
    _root("SPARK_GRAFT_POWER_DIRS_DIR", "power_dirs"),
)
LR_MODEL = Artifact(
    "qlr", "_model_meta.json", "documents",
    _root("SPARK_GRAFT_LR_MODEL_DIR", "quality_model"),
)
