"""Outside-in tracing for the benchmark's ``--trace 1`` runs.

No engine file is changed; two kinds of probe run in the benchmark
process:

- **Wrappers** around the public functions of each layer module. They
  are installed on the module attribute AND rebound in every loaded
  engine module that imported the function by name (``from m import
  f``), so every caller reaches the wrapper. Each call becomes a span;
  spans nest (op -> construct -> ensure -> build -> load_table) and
  self time is the span minus its children.
- **Spark's own trackers**: the ``QueryExecution`` phase tracker
  (analysis / optimization / planning ms) read through py4j, the
  event log (jobs, stages, tasks, bytes), and a Python
  ``StreamingQueryListener`` (per-trigger durations and state size).
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict

PKG = "lol_data_pipeline_spark"
INDEX_MODULES = (
    "vector_index", "graph_index", "text_index", "minhash_index",
    "chunk_index", "phash_index", "sketch_index",
)

# (layer, module, attribute names). Index families contribute every
# ensure_* / build_* function they define.
TARGETS: list[tuple[str, str, tuple[str, ...]]] = [
    ("io", f"{PKG}.io", ("load_table", "table_schema")),
    ("lsm", f"{PKG}.operators.lsm",
     ("lsm_upsert", "lsm_delete", "lsm_compact", "lsm_view")),
    ("streaming", f"{PKG}.streaming.windows",
     ("replay_multibatch", "stage_ordered_batches")),
    ("graph", f"{PKG}.operators.graph", ("connected_components",)),
    ("clustering", f"{PKG}.operators.clustering",
     ("power_iteration", "power_topr")),
    ("caching", f"{PKG}.caching", ("release_caches",)),
]


class Tracer:
    def __init__(self) -> None:
        self.stack: list[list[float]] = []  # [start, child_time]
        # (layer, fn) -> [calls, total_s, self_s]
        self.calls: dict[tuple[str, str], list[float]] = defaultdict(
            lambda: [0, 0.0, 0.0]
        )
        self.lsm_bytes = {"delta": 0, "tomb": 0}
        self.originals: dict[int, object] = {}
        self.op = ""  # job-group tag of the running op; spans are keyed by it
        # (op, layer, fn, start, duration, self time, depth) per wrapped call
        self.spans: list[tuple[str, str, str, float, float, float, int]] = []

    def reset(self) -> None:
        self.calls.clear()
        self.spans.clear()
        self.lsm_bytes = {"delta": 0, "tomb": 0}

    def span(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            frame = [time.perf_counter(), 0.0]
            tracer.stack.append(frame)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.stack.pop()
                dur = time.perf_counter() - frame[0]
                rec = tracer.calls[(layer, name)]
                rec[0] += 1
                rec[1] += dur
                rec[2] += dur - frame[1]
                tracer.spans.append((tracer.op, layer, fn.__name__, frame[0], dur,
                                     dur - frame[1], len(tracer.stack)))
                if tracer.stack:
                    tracer.stack[-1][1] += dur
            if layer == "lsm" and isinstance(out, dict):
                tracer.lsm_bytes["delta"] += int(out.get("delta_bytes", 0))
                tracer.lsm_bytes["tomb"] += int(out.get("tomb_bytes", 0))
            return out

        return wrapper

    def install(self) -> None:
        """Wrap every target, then rebind by-name imports in all loaded
        engine modules (call before the registry is used)."""
        targets = list(TARGETS)
        for fam in INDEX_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{fam}")
            names = tuple(
                n for n, v in vars(mod).items()
                if callable(v) and getattr(v, "__module__", "") == mod.__name__
                and (n.startswith("ensure_") or n.startswith("build_"))
            )
            targets.append(("index", mod.__name__, names))
        swap: dict[int, object] = {}
        for layer, modname, names in targets:
            mod = importlib.import_module(modname)
            for n in names:
                orig = getattr(mod, n)
                name = n.split("_", 1)[0] if layer == "index" else n
                w = self.span(layer, name, orig)
                swap[id(orig)] = w
                self.originals[id(orig)] = orig
        importlib.import_module(f"{PKG}.plans")
        for modname, mod in list(sys.modules.items()):
            if not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                w = swap.get(id(val))
                if w is not None and self.originals.get(id(val)) is val:
                    setattr(mod, attr, w)

    def get(self, layer: str, name: str) -> tuple[int, float, float]:
        c, t, s = self.calls.get((layer, name), (0, 0.0, 0.0))
        return int(c), t, s

    def layer_self(self, layer: str) -> float:
        return sum(v[2] for (lay, _n), v in self.calls.items() if lay == layer)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms of ``df``'s own
    QueryExecution, forcing physical planning (no job runs)."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    try:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for k in out:
            opt = phases.get(k)
            if opt.isDefined():
                out[k] = float(opt.get().durationMs())
    except Exception:  # streaming memory tables etc. expose no tracker
        pass
    return out


class StreamStats:
    """Python StreamingQueryListener collecting per-trigger progress."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self
        self.triggers: list[dict] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs or {})
                st = p.stateOperators or []
                stats.triggers.append({
                    "trigger_ms": float(d.get("triggerExecution", 0)),
                    "add_batch_ms": float(d.get("addBatch", 0)),
                    "planning_ms": float(d.get("queryPlanning", 0)),
                    "wal_ms": float(d.get("walCommit", 0)),
                    "state_rows": sum(int(s.numRowsTotal) for s in st),
                    "state_bytes": sum(int(s.memoryUsedBytes) for s in st),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)


def parse_event_log(event_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, job intervals and bytes."""
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": set(), "tasks": 0, "intervals": [],
        "input": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
    })
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(event_dir, "*")):
        if not os.path.isfile(path) or path.endswith(".crc"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]]["intervals"].append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    rec = groups[g]
                    rec["tasks"] += 1
                    rec["stages"].add(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    rec["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    rec["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rec["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return groups


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
