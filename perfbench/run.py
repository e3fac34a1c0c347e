"""Closed-loop benchmark of the engine on ``local[nproc]``.

    python3 perfbench/run.py --workload maintain --seed 1 --seconds 20 --trace 0

Run from the repository root; see ``perfbench/README.md``. One client
runs one operation at a time and waits for it, the way a pipeline does.
An operation is a registry plan built by ``REGISTRY[name].fn(spark,
sf_dir)`` and drained to the ``noop`` sink, or (workload ``maintain``)
a direct call to the bm25 index's public upsert / delete / probe
function.

Each run:

1. points every artifact root, temp dir, Spark local dir and the
   warehouse at a private directory under ``perfbench/.work`` before
   the engine is imported, and generates (once, then reuses) the base
   tables under ``perfbench/.data``;
2. sets up: session start, artifact builds and a warm pass (checked
   against each op's DuckDB ``oracle_sql`` twin for registry ops);
3. measures ``round(--seconds / PASS_S[workload])`` whole passes (at
   least one) in a seeded op order, so that every run does the same
   work;
4. checks the outputs of ``maintain`` and that no file of the checkout
   outside ``perfbench/`` changed, removes the streaming checkpoints
   the engine left on tmpfs, and prints one JSON line:
   end-to-end metrics with ``--trace 0``, per-layer metrics with
   ``--trace 1``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("maintain", "curate")
ROWS = 60_000  # lineitem rows of the generated base tables
ARTIFACT_ROOTS = (
    "INDEX", "GRAPH_INDEX", "TEXT_INDEX", "MINHASH_INDEX", "CHUNK_INDEX",
    "PHASH_INDEX", "SKETCH_INDEX", "BPE_VOCAB", "LR_MODEL", "POWER_DIRS",
)
OWN_DIRS = frozenset(
    [os.path.join("perfbench", d) for d in (".data", ".work", ".out")] + [".bench_build"]
)
# the engine checkpoints streaming queries in fresh ckpt_* dirs on tmpfs
# (streaming.windows._ckpt_dir) and leaves them there
CKPT_ROOT, CKPT_PREFIX = "/dev/shm", "ckpt_"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def file_stats(top: str, skip: frozenset[str] = frozenset()) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file under ``top``, by relative path,
    leaving out the relative directories in ``skip``."""
    out = {}
    for dirpath, dirs, files in os.walk(top):
        rel = os.path.relpath(dirpath, top)
        dirs[:] = [d for d in dirs if os.path.normpath(os.path.join(rel, d)) not in skip]
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            out[os.path.normpath(os.path.join(rel, f))] = (st.st_size, st.st_mtime_ns)
    return out


def checkout_state() -> dict[str, tuple[int, int]]:
    """Every file of the checkout outside the benchmark's scratch dirs."""
    return file_stats(ROOT, OWN_DIRS)


def dir_bytes(d: str) -> int:
    return sum(size for size, _mt in file_stats(d).values())


def ckpt_dirs() -> set[str]:
    if not os.path.isdir(CKPT_ROOT):
        return set()
    return {d for d in os.listdir(CKPT_ROOT) if d.startswith(CKPT_PREFIX)}


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of the busy time between two ``cpu_ticks()`` readings that
    the hypervisor gave to other guests: the co-tenant noise in a
    wall-time figure taken over that interval."""
    d = [b - a for a, b in zip(t0, t1)]
    busy = sum(d) - d[3] - d[4]  # minus idle and iowait
    return 100.0 * d[7] / busy if busy else 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the JVM, the Python workers, and, through the
    children fields, every descendant already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / tick


def isolate(work: str, trace: bool, maintain: bool) -> None:
    """Environment for the engine, set before it is imported."""
    for sub in ("art", "tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    for name in ARTIFACT_ROOTS:
        os.environ[f"SPARK_GRAFT_{name}_DIR"] = os.path.join(work, "art", name.lower())
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, mem_gb // 4))}g"
    if maintain:
        from workloads import LSM_QUOTA

        os.environ["SPARK_GRAFT_LSM_QUOTA"] = str(LSM_QUOTA)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the JVM's hsperfdata file ignores java.io.tmpdir; the launcher JVM
    # that spark-submit starts first takes its options from here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = os.path.join(work, "events")
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


class Runner:
    def __init__(self, args, work: str, sf_dir: str) -> None:
        self.args, self.work, self.sf_dir = args, work, sf_dir
        self.records: list[dict] = []  # one per measured op
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.tracer = None
        self.stream_stats = None
        self.maint = None
        self.seq = 0
        self.written_bytes = 0  # under the maintained artifacts, last pass
        self.pass_cpu: list[float] = []  # CPU seconds of each measured pass

    def note(self, rec: dict) -> None:
        self.attempted += 1
        if rec["error"]:
            self.failed += 1
            self.problems.append(f"{rec['op']}: {rec['error']}")
            log(f"FAILED {rec['op']}: {rec['error']}")

    def run_op(self, name: str, kind: str, fn, collect: bool = False):
        """Build, then drain (noop sink, or collect for the oracle
        check); returns (record, (columns, rows) or None)."""
        sc = self.spark.sparkContext
        self.seq += 1
        tag = f"pb{self.seq}"
        out = df = err = t1 = None
        if self.tracer is not None:
            self.tracer.op = tag
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        sc.setJobGroup(f"{tag}c", name)
        try:
            df = fn()
            t1 = time.perf_counter()
            sc.setJobGroup(f"{tag}d", name)
            if df is not None:
                if collect:
                    out = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # counted and reported, never fatal
            df, err = None, f"{type(e).__name__}: {str(e)[:300]}"
        t2 = time.perf_counter()
        cpu_s = tree_cpu_s() - cpu0
        t1 = t2 if t1 is None else t1
        sc.setJobGroup("pbidle", "idle")
        st = sc.statusTracker()
        rec = {
            "op": name, "kind": kind, "group": tag,
            "construct_s": t1 - t0, "drain_s": t2 - t1, "wall_s": t2 - t0, "cpu_s": cpu_s,
            "construct_jobs": len(st.getJobIdsForGroup(f"{tag}c")),
            "drain_jobs": len(st.getJobIdsForGroup(f"{tag}d")),
            "error": err,
        }
        if self.tracer is not None:
            from layers import catalyst_phases

            rec["phases"] = catalyst_phases(df) if df is not None else {}
            rec["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
        return rec, out

    # -- setup -----------------------------------------------------------
    def setup(self) -> tuple[float, float]:
        """Session start, artifact builds and the warm (checked) pass;
        returns its wall time and CPU seconds, each minus the DuckDB
        oracle's share."""
        args = self.args
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        if args.trace:
            from layers import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        from lol_data_pipeline_spark.session import get_spark

        self.spark = get_spark("perfbench")
        log(f"session ready at {time.perf_counter() - t0:.2f}s")
        self.spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            from layers import StreamStats

            self.stream_stats = StreamStats(self.spark)
        oracle_s = oracle_cpu = 0.0
        if args.workload == "maintain":
            from workloads import Maintain

            self.maint = Maintain(self.spark, self.sf_dir,
                                  os.path.join(self.work, "art", "maint"), args.seed)
            self.maint.build()
            for name, kind, fn in self.maint.warm_ops():
                self.note(self.run_op(name, kind, fn)[0])
        else:
            oracle_s, oracle_cpu = self.check_pass()
        if self.tracer is not None:
            self.setup_index = {k: self.tracer.get("index", k) for k in ("ensure", "build")}
            self.setup_index_s = self.tracer.layer_self("index")
            self.tracer.reset()
            self.stream_stats.triggers.clear()
        return time.perf_counter() - t0 - oracle_s, tree_cpu_s() - cpu0 - oracle_cpu

    def check_pass(self) -> tuple[float, float]:
        """Warm pass: collect every op and compare it with its DuckDB
        oracle. Returns the oracle's share of the wall and CPU time."""
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_parity import compare

        from lol_data_pipeline_spark.io import TABLES, table_path
        from lol_data_pipeline_spark.plans import REGISTRY
        from workloads import CURATE, curate_ops

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(self.sf_dir, t)}'")
        duck_s = duck_cpu = 0.0
        for name, kind, fn in curate_ops(self.spark, self.sf_dir, CURATE):
            rec, out = self.run_op(name, kind, fn, collect=True)
            log(f"warm {name}: {rec['construct_s']:.2f}+{rec['drain_s']:.2f}s "
                f"{rec['construct_jobs']}+{rec['drain_jobs']} jobs")
            self.note(rec)
            if rec["error"]:
                continue
            t, cpu = time.perf_counter(), tree_cpu_s()
            duck_cols, duck_rows = self.oracle(con, REGISTRY[name].sql)
            duck_s += time.perf_counter() - t
            duck_cpu += tree_cpu_s() - cpu
            issues = [i for i in compare(name, out[1], duck_rows, out[0], duck_cols)
                      if not i.startswith("FLOAT-DRIFT")]
            if issues:
                self.failed += 1
                self.problems.append(f"{name}: {' | '.join(issues)[:300]}")
                log(f"WRONG {name}: {issues}")
        return duck_s, duck_cpu

    def oracle(self, con, sql: str):
        """DuckDB result of ``sql`` on the base tables, cached beside
        them: both are fixed, and some oracles take tens of seconds."""
        key = hashlib.sha256(sql.encode()).hexdigest()[:20]
        path = os.path.join(self.sf_dir, "_oracle", f"{key}.pickle")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        res = con.execute(sql)
        out = ([d[0] for d in res.description], res.fetchall())
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(f"{path}.tmp", "wb") as f:
            pickle.dump(out, f)
        os.replace(f"{path}.tmp", path)
        return out

    # -- measured passes -------------------------------------------------
    def measure(self) -> list[float]:
        from workloads import PASS_S

        args = self.args
        rng = random.Random(args.seed)
        passes: list[float] = []
        ticks0 = cpu_ticks()
        for _ in range(max(1, round(args.seconds / PASS_S[args.workload]))):
            if self.maint is not None:
                self.maint.restore()
                before = file_stats(self.maint.root)
                ops = self.maint.ops()
            else:
                from workloads import CURATE, curate_ops

                names = list(CURATE)
                rng.shuffle(names)
                ops = curate_ops(self.spark, self.sf_dir, names)
            t0, cpu0 = time.perf_counter(), tree_cpu_s()
            for name, kind, fn in ops:
                rec, _ = self.run_op(name, kind, fn)
                rec["pass"] = len(passes)
                self.records.append(rec)
                self.note(rec)
            passes.append(time.perf_counter() - t0)
            self.pass_cpu.append(tree_cpu_s() - cpu0)
            if self.maint is not None:
                self.written_bytes = sum(
                    size for p, (size, mt) in file_stats(self.maint.root).items()
                    if before.get(p) != (size, mt)
                )
        self.steal_pct = steal_pct(ticks0, cpu_ticks())
        log(f"passes {[round(p, 2) for p in passes]}, host steal {self.steal_pct:.1f}%")
        return passes

    def rss_peak_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def end_to_end(run: Runner) -> dict:
    """Set-up, pass and op costs in CPU seconds. Their wall times move
    with the hypervisor's steal, which no run length or median removes:
    on a shared 4-vCPU VM, runs minutes apart saw 2-38% steal, and the
    maintain pass wall time grew 75% at 38% while its CPU time grew
    10%. The wall figures go to the run record."""
    return {
        "setup_s": (run.setup_s, "s"),
        "pass_cpu_s": (statistics.median(run.pass_cpu), "s"),
        "op_cpu_p50_s": (statistics.median(r["cpu_s"] for r in run.records), "s"),
    }


def per_layer(run: Runner, passes: list[float], events: dict, prior: dict | None) -> dict:
    """Per-pass layer split of the measured passes (traced runs)."""
    from layers import union_seconds

    tr, recs, n = run.tracer, run.records, len(passes)
    wall = sum(passes)
    pct = lambda sec: 100.0 * sec / wall  # noqa: E731
    per = lambda v: v / n  # noqa: E731
    m: dict[str, tuple[float, str]] = {}
    ph = lambda k: sum(r.get("phases", {}).get(k, 0.0) for r in recs)  # noqa: E731
    m["plans.construct_s"] = (per(sum(r["construct_s"] for r in recs)), "s")
    m["plans.construct_jobs"] = (per(sum(r["construct_jobs"] for r in recs)), "count")
    m["plans.analysis_ms"] = (per(ph("analysis")), "ms")
    m["plans.optimization_ms"] = (per(ph("optimization")), "ms")
    m["plans.planning_ms"] = (per(ph("planning")), "ms")

    drain = [events.get(r["group"] + "d", {}) for r in recs]
    busy = [union_seconds(g.get("intervals", [])) for g in drain]
    m["spark.drain_s"] = (per(sum(r["drain_s"] for r in recs)), "s")
    m["spark.drain_jobs"] = (per(sum(r["drain_jobs"] for r in recs)), "count")
    groups = drain + [events.get(r["group"] + "c", {}) for r in recs]
    m["spark.stages"] = (per(sum(len(g.get("stages", ())) for g in groups)), "count")
    m["spark.tasks"] = (per(sum(g.get("tasks", 0) for g in groups)), "count")
    m["spark.job_busy_s"] = (per(sum(busy)), "s")
    m["spark.driver_gap_s"] = (
        per(sum(max(0.0, r["drain_s"] - b) for r, b in zip(recs, busy))), "s")
    for key, name in (("input", "input_bytes"), ("shuffle_read", "shuffle_read_bytes"),
                      ("shuffle_write", "shuffle_write_bytes"), ("spill", "spill_bytes")):
        m[f"spark.{name}"] = (per(sum(g.get(key, 0) for g in groups)), "bytes")
    m["spark.rss_peak_mb"] = (run.rss_mb, "MB")  # driver JVM VmHWM after the run

    for fn in ("load_table", "table_schema"):
        c, _t, self_s = tr.get("io", fn)
        m[f"io.{fn}_calls"] = (per(c), "count")
        m[f"io.{fn}_pct"] = (pct(self_s), "%")

    # builds belong to setup; a build inside a timed pass is a rebuild
    ens = run.setup_index["ensure"][0] + tr.get("index", "ensure")[0]
    builds = run.setup_index["build"][0]
    m["index.setup_ensure_calls"] = (float(ens), "count")
    m["index.setup_builds"] = (float(builds), "count")
    m["index.setup_pct"] = (100.0 * run.setup_index_s / run.setup_wall_s, "%")
    m["index.rebuilds"] = (per(tr.get("index", "build")[0]), "count")
    m["index.reuse_ratio"] = (1.0 - builds / ens if ens else 0.0, "ratio")
    m["index.bytes"] = (float(run.art_bytes), "bytes")

    for fn in ("upsert", "delete", "compact", "view"):
        m[f"lsm.{fn}_pct"] = (pct(tr.get("lsm", f"lsm_{fn}")[2]), "%")
    m["lsm.compactions"] = (per(tr.get("lsm", "lsm_compact")[0]), "count")
    m["lsm.delta_bytes"] = (per(tr.lsm_bytes["delta"]), "bytes")
    m["lsm.tomb_bytes"] = (per(tr.lsm_bytes["tomb"]), "bytes")
    maint = run.maint
    batch = maint.batch_bytes if maint else 0
    m["lsm.write_amp"] = (run.written_bytes / batch if batch else 0.0, "ratio")
    src = os.path.getsize(os.path.join(run.sf_dir, "documents.parquet"))
    m["lsm.space_amp"] = (run.maint_bytes / src if maint else 0.0, "ratio")

    trig = run.stream_stats.triggers
    m["streaming.triggers"] = (per(len(trig)), "count")
    for key, name in (("trigger_ms", "trigger_pct"), ("add_batch_ms", "add_batch_pct"),
                      ("planning_ms", "query_planning_pct"), ("wal_ms", "wal_commit_pct")):
        m[f"streaming.{name}"] = (pct(sum(t[key] for t in trig) / 1000.0), "%")
    m["streaming.state_rows"] = (float(max([t["state_rows"] for t in trig] or [0])), "count")
    m["streaming.state_bytes"] = (float(max([t["state_bytes"] for t in trig] or [0])), "bytes")
    m["streaming.stage_pct"] = (pct(tr.get("streaming", "stage_ordered_batches")[1]), "%")

    m["graph.cc_calls"] = (per(tr.get("graph", "connected_components")[0]), "count")
    m["graph.cc_pct"] = (pct(tr.layer_self("graph")), "%")
    m["clustering.power_pct"] = (pct(tr.layer_self("clustering")), "%")
    m["caching.release_s"] = (per(tr.get("caching", "release_caches")[2]), "s")
    m["caching.persisted_rdds"] = (float(max(r.get("persisted_rdds", 0) for r in recs)), "count")

    # pass time outside every op's construct + drain (harness, tracer)
    m["trace.unattributed_pct"] = (pct(wall - sum(r["wall_s"] for r in recs)), "%")
    mismatches, overhead = 0, 0.0
    if prior:
        base = prior["jobs"]
        for op, counts in op_jobs(recs).items():
            if op in base and base[op] != counts:
                mismatches += 1
                log(f"job count differs with tracing on: {op} {base[op]} -> {counts}")
        cpu = statistics.median(run.pass_cpu)
        overhead = 100.0 * (cpu - prior["pass_cpu_s"]) / prior["pass_cpu_s"]
    m["trace.job_mismatches"] = (float(mismatches), "count")
    m["trace.overhead_pct"] = (overhead, "%")
    return m


def op_jobs(records: list[dict]) -> dict[str, list[int]]:
    """Spark jobs each op fired in the first measured pass."""
    out: dict[str, list[int]] = {}
    for r in records:
        if r["pass"] == 0:
            out.setdefault(r["op"], []).append(r["construct_jobs"] + r["drain_jobs"])
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "lol_data_pipeline_spark", "__init__.py")):
        log("engine package not found: run from the repository root")
        return 2
    sys.dont_write_bytecode = True
    before, ckpt_before = checkout_state(), ckpt_dirs()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    isolate(work, bool(args.trace), args.workload == "maintain")
    import gen

    sf_dir, counts = gen.ensure(os.path.join(HERE, ".data"), ROWS)
    run = Runner(args, work, sf_dir)
    checks: dict[str, str | None] = {}  # post-run check -> problem, None when it holds
    try:
        run.setup_wall_s, run.setup_s = run.setup()
        passes = run.measure()
        if run.maint is not None:
            checks.update(run.maint.check())
        run.rss_mb = run.rss_peak_mb()
        run.art_bytes = dir_bytes(os.path.join(work, "art"))
        if run.maint is not None:
            run.art_bytes -= dir_bytes(run.maint.snapshot)
            run.maint_bytes = dir_bytes(run.maint.root)
        stop_spark(run.spark)
        del run.spark
        events = {}
        if args.trace:
            from layers import parse_event_log

            events = parse_event_log(os.path.join(work, "events"))
    finally:
        if hasattr(run, "spark"):
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        for d in ckpt_dirs() - ckpt_before:
            shutil.rmtree(os.path.join(CKPT_ROOT, d), ignore_errors=True)
    changed = sorted({p for p, _ in set(before.items()) ^ set(checkout_state().items())})
    checks["checkout unchanged"] = f"files changed: {changed[:5]}" if changed else None
    problems = run.problems + [f"{k}: {v}" for k, v in checks.items() if v]
    for p in problems:
        log(f"PROBLEM {p}")

    prior_path = os.path.join(out_dir, f"{args.workload}-untraced.json")
    if args.trace:
        prior = None
        if os.path.exists(prior_path):
            with open(prior_path) as f:
                prior = json.load(f)
            if args.workload == "maintain" and prior.get("seed") != args.seed:
                prior["jobs"] = {}  # batches differ with the seed
        metrics = per_layer(run, passes, events, prior)
    else:
        metrics = end_to_end(run)
        with open(prior_path, "w") as f:
            json.dump({"seed": args.seed, "pass_cpu_s": statistics.median(run.pass_cpu),
                       "jobs": op_jobs(run.records)}, f)
    attempted = run.attempted + len(checks)
    failed = run.failed + sum(1 for v in checks.values() if v)
    with open(os.path.join(out_dir, f"{args.workload}-t{args.trace}-s{args.seed}.json"), "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": int(os.environ["SPARK_GRAFT_CPUS"]), "rows": counts,
            "setup_s": run.setup_s, "setup_wall_s": run.setup_wall_s,
            "passes": passes, "pass_cpu": run.pass_cpu,
            "pass_s": statistics.median(passes),
            "op_p50_s": statistics.median(r["wall_s"] for r in run.records),
            "steal_pct": run.steal_pct, "rss_peak_mb": run.rss_mb,
            "error_rate": failed / attempted, "problems": problems,
            "op_wall_by_kind": {
                kind: {"n": len(w), "p50": statistics.median(w), "max": max(w),
                       "cpu_p50": statistics.median(
                           r["cpu_s"] for r in run.records if r["kind"] == kind)}
                for kind in sorted({r["kind"] for r in run.records})
                for w in [[r["wall_s"] for r in run.records if r["kind"] == kind]]
            },
            "compactions": run.maint.compactions if run.maint else None,
            "metrics": metrics, "ops": run.records,
            "spans": run.tracer.spans if run.tracer else None,
        }, f, indent=1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0

if __name__ == "__main__":
    sys.exit(main())
