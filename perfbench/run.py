#!/usr/bin/env python3
"""Closed-loop benchmark of the KG-construction engine.

Run from the repository root:

    python3 perfbench/run.py --workload kg_submit --seed 1 --seconds 15 --trace 0

One process, one ``local[nproc]`` Spark session, one job at a time. A run
sets the session up once (``setup_s``, from process start), runs one cold
iteration (``first_pass_s``) and a fixed number of unmeasured warm-ups,
then a fixed number of warm iterations scaled by ``--seconds`` (``wall_s``:
their median, or on the contract workload each query's best time, summed).
Every iteration's output is checked against a reference; an iteration that
raises or fails the check counts in ``failed``.

With ``--trace 1`` the run adds one traced iteration and reports per-layer
metrics instead. Tracing is done from outside the package: the benchmark
wraps its own calls into the package's public functions in spans, forces
each layer's output at its boundary, and reads Spark's SQL status store
for per-operator metrics. Nothing inside the package is changed.

Standard output: one run-record line, then, as the last line, one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "open_source_legislation_spark")
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DATA_DIR = os.path.join(HERE, "data")

KG_TURNS = 30_000
# kg_submit's bucket count. scripts/submit_job.py defaults to 8; at 8 the
# per-bucket jobs alone cost 40 s cold and 25 s warm on a 4-core host,
# which no run budget with a second workload can hold. 4 buckets at the
# runner's default concurrency of 4 still run as concurrent FAIR jobs with
# the hot conversation's bucket setting the wall.
NUM_BUCKETS = 4
CONTRACT_SF = "sf0.01"
# Measured warm iterations per 15 s of --seconds, after WARMUPS unmeasured
# ones. Warm walls keep falling for several passes (JIT), so a run
# measures a fixed number of them rather than as many as fit, and every run
# takes its median over the same iterations.
WARM_PER_15S = {"kg_triples": 8, "contract": 3, "kg_submit": 1}
WARMUPS = {"kg_triples": 1, "contract": 0, "kg_submit": 0}
# No measured iteration but the first starts after this many seconds from
# process start, so a run on a loaded host stays inside the time budget of
# a full set of runs.
DEADLINE_S = 70.0
# Share of the host's CPU time given to other guests during the measured
# iterations above which the run record flags the run as disturbed.
STEAL_FLAG = 0.02

# The operator-library queries of the contract workload, in run order: one
# per operator module of bench.py's HEADLINE_CONTRACT (dedup, similarity,
# graph, text analysis, sampling, multimodal, fetch source), the cheapest of
# each module's rows so a run fits its time budget.
CONTRACT_QUERIES = [
    "dedup_minhash_lsh",
    "sim_ann_lsh",
    "graph_label_prop",
    "ta_boilerplate",
    "smp_pack_budget",
    "mm_decode_real",
    "src_fetch_retry",
]
# the tables those queries read, registered at set-up
CONTRACT_INPUTS = ["documents", "embeddings", "lineitem"]
# tables the DuckDB oracle may reference (scripts/check_contract.py)
CONTRACT_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

E2E_METRICS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
}
LAYER_METRICS = {
    "io.scan_rows": "rows",
    "io.scan_mb": "MB",
    "extract.derive_s": "s",
    "extract.payload_py_s": "s",
    "extract.state_py_s": "s",
    "extract.shuffle_mb": "MB",
    "extract.sort_s": "s",
    "extract.state_task_max_s": "s",
    "extract.derived_rows": "rows",
    "pipeline.spill_mb": "MB",
    "pipeline.spill_s": "s",
    "pipeline.plan_s": "s",
    "pipeline.triples_s": "s",
    "pipeline.triples_rows": "rows",
    "linking.s": "s",
    "linking.py_s": "s",
    "linking.mentions": "rows",
    "linking.hits_p1": "rows",
    "linking.hits_p2": "rows",
    "linking.hits_p3": "rows",
    "linking.misses": "rows",
    "enrich.py_s": "s",
    "enrich.rows": "rows",
    "nodes.s": "s",
    "nodes.text_agg_s": "s",
    "nodes.shuffle_mb": "MB",
    "graph.rel_join_s": "s",
    "checkpoint.materialize_s": "s",
    "checkpoint.bucket_s_p50": "s",
    "checkpoint.bucket_s_max": "s",
    "checkpoint.concurrency": "ratio",
    "checkpoint.resume_s": "s",
    "checkpoint.buckets": "count",
    **{f"contract.{q}_s": "s" for q in CONTRACT_QUERIES},
    "session.gc_s": "s",
    "session.py_init_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}
# per-layer metrics no operator of the SQL status store carries
NOT_MEASURABLE = {
    "graph.rel_join_s": "join operators expose no time metric in the SQL "
    "status store, and the relationship joins run inside the nodes write",
}


# ---------------------------------------------------------------------------
# process, environment, files
# ---------------------------------------------------------------------------


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of proc(5): starttime
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_tmp: str) -> None:
    """Keep every scratch file of Spark, the JVM and the Python workers
    inside the run's temp dir, and put the package on the workers' path."""
    import tempfile

    os.makedirs(os.path.join(run_tmp, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = run_tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_tmp, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def publish_dir(build: str, final: str) -> None:
    """Atomically move a finished build directory into place; a concurrent
    creator that already published wins and our copy is discarded."""
    try:
        os.rename(build, final)
    except OSError:
        if not os.path.exists(os.path.join(final, "_meta.json")):
            raise
        shutil.rmtree(build, ignore_errors=True)


def read_meta(d: str) -> dict | None:
    try:
        with open(os.path.join(d, "_meta.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def write_meta(d: str, meta: dict) -> None:
    with open(os.path.join(d, "_meta.json"), "w") as fh:
        json.dump(meta, fh)


IDENTITY = ("conv_id", "turn_idx", "text")


def frame_fingerprint(pdf) -> str:
    """Order-independent fingerprint of a transcripts frame's identity
    columns, independent of their pandas dtypes."""
    import pandas as pd

    ident = pd.DataFrame({c: pdf[c].astype(str) for c in IDENTITY})
    h = pd.util.hash_pandas_object(ident, index=False).to_numpy(dtype="uint64")
    return f"{len(pdf)}:{int(h.sum(dtype='uint64'))}"


def read_parquet_frame(path: str, columns=None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    ).to_pandas()


def parquet_rows(path: str) -> int:
    """Row count from the parquet footers."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def triple_set(path: str) -> set[tuple[str, str, str]]:
    pdf = read_parquet_frame(path, ["subj", "pred", "obj"])
    return set(pdf.itertuples(index=False, name=None))


def source_digest() -> str:
    """Digest of the package sources: identifies the code under test in a
    checkout that is not a git repository."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(PKG_DIR):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(base, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def file_digest(*names: str) -> str:
    """Digest of the named package modules' sources."""
    h = hashlib.sha256()
    for name in names:
        with open(os.path.join(PKG_DIR, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


class RssSampler(threading.Thread):
    """Peak resident set of this process tree (driver, JVM, Python
    workers), sampled from /proc."""

    def __init__(self, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss_mb(self) -> float:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(name)
            parent[pid] = int(fields[1])
            rss[pid] = int(fields[21])
        me = os.getpid()
        total = 0
        for pid in rss:
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p == me:
                total += rss[pid]
        return total * self._page / 2**20

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


# ---------------------------------------------------------------------------
# spans and the SQL status store
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once at
    the end of the run. A span opened on a thread that has no open span of
    its own is parented to the innermost span opened with ``adopt=True``:
    the checkpoint runner's bucket threads hang under its ``run`` span."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._adopters: list[int] = []

    @contextmanager
    def span(self, name: str, adopt: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            parent = stack[-1] if stack else (self._adopters[-1] if self._adopters else None)
            rec = {"id": len(self.spans), "name": name, "start": time.time(),
                   "end": None, "parent": parent, "run_id": self.run_id,
                   "thread": threading.get_ident()}
            self.spans.append(rec)
            if adopt:
                self._adopters.append(rec["id"])
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if adopt:
                with self._lock:
                    self._adopters.remove(rec["id"])

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: span time minus the part of it that its child
        spans cover (children on concurrent threads overlap)."""
        kids: dict[int, list] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]] += s["end"] - s["start"] - covered
        return dict(out)


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_VAL = re.compile(r"(-?[\d,]*\.?\d+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)?")


def parse_metric(text: str) -> tuple[float, float]:
    """(total, max over tasks) of a formatted SQL metric, in seconds, MiB
    or plain counts. Per-task metrics read
    ``total (min, med, max (stageId: taskId))\\n<total> (<min>, <med>, <max> (...))``."""
    if not text:
        return 0.0, 0.0
    line = text.strip().splitlines()[-1]
    vals = [float(n.replace(",", "")) * _UNITS.get(u or "", 1.0)
            for n, u in _VAL.findall(line.split("(stage")[0])]
    if not vals:
        return 0.0, 0.0
    return vals[0], (vals[3] if len(vals) >= 4 else vals[0])


class StatusStore:
    """Reads completed SQL executions and their per-operator metrics from
    the session's SQL status store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.mark = self._max_id()

    def _max_id(self) -> int:
        ids = [e.executionId() for e in self._list()]
        return max(ids) if ids else -1

    def _list(self) -> list:
        out, it = [], self.store.executionsList().iterator()
        while it.hasNext():
            out.append(it.next())
        return out

    def take(self) -> list[dict]:
        """Executions completed since the last call."""
        execs = []
        for e in self._list():
            eid = e.executionId()
            if eid <= self.mark:
                continue
            done = e.completionTime()
            if not done.isDefined():
                continue
            wall = (done.get().getTime() - e.submissionTime()) / 1000.0
            values = self.store.executionMetrics(eid)
            nodes = []
            it = self.store.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                n = it.next()
                mets = {}
                mi = n.metrics().iterator()
                while mi.hasNext():
                    pm = mi.next()
                    v = values.get(pm.accumulatorId())
                    mets[pm.name()] = parse_metric(v.get() if v.isDefined() else "")
                nodes.append({"name": n.name(), "desc": n.desc(), "metrics": mets})
            execs.append({"id": eid, "description": e.description(),
                          "wall": wall, "nodes": nodes})
        if execs:
            self.mark = max(self.mark, max(x["id"] for x in execs))
        return execs


def _write_path(ex: dict) -> str:
    for n in ex["nodes"]:
        if n["name"].startswith("Execute InsertIntoHadoopFsRelationCommand"):
            return n["desc"]
    return ""


def classify(ex: dict) -> str:
    desc = ex["description"] or ""
    if desc.startswith("perfbench:"):
        return desc.split(":", 1)[1]
    path = _write_path(ex)
    if "osl_derived_" in path:
        return "derive"
    if "/triples" in path:
        return "triples"
    if "/nodes/" in path:
        return "nodes"
    if "/_input" in path:
        return "materialize"
    return "other"


def layer_metrics(execs: list[dict], cores: int, inputs: tuple[str, ...],
                  span_wall: float):
    """Per-layer sums over the given executions, plus the busy-time
    metrics that failed the validity check, with the reason. A busy time
    summed over tasks must fit in cores x the wall of its execution, and
    its sum over all executions in cores x the traced span's wall
    (executions of concurrent jobs overlap)."""
    m: dict[str, float] = defaultdict(float)
    invalid: dict[str, str] = {}
    busy_names: set[str] = set()

    def busy(name: str, value: float, ex: dict, op: str) -> None:
        busy_names.add(name)
        cap = cores * ex["wall"]
        if value > cap + 1e-3:
            invalid[name] = (
                f"{op} in execution {ex['id']} reports {value:.1f} s summed over "
                f"tasks, more than {cores} cores x {ex['wall']:.1f} s wall"
            )
        m[name] += value

    for ex in execs:
        kind = classify(ex)
        if kind == "derive":
            m["extract.derive_s"] += ex["wall"]
        elif kind == "triples":
            m["pipeline.triples_s"] += ex["wall"]
        elif kind == "nodes":
            m["nodes.s"] += ex["wall"]
        elif kind == "linking":
            m["linking.s"] += ex["wall"]
        for n in ex["nodes"]:
            name, desc, mets = n["name"], n["desc"], n["metrics"]
            get = lambda k: mets.get(k, (0.0, 0.0))  # noqa: E731
            if name.startswith("Scan parquet") and any(i in desc for i in inputs):
                m["io.scan_rows"] += get("number of output rows")[0]
                m["io.scan_mb"] += get("size of files read")[0]
            if name in ("ArrowEvalPython", "MapInArrow", "MapInPandas",
                        "FlatMapGroupsInPandas", "BatchEvalPython"):
                init = get("time to initialize Python workers")[0] + get(
                    "time to start Python workers")[0]
                busy("session.py_init_s", init, ex, name)
                run = get("time to run Python workers")
                if name == "MapInArrow" and "kernel(" in desc:
                    busy("extract.state_py_s", run[0], ex, name)
                    m["extract.state_task_max_s"] = max(
                        m["extract.state_task_max_s"], run[1])
                    m["extract.derived_rows"] += get("number of output rows")[0]
                elif "turn_payload_udf" in desc:
                    busy("extract.payload_py_s", run[0], ex, name)
                elif "candidate_keys" in desc or "mentions_udf" in desc:
                    busy("linking.py_s", run[0], ex, name)
                    if kind == "linking" and "candidate_keys3_udf" in desc:
                        # every mention passes the ladder UDF exactly once
                        m["linking.mentions"] += get("number of output rows")[0]
                elif "_enrich(" in desc:
                    busy("enrich.py_s", run[0], ex, name)
                    m["enrich.rows"] += get("number of output rows")[0]
            if kind == "derive":
                if name == "Exchange" and "hashpartitioning(conv_id" in desc:
                    m["extract.shuffle_mb"] += get("shuffle bytes written")[0]
                elif name == "Sort":
                    busy("extract.sort_s", get("sort time")[0], ex, name)
                elif name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                    m["pipeline.spill_mb"] += get("written output")[0]
                    m["pipeline.spill_s"] += (get("task commit time")[0]
                                              + get("job commit time")[0])
            elif kind == "triples" and name.startswith(
                    "Execute InsertIntoHadoopFsRelationCommand"):
                m["pipeline.triples_rows"] += get("number of output rows")[0]
            elif kind == "nodes":
                if name == "Exchange":
                    m["nodes.shuffle_mb"] += get("shuffle bytes written")[0]
                elif "Aggregate" in name and "collect_list" in desc and "clean_text" in desc:
                    busy("nodes.text_agg_s", get("time in aggregation build")[0],
                         ex, name)
    for name in busy_names:
        if name not in invalid and m[name] > cores * span_wall + 1e-3:
            invalid[name] = (
                f"{m[name]:.1f} s summed over tasks, more than {cores} cores x "
                f"{span_wall:.1f} s traced wall")
    return m, invalid


# ---------------------------------------------------------------------------
# the benchmark
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, args, run_tmp: str, t_process: float) -> None:
        self.args = args
        self.workload = args.workload
        self.run_tmp = run_tmp
        self.t_process = t_process
        self.cores = nproc()
        self.turns = args.turns or KG_TURNS
        self.sf = args.sf or CONTRACT_SF
        self.sf_dir = os.path.join(DATA_DIR, self.sf)
        self.run_id = f"{self.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
        self.tracer = Tracer(self.run_id)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.excluded = 0.0  # seeded input preparation, kept out of setup_s
        self.spark = None
        self.record: dict = {}
        self._check_contract = None
        self._source = None
        # filled by the traced iteration
        self.link_counts: list[dict] = []
        self._lock = threading.Lock()
        self.direct_triples_rows = 0
        self.direct_counts: dict | None = None
        self.trace_dump: dict = {}
        self.steal_share = 0.0
        self.query_walls: dict[str, dict[str, float]] = {}  # per contract iteration

    # -- session ----------------------------------------------------------
    def start_session(self) -> None:
        from open_source_legislation_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # no hsperfdata file under /tmp: the run writes only in the checkout
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.run_tmp} -XX:-UsePerfData",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.run_tmp, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def register(self) -> None:
        from open_source_legislation_spark import schemas, synth
        from open_source_legislation_spark.sources.io import read_transcripts

        if self.workload.startswith("kg_"):
            self.entity_dict = self.spark.createDataFrame(
                synth.make_entity_dictionary(), schema=schemas.ENTITY_DICTIONARY
            )
            self.transcripts = read_transcripts(self.spark, self.input_path)
        else:
            self.tables = {
                t: self.spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet"))
                for t in CONTRACT_INPUTS
            }

    def setup(self) -> float:
        """Process start to the session up with the inputs registered:
        Python imports and the JVM launch included, the seeded input
        preparation excluded."""
        self.start_session()
        t = time.perf_counter()
        self.prepare_inputs()
        self.excluded = time.perf_counter() - t
        self.register()
        return time.time() - self.t_process - self.excluded

    # -- cached inputs and references ---------------------------------------
    def prepare_inputs(self) -> None:
        if self.workload.startswith("kg_"):
            self.input_path = self.ensure_transcripts()
            self.expected = self.ensure_oracle()
        else:
            self.expected_contract = self.ensure_contract_oracle()

    def ensure_transcripts(self) -> str:
        """Seeded transcripts parquet keyed by (seed, turns, generator
        source), published atomically. Before every reuse the cached files'
        row count and content fingerprint must match the recorded ones, or
        the cache is rebuilt."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from open_source_legislation_spark import schemas

        tag = file_digest("synth.py")
        final = os.path.join(CACHE_DIR, f"transcripts_s{self.args.seed}_n{self.turns}_{tag}")
        meta = read_meta(final)
        if meta is not None:
            got = read_parquet_frame(final, list(IDENTITY))
            if meta["rows"] == len(got) and meta["fingerprint"] == frame_fingerprint(got):
                self.input_fingerprint = meta["fingerprint"]
                return final
            shutil.rmtree(final, ignore_errors=True)
        source = self.source_frame()
        self.input_fingerprint = frame_fingerprint(source)
        # written with pyarrow, not Spark, so no job warms the JVM before
        # the cold pass whether or not the cache was hit
        build = f"{final}.build-{uuid.uuid4().hex[:8]}"
        os.makedirs(build)
        pdf = source.assign(ts=source["ts"].dt.tz_localize("UTC"))
        table = pa.Table.from_pandas(pdf, schema=to_arrow_schema(schemas.TRANSCRIPTS),
                                     preserve_index=False)
        step = -(-table.num_rows // self.cores)
        for i in range(self.cores):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(build, f"part-{i:05d}.parquet"))
        written = read_parquet_frame(build, list(IDENTITY))
        if len(written) != len(source) or frame_fingerprint(written) != self.input_fingerprint:
            raise RuntimeError(f"transcripts cache {build} does not read back as written")
        write_meta(build, {"rows": len(written), "fingerprint": self.input_fingerprint})
        publish_dir(build, final)
        return final

    def source_frame(self):
        """The generator's transcripts for this seed, made at most once."""
        from open_source_legislation_spark import synth

        if self._source is None:
            self._source = synth.make_transcripts(
                seed=self.args.seed, n_turns_target=self.turns)
        return self._source

    def ensure_oracle(self) -> set[tuple[str, str, str]]:
        """oracle.run_oracle triples for the generated input, cached per
        input fingerprint and the sources of the oracle, its rules and the
        entity dictionary's generator."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from open_source_legislation_spark import oracle, synth

        h = hashlib.sha256(self.input_fingerprint.encode())
        h.update(file_digest("oracle.py", "rules.py", "synth.py").encode())
        tag = h.hexdigest()[:12]
        final = os.path.join(CACHE_DIR, f"oracle_s{self.args.seed}_n{self.turns}_{tag}")
        meta = read_meta(final)
        if meta is not None and meta.get("input") == self.input_fingerprint:
            got = triple_set(final)
            if len(got) == meta["rows"]:
                return got
            shutil.rmtree(final, ignore_errors=True)
        source = self.source_frame()
        if frame_fingerprint(source) != self.input_fingerprint:
            raise RuntimeError("the generator no longer reproduces the cached transcripts")
        trip = oracle.run_oracle(source, synth.make_entity_dictionary())["triples"]
        exp = set(trip[["subj", "pred", "obj"]].itertuples(index=False, name=None))
        build = f"{final}.build-{uuid.uuid4().hex[:8]}"
        os.makedirs(build)
        rows = sorted(exp)
        pq.write_table(
            pa.table({k: [r[i] for r in rows] for i, k in enumerate(["subj", "pred", "obj"])}),
            os.path.join(build, "part-0.parquet"),
        )
        write_meta(build, {"rows": len(exp), "input": self.input_fingerprint})
        publish_dir(build, final)
        return exp

    def ensure_contract_oracle(self) -> dict[str, list]:
        """DuckDB oracle frame summaries for the contract queries, cached
        per (data, queries source, checkout path)."""
        import duckdb

        h = hashlib.sha256(ROOT.encode())
        for p in [os.path.join(PKG_DIR, "queries.py"),
                  os.path.join(ROOT, "scripts", "check_contract.py")] + [
                os.path.join(self.sf_dir, f"{t}.parquet") for t in CONTRACT_TABLES]:
            with open(p, "rb") as fh:
                h.update(fh.read())
        h.update(json.dumps(CONTRACT_QUERIES).encode())
        final = os.path.join(CACHE_DIR, f"contract_{self.sf}_{h.hexdigest()[:12]}")
        meta = read_meta(final)
        if meta is not None and sorted(meta["summaries"]) == sorted(CONTRACT_QUERIES):
            return meta["summaries"]
        from open_source_legislation_spark.queries import resolve_oracle_sql

        osql = resolve_oracle_sql(self.sf_dir)
        con = duckdb.connect()
        for t in CONTRACT_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.sf_dir, t)}.parquet')")
        summaries = {}
        for name in CONTRACT_QUERIES:
            rel = con.sql(osql[name])
            cols, n, digest, _ = self.frame_summary(rel.columns, rel.fetchall())
            summaries[name] = [cols, n, digest]
        con.close()
        build = f"{final}.build-{uuid.uuid4().hex[:8]}"
        os.makedirs(build)
        write_meta(build, {"summaries": summaries})
        publish_dir(build, final)
        return summaries

    # -- one iteration per workload -------------------------------------
    @contextmanager
    def _described(self, desc: str):
        """Tag the SQL executions of the enclosed actions (thread-local)."""
        sc = self.spark.sparkContext
        sc.setJobDescription(desc)
        try:
            yield
        finally:
            sc.setJobDescription(None)

    def iter_kg_triples(self, tag: str, traced: bool = False) -> tuple[float, int]:
        from open_source_legislation_spark.plans.pipeline import run_pipeline

        out = os.path.join(self.run_tmp, f"triples-{tag}")
        sp = self.tracer.span
        t0 = time.perf_counter()
        with sp("plans.pipeline.run_pipeline"):
            res = run_pipeline(self.spark, self.transcripts, self.entity_dict)
        if traced:
            with sp("plans.pipeline.plan"):
                mentions = res.mentions
            with sp("operators.linking"), self._described("perfbench:linking"):
                rungs = mentions.groupBy("link_priority").count().collect()
            self.link_counts.append({r["link_priority"]: r["count"] for r in rungs})
        with sp("plans.pipeline.plan"):
            triples = res.triples
        with sp("plans.pipeline.triples"), self._described("perfbench:triples"):
            triples.write.parquet(out)
        res.cleanup()
        wall = time.perf_counter() - t0
        if traced:
            self.direct_triples_rows = parquet_rows(out)
        got = triple_set(out)
        shutil.rmtree(out, ignore_errors=True)
        self.check_triples(got, tag)
        return wall, len(got)

    def iter_kg_submit(self, tag: str, traced: bool = False) -> tuple[float, int]:
        import open_source_legislation_spark.plans.checkpoint as ckpt

        out = os.path.join(self.run_tmp, f"submit-{tag}")
        run_id = f"{self.run_id}-{tag}"
        runner = ckpt.CheckpointedRunner(self.spark, out, run_id, num_buckets=NUM_BUCKETS)
        real_run_pipeline = ckpt.run_pipeline
        if traced:
            ckpt.run_pipeline = self._traced_run_pipeline(real_run_pipeline)
            real_mat = runner._materialize_input

            def materialize(transcripts):
                with self.tracer.span("plans.checkpoint.materialize"):
                    return real_mat(transcripts)

            runner._materialize_input = materialize
        try:
            t0 = time.perf_counter()
            with self.tracer.span("plans.checkpoint.run", adopt=True):
                processed = runner.run(self.transcripts, self.entity_dict)
            wall = time.perf_counter() - t0
        finally:
            ckpt.run_pipeline = real_run_pipeline
        t1 = time.perf_counter()
        with self.tracer.span("plans.checkpoint.resume"):
            again = ckpt.CheckpointedRunner(
                self.spark, out, run_id, num_buckets=NUM_BUCKETS
            ).run(self.transcripts, self.entity_dict)
        resume = time.perf_counter() - t1
        committed = runner.completed_buckets()
        got = triple_set(os.path.join(out, "triples"))
        if traced:
            self.direct_triples_rows = parquet_rows(os.path.join(out, "triples"))
            self.resume_s = resume
            self.job_wall = wall
            self.ledger = self._bucket_walls(out, run_id)
        shutil.rmtree(out, ignore_errors=True)
        if processed != NUM_BUCKETS or committed != set(range(NUM_BUCKETS)):
            self.fail(tag, f"committed {sorted(committed)}, processed {processed} "
                           f"of {NUM_BUCKETS} buckets")
        elif again != 0:
            self.fail(tag, f"resubmission processed {again} buckets, expected 0")
        else:
            self.check_triples(got, tag)
        return wall, len(got)

    @staticmethod
    def _bucket_walls(out: str, run_id: str) -> list[float]:
        from open_source_legislation_spark.plans.checkpoint import METRICS_DIR

        walls = []
        with open(os.path.join(out, METRICS_DIR, "metrics.jsonl")) as fh:
            for line in fh:
                row = json.loads(line)
                if row["run_id"] == run_id and row["metric"] == "wall_ms":
                    walls.append(row["value"] / 1000.0)
        return walls

    def _traced_run_pipeline(self, real):
        """Wrap plans.pipeline.run_pipeline as the checkpoint runner calls
        it: a span around the eager derive + spill, plan-build spans on
        first access to each output, and the linking boundary forced over
        the spilled frame before the result is released."""
        bench = self

        class TracedResult:
            def __init__(self, res) -> None:
                self._res = res

            def __getattr__(self, name):
                return getattr(self._res, name)

            def _plan(self, key: str):
                with bench.tracer.span("plans.pipeline.plan"):
                    return getattr(self._res, key)

            triples = property(lambda self: self._plan("triples"))
            nodes = property(lambda self: self._plan("nodes"))
            mentions = property(lambda self: self._plan("mentions"))

            def cleanup(self) -> None:
                with bench.tracer.span("operators.linking"), \
                        bench._described("perfbench:linking"):
                    rungs = self._res.mentions.groupBy("link_priority").count().collect()
                with bench._lock:
                    bench.link_counts.append(
                        {r["link_priority"]: r["count"] for r in rungs})
                self._res.cleanup()

        def run_pipeline(*a, **kw):
            with bench.tracer.span("plans.pipeline.run_pipeline"):
                return TracedResult(real(*a, **kw))

        return run_pipeline

    def iter_contract(self, tag: str) -> tuple[float, int]:
        """The contract queries in order, each collected to the driver and
        its persisted intermediates released. Every pass is checked against
        the DuckDB oracle after its wall is taken."""
        from open_source_legislation_spark.queries import QUERIES

        results = {}
        per_query = self.query_walls.setdefault(tag, {})
        t0 = time.perf_counter()
        for name in CONTRACT_QUERIES:
            tq = time.perf_counter()
            df = None
            with self.tracer.span(f"queries.{name}"):
                try:
                    df = QUERIES[name](self.spark, self.sf_dir)
                    results[name] = (df.columns, df.collect())
                finally:
                    for cached in getattr(df, "_osl_persists", []):
                        cached.unpersist()
            per_query[name] = time.perf_counter() - tq
        wall = time.perf_counter() - t0
        rows, wrong = 0, []
        for name, (cols, srows) in results.items():
            srows = [tuple(r) for r in srows]
            if self.args.selftest_drop_row:
                srows = srows[1:]
            scols, n, digest, _ = self.frame_summary(cols, srows)
            rows += n
            exp = self.expected_contract[name]
            if [scols, n, digest] != exp:
                wrong.append(f"{name}: spark ({n} rows, {scols}, {digest}) "
                             f"!= oracle ({exp[1]} rows, {exp[0]}, {exp[2]})")
        if wrong:
            self.fail(tag, "; ".join(wrong))
        return wall, rows

    # -- correctness -----------------------------------------------------
    def frame_summary(self, cols, rows):
        """scripts/check_contract.py's order-insensitive frame summary, so
        the contract check compares exactly the way the repository's gate
        does."""
        import importlib.util

        if self._check_contract is None:
            spec = importlib.util.spec_from_file_location(
                "check_contract", os.path.join(ROOT, "scripts", "check_contract.py"))
            self._check_contract = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(self._check_contract)
        return self._check_contract.frame_summary(cols, rows)

    def fail(self, tag: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{tag}: {why}")

    def check_triples(self, got: set, tag: str) -> None:
        if self.args.selftest_drop_row and got:
            got = set(sorted(got)[1:])
        if got != self.expected:
            from open_source_legislation_spark.oracle import precision_recall

            p, r = precision_recall(got, self.expected)
            self.fail(tag, f"triples P={p:.6f} R={r:.6f} vs oracle "
                           f"({len(got)} vs {len(self.expected)})")

    def iterate(self, tag: str, **kw) -> tuple[float, int] | None:
        self.attempted += 1
        before = self.failed
        try:
            out = getattr(self, f"iter_{self.kind}")(tag, **kw)
        except Exception as e:  # noqa: BLE001 — counted, reported, run goes on
            traceback.print_exc(file=sys.stderr)
            self.fail(tag, f"{type(e).__name__}: {str(e)[:300]}")
            return None
        return out if self.failed == before else None

    # -- the run ---------------------------------------------------------------
    @property
    def kind(self) -> str:
        return "contract" if self.workload.startswith("contract") else self.workload

    def elapsed(self) -> float:
        return time.time() - self.t_process

    def run(self) -> dict:
        rss = RssSampler()
        rss.start()
        try:
            setup = self.setup()
            t = time.perf_counter()
            first = self.iterate("first")
            first_pass = first[0] if first else time.perf_counter() - t
            # unmeasured warm-up iterations: the first warm ones are still
            # 10-20% slower than those after them (JIT, Python workers)
            warmups = [self.iterate(f"warmup{i + 1}") for i in range(WARMUPS[self.kind])]
            walls, outs, measured = [], [], []
            steal0, total0 = cpu_ticks()
            for i in range(max(1, round(WARM_PER_15S[self.kind] * self.args.seconds / 15))):
                if walls and self.elapsed() >= DEADLINE_S:
                    break
                r = self.iterate(f"warm{i + 1}")
                if r is not None:
                    walls.append(r[0])
                    outs.append(r[1])
                    measured.append(f"warm{i + 1}")
            steal1, total1 = cpu_ticks()
            self.steal_share = (steal1 - steal0) / max(total1 - total0, 1)
            layers, invalid = {}, {}
            if self.args.trace:
                layers, invalid = self.traced_iteration(walls)
        finally:
            rss.stop()
        rows = statistics.median(outs) if outs else (first[1] if first else 0)
        median_pass = statistics.median(walls) if walls else 0.0
        q = (statistics.quantiles(walls, n=4) if len(walls) >= 2
             else [median_pass, median_pass, median_pass])
        wall = median_pass
        if self.kind == "contract" and measured:
            # Each query's best warm time, summed. The contract's short
            # queries wait on many small jobs in turn, and host CPU steal
            # stretches whole passes by 20-60%; in four sets of ten runs the
            # best per query spread 0.16-0.22 where the median pass spread
            # 0.20-0.30.
            wall = sum(min(self.query_walls[t][name] for t in measured)
                       for name in CONTRACT_QUERIES)
        metrics_e2e = {
            "setup_s": setup,
            "first_pass_s": first_pass,
            "wall_s": wall,
            "rows_per_s": rows / wall if walls and wall > 0 else 0.0,
        }
        if self.args.trace:
            layers["session.peak_rss_mb"] = rss.peak_mb
            metrics = {k: layers.get(k, 0.0) for k in LAYER_METRICS}
            units = LAYER_METRICS
        else:
            metrics, units = metrics_e2e, E2E_METRICS
        self.record = {
            "workload": self.workload,
            "seed": self.args.seed,
            "seed_note": ("the contract tables are fixed data (seed 42); --seed "
                          "does not vary them") if self.kind == "contract" else None,
            "trace": self.args.trace,
            "run_id": self.run_id,
            "nproc": self.cores,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": __import__("pyspark").__version__,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "commit": git_commit(),
            "source_digest": source_digest(),
            "input": ({"turns": self.turns, "buckets": NUM_BUCKETS}
                      if self.kind != "contract"
                      else {"sf": self.sf, "queries": CONTRACT_QUERIES}),
            "input_prep_s": self.excluded,
            "first_pass_s": first_pass,
            "warmup_walls_s": [w[0] if w else None for w in warmups],
            "warm_walls_s": walls,
            # CPU time the hypervisor gave to other guests during the warm
            # iterations: high values explain slow runs
            "steal_share": self.steal_share,
            "disturbed": self.steal_share > STEAL_FLAG,
            "query_walls_s": self.query_walls or None,
            "warm_pass_s": {"median": median_pass, "q1": q[0], "q3": q[2], "n": len(walls)},
            "output_rows": rows,
            "error_rate": self.failed / self.attempted if self.attempted else 1.0,
            "errors": self.errors[:10],
            "end_to_end": metrics_e2e,
            "invalid": invalid,
            "direct_counts": self.direct_counts,
        }
        return {
            "correct": self.failed == 0 and bool(walls),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }

    def traced_iteration(self, untraced_walls: list[float]):
        """One more iteration with spans, forced layer boundaries and the
        status store read after it; returns (per-layer metrics, invalid)."""
        store = StatusStore(self.spark)
        gc = self._gc_seconds()
        self.tracer.spans.clear()
        self.link_counts.clear()
        kw = {"traced": True} if self.kind != "contract" else {}
        with self.tracer.span("iteration", adopt=True) as root:
            r = self.iterate("traced", **kw)
        gc = self._gc_seconds() - gc
        execs = store.take()
        # the workload's input scans; kg_submit's buckets read the runner's
        # materialized copy of the transcripts
        inputs = ((f"/data/{self.sf}/",) if self.kind == "contract"
                  else ("transcripts_s", "/_input"))
        m, invalid = layer_metrics(execs, self.cores, inputs, root["end"] - root["start"])
        m["pipeline.plan_s"] = self.tracer.total("plans.pipeline.plan")
        counts: dict = defaultdict(int)
        for c in self.link_counts:
            for k, v in c.items():
                counts[k] += v
        direct = {"linking.mentions": sum(counts.values()),
                  "pipeline.triples_rows": self.direct_triples_rows}
        for p in (1, 2, 3):
            m[f"linking.hits_p{p}"] = counts.get(p, 0)
        m["linking.misses"] = counts.get(None, 0)
        if self.kind == "kg_submit":
            walls = sorted(self.ledger)
            m["checkpoint.materialize_s"] = self.tracer.total("plans.checkpoint.materialize")
            m["checkpoint.bucket_s_p50"] = statistics.median(walls) if walls else 0.0
            m["checkpoint.bucket_s_max"] = walls[-1] if walls else 0.0
            m["checkpoint.concurrency"] = sum(walls) / self.job_wall if walls else 0.0
            m["checkpoint.resume_s"] = self.resume_s
            m["checkpoint.buckets"] = len(walls)
        for name, secs in self.query_walls.get("traced", {}).items():
            m[f"contract.{name}_s"] = secs
        m["session.gc_s"] = gc
        if r is not None and untraced_walls:
            m["trace.overhead_s"] = r[0] - statistics.median(untraced_walls)
        for k, why in NOT_MEASURABLE.items():
            invalid[k] = why
        for k in invalid:
            m[k] = 0.0
        self.direct_counts = direct
        self.trace_dump = {"spans": self.tracer.spans,
                           "self_times": self.tracer.self_times(),
                           "executions": [{k: e[k] for k in ("id", "description", "wall")}
                                          | {"kind": classify(e)} for e in execs]}
        return dict(m), invalid

    def _gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


WORKLOADS = ("kg_triples", f"contract_{CONTRACT_SF}", "kg_submit")


def main(argv: list[str] | None = None) -> int:
    t_process = process_start_epoch()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: smaller inputs, and a fault that drops one output row
    # (one triple, or the first row of every contract query)
    p.add_argument("--turns", type=int, default=None, help=argparse.SUPPRESS)
    p.add_argument("--sf", default=None, help=argparse.SUPPRESS)
    p.add_argument("--selftest-drop-row", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: no package at {PKG_DIR}; run from a full checkout",
              file=sys.stderr)
        return 2
    run_tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_tmp)
    os.makedirs(CACHE_DIR, exist_ok=True)
    prepare_env(run_tmp)
    bench = Bench(args, run_tmp, t_process)
    try:
        result = bench.run()
    finally:
        record = bench.record or {"workload": args.workload, "seed": args.seed,
                                  "errors": bench.errors}
        bench.shutdown()
        shutil.rmtree(run_tmp, ignore_errors=True)
        os.makedirs(OUT_DIR, exist_ok=True)
        dump = {"record": record, **bench.trace_dump}
        with open(os.path.join(OUT_DIR, f"{bench.run_id}.json"), "w") as fh:
            json.dump(dump, fh, default=str)
    print(json.dumps({"run_record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
