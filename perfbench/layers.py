"""Spans, layer boundaries, Spark status-store counters and peak RSS.

A span is (name, start, end, parent, run id), kept in memory and written
when the run ends. Every span runs its Spark jobs under a job group of
its own, ``pb:<run>:<span seq>:<layer>``, so the status store attributes
each job to exactly one span: nested spans restore the parent's group
when they close, and a parent's counters are therefore its *self*
counters. Nothing here needs an event log, the UI, or code inside the
engine: the store is read through py4j after the run.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

LAYERS = (
    "session", "chunking", "embed", "io", "ann", "hnsw", "topk", "rerank",
    "retrieve", "textstats", "dedup", "similarity", "components",
)
COUNTERS = (
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("exec_s", "s", "lower"),
    ("input_mb", "MB", "lower"),
    ("shuffle_r_mb", "MB", "lower"),
    ("shuffle_w_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("driver_s", "s", "lower"),
)
EXTRAS = (
    ("chunking.chunks", "count", "higher"),
    ("embed.rows", "count", "higher"),
    ("ann.rows_per_result", "rows/result", "lower"),
    ("hnsw.rows_per_result", "rows/result", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_ratio", "ratio", "higher"),
    ("similarity.pairs", "count", "higher"),
    ("trace.overhead_s", "s", "lower"),
)
MB = 1024.0 * 1024.0


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    return [(f"{l}.{c}", u, b) for l in LAYERS for c, u, b in COUNTERS] + list(EXTRAS)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    seq: int = 0
    group: str = ""
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans around layer calls. With ``enabled=False`` a span is
    a no-op apart from the caller's own code, so untimed and timed code
    paths stay the same."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield None
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        seq = len(self.spans)
        group = f"pb:{self.run}:{seq}:{layer}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(layer, time.time(), parent=parent, run=self.run, seq=seq, group=group)
        self.spans.append(sp)
        self._stack.append(seq)
        self.sc.setJobGroup(group, layer)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df, persisted: list):
        """Persist-and-count at a layer boundary (traced runs only): the
        layer's work runs inside its span, and the next layer starts from
        the cached rows. Returns the row count."""
        df = df.persist()
        persisted.append(df)
        return df, df.count()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


@contextlib.contextmanager
def layer_boundaries(tracer: Tracer, persisted: list):
    """Wrap the engine functions that sit at layer boundaries inside the
    plans (for traced runs): each wrapper opens the layer's span, and
    where the function returns a DataFrame, materializes it inside the
    span. The originals are restored on exit."""
    import chatbot_spark.plans.ingest as ingest
    import chatbot_spark.plans.retrieve as retrieve
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    def wrap(layer, fn, count_key=None, per_result=False):
        def wrapper(*args, **kwargs):
            with tracer.span(layer) as sp:
                df, n = tracer.materialize(fn(*args, **kwargs), persisted)
                if count_key:
                    sp.counts[count_key] = sp.counts.get(count_key, 0) + n
                if per_result:
                    sp.counts["results"] = n
                return df
        return wrapper

    patches = [
        (ingest, "split_documents", wrap("chunking", ingest.split_documents, "chunks")),
        (ingest, "embed_documents", wrap("embed", ingest.embed_documents, "rows")),
        (retrieve, "knn_join", wrap("topk", retrieve.knn_join)),
        (retrieve, "_per_component_topk", wrap("topk", retrieve._per_component_topk)),
        (retrieve, "rerank", wrap("rerank", retrieve.rerank)),
        (IVFIndex, "search", wrap("ann", IVFIndex.search, per_result=True)),
        (NSWGraphIndex, "search", wrap("hnsw", NSWGraphIndex.search, per_result=True)),
    ]
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
    try:
        for obj, name, fn in patches:
            setattr(obj, name, fn)
        yield
    finally:
        for obj, name, fn in saved:
            setattr(obj, name, fn)


# ---------------------------------------------------------- status store

def _opt(o):
    return o.get() if o.isDefined() else None


def read_status_store(sc, prefix: str) -> dict[str, dict]:
    """Per job group under ``prefix``: jobs, tasks, executor run time,
    input bytes and records, shuffle read/write bytes, spilled bytes and
    the job intervals, read from the in-process status store
    (``statusStore().jobsList`` / ``lastStageAttempt``). Works with
    ``spark.ui.enabled=false``. Stages shared by several jobs of a group
    count once."""
    from py4j.protocol import Py4JError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    store = jsc.statusStore()
    jvm = sc._jvm
    jobs = jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.jobsList(None))
    groups: dict[str, dict] = {}
    seen_stages: dict[str, set] = {}
    for i in range(jobs.size()):
        job = jobs.get(i)
        group = _opt(job.jobGroup())
        if group is None or not group.startswith(prefix):
            continue
        g = groups.setdefault(group, {
            "jobs": 0, "tasks": 0, "exec_ms": 0, "input_bytes": 0,
            "input_records": 0, "shuffle_r_bytes": 0, "shuffle_w_bytes": 0,
            "spill_bytes": 0, "intervals": [],
        })
        g["jobs"] += 1
        sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
        if sub is not None and done is not None:
            g["intervals"].append((sub.getTime() / 1000.0, done.getTime() / 1000.0))
        stage_ids = jvm.scala.jdk.javaapi.CollectionConverters.asJava(job.stageIds())
        seen = seen_stages.setdefault(group, set())
        for j in range(stage_ids.size()):
            sid = int(stage_ids.get(j))
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:
                continue  # evicted or never submitted
            if str(st.status().toString()) == "SKIPPED":
                continue
            g["tasks"] += int(st.numCompleteTasks())
            g["exec_ms"] += int(st.executorRunTime())
            g["input_bytes"] += int(st.inputBytes())
            g["input_records"] += int(st.inputRecords())
            g["shuffle_r_bytes"] += int(st.shuffleReadBytes())
            g["shuffle_w_bytes"] += int(st.shuffleWriteBytes())
            g["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
    return groups


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(spans: list[Span], store: dict[str, dict], rounds: int) -> dict[str, float]:
    """Aggregate spans and their status-store counters per layer, as a
    mean per round (the ``session`` layer: per run). A layer's self time
    is its spans' durations minus their child spans; its driver time is
    self time minus the union of its own jobs' intervals."""
    child_time: dict[int, float] = {}
    for sp in spans:
        if sp.parent is not None:
            child_time[sp.parent] = child_time.get(sp.parent, 0.0) + (sp.end - sp.start)
    acc = {l: dict.fromkeys([c for c, _, _ in COUNTERS], 0.0) for l in LAYERS}
    counts: dict[str, dict[str, float]] = {l: {} for l in LAYERS}
    for sp in spans:
        a = acc[sp.name]
        self_s = max(0.0, (sp.end - sp.start) - child_time.get(sp.seq, 0.0))
        a["self_s"] += self_s
        g = store.get(sp.group)
        busy = 0.0
        if g:
            a["jobs"] += g["jobs"]
            a["tasks"] += g["tasks"]
            a["exec_s"] += g["exec_ms"] / 1000.0
            a["input_mb"] += g["input_bytes"] / MB
            a["shuffle_r_mb"] += g["shuffle_r_bytes"] / MB
            a["shuffle_w_mb"] += g["shuffle_w_bytes"] / MB
            a["spill_mb"] += g["spill_bytes"] / MB
            clipped = [(max(s, sp.start), min(e, sp.end)) for s, e in g["intervals"]]
            busy = union_length([(s, e) for s, e in clipped if e > s])
            counts[sp.name]["input_records"] = (
                counts[sp.name].get("input_records", 0) + g["input_records"]
            )
        a["driver_s"] += max(0.0, self_s - busy)
        for k, v in sp.counts.items():
            counts[sp.name][k] = counts[sp.name].get(k, 0) + v
    out: dict[str, float] = {}
    for l in LAYERS:
        div = 1 if l == "session" else max(1, rounds)
        for c, _, _ in COUNTERS:
            out[f"{l}.{c}"] = acc[l][c] / div
    for l in ("ann", "hnsw"):
        res = counts[l].get("results", 0)
        out[f"{l}.rows_per_result"] = counts[l].get("input_records", 0) / res if res else 0.0
    r = max(1, rounds)
    out["chunking.chunks"] = counts["chunking"].get("chunks", 0) / r
    out["embed.rows"] = counts["embed"].get("rows", 0) / r
    cand = counts["dedup"].get("candidate_pairs", 0)
    out["dedup.candidate_pairs"] = cand / r
    out["dedup.verified_ratio"] = counts["dedup"].get("verified_pairs", 0) / cand if cand else 0.0
    out["similarity.pairs"] = counts["similarity"].get("pairs", 0) / r
    return out


# ---------------------------------------------------------------- memory

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int) -> list[int]:
    """``root``'s descendants (not ``root`` itself), from /proc."""
    out, todo = [], _children(root)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_mb(pid: int) -> float:
    """Proportional resident set (shared pages split among the processes
    that map them, so forked Python workers are not counted twice)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class PeakRss:
    """Samples the summed proportional RSS of this process's descendants
    — the Spark driver JVM and its Python workers — every ``interval``
    seconds while active, and keeps the peak."""

    def __init__(self, interval: float):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_mb(p) for p in process_tree(me)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False
