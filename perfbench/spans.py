"""Span tracer for the traced benchmark run.

Spans are recorded around calls into the engine's public functions,
from the benchmark's side: :func:`install` replaces the listed methods
with wrappers for the life of the process. Each span gets its own Spark
job group, and the parent's group is restored when the span closes, so
every job lands in the innermost span that was open when it ran and a
parent's self time excludes its children. Spans live in memory; at the
end :meth:`Tracer.collect` reads the Spark UI's REST API once for job,
stage and task-time figures and joins them to the spans by job group.

Per span: ``wall_ms``, ``self_ms`` (wall minus the children's wall),
``jobs``/``stages``/``tasks``/``task_busy_ms`` (of the span and its
descendants) and ``driver_gap_ms`` (wall minus the union of those
stages' intervals — time no stage was running). Wrappers add
method-specific counters (bytes written, pending merges, window rows
...) to ``Span.extra``.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    method: str
    start: float = 0.0
    end: float = 0.0
    child_ms: float = 0.0
    phase: str = ""
    extra: dict = field(default_factory=dict)

    @property
    def name(self) -> str:
        return f"{self.layer}.{self.method}"

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.active = True  # wrappers call straight through when False
        self.phase = "setup"  # tags new spans: setup | run

    def rebind(self, spark) -> None:
        """Follow a session restart (the spans are reset per workload)."""
        self.sc = spark.sparkContext

    def record(self, layer: str, method: str, start: float, end: float) -> Span:
        """A span for work that runs no Spark job (e.g. session start)."""
        sp = Span(len(self.spans), None, layer, method, start, end, phase=self.phase)
        self.spans.append(sp)
        return sp

    def note(self, name: str, **counters) -> None:
        """Attach counters to the latest span called ``name``."""
        for sp in reversed(self.spans):
            if sp.name == name:
                sp.extra.update(counters)
                return

    @contextmanager
    def paused(self):
        """Calls the benchmark makes for its own figures: no spans."""
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name, False)

    @contextmanager
    def span(self, layer: str, method: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.sid if parent else None, layer, method,
                  phase=self.phase)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.child_ms += sp.wall_ms
            self._set_group(parent)

    def wrap(self, owner, attr: str, layer: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. ``before(args,
        kwargs)`` runs ahead of the call and its result is handed to
        ``after(span, state, result, args, kwargs)`` once the span has
        closed, so neither counts in the span's own time."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            state = before(args, kwargs) if before else None
            with tracer.span(layer, attr) as sp:
                result = orig(*args, **kwargs)
            if after:
                after(sp, state, result, args, kwargs)
            return result

        setattr(owner, attr, traced)

    # -- REST join -------------------------------------------------------

    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def collect(self) -> None:
        """Attach job/stage/task figures to every span (one REST read of
        the current SparkContext's UI, retried until its listener has
        caught up with every job)."""
        if not self.sc.uiWebUrl:
            raise RuntimeError("traced run needs the Spark UI (SPARK_GRAFT_UI=true)")
        tracker = self.sc.statusTracker()
        for _ in range(40):
            jobs = self._rest("jobs")
            if all(j["status"] != "RUNNING" for j in jobs) and not tracker.getActiveJobsIds():
                break
            time.sleep(0.25)
        stages = {
            s["stageId"]: s
            for s in self._rest("stages?details=false")
            if s.get("status") == "COMPLETE"
        }
        by_group: dict[str, list[dict]] = defaultdict(list)
        for j in jobs:
            if j.get("jobGroup"):
                by_group[j["jobGroup"]].append(j)
        own: dict[int, tuple[list, list]] = {}
        for sp in self.spans:
            js = by_group.get(sp.group, [])
            own[sp.sid] = (js, [stages[s] for j in js for s in j["stageIds"] if s in stages])
        children: dict[int, list[int]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp.sid)

        def subtree(sid: int) -> tuple[list, list]:
            js, st = own.get(sid, ([], []))
            js, st = list(js), list(st)
            for c in children.get(sid, []):
                cj, cs = subtree(c)
                js += cj
                st += cs
            return js, st

        for sp in self.spans:
            js, st = subtree(sp.sid)
            sp.extra["jobs"] = len(js)
            sp.extra["stages"] = len(st)
            sp.extra["tasks"] = sum(s.get("numCompleteTasks", 0) for s in st)
            sp.extra["task_busy_ms"] = float(sum(s.get("executorRunTime", 0) for s in st))
            busy = _union_ms(
                [(_ts(s["submissionTime"]), _ts(s["completionTime"]))
                 for s in st if "submissionTime" in s and "completionTime" in s],
                sp.start, sp.end,
            )
            sp.extra["driver_gap_ms"] = max(0.0, sp.wall_ms - busy)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "sid": sp.sid, "parent": sp.parent, "span": sp.name,
                    "start": sp.start, "end": sp.end, "wall_ms": sp.wall_ms,
                    "self_ms": sp.wall_ms - sp.child_ms, **sp.extra,
                }) + "\n")

    def table(self) -> dict[str, dict[str, float]]:
        """``{layer.method: {metric: value}}`` — per-call medians of the
        span figures, the call count, and each method-specific counter
        (totals for :data:`SUMMED`). A method that ran in the timed loop
        is summarised over those calls only; one that ran only during
        set-up (session start, index build) over its set-up calls."""
        groups: dict[str, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.phase in ("setup", "run"):
                groups[sp.name].append(sp)
        for name, sps in groups.items():
            run = [s for s in sps if s.phase == "run"]
            groups[name] = run or sps
        out: dict[str, dict[str, float]] = {}
        for name, sps in groups.items():
            row = {
                "calls": float(len(sps)),
                "wall_ms": statistics.median(s.wall_ms for s in sps),
                "self_ms": statistics.median(s.wall_ms - s.child_ms for s in sps),
            }
            keys = {k for s in sps for k in s.extra}
            for k in sorted(keys):
                vals = [s.extra[k] for s in sps if k in s.extra]
                if k in SUMMED:
                    row[k] = float(sum(vals))
                else:
                    row[k] = float(statistics.median(vals))
            out[name] = row
        return out


# counters reported as a per-run total rather than a per-call median
SUMMED = frozenset({"pruned", "served"})


def _ts(s: str) -> float:
    # "2026-10-16T18:30:01.123GMT"
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _union_ms(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in ms of the union of intervals clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in iv):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    n = b = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            b += os.path.getsize(os.path.join(root, f))
    return n, b


def _token_dirs(table) -> set[str]:
    return set(os.listdir(table.data_dir)) if os.path.isdir(table.data_dir) else set()


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every traced layer (the
    ``TRACED`` table below, with its counters)."""
    from datalake_toolkit_spark.lakehouse.table import LakeTable
    from datalake_toolkit_spark.llm import sync as llm_sync
    from datalake_toolkit_spark.llm import search as llm_search
    from datalake_toolkit_spark.llm.ann_index import IVFIndex
    from datalake_toolkit_spark.llm.search import PostingsIndex
    from datalake_toolkit_spark.sources import ingest

    def tokens_before(args, kwargs):
        return _token_dirs(args[0])

    def written(sp, before, _res, args, _kw):
        n = b = 0
        for tok in _token_dirs(args[0]) - before:
            fn, fb = dir_bytes(os.path.join(args[0].data_dir, tok))
            n += fn
            b += fb
        sp.extra["files_written"] = n
        sp.extra["bytes_written"] = b

    def read_stats(sp, _state, _res, args, kw):
        table = args[0]
        version = kw.get("version", args[1] if len(args) > 1 else None)
        man = table._manifest(version)
        sp.extra["pending_merges"] = len(man.get("merges") or [])
        where = kw.get("where", args[3] if len(args) > 3 else None)
        if where:
            rep = table.plan_scan(where=where, version=version)
            if rep["files_total"]:
                sp.extra["files_scanned_ratio"] = rep["files_scanned"] / rep["files_total"]

    def index_bytes(args, _kw):
        return {t: _token_dirs(t) for t in _index_tables(args[0])}

    def index_written(sp, before, _res, args, _kw):
        b = 0
        for t, toks in before.items():
            for tok in _token_dirs(t) - toks:
                b += dir_bytes(os.path.join(t.data_dir, tok))[1]
        sp.extra["bytes_written"] = b

    def window_rows(sp, _state, res, _args, _kw):
        parts = [res[k] for k in ("lexical", "vector") if k in res] or [res]
        sp.extra["window_rows"] = max(p["upserts"] + p["removes"] for p in parts)

    def bytes_out(sp, _state, _res, args, kw):
        out = kw.get("output_path", args[2] if len(args) > 2 else None)
        sp.extra["bytes_out"] = dir_bytes(out)[1]

    owners = {
        "lakehouse": LakeTable, "llm.sync": llm_sync, "llm.search": PostingsIndex,
        "llm.search.hybrid_search_indexed": llm_search, "llm.ann_index": IVFIndex,
        "sources": ingest,
    }
    hooks = {
        "llm.sync.sync_search_plane": (None, window_rows),
        "llm.sync.sync_postings_from_table": (None, window_rows),
        "llm.sync.sync_ivf_from_table": (None, window_rows),
        "lakehouse.write": (tokens_before, written),
        "lakehouse.upsert": (tokens_before, written),
        "lakehouse.delete_where": (tokens_before, written),
        "lakehouse.read": (None, read_stats),
        "llm.search.add": (index_bytes, index_written),
        "llm.search.remove": (index_bytes, index_written),
        "sources.ingest_delimited": (None, bytes_out),
    }
    for layer, method, _extra in TRACED:
        if layer in ("session", "plans"):
            continue  # spans opened by the runner and the analytics workload
        name = f"{layer}.{method}"
        before, after = hooks.get(name, (None, None))
        tracer.wrap(owners.get(name, owners[layer]), method, layer, before=before, after=after)


def _index_tables(index) -> list:
    return [
        v for v in vars(index).values()
        if hasattr(v, "data_dir") and hasattr(v, "_manifest")
    ]


# Every traced span and the counters its wrapper (or the workload) adds.
# Each gets the span figures _T plus those counters; the per-layer
# metrics of BENCHMARK.json are exactly this table (see per_layer_spec).
# ``session.get_spark`` runs no Spark job, so it reports self_ms only.
# LakeTable.optimize is not traced: no gated workload compacts.
_T = ("self_ms", "jobs", "tasks", "task_busy_ms", "driver_gap_ms")
TRACED = (
    ("session", "get_spark", ()),
    ("sources", "ingest_delimited", ("bytes_out",)),
    ("plans", "query", ()),
    ("lakehouse", "write", ("bytes_written", "files_written")),
    ("lakehouse", "upsert", ("bytes_written", "files_written")),
    ("lakehouse", "delete_where", ("bytes_written", "files_written")),
    ("lakehouse", "read", ("pending_merges", "files_scanned_ratio")),
    ("lakehouse", "changes", ()),
    ("llm.sync", "sync_search_plane", ("window_rows",)),
    ("llm.sync", "sync_postings_from_table", ("window_rows",)),
    ("llm.sync", "sync_ivf_from_table", ("window_rows",)),
    ("llm.search", "add", ("bytes_written",)),
    ("llm.search", "remove", ("bytes_written",)),
    ("llm.search", "snapshot", ()),
    ("llm.search", "search_bm25", ("pruned_ratio", "candidate_ratio")),
    ("llm.search", "search_phrase", ()),
    ("llm.search", "hybrid_search_indexed", ()),
    ("llm.ann_index", "build", ()),
    ("llm.ann_index", "add", ()),
    ("llm.ann_index", "remove", ()),
    ("llm.ann_index", "search", ("probed_ratio",)),
)
HIGHER_IS_BETTER = frozenset({"pruned_ratio"})


def _unit(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.startswith("bytes"):
        return "bytes"
    if metric.endswith("_ratio"):
        return "ratio"
    return "count"


PER_LAYER = {
    f"{layer}.{method}.{m}": _unit(m)
    for layer, method, extra in TRACED
    for m in (("self_ms",) if layer == "session" else _T + extra)
}


def per_layer_spec() -> list[dict]:
    """The ``per_layer`` list of BENCHMARK.json."""
    return [
        {"name": name, "unit": unit,
         "better": "higher" if name.rsplit(".", 1)[1] in HIGHER_IS_BETTER else "lower"}
        for name, unit in PER_LAYER.items()
    ]


def layer_metrics(tracer: Tracer) -> dict[str, tuple[float, str]]:
    """Every :data:`PER_LAYER` metric from the collected spans; a layer
    the workload leaves idle reports 0."""
    table = tracer.table()
    bm = table.get("llm.search.search_bm25")
    if bm is not None and bm.get("served"):
        bm["pruned_ratio"] = bm.get("pruned", 0.0) / bm["served"]
    out = {}
    for name, unit in PER_LAYER.items():
        span, metric = name.rsplit(".", 1)
        out[name] = (float(table.get(span, {}).get(metric, 0.0)), unit)
    return out


if __name__ == "__main__":
    print(json.dumps(per_layer_spec(), indent=2))
