"""Spans, process accounting and Spark stage metrics for the traced run.

Spans are recorded only from the benchmark's own code: around the public
calls it makes, and around public engine functions it wraps by rebinding
their names in the module that calls them (``install``). Nothing under
``spyglass_spark/`` is edited. Spans live in memory and are written once,
at the end of the run.
"""

from __future__ import annotations

import calendar
import contextlib
import functools
import json
import os
import time
import urllib.request
from collections import defaultdict

# (module, attribute, span name). The executor resolves the first seven
# through its own module globals, so rebinding them there catches every
# driver-side call; wand_top_k is imported from query.wand at call time.
# decode_postings calls varint_decode through the codecs module's globals,
# so its inner decodes fall inside the codecs.decode_postings span.
KERNELS = (
    ("spyglass_spark.query.executor", "varint_decode", "codecs.varint_decode"),
    ("spyglass_spark.query.executor", "decode_postings", "codecs.decode_postings"),
    ("spyglass_spark.query.executor", "decode_positions_selected",
     "codecs.decode_positions_selected"),
    ("spyglass_spark.query.executor", "decode_positions_stream",
     "codecs.decode_positions_stream"),
    ("spyglass_spark.query.executor", "score_postings", "scoring.score_postings"),
    ("spyglass_spark.query.executor", "sloppy_phrase_counts_batch",
     "scoring.sloppy_phrase_counts_batch"),
    ("spyglass_spark.query.executor", "compile_query", "compiler.compile_query"),
    ("spyglass_spark.query.wand", "wand_top_k", "wand.wand_top_k"),
    # upsert_documents calls merge_generations through the builder globals
    ("spyglass_spark.index.builder", "merge_generations",
     "builder.merge_generations"),
)


class Tracer:
    """In-memory span list: (name, start, end, parent index, op id)."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id = -1

    def span(self, name: str):
        return _Span(self, name)

    @contextlib.contextmanager
    def paused(self):
        """No spans inside (benchmark work that is not the program's)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_times(self, op_ids=None) -> dict[str, float]:
        """Per-span-name self time (duration minus the time its direct
        children cover), in seconds."""
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _, op) in enumerate(self.spans):
            if op_ids is None or op in op_ids:
                out[name] += (t1 - t0) - child[i]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        rollup = {k: round(v, 6) for k, v in sorted(self.self_times().items())}
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start", "end", "parent", "op"],
                       "spans": self.spans, "self_time_s": rollup, **extra}, f)


class _Span:
    __slots__ = ("tracer", "name", "idx")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else -1
        self.idx = len(t.spans)
        t.spans.append([self.name, time.perf_counter(), None, parent, t.op_id])
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.idx][2] = time.perf_counter()
        t._stack.pop()
        return False


def install(tracer: Tracer) -> None:
    """Wrap the engine's kernels and builder entry points for ``tracer``.
    The wrappers pass straight through while ``tracer.enabled`` is off."""
    import importlib

    for mod_name, attr, span in KERNELS:
        mod = importlib.import_module(mod_name)
        setattr(mod, attr, tracer.wrap(span, getattr(mod, attr)))
    from spyglass_spark.query.executor import SearchEngine

    SearchEngine.refresh = tracer.wrap("executor.refresh", SearchEngine.refresh)


# -- /proc accounting ---------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def process_tree() -> list[int]:
    """This process and every descendant: the JVM, the pyspark daemon and
    the Python workers it forks."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat_fields(int(d))
            if st:
                children[int(st[1])].append(int(d))
    out, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        if p not in out:
            out.add(p)
            todo.extend(children.get(p, ()))
    return sorted(out)


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of each process plus those of its reaped children."""
    total = 0
    for p in pids:
        st = _stat_fields(p)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


# -- Spark UI REST API ----------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    # "2026-10-17T03:23:51.123GMT"
    base, ms = ts.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1e3


def spark_jobs(ui_url: str, app_id: str) -> list[dict]:
    """Every job of the application with its stages' task metrics summed:
    submit/end epoch seconds, group, tasks, run/cpu/gc/shuffle-wait ms and
    input bytes."""
    base = f"{ui_url}/api/v1/applications/{app_id}"
    stages = {}
    for s in _get(f"{base}/stages"):
        agg = stages.setdefault(s["stageId"], defaultdict(float))
        agg["tasks"] += s.get("numCompleteTasks", 0)
        agg["run_ms"] += s.get("executorRunTime", 0)
        agg["cpu_ms"] += s.get("executorCpuTime", 0) / 1e6
        agg["gc_ms"] += s.get("jvmGcTime", 0)
        agg["shuffle_wait_ms"] += s.get("shuffleFetchWaitTime", 0)
        agg["input_bytes"] += s.get("inputBytes", 0)
    jobs = []
    for j in _get(f"{base}/jobs"):
        row = {"job": j["jobId"], "group": j.get("jobGroup"),
               "submit": _epoch(j.get("submissionTime")),
               "end": _epoch(j.get("completionTime"))}
        for k in ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_wait_ms",
                  "input_bytes"):
            row[k] = sum(stages.get(s, {}).get(k, 0.0) for s in j["stageIds"])
        jobs.append(row)
    return jobs
