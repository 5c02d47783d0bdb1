"""Seeded, closed-loop, single-client benchmark of the engine at local[4].

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run (spans written to ``perfbench/traces/``). See README.md for the
workloads and what each metric should move.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import gate
import gen
import spans

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4
PARTS = 4  # one index part per core
K = 10
MAX_GENERATIONS = 3  # upsert auto-merge threshold
UPSERT_FRAC = 0.01  # share of the index's urls one upsert replaces
POOL_PER_TEMPLATE = 40  # distinct queries per single-search template
BATCH_SIZE = 8

# Both workloads run cycles of one upsert, a refresh and `steps` read steps:
# per_template single searches of every template, then, in the cycles
# listed in batch_cycles, one batch of BATCH_SIZE distinct queries cycling
# through batch_kinds. Cycles go on until --seconds have passed and at
# least min_cycles have run. replicas: copies of the 5,000-row documents
# table.
WORKLOADS = {
    # One user at the search box over an index a crawler has just touched:
    # four read steps after one upsert. A quarter of each batch are 40-word
    # pasted snippets, whose part-local Should rows (content term and
    # phrase clauses: 2 x 40 x ~0.84 x 2,500 docs per part) cross the
    # engine's 131,072-row WAND gate.
    "interactive": dict(replicas=2, min_cycles=1, steps=4, per_template=2,
                        batch_cycles=(0,),
                        batch_kinds=("words2", "phrase", "number", "snippet40")),
    # A crawler re-indexing, the reader refreshing after every upsert and
    # searching across the growing generations. Five cycles: the merge
    # policy merges at the third and fourth upserts, and the fifth meets
    # the generation layout it cannot merge.
    "ingest": dict(replicas=1, min_cycles=5, steps=1, per_template=1,
                   batch_cycles=(0, 2, 4),
                   batch_kinds=("words3", "phrase", "number", "snippet8")),
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class Op:
    __slots__ = ("id", "kind", "t0", "t1", "dur", "ok", "cpu", "n", "meta")

    def __init__(self, id_, kind):
        self.id, self.kind = id_, kind
        self.ok, self.cpu, self.n, self.meta = True, 0.0, 1, None


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.work = work
        self.rng = random.Random(args.seed)
        self.ops: list[Op] = []
        self.wrong: list[str] = []
        self.tracer = None
        self.merged: set[str] = set()  # merged generation dirs already measured
        self.bytes_rewritten = 0
        self.batches: list[list[dict]] = []
        self.n_picked = 0
        if args.trace:
            self.tracer = spans.Tracer()
            spans.install(self.tracer)
            self.tracer.enabled = True

    # -- timing ----------------------------------------------------------

    def timed(self, kind: str, fn, *args, record: bool = True, **kwargs):
        """Run one operation into the engine. A raised exception marks
        the op failed and returns None. ``record=False`` keeps the op out
        of the workload's results."""
        op = Op(len(self.ops) if record else -1, kind)
        if record:
            self.ops.append(op)
        t = self.tracer if self.tracer and self.tracer.enabled else None
        cpu0 = 0.0
        if t:
            t.op_id = op.id
            pids = spans.process_tree()
            cpu0 = spans.cpu_seconds(pids)
        op.t0 = time.time()
        p0 = time.perf_counter()
        try:
            with self._span(kind):
                out = fn(*args, **kwargs)
        except Exception as e:
            out = None
            op.ok = False
            _log(f"op {op.id} {kind} failed: {type(e).__name__}: {str(e)[:200]}")
        op.dur = time.perf_counter() - p0
        op.t1 = time.time()
        if t:
            op.cpu = spans.cpu_seconds(pids) - cpu0
            t.op_id = -1
        return op, out

    def _span(self, name: str):
        if self.tracer and self.tracer.enabled:
            return self.tracer.span(name)
        return contextlib.nullcontext()

    def _untraced(self):
        return self.tracer.paused() if self.tracer else contextlib.nullcontext()

    def _collect(self, df):
        with self._span("pyspark.collect"):
            return [r.asDict() for r in df.collect()]

    # -- operations --------------------------------------------------------

    def single(self, q: dict, record: bool = True):
        eng = self.engine

        def run():
            return self._collect(eng.search(q["query"], filters=q.get("filters", ()), k=K))

        op, rows = self.timed("executor.search", run, record=record)
        if op.ok:
            op.meta = dict(eng.last_meta)
            self._check(op, gate.structural_errors(rows, K))
        return op, rows

    def batch(self, qs: list[dict], algo: str = "auto", record: bool = True):
        eng = self.engine

        def run():
            return self._collect(eng.search_many(qs, k=K, algo=algo))

        op, rows = self.timed("executor.search_many", run, record=record)
        op.n = len(qs)
        if op.ok:
            op.meta = dict(eng.last_meta)
            self._check(op, gate.batch_errors(rows, len(qs), K))
        return op, rows

    def _check(self, op: Op, errs: list[str]) -> None:
        if errs:
            op.ok = False
            self.wrong.append(f"op {op.id}: {errs[:3]}")

    # -- phases ------------------------------------------------------------

    def start_session(self):
        from pyspark import SparkContext

        from spyglass_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{CORES}]",
                               shuffle_partitions=2 * CORES)
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = getattr(SparkContext._gateway, "proc", None)

    def documents(self):
        from spyglass_spark.corpus import load_corpus, to_documents

        return to_documents(load_corpus(self.spark, gen.DATA_DIR,
                                        replicas=self.cfg["replicas"]))

    def setup(self):
        """Build the workload's index into a fresh directory and open an
        engine on it. One set-up per run: a second one would cost as much
        again, and the time budget of the whole benchmark has no room."""
        from spyglass_spark.index.builder import build_index
        from spyglass_spark.query.executor import SearchEngine

        self.index_dir = os.path.join(self.work, "index")
        self.build_window = [time.time()]
        p0 = time.perf_counter()
        with self._span("builder.build_index"):
            self.manifest = build_index(self.spark, self.documents(),
                                        self.index_dir, num_partitions=PARTS)
        self.build_s = time.perf_counter() - p0
        self.build_window.append(time.time())
        p0 = time.perf_counter()
        with self._span("executor.open"):
            self.engine = SearchEngine(self.spark, self.index_dir)
        self.open_s = time.perf_counter() - p0
        self.setup_s = self.session_s + self.build_s + self.open_s

    def load_docs(self):
        """The indexed documents on the driver, derived in Python from the
        same table (the oracle's input and the source of upsert edits)."""
        import pandas as pd

        from spyglass_spark.testing import corpus_to_documents

        self.base_docs, _ = corpus_to_documents(
            gen.corpus_rows(self.table, self.cfg["replicas"]))
        self.docs_pdf = pd.DataFrame(self.base_docs)
        self.doc_schema = self.documents().schema

    def upsert(self, cycle: int):
        """Replace UPSERT_FRAC of the urls with edited content. Returns
        the delta frame and whether the upsert succeeded."""
        from spyglass_spark.index.builder import upsert_documents
        from spyglass_spark.index.manifest import load_manifest

        pdf = self.docs_pdf
        n = max(1, int(len(pdf) * UPSERT_FRAC))
        delta = pdf.iloc[sorted(self.rng.sample(range(len(pdf)), n))].copy()
        delta["content"] = [gen.edit_content(c, cycle, u, self.qg.vocab)
                            for c, u in zip(delta["content"], delta["url"])]
        delta["content_sha256"] = [hashlib.sha256(c.encode()).hexdigest()
                                   for c in delta["content"]]
        sdf = self.spark.createDataFrame(delta[self.doc_schema.fieldNames()],
                                         schema=self.doc_schema)
        self.input_bytes += _text_bytes(delta)
        op, _ = self.timed("builder.upsert_documents", upsert_documents,
                           self.spark, sdf, self.index_dir, num_partitions=1,
                           max_generations=MAX_GENERATIONS)
        op.n = n
        m = load_manifest(self.index_dir)
        for g in m.gen_list():
            if g["prefix"].startswith("segments_m") and g["prefix"] not in self.merged:
                self.merged.add(g["prefix"])
                self.bytes_rewritten += _du(os.path.join(self.index_dir, g["prefix"]))
        return delta, op.ok

    # -- workloads ---------------------------------------------------------

    def run(self):
        self.start_session()
        _log(f"session started in {self.session_s:.1f}s")
        self.table = gen.documents_table()
        self.setup()
        _log(f"index built in {self.build_s:.1f}s, engine opened in {self.open_s:.1f}s")
        self.qg = gen.QueryGen(self.table, self.cfg["replicas"],
                               random.Random(self.args.seed + 1))
        self.load_docs()
        _log("documents derived")
        self.input_bytes = _text_bytes(self.docs_pdf)
        self.pools, self.weights = self.qg.zipf_pools(POOL_PER_TEMPLATE)
        self.seen = {gen.query_key(q) for pool in self.pools.values() for q in pool}
        self.loop()
        for o in self.ops:
            _log(f"op {o.id:3d} {o.kind:26s} {o.dur * 1e3:9.1f} ms"
                 f"{'' if o.ok else '  FAILED'}")
        if self.args.trace:
            self.tracer.enabled = False
            self.check_wand_identity()
            self.measure_overhead()
            self.tracer.enabled = False

    def next_batch(self):
        qs = self.qg.distinct_batch(self.cfg["batch_kinds"], BATCH_SIZE, self.seen)
        self.batches.append(qs)
        return (qs, *self.batch(qs))

    def pick(self):
        """The next single search: templates round-robin, the query within
        a template by Zipf popularity."""
        kind = self.qg.SINGLE[self.n_picked % len(self.qg.SINGLE)]
        self.n_picked += 1
        return self.rng.choices(self.pools[kind], self.weights)[0]

    def read_step(self, batch: bool):
        """per_template single searches of every template, in template
        order, then one batch if ``batch``. Returns ([(query, op, rows)],
        (queries, op, rows) or None)."""
        singles = []
        for _ in range(self.cfg["per_template"] * len(self.qg.SINGLE)):
            q = self.pick()
            singles.append((q, *self.single(q)))
        return singles, (self.next_batch() if batch else None)

    def loop(self):
        # The first distributed job of a process pays a one-time warm-up
        # (about half a batch again); take it before timing, with a batch of
        # one query, which runs a task on every part all the same.
        with self._untraced():
            self.batch(self.qg.distinct_batch(self.cfg["batch_kinds"][-1:], 1,
                                              self.seen), record=False)
        t_end = time.perf_counter() + self.args.seconds
        cycle = 0
        while time.perf_counter() < t_end or cycle < self.cfg["min_cycles"]:
            delta, ok = self.upsert(cycle)
            self.timed("executor.refresh", self.engine.refresh)
            for i in range(self.cfg["steps"]):
                step = self.read_step(cycle in self.cfg["batch_cycles"])
                if cycle == 0 and i == 0:
                    t0 = time.perf_counter()
                    self.upsert_gate(delta, ok, step)
                    t_end += time.perf_counter() - t0  # the gate is not measured
            cycle += 1

    def upsert_gate(self, delta, ok: bool, step):
        """The oracle gate: the first upsert-then-search step's own rows
        (a search of every template and the first batch query of every
        batch template) against the oracle twin of the index after that
        upsert, rank by rank and float32 score by score. Untimed; a
        mismatch raises gate.Mismatch."""
        singles, (qs, bop, brows) = step
        if not ok:
            self.wrong.append("the first upsert failed; the oracle gate cannot run")
            return
        t0 = time.perf_counter()
        with self._untraced():
            oracle = gate.oracle_after_upsert(self.base_docs, PARTS,
                                              delta.to_dict("records"), 1)
            for q, op, rows in singles[:len(self.qg.SINGLE)]:
                if op.ok:
                    gate.compare(f"after upsert {q!r}", rows,
                                 oracle.search(q["query"], q.get("filters", ()), k=K))
            n_kinds = len(self.cfg["batch_kinds"])
            if bop.ok:
                gate.compare_batch(oracle, qs, brows, K, first=n_kinds)
        _log(f"oracle gate: {len(self.qg.SINGLE)} searches and {n_kinds} batch queries "
             f"after the first upsert identical ({time.perf_counter() - t0:.1f}s)")

    def check_wand_identity(self):
        """Traced run: every batch again at algo='auto' and
        algo='exhaustive', alternating which runs first. WAND only prunes,
        so the rows must be identical; the time ratio is wand.speedup."""
        self.wand_times = {"auto": 0.0, "exhaustive": 0.0}
        for i, qs in enumerate(self.batches):
            order = ("auto", "exhaustive") if i % 2 == 0 else ("exhaustive", "auto")
            got = {}
            for algo in order:
                op, rows = self.batch(qs, algo=algo, record=False)
                self.wand_times[algo] += op.dur
                got[algo] = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                                   for r in rows or ())
            if got["auto"] != got["exhaustive"]:
                self.wrong.append(f"batch {i}: auto != exhaustive")

    def measure_overhead(self, n: int = 16):
        """Traced run: the pool's first ``n`` single searches with tracing
        (spans and /proc sampling) on and off, alternating which runs
        first. Overhead = ratio of the medians - 1."""
        times = {True: [], False: []}
        for i in range(n):
            q = self.pools[self.qg.SINGLE[i % len(self.qg.SINGLE)]][i]
            for on in ((True, False) if i % 2 == 0 else (False, True)):
                self.tracer.enabled = on
                op, _ = self.single(q, record=False)
                times[on].append(op.dur)
        self.trace_overhead = _median(times[True]) / _median(times[False]) - 1.0

    def write_trace(self, out: dict) -> None:
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        path = os.path.join(HERE, "traces",
                            f"{self.args.workload}-seed{self.args.seed}.json")
        ops = [{"id": o.id, "kind": o.kind, "start": o.t0, "end": o.t1,
                "dur_s": o.dur, "ok": o.ok, "cpu_s": o.cpu, "n": o.n}
               for o in self.ops]
        self.tracer.write(path, {"workload": self.args.workload,
                                 "seed": self.args.seed, "ops": ops,
                                 "spark_jobs": self.jobs,
                                 "metrics": out["metrics"]})

    # -- results -----------------------------------------------------------

    def e2e_metrics(self) -> dict:
        ops = self.ops
        singles = [o.dur for o in ops if o.kind == "executor.search"]
        batches = [o for o in ops if o.kind == "executor.search_many"]
        upserts = [o for o in ops if o.kind == "builder.upsert_documents"]
        failed = sum(not o.ok for o in ops)
        _log(f"{len(singles)} searches, {len(batches)} batches, {len(upserts)} upserts, "
             f"{failed} failed of {len(ops)} ops")
        return {
            "setup_s": (self.setup_s, "s"),
            "ok_frac": (1.0 - failed / len(ops), "ratio"),
            "search_p50_ms": (_median(singles) * 1e3, "ms"),
            "batch_qps": (sum(o.n for o in batches) / sum(o.dur for o in batches), "1/s"),
            "upsert_docs_per_s": (sum(o.n for o in upserts) / sum(o.dur for o in upserts), "1/s"),
            "store_bytes_per_input_byte": (_du(self.index_dir) / self.input_bytes, "ratio"),
            "peak_rss_mb": (spans.peak_rss_mb(spans.process_tree()), "MB"),
        }

    def layer_metrics(self) -> dict:
        import layers

        return layers.compute(self)

    def result(self) -> dict:
        metrics = self.layer_metrics() if self.args.trace else self.e2e_metrics()
        failed = sum(not o.ok for o in self.ops)
        for w in self.wrong:
            _log(f"WRONG: {w}")
        return {"correct": not self.wrong, "attempted": len(self.ops),
                "failed": failed,
                "metrics": {k: {"value": float(v), "unit": u}
                            for k, (v, u) in metrics.items()}}


def _text_bytes(pdf) -> int:
    return int(sum(len(s.encode()) for col in ("url", "domain", "title", "content")
                   for s in pdf[col]))


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work directory, and give the workers the engine on their path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_TESTING", None)  # it would disable the UI
    # A 2g driver heap rather than the engine's 8g default: on these
    # 5,000-10,000-document indexes the JVM grows an 8g heap lazily, and
    # peak_rss_mb then spread 0.07-0.25 (IQR/median) over ten-run windows,
    # up to its 0.25 bound; at 2g it spread 0.06-0.10. It also keeps a
    # run's memory small on a shared host.
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    confs = {
        "spark.ui.port": "0",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    args = [f"--driver-java-options {java_opts}"]
    args += [f"--conf {k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _stop(bench) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    spark = getattr(bench, "spark", None)
    if spark is None:
        return
    spark.stop()
    proc = bench.jvm
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spyglass_spark")):
        _log(f"no spyglass_spark package under {ROOT}: run from the repository root")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    bench = None
    try:
        _configure_env(work)
        bench = Bench(args, work)
        bench.run()
        out = bench.result()
        if args.trace:
            bench.write_trace(out)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if bench is not None:
            _stop(bench)
        shutil.rmtree(work, ignore_errors=True)
        _log("stopped")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
