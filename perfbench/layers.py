"""Per-layer metrics of a traced run, named after the package modules.

Driver-side time comes from the span list (self time per span name);
Spark task time from the application's jobs in the Spark UI REST API,
matched to operations by submission time; CPU from /proc. Kernel
throughputs are measured on fixed inputs taken from the run's own corpus
and built store.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

import spans

CORES = 4
REPEATS = 5
TOKENIZE_SAMPLE = 2000  # documents fed to the analysis/encode kernels


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _best_of(fn, repeats=REPEATS) -> float:
    """Median wall time of ``repeats`` calls (seconds)."""
    ts = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return _median(ts)


def kernel_throughputs(bench) -> dict:
    """analysis.tokens_per_s, codecs.encode_postings_per_s and
    codecs.decode_rows_per_s on inputs from this run."""
    import pyarrow.dataset as pads

    from spyglass_spark.analysis.analyzer import ANALYZER_KIND, tokenize_arrays
    from spyglass_spark.index import codecs
    from spyglass_spark.index.builder import KIND_POSTING
    from spyglass_spark.index.fieldnorm import fieldnorm_to_id

    texts = bench.docs_pdf["content"].tolist()[:TOKENIZE_SAMPLE]
    kind = ANALYZER_KIND["content"]
    _, term_starts, ords, tfs, pos, counts = tokenize_arrays(texts, kind)
    t_tok = _best_of(lambda: tokenize_arrays(texts, kind))
    norm_ids = fieldnorm_to_id(counts)[ords.astype("int64")]
    t_enc = _best_of(lambda: codecs.bulk_encode_postings(
        term_starts, ords, tfs, norm_ids, pos))

    blobs = []
    for g in bench.engine.gens:
        ds = pads.dataset(os.path.join(bench.index_dir, g["prefix"], "store"),
                          format="parquet", partitioning="hive")
        tbl = ds.to_table(columns=["doc_bytes", "tf_bytes"],
                          filter=(pads.field("kind") == KIND_POSTING)
                          & (pads.field("field") == "content"))
        blobs += tbl.column("doc_bytes").to_pylist() + tbl.column("tf_bytes").to_pylist()
    blobs = [b for b in blobs if b]
    n_rows = sum(len(codecs.varint_decode(b)) for b in blobs)
    t_dec = _best_of(lambda: [codecs.varint_decode(b) for b in blobs])
    return {
        "analysis.tokens_per_s": (float(counts.sum()) / t_tok, "1/s"),
        "codecs.encode_postings_per_s": (len(ords) / t_enc, "1/s"),
        "codecs.decode_rows_per_s": (n_rows / t_dec, "1/s"),
    }


def _jobs_in(jobs: list[dict], t0: float, t1: float) -> list[dict]:
    # REST submission times have millisecond resolution
    return [j for j in jobs if j["submit"] is not None
            and t0 - 0.001 <= j["submit"] <= t1 + 0.001]


def spark_metrics(bench, jobs: list[dict]) -> dict:
    timed = [j for o in bench.ops for j in _jobs_in(jobs, o.t0, o.t1)]
    n = max(len(timed), 1)
    tot = defaultdict(float)
    for j in timed:
        for k in ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_wait_ms",
                  "input_bytes"):
            tot[k] += j[k]
    wall_ms = sum((j["end"] - j["submit"]) * 1e3 for j in timed if j["end"])
    upserts = [o for o in bench.ops if o.kind == "builder.upsert_documents"]
    return {
        "spark.tasks_per_job": (tot["tasks"] / n, "count"),
        "spark.run_ms": (tot["run_ms"] / n, "ms"),
        "spark.cpu_ms": (tot["cpu_ms"] / n, "ms"),
        "spark.gc_ms": (tot["gc_ms"] / n, "ms"),
        "spark.shuffle_wait_ms": (tot["shuffle_wait_ms"] / n, "ms"),
        "spark.input_bytes": (tot["input_bytes"] / n, "bytes"),
        "spark.slot_util": (tot["run_ms"] / max(wall_ms * CORES, 1e-9), "ratio"),
        "builder.build_jobs": (len(_jobs_in(jobs, *bench.build_window)), "count"),
        "builder.upsert_jobs": (sum(len(_jobs_in(jobs, o.t0, o.t1)) for o in upserts)
                                / max(len(upserts), 1), "count"),
    }


def compute(bench) -> dict:
    tracer = bench.tracer
    ops = bench.ops
    singles = [o for o in ops if o.kind == "executor.search" and o.ok]
    ids = {o.id for o in singles}
    n = max(len(singles), 1)
    self_t = tracer.self_times(op_ids=ids)

    def per_search_ms(prefix):
        return sum(v for k, v in self_t.items() if k.startswith(prefix)) / n * 1e3

    compile_s = defaultdict(float)
    for name, t0, t1, _, op in tracer.spans:
        if name == "compiler.compile_query" and op in ids:
            compile_s[op] += t1 - t0
    merges = [(t1 - t0) for name, t0, t1, _, op in tracer.spans
              if name == "builder.merge_generations" and op >= 0]
    metas = [o.meta for o in singles]
    refresh = [o.dur for o in ops if o.kind == "executor.refresh"]
    batches = [o.dur for o in ops if o.kind == "executor.search_many"]
    upserts = [o.dur for o in ops if o.kind == "builder.upsert_documents"]
    wt = bench.wand_times
    m = {
        "session.start_s": (bench.session_s, "s"),
        "executor.open_s": (bench.open_s, "s"),
        "compiler.compile_us": (_median([compile_s[o.id] for o in singles]) * 1e6, "us"),
        "executor.local_frac": (sum(x["spark_jobs"] == 0 for x in metas) / n, "ratio"),
        "executor.jobs_per_search": (sum(x["spark_jobs"] for x in metas) / n, "count"),
        "executor.engine_ms": (_median([x["wall_time_ms"] for x in metas]), "ms"),
        "executor.materialize_ms": (_median([o.dur * 1e3 - o.meta["wall_time_ms"]
                                             for o in singles]), "ms"),
        "executor.refresh_ms": (_median(refresh) * 1e3, "ms"),
        "executor.search_p90_ms": (statistics.quantiles([o.dur for o in singles], n=10)[8]
                                   * 1e3, "ms"),
        "executor.batch_p50_s": (_median(batches), "s"),
        "codecs.decode_ms_per_search": (per_search_ms("codecs."), "ms"),
        "scoring.score_ms_per_search": (per_search_ms("scoring."), "ms"),
        "wand.ms_per_search": (per_search_ms("wand."), "ms"),
        "wand.speedup": (wt["exhaustive"] / wt["auto"], "ratio"),
        "builder.stage1_s": (bench.manifest.metrics["stage1_sec"], "s"),
        "builder.stats_s": (bench.manifest.metrics["stats_sec"], "s"),
        "builder.build_docs_per_s": (bench.manifest.num_docs / bench.build_s, "1/s"),
        "builder.upsert_p50_s": (_median(upserts), "s"),
        "builder.merges": (len(merges), "count"),
        "builder.merge_s": (sum(merges), "s"),
        "builder.bytes_rewritten": (bench.bytes_rewritten, "bytes"),
        "manifest.generations": (len(bench.engine.gens), "count"),
        "proc.cpu_s": (sum(o.cpu for o in ops) / len(ops), "s"),
        "proc.cpu_util": (sum(o.cpu for o in ops) / sum(o.dur for o in ops), "ratio"),
        "trace.overhead_frac": (bench.trace_overhead, "ratio"),
    }
    sc = bench.spark.sparkContext
    bench.jobs = spans.spark_jobs(sc.uiWebUrl, sc.applicationId)
    m.update(spark_metrics(bench, bench.jobs))
    m.update(kernel_throughputs(bench))
    return m
