"""Per-layer metrics of the traced run, and its self-time table.

Every metric is printed for every workload; a layer the workload does not
exercise reads 0.  Means are per traced request of the kind named in
NOTES.md; counts of bytes and files written cover the whole timed window.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np

SEARCHES = {"query", "batch", "search"}
LAYERS = ["api", "query.parser", "query.executor", "index.builder",
          "index.mutations", "storage.catalog", "unattributed"]
KERNEL = [("kernel.python_bytes_sent", "pythonDataSent"),
          ("kernel.python_bytes_received", "pythonDataReceived"),
          ("kernel.python_rows_received", "pythonNumRowsReceived"),
          ("kernel.python_time_ms", "pythonTotalTime"),
          ("kernel.python_boot_ms", "pythonBootTime")]

#: every per-layer metric and its unit, in report order
PER_LAYER = {
    "analysis.tokens_per_s": "1/s",
    "codec.encode_mb_per_s": "MB/s",
    "codec.decode_mb_per_s": "MB/s",
    "build.ingest_s": "s",
    "build.docs_meta_s": "s",
    "build.segments_s": "s",
    "build.derived_s": "s",
    "build.spark_jobs": "count",
    "build.tasks": "count",
    "mutations.upsert_ms": "ms",
    "mutations.delete_ms": "ms",
    "mutations.compact_ms": "ms",
    "commit.spark_jobs": "count",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "storage.snapshots_committed": "count",
    "storage.live_bytes_ratio": "ratio",
    "parser.us_per_query": "us",
    "engine.warm_s": "s",
    "search.plan_ms": "ms",
    "search.collect_ms": "ms",
    "search.spark_jobs_per_query": "count",
    "search.cache_hit_share": "ratio",
    "kernel.python_bytes_sent": "bytes",
    "kernel.python_bytes_received": "bytes",
    "kernel.python_rows_received": "count",
    "kernel.python_time_ms": "ms",
    "kernel.python_boot_ms": "ms",
    "kernel.python_stages": "count",
    "kernel.tasks": "count",
    "kernel.failed_tasks": "count",
    "facade.first_search_ms": "ms",
    "facade.search_ms": "ms",
    "driver.cpu_s": "s",
    "jvm.cpu_s": "s",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.overhead_ms": "ms",
    "trace.post_ms_per_request": "ms",
}


def _mean(xs) -> float:
    xs = list(xs)
    return float(np.mean(xs)) if xs else 0.0


def tokens_per_s(rows: list[dict], budget_s: float = 0.5) -> float:
    """``tokenize_series`` over the corpus in batches of 1,000 documents."""
    import pandas as pd

    from lucene_plugin_spark.analysis.tokenizer import tokenize_series
    texts = pd.Series([r["content"] for r in rows], dtype=object)
    n, t0 = 0, time.perf_counter()
    while True:
        for i in range(0, len(texts), 1000):
            n += len(tokenize_series(texts.iloc[i:i + 1000]))
        if time.perf_counter() - t0 >= budget_s:
            return n / (time.perf_counter() - t0)


def codec_mb_per_s(catalog, budget_s: float = 0.5,
                   max_blocks: int = 2000) -> tuple[float, float]:
    """(encode, decode) MB/s of docID blocks on the index's real segments:
    decode = encoded bytes read per second by ``decode_ids_concat`` over all
    blocks, encode = encoded bytes produced per second by ``encode_ids`` over
    the first ``max_blocks`` blocks."""
    import pyarrow.dataset as pads

    from lucene_plugin_spark.index import codec
    from lucene_plugin_spark.storage.catalog import entry_path
    files = []
    for e in catalog.table("segments").snapshot().data_dirs:
        files += glob.glob(os.path.join(entry_path(e), "**", "*.parquet"), recursive=True)
    tab = pads.dataset(files, format="parquet").to_table(columns=["doc_gaps", "doc_count"])
    bufs = tab.column("doc_gaps").to_pylist()
    counts = np.asarray(tab.column("doc_count").to_pylist(), dtype=np.int64)
    nbytes = sum(len(b) for b in bufs)
    ids = codec.decode_ids_concat(bufs, counts)
    blocks = np.split(ids, np.cumsum(counts)[:-1])[:max_blocks]
    enc_mb = sum(len(b) for b in bufs[:max_blocks]) / 1e6

    def rate(fn, mb):
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < budget_s:
            fn()
            n += 1
        return n * mb / (time.perf_counter() - t0)

    dec = rate(lambda: codec.decode_ids_concat(bufs, counts), nbytes / 1e6)
    enc = rate(lambda: [codec.encode_ids(b) for b in blocks], enc_mb)
    return enc, dec


def per_layer(w, rec, driver_cpu: float, jvm_cpu: float, usage: tuple,
              out_dir: str, seed: int) -> dict:
    from workloads import dir_usage, live_bytes
    kinds = w.kinds
    ids = rec.request_ids(kinds)
    reqs = [r for r in rec.requests if r["id"] in ids]
    searches = [r for r in reqs if r["kind"] in SEARCHES]
    builds = w.build_requests
    m: dict[str, float] = {}

    def mean_ms(name: str, requests: set[str]) -> float:
        tot, n = rec.span_total(name, requests)
        return tot / n * 1e3 if n else 0.0

    m["analysis.tokens_per_s"] = tokens_per_s(w.rows)
    m["codec.encode_mb_per_s"], m["codec.decode_mb_per_s"] = codec_mb_per_s(w.catalog)

    m["build.ingest_s"] = mean_ms("IndexBuilder.ingest_docs",
                                  {r["id"] for r in builds}) / 1e3
    for stage in ("docs_meta", "segments", "derived"):
        m[f"build.{stage}_s"] = _mean(r["stage_times"].get(stage, 0.0) for r in builds)
    m["build.spark_jobs"] = _mean(r["jobs"] for r in builds)
    m["build.tasks"] = _mean(r["tasks"] for r in builds)

    m["mutations.upsert_ms"] = mean_ms("IndexMutator.upsert", ids)
    m["mutations.delete_ms"] = mean_ms("IndexMutator.delete_keys", ids)
    m["mutations.compact_ms"] = mean_ms("IndexMutator.compact", ids)
    m["commit.spark_jobs"] = _mean(r["jobs"] for r in reqs if r["kind"] == "commit")

    m["storage.bytes_written"], m["storage.files_written"], \
        m["storage.snapshots_committed"] = (float(x) for x in usage)
    total_bytes = dir_usage(w.catalog.root)[0]
    m["storage.live_bytes_ratio"] = live_bytes(w.catalog) / total_bytes if total_bytes else 0.0

    m["parser.us_per_query"] = mean_ms("executor.parse_query", ids) * 1e3
    m["engine.warm_s"] = rec.span_total("SearchEngine.warm")[0]
    plan = mean_ms("SearchEngine.search", ids) or mean_ms("SearchEngine.search_many", ids)
    m["search.plan_ms"] = plan
    # the facade collects inside LuceneFacade.search
    m["search.collect_ms"] = (mean_ms("collect", ids)
                              or max(mean_ms("LuceneFacade.search", ids) - plan, 0.0))
    m["search.spark_jobs_per_query"] = _mean(r["jobs"] for r in searches)
    m["search.cache_hit_share"] = _mean(r["jobs"] == 0 for r in searches)

    for key, src in KERNEL:
        m[key] = _mean(r[src] for r in searches)
    m["kernel.python_stages"] = _mean(r["python_stages"] for r in searches)
    m["kernel.tasks"] = _mean(r["tasks"] for r in searches)
    m["kernel.failed_tasks"] = float(sum(r["failed_tasks"] for r in reqs))

    first = {r["id"] for r in searches if r.get("first_after_commit")}
    m["facade.first_search_ms"] = mean_ms("LuceneFacade.search", first)
    m["facade.search_ms"] = mean_ms("LuceneFacade.search", ids - first)

    m["driver.cpu_s"] = driver_cpu
    m["jvm.cpu_s"] = jvm_cpu

    self_s = rec.self_times(ids)
    wall = sum(self_s.values())
    for layer in LAYERS:
        m[f"self_s.{layer}"] = self_s.get(layer, 0.0)
    on = np.asarray([t for t, mark in zip(w.lat, w.traced) if mark is True])
    off = np.asarray([t for t, mark in zip(w.lat, w.traced) if mark is False])
    m["trace.overhead_ms"] = ((np.median(on) - np.median(off)) * 1e3
                              if len(on) and len(off) else 0.0)
    m["trace.post_ms_per_request"] = rec.post_s / len(rec.requests) * 1e3 if rec.requests else 0.0

    print(f"self time by layer over {len(reqs)} traced {'/'.join(sorted(kinds))} "
          f"requests ({wall:.3f} s):")
    for layer in LAYERS:
        s = self_s.get(layer, 0.0)
        print(f"  {layer:<18} {s:9.3f} s  {100 * s / wall if wall else 0:5.1f}%")
    print(f"  tracing overhead {m['trace.overhead_ms']:.2f} ms per operation "
          f"(median traced minus untraced, {len(on)}/{len(off)} ops); counter reads "
          f"{m['trace.post_ms_per_request']:.2f} ms per request, outside the timings")
    path = os.path.join(out_dir, f"spans-{w.name}-{seed}.json")
    rec.dump(path, {"workload": w.name, "seed": seed, "self_s": self_s,
                    "metrics": m})
    print(f"spans written to {path}")
    return {k: {"value": float(m[k]), "unit": unit} for k, unit in PER_LAYER.items()}
