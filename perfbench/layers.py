"""Isolated per-layer runs for the traced run, over the workload's own
pages: the numpy kernel alone in this process (the single-threaded
baseline), the fused scan+featurize stage and the classic Arrow-UDF
featurize stage, each into Spark's noop sink."""

from __future__ import annotations

import time

import pyarrow.parquet as pq

from glcmstream import fused, kernel, plan, stream


def _htmls(files: list[str]) -> list[list[bytes]]:
    return [pq.read_table(f, columns=["html"]).column("html").to_pylist()
            for f in files]


def kernel_1core(tracer, parent, files: list[str],
                 budget_s: float = 2.0) -> dict:
    """kernel.featurize_htmls over whole files until budget_s elapses."""
    batches = _htmls(files)
    kernel.featurize_htmls(batches[0][:64])    # kernel buffers, imports
    docs = nbytes = 0
    with tracer.span("kernel.featurize_htmls", parent):
        t0 = time.perf_counter()
        while True:
            for b in batches:
                kernel.featurize_htmls(b)
                docs += len(b)
                nbytes += sum(len(h) for h in b)
                if time.perf_counter() - t0 >= budget_s:
                    break
            if time.perf_counter() - t0 >= budget_s:
                break
        dt = time.perf_counter() - t0
    return {"kernel.docs_per_s_1core": docs / dt,
            "kernel.mib_per_s_1core": nbytes / 2**20 / dt}


def _noop_stage(tracer, name: str, parent, df, docs: int, cores: int,
                kernel_docs_per_s: float) -> tuple[float, float]:
    """(stage seconds, kernel share of stage core-seconds)."""
    with tracer.span(name, parent) as sid:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
    k_core_s = docs / kernel_docs_per_s
    if sid is not None:
        s = tracer.spans[sid]
        tracer.add("kernel.est_featurize", s.start,
                   min(s.end, s.start + k_core_s / cores), sid)
    return dt, min(1.0, k_core_s / (dt * cores))


def fused_stage(tracer, parent, spark, pages_dir: str, docs: int,
                cores: int, kernel_docs_per_s: float) -> dict:
    dt, share = _noop_stage(tracer, "fused.fused_features_batch", parent,
                            fused.fused_features_batch(spark, pages_dir),
                            docs, cores, kernel_docs_per_s)
    return {"fused.stage_s": dt, "fused.kernel_share": share}


def plan_stage(tracer, parent, spark, pages_dir: str, docs: int,
               cores: int, kernel_docs_per_s: float) -> dict:
    dt, share = _noop_stage(
        tracer, "plan.featurize", parent,
        plan.featurize(stream.read_pages_batch(spark, pages_dir)),
        docs, cores, kernel_docs_per_s)
    return {"plan.featurize_stage_s": dt, "plan.kernel_share": share}
