"""lake_and_corpus: one client querying the lake, closed loop — analyst
queries routed onto bucketed layouts and curation queries routed through
signature stores, over the same seeded lake.

Set-up starts the session and builds the events and facts layouts
(``operators.skew``) on a fresh copy of the seeded lake. The write side is
then one timed build of the ``STORES`` (``operators.sigstore``'s store
builders, submitted concurrently the way ``materialize_signature_store``
submits all of them) over the raw corpus, whose documents and vectors
carry a seeded near-duplicate delta. The client walks a fixed sequence
over the analyst families (events, timeseries, survival, strategy,
simulation, ML, relational) and the curation families (text, vector, LM,
classifier, pipeline), taken from the registry tags, and every answer is
checked.

Why one workload for both: each run starts its own JVM, and with a
session start, a layout build and a store build per run, the runs of
separate analyst and curation workloads did not fit the time a comparison
may take. Why not every store: the IVF, PQ and BPE builds train their
models iteratively (one Spark job per step) and take 10-40 s each on a
4-core host whatever the corpus size. Their stores are not built, so the
queries that would train those models themselves (``SKIP``) are left out
of the sequence too.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import common
import gen

# most specific first: a query tagged events and timeseries is timeseries,
# one tagged pipeline and text is text
FAMILIES = [
    "simulation", "strategy", "survival", "timeseries", "ml",
    "lm", "classify", "vector", "text", "relational", "pipeline", "events",
]
STORES = ("doc", "emb", "idx", "lm", "nb")
SKIP = frozenset({
    # trains a gradient-boosted model: 26 s at sf 0.01, plus a 19 s oracle check
    "gbt_threshold_analysis",
    # without their store these train an IVF / PQ quantizer or BPE merges
    # inside the query (10-40 s each)
    "knn_pq_adc_recall", "knn_ivfpq_adc_recall", "knn_ivf_kmeans_recall",
    "knn_ivf_nprobe_curve", "doc_semantic_dedup",
    "doc_bpe_merges", "doc_bpe_vocab_stats", "doc_bpe_encode",
})
DUP_SHARE = 0.10

STRIDE = 32  # one query in 32 of each family (at least one): the same subset for every seed
SECONDS_PER_PASS = 4  # --seconds buys one whole pass per this many seconds
SMOKE_STRIDE = 64


def build_stores(spark, lake: str) -> None:
    from vectra_player_spark import plans  # noqa: F401 — the builders import query modules: import them once, first
    from vectra_player_spark.operators import sigstore
    from vectra_player_spark.session import prep_session

    prep_session(spark)
    with ThreadPoolExecutor(max_workers=len(STORES)) as ex:
        futs = {kind: ex.submit(sigstore._BUILDERS[kind], spark, lake) for kind in STORES}
        for kind, fut in futs.items():
            fut.result()
            sigstore._finish(spark, lake, kind)  # register the store for routing


def run(ctx: common.Ctx) -> dict:
    sf = 0.001 if ctx.smoke else 0.01
    if not os.path.exists(os.path.join(ctx.inputs, "lineitem.parquet")):
        gen.write_lake(ctx.inputs, ctx.seed, sf, dup_share=DUP_SHARE)
    lake = ctx.path("lake")
    shutil.copytree(ctx.inputs, lake)

    mem = common.MemSampler(ctx.trace)
    spark, start_s = common.start_session(ctx)
    from vectra_player_spark.operators import skew

    t0 = time.perf_counter()
    with ctx.tracer.span("materialize_bucketed_events_lake", "skew"):
        skew.materialize_bucketed_events_lake(spark, lake)
    t1 = time.perf_counter()
    with ctx.tracer.span("materialize_bucketed_facts", "skew"):
        skew.materialize_bucketed_facts(spark, lake)
    ev_s, fa_s = t1 - t0, time.perf_counter() - t1
    layout_mb = common.dir_mb(ctx.path("bucketed"))
    layouts = tuple(f"/bucketed/{d}/" for d in os.listdir(ctx.path("bucketed")))

    build_t0 = time.time()
    t0 = time.perf_counter()
    with ctx.tracer.span("build_stores", "sigstore"):
        build_stores(spark, lake)
    build_s = time.perf_counter() - t0
    build_t1 = time.time()
    store_mb = common.dir_mb(ctx.path("bucketed")) - layout_mb

    seq = common.query_sequence(FAMILIES, SMOKE_STRIDE if ctx.smoke else STRIDE, SKIP)
    ops = common.closed_loop(ctx, spark, seq, lake, common.passes_for(ctx.seconds, SECONDS_PER_PASS))
    peak = mem.stop()
    spark.stop()

    st = common.latency_stats(ops)
    # a routable execution reads events, lineitem or orders, raw or as a layout
    routed = [any(lay in f for f in o.inputs for lay in layouts) for o in ops]
    routable = [
        r or any(f.endswith(("events.parquet", "lineitem.parquet", "orders.parquet")) for f in o.inputs)
        for r, o in zip(routed, ops)
    ]
    layers = {
        "session.start_s": start_s,
        "mem.peak_pss_mb": peak,
        "skew.events_layout_s": ev_s,
        "skew.facts_layout_s": fa_s,
        "skew.layout_mb": layout_mb,
        "tables.routed_share": sum(routed) / sum(routable) if any(routable) else 0.0,
        "sigstore.build_s": build_s,
        "sigstore.store_mb": store_mb,
        **common.family_medians(ops, FAMILIES),
    }
    return {
        "ops": ops,
        "spark_windows": [(build_t0, build_t1)] + [(o.t0, o.t1) for o in ops],
        "families": FAMILIES,
        "e2e": {
            "setup_s": start_s + ev_s + fa_s,
            "latency_p50_s": st["p50"],
            "latency_p90_s": st["p90"],
            "throughput_per_s": st["per_s"],
            "build_s": build_s,
            "disk_mb": layout_mb + store_mb,
        },
        "layers": layers,
        "samples": f"{st['n']} queries, {st['above_p90']} above p90",
    }
