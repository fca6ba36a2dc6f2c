"""Per-layer measurements for the traced run.

Two parts, both outside the timed rounds:

* kernel micro-timings: direct single-thread driver calls of the numpy
  kernels on a fixed seeded text sample (the same on every seed);
* a layer sweep over the run's own corpus that isolates each layer
  behind a public call: the matrix build and the transpose each into a
  no-op sink, the fused build, persist, load, search with its planning
  and execution split, update/compact/vacuum, and MinHash signatures.

Every sweep step is one span of the tracer.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

import numpy as np

from perfbench import inputs as I
from perfbench.workloads import found_sources

TIERS = ("probe_join", "fused_broadcast", "cogroup", "joined")


def _median_wall(fn, reps: int = 5) -> float:
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def kernel_metrics() -> dict:
    import pandas as pd

    from metaprofi_spark.kernels import set_bits, shingle_positions
    from metaprofi_spark.kernels.arrowbuf import utf8_values
    from metaprofi_spark.kernels.cms import cms_add, cms_init
    from metaprofi_spark.kernels.hll import hll_add, hll_init

    rng = np.random.default_rng(12345)
    texts = [" ".join(f"w{j:05d}" for j in rng.integers(0, 50_000, n))
             for n in np.clip(rng.lognormal(5.0, 1.0, 200), 20, 2000).astype(int)]
    seeds = list(range(I.H))
    _, pos = shingle_positions(texts, I.K, seeds, I.M)
    buf = np.zeros(I.M // 8, dtype=np.uint8)
    # the sketch folds' own inputs: hll_agg passes the Arrow (data,
    # offsets) buffer of the token batch, cms_agg the buffer of the
    # batch's distinct tokens with their counts
    tokens = pd.Series([t for text in texts for t in text.split(" ")])
    values = utf8_values(tokens)
    counts = tokens.value_counts()
    keys = utf8_values(pd.Series(counts.index))
    weights = counts.to_numpy().astype(np.int64)
    return {
        "kernels.shingle_hash_ns_per_kgram":
            _median_wall(lambda: shingle_positions(texts, I.K, seeds, I.M)) / len(pos) * 1e9,
        "kernels.set_bits_ns_per_bit": _median_wall(lambda: set_bits(buf, pos)) / pos.size * 1e9,
        "kernels.hll_add_ns_per_value": _median_wall(lambda: hll_add(hll_init(12), values)) / len(tokens) * 1e9,
        "kernels.cms_add_ns_per_value":
            _median_wall(lambda: cms_add(cms_init(4, 2048), keys, weights)) / len(counts) * 1e9,
    }


def search_tier(df, broadcast_queries: bool) -> str:
    """Which physical search plan ran, read from the executed plan.  The
    probe join and the joined fallback are one plan shape (a join, then
    mapInPandas) that the search builds only for broadcast and only for
    shuffled query sets respectively, so ``broadcast_queries`` tells them
    apart."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "FlatMapCoGroupsInPandas" in plan:
        return "cogroup"
    if "MapInArrow" in plan:
        return "fused_broadcast"
    return "probe_join" if broadcast_queries else "joined"


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def layer_sweep(run, corpus) -> dict:
    from pyspark.sql import functions as F

    from metaprofi_spark.operators import (build_index, build_index_fused, build_matrix, compact_store,
                                           hash_queries, load_index, minhash_lsh_candidates,
                                           persist_index, search, search_df, store_summary,
                                           update_store, vacuum_store)
    from metaprofi_spark.operators.dedup import minhash_bands

    tr, spark, cfg, B = run.tracer, run.spark, run.cfg, I.SAMPLE_BUCKET
    out = {}

    def step(name, fn):
        with tr.span(f"layer.{name}") as sp:
            result = fn()
        return result, sp.end - sp.start

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    docs = run.to_spark(corpus.docs)
    n_docs = len(corpus.docs)
    buckets = math.ceil(n_docs / B)
    _, out["bloom_build.matrix_s"] = step("matrix", lambda: noop(build_matrix(docs, cfg)))
    matrix = build_matrix(docs, cfg).localCheckpoint(eager=True)
    _, out["bloom_index.transpose_s"] = step("transpose", lambda: noop(build_index(matrix, cfg, sample_bucket_size=B)))

    def fused():
        return build_index_fused(docs, cfg, sample_bucket_size=B, shuffle_partitions=buckets)

    _, out["bloom_index.fused_build_s"] = step("fused_build", lambda: noop(fused()))
    slabs = fused().localCheckpoint(eager=True)
    store = os.path.join(run.work, "layer_store")
    shutil.rmtree(store, ignore_errors=True)
    _, out["bloom_index.persist_s"] = step(
        "persist", lambda: persist_index(slabs, store, cfg, n_samples=n_docs, sample_bucket_size=B))
    _, out["bloom_index.load_s"] = step("load", lambda: load_index(spark, store)[0].count())
    summary = store_summary(spark, store, count_set_bits=True)
    out["bloom_index.stored_bytes"] = summary["stored_bytes"]
    out["bloom_index.fill_ratio"] = summary["set_bits"] / (cfg.m * summary["n_samples"])

    # search: the planning and execution split of a probe batch and of
    # the 1000-query file under both broadcast_queries values
    index_df, scfg, _ = load_index(spark, store)
    rows, _sources = I.bulk_queries(corpus.docs, run.rng(5))
    out["bloom_search.hash_queries_s"] = _median_wall(lambda: hash_queries(rows, scfg), reps=3)
    qdf = spark.createDataFrame(rows, "query_id string, query_text string").localCheckpoint(eager=True)
    probe = [(q, t) for q, t, _ in I.spans(corpus.docs, run.rng(6), 4, "q")]
    calls = [("probe", True, lambda: search(spark, index_df, probe, scfg, 100, B)),
             ("bulk_broadcast", True,
              lambda: search_df(spark, index_df, qdf, scfg, 75, B, broadcast_queries=True)),
             ("bulk_shuffle", False,
              lambda: search_df(spark, index_df, qdf, scfg, 75, B, broadcast_queries=False))]
    tiers = dict.fromkeys(TIERS, 0)
    plan_s = exec_s = 0.0
    n_rows = 0
    for name, broadcast, plan in calls:
        df, w = step(f"search.{name}.plan", plan)
        plan_s += w
        res, w = step(f"search.{name}.exec", df.collect)
        exec_s += w
        n_rows += len(res)
        tiers[search_tier(df, broadcast)] += 1
        if name == "bulk_broadcast":
            out["bloom_search.decoy_hits"] = len({r["query_id"] for r in res if r["query_id"].startswith("d")})
    out.update({"bloom_search.plan_s": plan_s, "bloom_search.exec_s": exec_s,
                "bloom_search.result_rows": n_rows})

    # the joined fallback: a shuffled query file past the cogroup cap,
    # its spans from the first sample bucket and the search scoped to it
    # (sample_ids prunes the other buckets before the join), so that one
    # call of this slowest plan fits the run; a false negative fails it
    scope = corpus.docs.iloc[:B]
    big = I.spans(scope, run.rng(7), I.JOINED_QUERIES, "j", distinct=False)
    jdf = spark.createDataFrame([(q, t) for q, t, _ in big],
                                "query_id string, query_text string").localCheckpoint(eager=True)
    df, plan_w = step("search.joined.plan", lambda: search_df(
        spark, index_df, jdf, scfg, 75, B, broadcast_queries=False, sample_ids=list(range(len(scope)))))
    res, exec_w = step("search.joined.exec", df.collect)
    out["bloom_search.joined_s"] = plan_w + exec_w
    tiers[search_tier(df, False)] += 1
    out.update({f"bloom_search.tier_{t}": c for t, c in tiers.items()})
    run.attempted += 1
    missing = found_sources(res, {q: src for q, _, src in big})
    if missing:
        run.failed += 1
        print(f"perfbench: joined search missed {len(missing)} spans", file=sys.stderr)

    append = run.to_spark(corpus.append)
    _, out["bloom_update.update_s"] = step(
        "update", lambda: update_store(spark, store, append, cfg, sample_bucket_size=B))
    manifest, out["bloom_update.compact_s"] = step("compact", lambda: compact_store(spark, store))
    out["bloom_update.bytes_rewritten"] = _dir_bytes(os.path.join(store, "index", f"seg={manifest['segments'][0]}"))
    _, out["bloom_update.vacuum_s"] = step("vacuum", lambda: vacuum_store(store))
    out["bloom_update.store_bytes_after"] = store_summary(spark, store)["stored_bytes"]
    shutil.rmtree(store, ignore_errors=True)

    _, out["dedup.signature_s"] = step("minhash_bands", lambda: noop(minhash_bands(docs)))
    pairs, _ = step("lsh_candidates", lambda: minhash_lsh_candidates(docs).select(
        F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")).collect())
    found = {(r["a"], r["b"]) for r in pairs}
    out["dedup.candidate_pairs"] = len(found)
    planted = {(min(a, b), max(a, b)) for a, b, _ in corpus.planted}
    out["dedup.planted_recall"] = len(planted & found) / len(planted) if planted else float("nan")
    return out
