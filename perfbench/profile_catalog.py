#!/usr/bin/env python3
"""Per-query profile of the catalog, from which the ``catalog_sf0.1`` sample
is picked, and the sample's figures next to the full sets':

    python3 perfbench/profile_catalog.py

Runs, on the benchmark's generated sf0.1 tables in one session, every light
query (the ones that read neither ``documents`` nor ``embeddings``) and the
ten corpus queries: one untimed pass, then one traced pass that records each
query's op time (build + full evaluation through the ``noop`` sink), its
build time and the operator modules it calls. Writes the records to
``.perfbench/catalog-profile.json`` and prints, for the light set and the
corpus set, op time p50 and p90 and the build share of op time, for all the
queries and for the sample (``workloads.LIGHT_OPS`` and ``HEAVY_OPS``).
Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import run as bench

CORPUS_OPS = [
    "bitext_margin_ann",
    "semantic_dedup_ann",
    "minhash_estimator_quality",
    "ivfpq_topk",
    "neardup_clusters_star",
    "ngram_jaccard_pairs",
    "copurchase_pairs",
    "bloom_decontaminate",
    "media_phash_dedup",
    "simhash_hamming_pairs",
]


def figures(records: dict, names: list[str]) -> dict:
    wall = [records[n]["wall_s"] for n in names]
    build = sum(records[n]["build_s"] for n in names)
    return {
        "queries": len(names),
        "p50_s": round(statistics.median(wall), 3),
        "p90_s": round(statistics.quantiles(wall, n=10)[8], 3),
        "build_share": round(build / sum(wall), 3),
    }


def profile(spark, catalog, sf_dir: str, names: list[str]) -> dict:
    import tracing

    for name in names:  # untimed pass: JIT compilation of a fresh JVM
        getattr(catalog, "_LSH_EDGES_MEMO", {}).clear()
        catalog.SPARK_QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    tracer = tracing.Tracer(spark)
    tracer.install()
    records = {}
    try:
        for i, name in enumerate(names):
            getattr(catalog, "_LSH_EDGES_MEMO", {}).clear()
            calls = {k: c for k, (c, _) in tracer.spans.items()}
            t0 = time.perf_counter()
            tracer.phase(i, "build")
            df = catalog.SPARK_QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            tracer.phase(i, "exec")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            tracer.finish_op(i, name, t1 - t0, t2 - t0)
            modules = sorted(
                k.split(".", 1)[1]
                for k, (c, _) in tracer.spans.items()
                if k.startswith("operators.") and c > calls.get(k, 0)
            )
            records[name] = {"wall_s": t2 - t0, "build_s": t1 - t0, "operators": modules}
            bench.log(f"{name}: {t2 - t0:.3f} s, build {t1 - t0:.3f} s, {modules}")
    finally:
        tracer.close()
    return records


def main() -> int:
    sys.path[:0] = [bench.ROOT, bench.HERE]
    import workloads
    from tests.oracle import catalog_table_reads

    bench._prepare_env()
    from bytesme_etl_batch_pipeline_spark.plans import queries as catalog

    reads = catalog_table_reads()
    light = [n for n in catalog.SPARK_QUERIES if not reads.get(n, set()) & {"documents", "embeddings"}]
    sf_dir = workloads.ensure_catalog_tables(bench.WORK, workloads.CATALOG_SF)
    session = bench.Session()
    try:
        bench._start_python_workers(session.spark)
        records = profile(session.spark, catalog, sf_dir, light + CORPUS_OPS)
    finally:
        session.stop()
    summary = {
        "light": {"all": figures(records, light), "sample": figures(records, workloads.LIGHT_OPS)},
        "corpus": {"all": figures(records, CORPUS_OPS), "sample": figures(records, workloads.HEAVY_OPS)},
    }
    with open(os.path.join(bench.WORK, "catalog-profile.json"), "w") as f:
        json.dump({"summary": summary, "queries": records}, f, indent=1)
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
