"""query_mix: one closed-loop client runs rounds over a fixed subset of
the query registry; every execution is builder call + ``count()``.

The subset keeps one query per family so that a cold round and the
warm rounds fit one run; the families are the layers a query lands in.
The tables are generated from a fixed data seed, so the expected row counts can be committed beside this file
(``expected_counts.json``, cross-checked against the DuckDB oracle SQL
when they were made). ``--seed`` orders the queries of each warm round;
the cold round always runs in name order so that the first touch of
each cached table lands on the same query.
"""

from __future__ import annotations

import json
import os
import random
import time
from statistics import fmean

from common import FAMILIES, JobCounter, Result, median, pct

import gen

#: data seed of the generated tables; the committed counts belong to it
DATA_SEED = 20261017

#: query → family (the layer that runs it): one query for each layer
#: the benchmark names. The multimodal and similarity families are left
#: out: their queries cost as much as the rest of a cold round together
#: and would not leave time for the other workload.
SUBSET = {
    "q_join_star": "ops",
    "q_doc_store": "docs.store",
    "q_datalog_join": "docs.datalog",
    "q_dedup_clusters": "llm.dedup",
    "q_decontaminate": "llm.text",
}

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_counts.json")


def setup(ctx, spark) -> dict:
    from dataworks_spark.queries import QUERIES

    sf_dir = os.path.join(ctx.work, "tables")
    gen.write_tables(sf_dir, DATA_SEED, ctx.scale)
    # start the Python worker pool (session-level process state)
    spark.range(1).mapInPandas(lambda it: it, "id long").count()
    return {"sf_dir": sf_dir, "queries": {q: QUERIES[q] for q in SUBSET}}


def teardown(state: dict) -> None:
    pass


def _expected(ctx) -> dict[str, int]:
    with open(EXPECTED_PATH) as f:
        exp = json.load(f)[str(ctx.scale)]
    if "wrong_count" in ctx.faults:
        exp = {**exp, "q_join_star": exp["q_join_star"] + 1}
    return exp


def run(ctx, spark, state: dict) -> Result:
    from dataworks_spark.queries import ASSET_BUILD_SECONDS

    tr = ctx.tracer
    counter = JobCounter(spark, ctx.trace)
    expected = _expected(ctx)
    sf_dir, queries = state["sf_dir"], state["queries"]
    rng = random.Random(ctx.seed)
    assets_before = dict(ASSET_BUILD_SECONDS)
    attempted = failed = 0
    mismatches: list = []
    rounds: list[dict] = []

    def one_round(order: list[str], traced: bool, count: bool) -> dict:
        nonlocal attempted, failed
        tr.enabled = traced
        counter.enabled = count
        out = {"build": {}, "exec": {}, "wall": 0.0, "traced": traced}
        t_round = time.perf_counter()
        for q in order:
            fam = SUBSET[q]
            attempted += 1
            try:
                with counter.group(fam):
                    t0 = time.perf_counter()
                    with tr.span("queries", query=q, family=fam):
                        df = queries[q](spark, sf_dir)
                    t1 = time.perf_counter()
                    with tr.span(fam, query=q):
                        n = df.count()
                    t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — one failed query is a counted failure
                failed += 1
                mismatches.append((q, repr(exc)[:300]))
                continue
            out["build"][q], out["exec"][q] = t1 - t0, t2 - t1
            if n != expected[q]:
                failed += 1
                mismatches.append((q, n, expected[q]))
        out["wall"] = time.perf_counter() - t_round
        return out

    names = sorted(SUBSET)
    rounds.append(one_round(names, ctx.trace, False))
    t_warm = time.perf_counter()
    while True:
        order = names[:]
        rng.shuffle(order)
        # in a traced run, every other warm round runs untraced: the
        # difference is the tracing overhead
        traced = ctx.trace and len(rounds) % 2 == 1
        rounds.append(one_round(order, traced, traced))
        warm = rounds[1:]
        spent = time.perf_counter() - t_warm
        if len(warm) >= 2 and spent + median(r["wall"] for r in warm) > ctx.seconds:
            break
    tr.enabled = ctx.trace

    cold, warm = rounds[0], rounds[1:]
    ops_ms = [(b + e) * 1000 for r in warm for b, e in zip(r["build"].values(), r["exec"].values())]
    acks = [b * 1000 for r in warm for b in r["build"].values()]
    fresh = [cold["build"][q] + cold["exec"][q] for q in cold["build"]]
    e2e = {
        "cold_s": cold["wall"],
        "pass_s": median(r["wall"] for r in warm),
        "op_mean_ms": fmean(ops_ms),
        "op_p50_ms": pct(ops_ms, 50),
        "op_p90_ms": pct(ops_ms, 90),
        "ack_p50_ms": pct(acks, 50),
        "ack_p90_ms": pct(acks, 90),
        "fresh_p50_s": pct(fresh, 50),
        "fresh_p90_s": pct(fresh, 90),
    }
    asset_delta = {
        k: v - assets_before.get(k, 0.0) for k, v in ASSET_BUILD_SECONDS.items()
        if v - assets_before.get(k, 0.0) > 0
    }
    layer = {}
    if ctx.trace:
        traced = [r for r in warm if r["traced"]]
        untraced = [r for r in warm if not r["traced"]]
        for fam in FAMILIES:
            layer[f"queries.build_ms.{fam}"] = 1000 * sum(
                r["build"][q] for r in traced for q in r["build"] if SUBSET[q] == fam
            ) / len(traced)
            layer[f"queries.exec_ms.{fam}"] = 1000 * sum(
                r["exec"][q] for r in traced for q in r["exec"] if SUBSET[q] == fam
            ) / len(traced)
        # job counts per warm traced round
        layer.update({k: v / len(traced) for k, v in counter.metrics().items()})
        layer["queries.asset_build_s"] = sum(asset_delta.values())
        layer["trace.overhead_s"] = (
            median(r["wall"] for r in traced) - median(r["wall"] for r in untraced)
        )
    record = {
        "queries": sorted(SUBSET),
        "round_wall_s": [r["wall"] for r in rounds],
        "per_query_s": {
            q: [r["build"].get(q, 0) + r["exec"].get(q, 0) for r in rounds] for q in names
        },
        "asset_build_s": asset_delta,
        "mismatches": mismatches,
        "op_samples": len(ops_ms),
    }
    return Result(not mismatches, attempted, failed, e2e, layer, record)
