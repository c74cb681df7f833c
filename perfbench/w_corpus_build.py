"""corpus_build: a nightly corpus build over a seeded synthetic corpus
with planted exact and near duplicates.

Each pass runs the three public stages a build calls, each forced by
collecting its ids: ``prepare_corpus(near_dup=True)``,
``ngram_jaccard_pairs(n=3, threshold=0.3)`` and ``decontaminate``
against an eval set drawn from the corpus. The 30-token vocabulary makes
every 3-gram shared by many documents, so the n-gram and MinHash kernels
carry the time, not the per-action floor.
"""

from __future__ import annotations

import hashlib
import os
import time
from statistics import fmean

import pyarrow as pa
import pyarrow.parquet as pq
from common import JobCounter, Result, median, pct

import gen

#: documents per corpus at scale 1
N_DOCS = 8000

#: stage → the layer its span is named after
STAGES = {
    "corpus.prepare": "llm.pipeline",
    "corpus.ngram": "llm.dedup",
    "corpus.decontaminate": "llm.pipeline",
}


def setup(ctx, spark) -> dict:
    c = gen.corpus(ctx.seed, max(int(N_DOCS * ctx.scale), 200), exact_frac=0.02, near_frac=0.02)
    d = os.path.join(ctx.work, "corpus")
    os.makedirs(d)
    pq.write_table(pa.table({"doc_id": pa.array(c["doc_id"], pa.int64()), "text": c["text"]}),
                   os.path.join(d, "docs.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(c["eval_ids"], pa.int64()),
        "text": [c["text"][k] for k in c["eval_ids"]],
    }), os.path.join(d, "eval.parquet"))
    spark.range(1).mapInPandas(lambda it: it, "id long").count()
    return {"dir": d, "truth": c}


def teardown(state: dict) -> None:
    pass


def _inputs(spark, d: str):
    par = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(os.path.join(d, "docs.parquet")).repartition(par)
    return docs, spark.read.parquet(os.path.join(d, "eval.parquet"))


def _stage_calls(spark, d: str):
    """(unit, build, force) per stage: ``build`` returns the stage's
    DataFrame, ``force`` collects what the gates check."""
    from pyspark.sql import functions as F

    from dataworks_spark.llm.dedup import ngram_jaccard_pairs
    from dataworks_spark.llm.pipeline import CorpusConfig, decontaminate, prepare_corpus

    docs, ev = _inputs(spark, d)
    return (
        ("corpus.prepare", lambda: prepare_corpus(docs, config=CorpusConfig(near_dup=True)),
         lambda df: sorted(tuple(r) for r in df.select("doc_id", "fingerprint").collect())),
        ("corpus.ngram", lambda: ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3),
         lambda df: sorted(tuple(r) for r in df.select("doc_a", "doc_b").collect())),
        ("corpus.decontaminate", lambda: decontaminate(docs, ev, ngram_n=5, mark_only=True),
         lambda df: sorted(r[0] for r in df.filter(F.col("contaminated")).select("doc_id").collect())),
    )


def _check(unit: str, out, truth: dict, faults: set) -> list:
    """Gate one stage's output against the planted structure."""
    bad = []
    if unit == "corpus.prepare":
        kept = {r[0] for r in out}
        if "keep_exact_dup" in faults:
            kept.add(truth["exact_pairs"][0][1])
        bad = [p for p in truth["exact_pairs"] if p[1] in kept]
    elif unit == "corpus.ngram":
        found = {(min(a, b), max(a, b)) for a, b in out}
        bad = [p for p in truth["near_pairs"] if p not in found]
    else:
        bad = sorted(set(truth["eval_ids"]) - set(out))
    return [(unit, b) for b in bad[:5]]


def _stage_breakdown(ctx, spark, d: str) -> dict:
    """Traced run only: call each public stage prepare_corpus is made
    of, forced on its own, and count what the dedup stages produce."""
    from pyspark.sql import functions as F

    from dataworks_spark.llm.dedup import (
        dedup_keep_canonical,
        exact_dedup_keepers,
        minhash_near_dup_pairs,
    )
    from dataworks_spark.llm.text import quality_features, repetition_features

    tr = ctx.tracer
    docs, _ = _inputs(spark, d)
    out = {}
    with tr.span("llm.dedup", stage="exact_keepers"):
        t0 = time.perf_counter()
        keepers = exact_dedup_keepers(docs, "text", "doc_id").select(F.col("keeper_id").alias("doc_id"))
        keepers.count()
        out["llm.dedup.exact_keepers_s"] = time.perf_counter() - t0
    deduped = docs.join(keepers, on="doc_id", how="left_semi").localCheckpoint()
    with tr.span("llm.dedup", stage="minhash_pairs"):
        t0 = time.perf_counter()
        pairs = minhash_near_dup_pairs(deduped, "doc_id", "text", threshold=0.5).localCheckpoint()
        n_pairs = pairs.count()
        out["llm.dedup.minhash_pairs_s"] = time.perf_counter() - t0
    with tr.span("llm.dedup", stage="canonical"):
        t0 = time.perf_counter()
        n_canon = dedup_keep_canonical(deduped, "doc_id", pairs).count()
        out["llm.dedup.canonical_s"] = time.perf_counter() - t0
    with tr.span("llm.text", stage="features"):
        t0 = time.perf_counter()
        q = quality_features(F.col("text"))
        rep = repetition_features(F.col("text"))
        docs.agg(F.sum(q["quality_score"]), F.sum(q["n_tokens"]), F.sum(rep["dup_3gram_ratio"])).collect()
        out["llm.text.features_s"] = time.perf_counter() - t0
    removed = deduped.count() - n_canon
    out["llm.dedup.minhash_pairs"] = n_pairs
    out["llm.dedup.near_dup_yield"] = removed / max(n_pairs, 1)
    return out


def run(ctx, spark, state: dict) -> Result:
    tr = ctx.tracer
    counter = JobCounter(spark, ctx.trace)
    d, truth = state["dir"], state["truth"]
    calls = _stage_calls(spark, d)
    attempted = failed = 0
    errors: list = []
    passes: list[dict] = []

    def one_pass(traced: bool) -> dict:
        nonlocal attempted, failed
        tr.enabled = counter.enabled = traced
        p = {"build": {}, "exec": {}, "digest": hashlib.sha256(), "n": {}, "traced": traced}
        t_pass = time.perf_counter()
        for unit, build, force in calls:
            attempted += 1
            try:
                with counter.group(unit), tr.span(STAGES[unit], stage=unit):
                    t0 = time.perf_counter()
                    df = build()
                    t1 = time.perf_counter()
                    out = force(df)
                    t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — a failed stage is a counted failure
                failed += 1
                errors.append((unit, repr(exc)[:300]))
                continue
            p["build"][unit], p["exec"][unit] = t1 - t0, t2 - t1
            p["n"][unit] = len(out)
            p["digest"].update(repr(out).encode())
            bad = _check(unit, out, truth, ctx.faults)
            if bad:
                failed += 1
                errors.extend(bad)
        p["wall"] = time.perf_counter() - t_pass
        p["digest"] = p["digest"].hexdigest()
        return p

    passes.append(one_pass(ctx.trace))
    t_warm = time.perf_counter()
    while True:
        passes.append(one_pass(ctx.trace and len(passes) % 2 == 1))
        warm = passes[1:]
        if len(warm) >= 2 and time.perf_counter() - t_warm + median(p["wall"] for p in warm) > ctx.seconds:
            break
    digests = {p["digest"] for p in passes}
    if len(digests) != 1:
        failed += 1
        errors.append(("digest", sorted(digests)))

    cold, warm = passes[0], passes[1:]
    ops = [(p["build"][u] + p["exec"][u]) * 1000 for p in warm for u in p["exec"]]
    acks = [p["build"][u] * 1000 for p in warm for u in p["build"]]
    fresh = [cold["build"][u] + cold["exec"][u] for u in cold["exec"]]
    e2e = {
        "cold_s": cold["wall"],
        "pass_s": median(p["wall"] for p in warm),
        "op_mean_ms": fmean(ops),
        "op_p50_ms": pct(ops, 50),
        "op_p90_ms": pct(ops, 90),
        "ack_p50_ms": pct(acks, 50),
        "ack_p90_ms": pct(acks, 90),
        "fresh_p50_s": pct(fresh, 50),
        "fresh_p90_s": pct(fresh, 90),
    }
    layer = {}
    if ctx.trace:
        traced = [p for p in passes if p["traced"]]
        untraced = [p for p in warm if not p["traced"]]
        tr.enabled = True
        layer.update({k: v / len(traced) for k, v in counter.metrics().items()})
        for unit, name in (("corpus.prepare", "llm.pipeline.prepare_s"),
                           ("corpus.ngram", "llm.dedup.ngram_pairs_s"),
                           ("corpus.decontaminate", "llm.pipeline.decontaminate_s")):
            layer[name] = median(p["build"][unit] + p["exec"][unit] for p in traced if unit in p["exec"])
        layer["llm.dedup.ngram_pairs"] = cold["n"].get("corpus.ngram", 0)
        layer["llm.pipeline.kept_docs"] = cold["n"].get("corpus.prepare", 0)
        layer["llm.pipeline.removed_docs"] = len(truth["doc_id"]) - cold["n"].get("corpus.prepare", 0)
        layer.update(_stage_breakdown(ctx, spark, d))
        layer["trace.overhead_s"] = (
            median(p["wall"] for p in traced[1:]) - median(p["wall"] for p in untraced)
        )
    record = {
        "n_docs": len(truth["doc_id"]),
        "pass_wall_s": [p["wall"] for p in passes],
        "stage_s": {u: [p["build"].get(u, 0) + p["exec"].get(u, 0) for p in passes] for u in STAGES},
        "outputs": cold["n"],
        "digest": cold["digest"],
        "errors": errors,
    }
    return Result(not errors, attempted, failed, e2e, layer, record)
