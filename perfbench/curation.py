"""The ``curate`` workload: ``plans.curate.curate_corpus`` on a generated
corpus with planted exact and near duplicates, an overlapping eval set
and four sources of skewed size.

The corpus does not depend on ``--seed``. Every ``curate_corpus`` call
on it breaks near-dup precision (the near-dup stage removes docs that
have no near duplicate), and each such call counts as a failed
operation; a corpus drawn from the seed would make that count depend on
the seed instead of on the program.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s3_redshift_backup_tool_spark.operators import dedup as dd
from s3_redshift_backup_tool_spark.operators import text as tx
from s3_redshift_backup_tool_spark.operators.sampling import pack_sequences
from s3_redshift_backup_tool_spark.plans.curate import curate_corpus

import checks
import gen
from tracing import CallTimer, patched

CORPUS_SEED = 20_240_601
CORPUS_DOCS = 1_000                 # unique base docs, before planted copies
CONTAMINATION = 0.5
SOURCE_CAP = 400
PACK_BUDGET = 2048
MIN_WARM_CALLS = 1


class Capture:
    """Keeps what ``curate_corpus`` hands the near-dup components stage
    and gets back, so the removed docs can be checked after the call."""

    def __init__(self):
        self.comp: DataFrame | None = None

    def components(self, orig):
        def wrapper(*args, **kwargs):
            self.comp = orig(*args, **kwargs)
            return self.comp
        return wrapper

    def removed(self) -> set[int]:
        rows = self.comp.filter(F.col("doc_id") != F.col("component")) \
            .select("doc_id").collect()
        return {r[0] for r in rows}


def stage_cuts(ctx, docs: DataFrame, eval_docs: DataFrame,
               facts: checks.CurateFacts) -> None:
    """``curate_corpus``'s stages one at a time, as the plan composes them.
    Each stage starts from its predecessor's checkpointed output, so a
    stage's time is its own work; the LSH candidate pairs are collected
    (untimed) for the precision and recall counts."""
    tr = ctx.tracer

    def stage(name, build):
        with tr.span(name):
            t = time.perf_counter()
            out = build().localCheckpoint(eager=True)
            tr.sample(name, time.perf_counter() - t)
        return out

    d0 = docs.localCheckpoint(eager=True)
    d1 = stage("dedup.exact_s", lambda: d0.join(
        dd.exact_dedup(d0, "text", "doc_id")
        .select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi"))
    pairs = stage("dedup.lsh_pairs_s", lambda: dd.lsh_pairs(
        d1, "text", "doc_id", num_hashes=16, bands=8, max_bucket_size=64))
    d2 = stage("dedup.components_s", lambda: d1.join(
        dd.neardup_components(pairs, pairs_distinct=True)
        .filter(F.col("doc_id") != F.col("component")).select("doc_id"),
        "doc_id", "left_anti"))
    d3 = stage("text.quality_s", lambda: d2.join(
        tx.repetition_signals(d2, "text", "doc_id")
        .filter(F.col("repetition_ok")).select("doc_id"), "doc_id", "left_semi")
        .filter(tx.quality_score(F.col("text")) >= 0.3))
    d4 = stage("dedup.decontaminate_s", lambda: d3.join(
        dd.decontaminate_overlap(d3, eval_docs, "text", "doc_id",
                                 threshold=CONTAMINATION)
        .filter(F.col("contaminated")).select("doc_id"), "doc_id", "left_anti"))
    d5 = stage("text.source_cap_s", lambda: tx.stratified_sample(
        d4, "source", SOURCE_CAP, "doc_id"))
    stage("sampling.pack_s", lambda: d5.join(pack_sequences(
        d5, "doc_id", F.size(F.split(F.col("text"), " ")), budget=PACK_BUDGET)
        .select("doc_id", "n_tokens", "bucket", "pack_id"), "doc_id"))

    cand = [(r[0], r[1]) for r in pairs.collect()]
    cand_set = set(cand)
    tr.sample("dedup.candidate_pairs", len(cand))
    tr.sample("dedup.candidate_precision",
              checks.pair_precision(facts, cand) / max(len(cand), 1))
    tr.sample("dedup.planted_pairs", len(facts.near_pairs))
    tr.sample("dedup.planted_recall",
              sum((min(p), max(p)) in cand_set for p in facts.near_pairs)
              / max(len(facts.near_pairs), 1))


def curate(ctx) -> dict:
    c = gen.corpus(CORPUS_SEED, CORPUS_DOCS)
    docs_t, eval_t = gen.corpus_tables(c)
    docs_path = os.path.join(ctx.work, "corpus", "docs.parquet")
    eval_path = os.path.join(ctx.work, "corpus", "eval.parquet")
    gen.write_parquet(docs_t, docs_path)
    gen.write_parquet(eval_t, eval_path)
    facts = checks.CurateFacts(c, threshold=CONTAMINATION,
                               per_source_cap=SOURCE_CAP, pack_budget=PACK_BUDGET)
    ctx.log(f"corpus of {facts.n_input} docs generated")
    out_path = os.path.join(ctx.work, "shards")
    spark = ctx.spark
    calls: list[float] = []
    stored: list[float] = []

    def one_call(i: int) -> None:
        cap = Capture()
        counts = CallTimer()
        ends: list[float] = []

        def timed_count(orig):
            def wrapper(self):
                try:
                    return orig(self)
                finally:
                    ends.append(time.perf_counter())
            return counts.wrap("count", wrapper)

        docs = spark.read.parquet(docs_path)
        eval_docs = spark.read.parquet(eval_path)
        counters: dict = {}
        with contextlib.ExitStack() as stack:
            stack.enter_context(patched(dd, "neardup_components",
                                        cap.components(dd.neardup_components)))
            if ctx.traced:
                stack.enter_context(ctx.tracer.span(f"curate-{i}"))
                counters = stack.enter_context(ctx.counters.group(f"curate-{i}"))
                stack.enter_context(patched(type(docs), "count",
                                            timed_count(type(docs).count)))
            t = time.perf_counter()
            res = curate_corpus(spark, docs, eval_docs, out_path=out_path,
                                per_source_cap=SOURCE_CAP,
                                contamination_threshold=CONTAMINATION,
                                pack_budget=PACK_BUDGET)
            done = time.perf_counter()
        calls.append(done - t)
        ctx.log(f"curate call {i}: {done - t:.3f} s")
        checks.check_curate(facts, res.counts, checks.read_shards(out_path))
        removed = cap.removed()
        checks.require(len(removed) == res.counts["exact_dedup"] - res.counts["near_dedup"],
                       f"near-dup stage removed {len(removed)} docs, counts say "
                       f"{res.counts['exact_dedup'] - res.counts['near_dedup']}")
        bad = checks.neardup_violations(facts, removed)
        if bad:
            ctx.fail(f"near-dup stage removed {len(bad)} of {len(removed)} docs "
                     f"with no near duplicate (planted pairs: {len(facts.near_pairs)})")
        stored.append(checks.disk_bytes(out_path) / res.counts["packed"])
        if ctx.traced:
            for k, v in counters.items():
                ctx.tracer.sample(k, v)
            ctx.tracer.sample("curate.stage_count_s", counts.seconds["count"])
            ctx.tracer.sample("curate.shard_write_s", done - ends[-1])

    with ctx.tracer.paused():
        ctx.attempt(lambda: one_call(0))
    first_op = calls.pop(0)
    if ctx.traced:
        with ctx.tracer.span("stage-cuts"):
            stage_cuts(ctx, spark.read.parquet(docs_path),
                       spark.read.parquet(eval_path), facts)
    ctx.warm_rounds(one_call, MIN_WARM_CALLS)
    return {"first_op_s": first_op,
            "rows_per_s": facts.n_input / statistics.median(calls or [first_op]),
            "stored_bytes_per_row": statistics.median(stored)}
