"""End-to-end corpus-curation pipeline: the LLM-data operators composed
into the actual training-prep workflow, with stage invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3_redshift_backup_tool_spark.operators import dedup as dd
from s3_redshift_backup_tool_spark.operators.sampling import sample_by_hash
from s3_redshift_backup_tool_spark.plans.curate import curate_corpus


def test_curate_corpus_end_to_end(spark, documents, tmp_path):
    docs = documents
    # a held-out "benchmark": 5% of docs by hash
    eval_docs = sample_by_hash(docs, "doc_id", 0.05, salt="eval")
    train_in = docs.join(eval_docs.select("doc_id"), "doc_id", "left_anti")

    out_path = str(tmp_path / "corpus")
    res = curate_corpus(
        spark, train_in, eval_docs,
        out_path=out_path,
        min_quality=0.2,
        per_source_cap=50,
        pack_budget=512,
        pack_buckets=8,
        max_records_per_file=64,
    )

    c = res.counts
    # monotone shrinkage through the funnel
    assert c["input"] >= c["exact_dedup"] >= c["near_dedup"] >= c["quality"]
    assert c["quality"] >= c["decontaminated"] >= c["source_capped"]
    assert c["packed"] == c["source_capped"] > 0

    out = spark.read.parquet(out_path)
    assert out.count() == c["packed"]

    # invariant: no surviving near-dup pairs among the output docs — no
    # LSH candidate pair among them passes the exact Jaccard verify
    shipped = out.select("doc_id", "text")
    leftover_pairs = dd.verify_jaccard(
        dd.lsh_pairs(shipped, num_hashes=16, bands=8), shipped,
        threshold=0.5).count()
    assert leftover_pairs == 0

    # invariant: no output doc is contaminated vs the eval corpus
    overlap = dd.decontaminate_overlap(out.select("doc_id", "text"),
                                       eval_docs, threshold=0.5)
    assert overlap.filter(F.col("contaminated")).count() == 0

    # invariant: per-source cap holds
    per_src = (out.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
               .agg(F.max("n")).collect()[0][0])
    assert per_src <= 50

    # invariant: packs respect budget + largest-member bound and shards
    # are bucket directories
    packs = (out.groupBy("pack_id")
             .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
             .collect())
    assert all(r["tot"] < 512 + r["mx"] for r in packs)
    assert c["shards"] == out.select("bucket").distinct().count()

    # determinism: rerun produces the identical doc set
    res2 = curate_corpus(
        spark, train_in.repartition(11), eval_docs,
        out_path=None, min_quality=0.2, per_source_cap=50,
        pack_budget=512, pack_buckets=8)
    assert res2.counts["packed"] == c["packed"]


def test_curate_scrubs_pii_before_packing(spark, tmp_path):
    from s3_redshift_backup_tool_spark.plans.curate import curate_corpus

    base = ("the quick brown fox jumps over the lazy dog and then some "
            "more words to pass the quality gate with varied tokens here")
    docs = spark.createDataFrame(
        [(i, f"{base} contact u{i}@mail.example.org now", f"s{i % 2}")
         for i in range(8)],
        "doc_id long, text string, source string")
    out = str(tmp_path / "corpus")
    curate_corpus(spark, docs, out_path=out, scrub_pii_text=True,
                  min_quality=0.0, pack_budget=64, pack_buckets=4)
    shipped = spark.read.parquet(out)
    assert shipped.filter(F.col("text").contains("@")).count() == 0
    assert shipped.filter(F.col("text").contains("<EMAIL>")).count() == \
        shipped.count()


def test_curate_gopher_gate_runs_first(spark, documents):
    from s3_redshift_backup_tool_spark.operators.text import gopher_rules
    res = curate_corpus(spark, documents, gopher_min_words=40,
                        min_quality=0.0, pack_buckets=4)
    c = res.counts
    expected = (gopher_rules(documents, min_words=40)
                .filter("gopher_keep").count())
    assert c["rule_gate"] == expected
    assert 0 < c["rule_gate"] < c["input"]
    assert c["rule_gate"] >= c["exact_dedup"] >= c["near_dedup"]


def test_curate_classifier_gate(spark, documents):
    """The optional learned gate drops exactly the docs scoring under
    the threshold (verified against a direct logreg_score pass), sits
    between quality and decontamination in the funnel counts, and
    leaves no feature/score columns on the survivors."""
    from s3_redshift_backup_tool_spark.operators.classifier import (
        logreg_score, logreg_train, surface_features)

    docs = documents
    feats = surface_features(docs, "text").withColumn(
        "y", F.when(F.col("lang") == "en", 1.0).otherwise(0.0))
    w = logreg_train(feats, ["f1", "f2", "f3"], "y", iters=3)
    # threshold from the score distribution (unnormalized features put
    # the absolute scale anywhere; a production run reads it off the
    # PR curve the same way)
    thr = float(logreg_score(surface_features(docs, "text"), w,
                             ["f1", "f2", "f3"])
                .agg(F.expr("percentile(p_quality, 0.5)")).first()[0])

    res = curate_corpus(
        spark, docs,
        min_quality=0.0,
        classifier_weights=w,
        classifier_min_p=thr,
    )
    assert "classifier_gate" in res.counts
    assert res.counts["quality"] >= res.counts["classifier_gate"] > 0

    # gate selectivity: the count after dedup+quality, re-scored
    # directly, must equal the pipeline's gate count
    survivors = docs
    canon = dd.exact_dedup(survivors, "text", "doc_id").select(
        F.col("canonical_id").alias("doc_id"))
    survivors = survivors.join(canon, "doc_id", "left_semi")
    pairs = dd.verify_jaccard(
        dd.lsh_pairs(survivors, "text", "doc_id", num_hashes=16, bands=8),
        survivors, "text", "doc_id", threshold=0.5)
    comp = dd.neardup_components(pairs)
    dupes = comp.filter(F.col("doc_id") != F.col("component")) \
                .select("doc_id")
    survivors = survivors.join(dupes, "doc_id", "left_anti")
    from s3_redshift_backup_tool_spark.operators import text as tx
    rep = tx.repetition_signals(survivors, "text", "doc_id")
    survivors = survivors.join(
        rep.filter(F.col("repetition_ok")).select("doc_id"),
        "doc_id", "left_semi") \
        .filter(tx.quality_score(F.col("text")) >= 0.0)
    expected = (logreg_score(surface_features(survivors, "text"), w,
                             ["f1", "f2", "f3"])
                .filter(F.col("p_quality") >= thr).count())
    assert res.counts["classifier_gate"] == expected


def test_curate_dsir_stage_targets_domain(spark, documents):
    """The optional DSIR stage keeps target-looking docs: with target =
    lang 'en' and a floor of 0 (above the raw-corpus average ratio),
    the surviving set must be en-enriched vs the stage input, the count
    key must appear between quality and decontamination, and disabling
    the stage (default args) must leave counts un-keyed."""
    res = curate_corpus(
        spark, documents, None,
        min_quality=0.0,
        dsir_target=F.col("lang") == "en",
        dsir_min_avg_logratio=0.0,
        dsir_buckets=512,
    )
    assert "dsir_selected" in res.counts
    assert res.counts["quality"] >= res.counts["dsir_selected"] > 0

    # enrichment: en share among survivors > en share among input
    res_off = curate_corpus(spark, documents, None, min_quality=0.0)
    assert "dsir_selected" not in res_off.counts


def _shingles(text: str, n: int = 3) -> frozenset:
    """Distinct word n-grams as ``dedup.word_shingles`` builds them (a doc
    shorter than n words is one shingle)."""
    toks = text.split(" ")
    return frozenset(" ".join(toks[i:i + n])
                     for i in range(max(len(toks) - n, 0) + 1))


def test_curate_neardup_removes_only_verified_duplicates(
        spark, documents, monkeypatch):
    """Every doc the near-dup stage removes has another exact-dedup
    survivor at word-3-gram Jaccard >= 0.5 (computed here in plain
    Python): an LSH band collision alone never removes a doc."""
    seen = {}
    real = dd.neardup_components

    def spy(*args, **kwargs):
        seen["comp"] = real(*args, **kwargs)
        return seen["comp"]

    monkeypatch.setattr(dd, "neardup_components", spy)
    res = curate_corpus(spark, documents, min_quality=0.0, pack_buckets=4)
    removed = {r[0] for r in seen["comp"]
               .filter(F.col("doc_id") != F.col("component"))
               .select("doc_id").collect()}
    assert len(removed) == res.counts["exact_dedup"] - res.counts["near_dedup"]

    survivors: dict[str, int] = {}
    for i, t in documents.select("doc_id", "text").collect():
        survivors[t] = min(survivors.get(t, i), i)
    sh = {i: _shingles(t) for t, i in survivors.items()}
    assert removed <= sh.keys()
    for i in removed:
        assert any(len(sh[i] & s) / len(sh[i] | s) >= 0.5
                   for j, s in sh.items() if j != i), (
            f"doc {i} removed with no near duplicate")


def test_curate_reads_each_stage_boundary_once(spark, documents, tmp_path):
    """Each stage boundary is computed once and counted from the cache,
    and the shard write reads the cached rows: one call on the documents
    fixture runs ~30 Spark jobs. Re-running the lineage under every
    stage count and again for the write took ~65."""
    sc = spark.sparkContext
    sc.setJobGroup("curate-jobs-fence", "curate jobs fence")
    try:
        curate_corpus(spark, documents, out_path=str(tmp_path / "corpus"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("curate-jobs-fence")
    assert len(jobs) <= 45, f"{len(jobs)} Spark jobs for one curate call"


def test_curate_leaves_no_cached_frames(spark, documents, monkeypatch):
    """Each stage boundary is released once the next one is counted, so
    at most two are cached at once; none is left after a call, or after
    a call whose stage raises; a caller-cached input stays cached."""
    from s3_redshift_backup_tool_spark.operators import text as tx

    cache = spark._jsparkSession.sharedState().cacheManager()
    # start from an empty cache manager: other test modules leave frames
    # cached on the shared session
    spark.catalog.clearCache()

    persisted: list = []
    live_before: list[int] = []
    frame_cls = type(documents)  # the classic DataFrame subclass
    real_persist = frame_cls.persist

    def recording_persist(self, *args, **kwargs):
        # how many earlier boundaries are still cached as this one starts
        live_before.append(sum(cache.lookupCachedData(d._jdf).isDefined()
                               for d in persisted))
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(frame_cls, "persist", recording_persist)
        curate_corpus(spark, documents, gopher_min_words=40,
                      min_quality=0.0, pack_buckets=4)
    # rule gate, exact, near, quality, packed
    assert len(live_before) == 5
    assert live_before[0] == 0 and max(live_before) == 1, live_before
    assert cache.isEmpty()

    def boom(*args, **kwargs):
        raise RuntimeError("quality stage failed")

    with monkeypatch.context() as m, \
            pytest.raises(RuntimeError, match="quality stage failed"):
        m.setattr(tx, "repetition_signals", boom)
        curate_corpus(spark, documents)
    assert cache.isEmpty()

    mine = documents.select("doc_id", "text", "source").cache()
    try:
        mine.count()
        curate_corpus(spark, mine, min_quality=0.0, pack_buckets=4)
        assert cache.lookupCachedData(mine._jdf).isDefined()
    finally:
        mine.unpersist()
    assert cache.isEmpty()


def test_curate_shards_to_file_uri(spark, documents, tmp_path):
    """A ``file://`` output is listed through the Hadoop FileSystem, so
    the shard count works for URI outputs."""
    out = (tmp_path / "corpus").as_uri()
    res = curate_corpus(spark, documents, out_path=out, min_quality=0.0,
                        pack_buckets=4)
    written = spark.read.parquet(out)
    assert written.count() == res.counts["packed"]
    assert res.counts["shards"] == \
        written.select("bucket").distinct().count() > 0
