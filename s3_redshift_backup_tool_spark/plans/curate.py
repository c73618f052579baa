"""End-to-end training-corpus curation plan.

Composes the LLM-data operators into the pipeline a 100 TB pretraining
corpus actually runs, in the cost-ordered sequence cheap-narrow ->
expensive-wide:

    0. rule gate          Gopher per-row rules (optional) — the cheapest
                          filter runs first so every later stage sees
                          fewer rows; pure codegen, zero shuffle
    1. exact dedup        digest groupBy (shuffle = 32B/row)
    2. near-dup dedup     MinHash -> LSH candidate pairs -> exact
                          word-3-gram Jaccard verify (>= 0.5)
                          -> connected components; keep each component's
                          canonical (min-id) doc
    3. quality filter     repetition signals + composite quality score —
                          pure narrow expressions, run AFTER dedup so the
                          expensive stages above see fewer rows... but
                          BEFORE would also be valid; dedup first keeps
                          the canonical-doc choice independent of quality
    3.8 DSIR selection    (optional) keep docs whose hashed-ngram
                          target-vs-raw log-likelihood ratio clears a
                          floor — domain-targeted selection (Xie'23)
                          on top of the domain-agnostic quality gates
    4. decontamination    drop train docs whose shingles overlap the
                          held-out eval corpus above a threshold
    5. per-source caps    deterministic stratified contribution limits
    6. sequence packing   token-budget pack ids, bucket-parallel
    7. shard write        partitioned by pack bucket -> each training
                          shard is one directory, maxRecordsPerFile
                          bounds shard file sizes

Every stage is a DataFrame transform from ``operators/``; nothing here
collects data to the driver. Each stage boundary is computed once: the
frame the plan assigns to ``docs`` (and the packed ``out``) is
``persist()``ed, and its surviving-row count is the job that fills the
cache. Later stages, later counts and the shard write read the cached
rows instead of re-deriving the lineage — every stage self-joins
``docs``, so an uncached count re-ran each earlier stage at least twice.
That is one job per boundary (localCheckpoint + count would be two), and
cached blocks keep their lineage if an executor is lost. Once a
boundary is counted, no later stage reads the one before it, so that one
is unpersisted then: at most two boundaries are cached at once, and the
last is unpersisted when the call returns or raises. The caller's input
frame is never persisted: unpersisting it would drop a cache the caller
owns.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import text as tx
from ..operators.manifest import child_dirs
from ..operators.sampling import pack_sequences


@dataclass
class CurationResult:
    counts: dict[str, int] = field(default_factory=dict)
    out_path: str | None = None


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    *,
    out_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str | None = "source",
    gopher_min_words: int | None = None,
    minhash_hashes: int = 16,
    minhash_bands: int = 8,
    lsh_max_bucket_size: int | None = 64,
    min_quality: float = 0.3,
    classifier_weights: list[float] | None = None,
    classifier_min_p: float | None = None,
    dsir_target=None,
    dsir_min_avg_logratio: float | None = None,
    dsir_buckets: int = 4096,
    contamination_threshold: float = 0.5,
    per_source_cap: int | None = None,
    scrub_pii_text: bool = False,
    pack_budget: int = 2048,
    pack_buckets: int = 32,
    max_records_per_file: int | None = None,
) -> CurationResult:
    """Run the full curation pipeline; see module docstring for stages."""
    res = CurationResult(out_path=out_path)
    res.counts["input"] = docs.count()
    held: list[DataFrame] = []

    def boundary(name: str, df: DataFrame) -> DataFrame:
        # one job both fills the cache and counts the survivors
        df = df.persist()
        held.append(df)
        res.counts[name] = df.count()
        # df is loaded and no later stage reads the boundary before it:
        # release that one (a non-cascading unpersist leaves df's loaded
        # cache in place), so at most two boundaries are ever cached
        while len(held) > 1:
            held.pop(0).unpersist()
        return df

    try:
        # -- 0. Gopher rule gate (optional): per-row codegen filter, so the
        # dedup shuffles below see only rule-passing docs ---------------------
        if gopher_min_words is not None:
            keep = (tx.gopher_rules(docs, text_col, id_col,
                                    min_words=gopher_min_words)
                      .filter(F.col("gopher_keep")).select(id_col))
            docs = boundary("rule_gate",
                            docs.join(keep, id_col, "left_semi"))

        # -- 1. exact dedup ---------------------------------------------------
        canon = dd.exact_dedup(docs, text_col, id_col).select(
            F.col("canonical_id").alias(id_col))
        docs = boundary("exact_dedup", docs.join(canon, id_col, "left_semi"))

        # -- 2. near-dup components -------------------------------------------
        # lsh_max_bucket_size is NON-None by default: the production plan
        # must never reach an uncapped b^2/2 candidate generator — one
        # boilerplate band bucket at web scale would dominate the whole job.
        # Passing None is the explicit opt-in for exactness studies
        # (tests/test_scale_fences.py pins this contract).
        cand = dd.lsh_pairs(docs, text_col, id_col,
                            num_hashes=minhash_hashes, bands=minhash_bands,
                            max_bucket_size=lsh_max_bucket_size)
        # band collisions are only candidates (at the default 2 rows per
        # band, a pair at Jaccard 0.1 still collides ~8% of the time):
        # only pairs whose exact word-3-gram Jaccard clears the bar may
        # remove a doc. The bar is fixed at 0.5, the near-dup bar perfbench
        # checks. The filter keeps lsh_pairs' distinct id_a < id_b contract,
        # so pairs_distinct=True stays valid
        pairs = dd.verify_jaccard(cand, docs, text_col, id_col, n=3,
                                  threshold=0.5)
        comp = dd.neardup_components(pairs, pairs_distinct=True)
        # docs in no component are unique; component members survive only if
        # they ARE the component label (min id = canonical). Components are
        # always keyed doc_id, whatever the caller's id column is called
        dupes = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
        if id_col != "doc_id":
            dupes = dupes.withColumnRenamed("doc_id", id_col)
        docs = boundary("near_dedup", docs.join(dupes, id_col, "left_anti"))

        # -- 3. quality filter ------------------------------------------------
        rep = tx.repetition_signals(docs, text_col, id_col)
        keep_rep = rep.filter(F.col("repetition_ok")).select(id_col)
        docs = boundary("quality", docs.join(keep_rep, id_col, "left_semi")
                        .filter(tx.quality_score(F.col(text_col))
                                >= min_quality))

        # -- 3.5 learned classifier gate (optional): score the surface
        # features under externally-trained logistic weights (train with
        # classifier.logreg_train on a hash-gate sample; pick the threshold
        # off classifier.logreg_pr_curve — e.g. max recall at the precision
        # floor). A narrow codegen projection + filter, no shuffle ----------
        if classifier_weights is not None and classifier_min_p is not None:
            from ..operators.classifier import logreg_score, surface_features

            scored = logreg_score(surface_features(docs, text_col),
                                  classifier_weights, ["f1", "f2", "f3"])
            docs = boundary("classifier_gate", scored
                            .filter(F.col("p_quality") >= classifier_min_p)
                            .drop("f1", "f2", "f3", "p_quality"))

        # -- 3.8 DSIR domain-targeted selection (optional): keep docs whose
        # per-token hashed-ngram log-likelihood ratio vs the target domain
        # clears the floor. Runs AFTER the domain-agnostic gates so the LM
        # fit and the explode+count shuffle see only surviving rows; the
        # weight frame joins back as a left-semi on the id (the LM itself
        # is an O(dsir_buckets) broadcast — see text.dsir_logratio) --------
        if dsir_target is not None and dsir_min_avg_logratio is not None:
            w = tx.dsir_logratio(docs, dsir_target, text_col, id_col,
                                 n_buckets=dsir_buckets)
            keep_ids = (w.filter(F.col("avg_logratio")
                                 >= float(dsir_min_avg_logratio))
                         .select(id_col))
            docs = boundary("dsir_selected",
                            docs.join(keep_ids, id_col, "left_semi"))

        # -- 4. decontamination vs the eval corpus ----------------------------
        if eval_docs is not None:
            # direction: protect the BENCHMARK — a train doc overlapping any
            # eval doc's shingles is dropped (overlap computed per train doc
            # against the eval shingle set)
            overlap = dd.decontaminate_overlap(
                docs, eval_docs, text_col, id_col,
                threshold=contamination_threshold)
            contaminated = overlap.filter(F.col("contaminated")).select(id_col)
            docs = boundary("decontaminated",
                            docs.join(contaminated, id_col, "left_anti"))

        # -- 5. per-source contribution caps ----------------------------------
        if per_source_cap is not None and source_col is not None:
            docs = boundary("source_capped", tx.stratified_sample(
                docs, source_col, per_source_cap, id_col))

        # -- 5.5 PII redaction (narrow regexp chain; BEFORE packing so token
        # budgets count the text that actually ships) -------------------------
        if scrub_pii_text:
            docs = docs.withColumn(text_col, tx.scrub_pii(F.col(text_col)))

        # -- 6. sequence packing ----------------------------------------------
        packed = pack_sequences(docs, id_col,
                                F.size(F.split(F.col(text_col), " ")),
                                budget=pack_budget, buckets=pack_buckets)
        out = boundary("packed", docs.join(
            packed.select(id_col, "n_tokens", "bucket", "pack_id"), id_col))

        # -- 7. shard write ---------------------------------------------------
        if out_path is not None:
            writer = (out.repartition(pack_buckets, F.col("bucket"))
                      .write.mode("overwrite").partitionBy("bucket"))
            if max_records_per_file:
                writer = writer.option("maxRecordsPerFile",
                                       int(max_records_per_file))
            writer.parquet(out_path)
            res.counts["shards"] = len([d for d in child_dirs(spark, out_path)
                                        if d.startswith("bucket=")])
    finally:
        for df in held:
            df.unpersist()
    return res
