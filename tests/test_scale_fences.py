"""Scale fences (round-9 verdict items #3/#4).

Two contracts that SCALE.md argues and these tests PIN:

1. No production entry point (plans/curate.py, the dedup CLI) can reach
   an uncapped quadratic candidate generator without an explicit
   opt-in. The uncapped paths exist on purpose — as exactness pins for
   their capped siblings (``jaccard_prefix_pairs_documents`` vs
   ``ngram_jaccard_capped_documents``) — but they must be unreachable
   by default from anything a user composes at 100 TB.

2. ``er_best_match_customer``'s blocking produces a candidate set that
   grows LINEARLY with the data. The r8 probe caught the original
   fixed-cardinality blocking at x73 wall; the r9 candidate-count
   measurement then showed the last-3-char tail STILL grew candidates
   x100 for x10 data (per-tail density outgrew 1), which wall time
   (x14.9) had masked. The fix is the last-5 tail — cardinality scales
   with the table — and this test asserts the COUNT ratio, the
   quantity that actually explodes, not its cheap downstream symptom.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

PKG = os.path.join(os.path.dirname(__file__), "..",
                   "s3_redshift_backup_tool_spark")
SF1 = "/root/repo/.scale/sf1"


# ---------------------------------------------------------------------------
# contract 1a: production sources never reference the uncapped exact-
# jaccard generator at all
# ---------------------------------------------------------------------------

def test_production_entry_points_never_use_exact_jaccard():
    for rel in ("plans/curate.py", "cli.py"):
        src = open(os.path.join(PKG, rel)).read()
        assert "ngram_jaccard_pairs" not in src, (
            f"{rel} references ngram_jaccard_pairs — the uncapped exact "
            "generator must stay out of production compositions")
        assert "jaccard_prefix_filter_pairs" not in src, (
            f"{rel} references the PPJoin exactness twin — same fence")


# ---------------------------------------------------------------------------
# contract 1b: curate_corpus passes a bucket cap to lsh_pairs by default
# ---------------------------------------------------------------------------

def test_curate_lsh_pairs_capped_by_default(spark, sf_dir):
    from s3_redshift_backup_tool_spark.plans import curate as cu

    seen = {}
    real = cu.dd.lsh_pairs

    def spy(*args, **kwargs):
        seen.update(kwargs)
        return real(*args, **kwargs)

    docs = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .limit(50))
    cu.dd.lsh_pairs = spy
    try:
        cu.curate_corpus(spark, docs)
    finally:
        cu.dd.lsh_pairs = real
    assert seen.get("max_bucket_size") is not None, (
        "curate_corpus called lsh_pairs without a max_bucket_size cap — "
        "the production plan reached an uncapped b^2/2 generator")


def test_curate_uncapped_requires_explicit_opt_in():
    import inspect

    from s3_redshift_backup_tool_spark.plans.curate import curate_corpus
    sig = inspect.signature(curate_corpus)
    default = sig.parameters["lsh_max_bucket_size"].default
    assert default is not None and default > 0, (
        "lsh_max_bucket_size must default to a finite cap; None is the "
        "explicit opt-in")


# ---------------------------------------------------------------------------
# contract 1c: the dedup CLI's build verb defaults to a capped index
# ---------------------------------------------------------------------------

def test_cli_dedup_index_cap_default():
    from s3_redshift_backup_tool_spark.cli import build_parser
    args = build_parser().parse_args(
        ["dedup-index", "build", "--index-dir", "/tmp/x"])
    assert args.max_bucket_size == 64, (
        "dedup-index --max-bucket-size must default to a finite cap "
        "(0 = the explicit uncapped opt-in)")


# ---------------------------------------------------------------------------
# contract 1d: the registry documents the uncapped entry as the
# exactness/failure-mode twin
# ---------------------------------------------------------------------------

def test_uncapped_jaccard_registry_entry_is_labeled():
    from s3_redshift_backup_tool_spark.parity import REGISTRY
    import s3_redshift_backup_tool_spark.parity_ext  # noqa: F401
    doc = REGISTRY["jaccard_prefix_pairs_documents"].doc
    assert re.search(r"EXACTNESS/FAILURE-MODE TWIN", doc)
    assert "ngram_jaccard_capped_documents" in doc


# ---------------------------------------------------------------------------
# contract 1f: the capped overlap-coefficient twin bounds its CANDIDATE
# COUNT (the quantity that explodes), mirroring the jaccard cap fence
# ---------------------------------------------------------------------------

def _overlap_candidates(spark, sf_path: str, cap: int | None) -> int:
    from s3_redshift_backup_tool_spark.operators.dedup import (
        _ngram_pair_counts)
    from s3_redshift_backup_tool_spark.sources.readers import read_table

    docs = read_table(spark, sf_path, "documents")
    return _ngram_pair_counts(docs, "text", "doc_id", 3, cap).count()


def test_overlap_cap_shrinks_candidates(spark):
    small = _overlap_candidates(spark, "/root/testdata/sf0.01", None)
    capped = _overlap_candidates(spark, "/root/testdata/sf0.01", 3)
    assert 0 < capped < small, (
        f"max_doc_freq=3 must strictly shrink the candidate set "
        f"({small} -> {capped})")


@pytest.mark.skipif(not os.path.isdir(SF1),
                    reason="10x fixture absent — regenerate with "
                           "tools/make_scale_fixture.py")
def test_overlap_capped_candidate_growth_bounded(spark):
    c_small = _overlap_candidates(spark, "/root/testdata/sf0.1", 3)
    c_big = _overlap_candidates(spark, SF1, 3)
    # every shingle's doc frequency is exactly 10x on this fixture, so
    # the df<=3 stop-shingle guard prunes MORE aggressively at scale —
    # capped candidates must grow at most linearly (the uncapped twin
    # measured x16-27 wall here)
    ratio = c_big / max(c_small, 1)
    assert ratio <= 12.0, (
        f"capped overlap candidates grew x{ratio:.1f} for 10x data "
        f"({c_small} -> {c_big}) — the df cap stopped pruning")


# ---------------------------------------------------------------------------
# contract 2: er blocking candidate growth is linear (count, not wall)
# ---------------------------------------------------------------------------

def _er_candidates(spark, sf_path: str) -> int:
    from s3_redshift_backup_tool_spark.operators.entity_resolution import (
        block_candidates)
    from s3_redshift_backup_tool_spark.sources.readers import read_table

    cust = read_table(spark, sf_path, "customer")
    key, name = F.col("c_custkey"), F.col("c_name")
    d_name = (F.when(key % 3 == 0,
                     F.concat(F.substring(name, 1, 9),
                              F.substring(name, 11, 100)))
               .when(key % 3 == 1,
                     F.concat(F.substring(name, 1, 12), F.lit("X"),
                              F.substring(name, 14, 100)))
               .otherwise(name))
    dirty = (cust.select(key.alias("d_key"), d_name.alias("d_name"),
                         "c_nationkey", "c_mktsegment")
                 .withColumn("name_tail", F.expr("right(d_name, 5)")))
    clean = cust.withColumn("name_tail", F.expr("right(c_name, 5)"))
    return block_candidates(
        dirty, clean, ["c_nationkey", "c_mktsegment", "name_tail"]).count()


@pytest.mark.skipif(not os.path.isdir(SF1),
                    reason="10x fixture absent — regenerate with "
                           "tools/make_scale_fixture.py")
def test_er_candidate_growth_is_linear(spark):
    c_small = _er_candidates(spark, "/root/testdata/sf0.1")
    c_big = _er_candidates(spark, SF1)
    ratio = c_big / c_small
    # 10x data -> <=12x candidates (linear + slack). The pre-fix last-3
    # tail measured ratio 100.0 here; last-5 measures ~10.1.
    assert ratio <= 12.0, (
        f"er blocking candidates grew x{ratio:.1f} for 10x data "
        f"({c_small} -> {c_big}) — blocking key stopped subdividing")


# ---------------------------------------------------------------------------
# contract 1e: the within-key cosine pair family has the same stop-bucket
# guard as LSH/jaccard, and the indexed production path is capped by default
# ---------------------------------------------------------------------------

def test_semantic_dedup_cluster_cap_bounds_pairs(spark, sf_dir):
    import os

    from s3_redshift_backup_tool_spark.operators import similarity as sim

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = sim.ivf_centroids(emb, n_centroids=4)
    uncapped = sim.semantic_dedup_pairs(emb, cents, threshold=0.0).count()
    capped = sim.semantic_dedup_pairs(emb, cents, threshold=0.0,
                                      max_cluster_size=50).count()
    # threshold 0 keeps every within-cluster pair, so the counts expose
    # the generator itself: the cap must strictly shrink the pair set
    # (every cluster of the 4-centroid quantizer exceeds 50 on this
    # fixture), and a cap below any cluster size must yield zero.
    assert 0 < capped < uncapped or (capped == 0 and uncapped > 0)
    assert sim.semantic_dedup_pairs(emb, cents, threshold=0.0,
                                    max_cluster_size=1).count() == 0


def test_semantic_dedup_indexed_capped_by_default():
    import inspect

    from s3_redshift_backup_tool_spark.operators.similarity import (
        semantic_dedup_pairs_indexed)
    default = inspect.signature(semantic_dedup_pairs_indexed) \
        .parameters["max_cluster_size"].default
    assert default is not None and default > 0, (
        "the indexed (production) SemDeDup path must cap cluster size "
        "by default; None is the explicit exactness opt-in")


def test_pq_k_proportional_to_corpus_is_fenced(spark, sf_dir):
    """Round-11 measured fence: PQ encode is O(n*k*d), so scaling k with
    the corpus (the IVF recipe) makes PQ quadratic — measured x24.6 wall
    for x10 data with k x10 vs x2.7 at fixed k. k beyond _PQ_MAX_K is a
    recipe error, rejected at every codebook constructor."""
    import os as _os

    import pytest as _pytest

    from s3_redshift_backup_tool_spark.operators import similarity as sim

    emb = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    bad = sim._PQ_MAX_K + 1
    with _pytest.raises(ValueError, match="_PQ_MAX_K"):
        sim.pq_codebooks(emb, m=8, k=bad)
    with _pytest.raises(ValueError, match="_PQ_MAX_K"):
        sim.pq_codebooks_kmeans(emb, m=8, k=bad, iters=1)
    with _pytest.raises(ValueError, match="_PQ_MAX_K"):
        sim.pq_residual_codebooks(emb, [(0, [0.0] * 64)], m=8, k=bad)
    # the registry pins stay inside the fence
    assert 16 <= sim._PQ_MAX_K


def test_pq_residual_k_fence_fires_before_the_collect(spark):
    """The fence exists to spare a k-row collect, so it must fire before
    that collect: the frame here fails if it is ever run."""
    from s3_redshift_backup_tool_spark.operators import similarity as sim

    poisoned = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.raise_error(F.lit("collected")).cast("array<double>")
         .alias("embedding"))
    with pytest.raises(ValueError, match="_PQ_MAX_K"):
        sim.pq_residual_codebooks(poisoned, [(0, [0.0] * 8)], m=8,
                                  k=sim._PQ_MAX_K + 1)


def test_capped_dedup_chain_drops_oversized_buckets(spark):
    """r12 verdict item 6: the production dedup entry
    (neardup_dedup_capped_documents) runs the CAPPED LSH chain. Pin
    the drop semantics on a constructed degenerate corpus: 40
    identical docs land every band in one bucket, so a cap below 40
    drops them all (zero candidate pairs -> all docs survive dedup),
    while the uncapped chain collapses them to one canonical doc."""
    from s3_redshift_backup_tool_spark.operators import dedup as dd

    rows = ([(i, "the same boilerplate text repeated here") for i in range(40)]
            + [(100, "a genuinely unique document about spark"),
               (101, "another distinct text with different words")])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dd.lsh_pairs(docs, n=3, num_hashes=16, bands=8)
    capped = dd.lsh_pairs(docs, n=3, num_hashes=16, bands=8,
                          max_bucket_size=16)
    n_unc, n_cap = uncapped.count(), capped.count()
    assert n_unc == 40 * 39 // 2          # the full clique
    assert n_cap == 0                     # bucket of 40 > 16: dropped whole
    kept = dd.dedup_keep_canonical(docs, capped, keep_cols=["doc_id"])
    assert kept.count() == 42             # nothing collapsed under the cap
    kept_unc = dd.dedup_keep_canonical(docs, uncapped, keep_cols=["doc_id"])
    assert kept_unc.count() == 3          # clique -> one canonical + 2


def test_rho_sampling_bounds_expansion_candidates(spark):
    """r12 verdict item 2: the rho-sampled NN-Descent round's
    undirected adjacency is cut to ceil(rho*k) rows per node BEFORE
    the E x E expansion — per-node candidate fan-out is bounded by
    (rho*k)^2 no matter how dense the reverse-edge lists get."""
    from s3_redshift_backup_tool_spark.operators import similarity as sim

    assert sim.rho_sample_size(0.5, 5) == 3
    assert sim.rho_sample_size(1.0, 5) == 5
    assert sim.rho_sample_size(0.1, 5) == 1
    # a dense star graph: node 0 connected to 1..20 (undirected list
    # of 20 per side after reversal)
    edges = [(0, d) for d in range(1, 21)]
    g = spark.createDataFrame(edges, "src long, dst long")
    und = g.unionByName(
        g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    s = 3
    sampled = sim._rho_sample_adjacency(und, s)
    per_node = {r["src"]: r["n"] for r in
                sampled.groupBy("src").count()
                       .withColumnRenamed("count", "n").collect()}
    assert all(n <= s for n in per_node.values()), per_node
    assert per_node[0] == s               # the dense node got cut to s
    # determinism: same input -> same sample
    again = {(r["src"], r["dst"]) for r in
             sim._rho_sample_adjacency(und, s).collect()}
    assert again == {(r["src"], r["dst"]) for r in sampled.collect()}


def test_rho_sampled_round_never_loses_current_edges(spark):
    """The sampled round unions the CURRENT graph edges back into the
    candidate set, so each node still ranks >= its incoming k
    candidates — sampling bounds the EXPANSION, not the floor."""
    import random

    from s3_redshift_backup_tool_spark.operators import similarity as sim

    rng = random.Random(7)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(30)]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    seed = [(i, (i + j) % 30) for i in range(30) for j in (1, 2, 3)]
    g = spark.createDataFrame(seed, "src long, dst long")
    out = sim.nn_descent_round(g, vdf, k=3, rho=0.5)
    per_src = {r["src"]: r["n"] for r in
               out.groupBy("src").count()
                  .withColumnRenamed("count", "n").collect()}
    assert len(per_src) == 30
    assert all(n == 3 for n in per_src.values()), per_src
