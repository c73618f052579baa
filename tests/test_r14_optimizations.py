"""Value-equality pins for the round-14 plan-shape rewrites.

Each optimization this round restructures HOW an operator computes
without changing WHAT it computes; these tests pin the new plan to the
old formulation's values on adversarial fixtures (asymmetric edges,
hub nodes, mirrored candidates), so a future refactor cannot silently
change semantics while chasing the same plan shape.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from s3_redshift_backup_tool_spark.operators import similarity as sim
from s3_redshift_backup_tool_spark.operators.similarity import dot, l2_norm


def _old_nn_descent_round(graph, vectors, k=5, vec_col="embedding",
                          id_col="vec_id", rho=None):
    """The pre-r14 formulation (edge-list E x E self-join + window
    rho-sample + ordered-candidate scoring), verbatim from commit
    54eeda5 — the reference the rewrite must equal row-for-row."""
    g = graph.select("src", "dst")
    und = g.unionByName(g.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"))).distinct()
    if rho is not None:
        from s3_redshift_backup_tool_spark.operators.text import (
            md5_prefix_int)
        s = sim.rho_sample_size(rho, k)
        rk = md5_prefix_int(F.concat_ws(",", F.col("src").cast("string"),
                                        F.col("dst").cast("string")))
        w = Window.partitionBy("src").orderBy(rk.asc(), F.col("dst"))
        und = (und.withColumn("__rs", F.row_number().over(w))
               .filter(F.col("__rs") <= s).drop("__rs"))
    expanded = (und.alias("a")
                .join(und.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(F.col("a.src").alias("src"),
                        F.col("b.dst").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
                .unionByName(g)
                .distinct())
    sv = vectors.select(F.col(id_col).alias("src"),
                        F.col(vec_col).alias("__sv"),
                        l2_norm(F.col(vec_col)).alias("__sn"))
    dv = vectors.select(F.col(id_col).alias("dst"),
                        F.col(vec_col).alias("__dv"),
                        l2_norm(F.col(vec_col)).alias("__dn"))
    scored = (expanded.join(sv, "src").join(dv, "dst")
              .select("src", "dst",
                      F.round(dot(F.col("__sv"), F.col("__dv"))
                              / (F.col("__sn") * F.col("__dn")), 6)
                      .alias("cos_sim")))
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.col("dst"))
    return (scored.withColumn("nn_rank", F.row_number().over(w))
                  .filter(F.col("nn_rank") <= k))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def fixture(spark):
    rng = random.Random(41)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    # adversarial graph: a hub (node 0 pointed at by many), a directed
    # chain whose reverses are NOT edges, and a mutual pair — exercises
    # asymmetric candidates, mirror flags and the hot-node path
    edges = ([(i, 0) for i in range(1, 15)]
             + [(i, i + 1) for i in range(15, 30)]
             + [(30, 31), (31, 30), (0, 35), (35, 36)])
    g = spark.createDataFrame(edges, "src long, dst long")
    return g, vdf


def test_round_rewrite_equals_old_formulation(fixture):
    """r14: adjacency-array expansion (ordered-candidate scoring) must
    reproduce the edge-self-join round exactly (same rows, same
    rounded cos_sim, same ranks)."""
    g, vdf = fixture
    new = sim.nn_descent_round(g, vdf, k=3)
    old = _old_nn_descent_round(g, vdf, k=3)
    assert _rows(new) == _rows(old)


def test_round_rewrite_equals_old_formulation_rho(fixture):
    """Same pin for the rho-sampled path (per-row sort+slice sample +
    sampled-edge-vs-array join vs window sample + edge self-join)."""
    g, vdf = fixture
    new = sim.nn_descent_round(g, vdf, k=3, rho=0.5)
    old = _old_nn_descent_round(g, vdf, k=3, rho=0.5)
    assert _rows(new) == _rows(old)


def test_directed_candidate_does_not_leak_reverse(spark):
    """Ordered-candidate scoring ranks each (src, dst) candidate under
    its own src; a directed-only candidate (a g-edge whose reverse has
    no witnessing common neighbor) must NOT emit a mirrored row into
    the reverse node's ranking."""
    # two disconnected directed edges: no common neighbors anywhere,
    # so the candidate set is exactly g and is purely directed
    g = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    vecs = [(i, [float(i), 1.0]) for i in range(1, 5)]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = sim.nn_descent_round(g, vdf, k=2)
    srcs = sorted(r["src"] for r in out.select("src").distinct().collect())
    # expansion adds (2,1)? no: und={12,21,34,43}; A(1)={2},A(2)={1}...
    # pairs within one adjacency list need |A(m)|>=2, so expansion is
    # empty and candidates == g exactly: only 1 and 3 may rank
    assert srcs == [1, 3]
    assert _rows(out) == _rows(_old_nn_descent_round(g, vdf, k=2))


def test_rho_slice_equals_window_sample(spark):
    """_rho_sample_adjacency (array sort+slice form) must pick the
    same neighbors the former row_number window picked — including on
    a node whose adjacency exceeds the sample size."""
    from s3_redshift_backup_tool_spark.operators.text import md5_prefix_int
    edges = [(0, d) for d in range(1, 21)] + [(1, 2), (2, 3)]
    g = spark.createDataFrame(edges, "src long, dst long")
    und = g.unionByName(g.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"))).distinct()
    s = 3
    got = _rows(sim._rho_sample_adjacency(und, s))
    rk = md5_prefix_int(F.concat_ws(",", F.col("src").cast("string"),
                                    F.col("dst").cast("string")))
    w = Window.partitionBy("src").orderBy(rk.asc(), F.col("dst"))
    want = _rows(und.withColumn("__rs", F.row_number().over(w))
                 .filter(F.col("__rs") <= s).drop("__rs"))
    assert got == want


def test_lazy_bloom_mask_equals_driver_mask(spark):
    """r14: the in-plan 1-row Bloom mask (gap-filled sorted words, no
    driver collect, no pre-distinct) must be bit-identical to the
    eager driver fold over distinct keys — including duplicate keys
    (bit_or idempotence) and the empty-input all-zero mask."""
    from s3_redshift_backup_tool_spark.operators import dedup as dd

    keys = spark.createDataFrame([(f"k{i % 7}",) for i in range(50)],
                                 "k string")
    lazy = dd.bloom_mask_df(keys, "k", m_bits=1 << 10).collect()[0][0]
    eager = dd.bloom_mask_from_keys(keys.distinct(), "k", m_bits=1 << 10)
    assert list(lazy) == list(eager)
    empty = dd.bloom_mask_df(keys.filter("k = 'nope'"), "k",
                             m_bits=256).collect()[0][0]
    assert list(empty) == [0] * 4

