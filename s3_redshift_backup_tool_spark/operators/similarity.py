"""Embedding similarity search: brute-force and LSH-bucketed ANN.

Embedding columns are ``array<float>``. All arithmetic casts elements to
double first and reduces left-to-right (F.aggregate / zip_with), which is
bit-reproducible and matches the DuckDB oracle's list_sum/list_transform
evaluation order.

Scale design:
- brute-force top-k: one broadcast of the query vector; per-row dot
  product inside codegen; global top-k via orderBy+limit (Spark runs this
  as per-partition top-k then a k-row merge on the driver — no full sort
  shuffle). This is the exact baseline.
- hyperplane LSH (Charikar'02 SRP): b fixed random hyperplanes -> b-bit
  bucket id; candidates = same bucket; shuffle is O(n) on bucket keys and
  the candidate set per query is n / 2^b in expectation. The planes are
  deterministic literals (seed 42) embedded in both the plan and the
  oracle SQL.
- pairwise near-dup (cosine >= t): bucket self-join instead of full cross
  join; at 100 TB you'd add multi-probe (flip one bit) to recover recall
  lost at bucket boundaries — provided here via ``probe_bits``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SRP_SEED = 42


def srp_planes(dim: int, n_planes: int, seed: int = SRP_SEED) -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes (values +-1 so
    the literal arrays stay compact in plans and oracle SQL)."""
    rng = np.random.RandomState(seed)
    return (rng.randint(0, 2, size=(n_planes, dim)) * 2 - 1).astype(float).tolist()


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double dot product of two array columns."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def dot_literal(a: Column, vec: list[float]) -> Column:
    """Dot product against a Python-side constant vector (broadcast-free:
    the vector folds into the plan as a literal array)."""
    lit_vec = F.array(*[F.lit(float(v)) for v in vec])
    return dot(a, lit_vec)


    # NOTE (r11, measured): do NOT "optimize" this by unrolling into
    # a[0]*v0 + a[1]*v1 + ... — the 64-deep left-leaning tree defeats
    # codegen and interprets 3-5x SLOWER than the zip_with/aggregate
    # HOF pair. What DOES matter when one row feeds k constant vectors
    # (k anchors/centroids) is evaluating each dot ONCE in a flat
    # projection and hoisting the row's own l2_norm out of the k-loop:
    # 30 HOF evals/row -> 11 cut hard_negatives_embeddings 4.9s -> 1.8s
    # at sf1.


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Brute-force cosine top-k for one query vector (the exact baseline).

    orderBy+limit compiles to TakeOrderedAndProject: per-partition heap
    top-k, driver merges k rows — no global sort shuffle even at 1000
    executors."""
    sim = F.round(cosine(F.col(vec_col), F.array(*[F.lit(float(v)) for v in query_vec])), 6)
    return (df.select(F.col(id_col), sim.alias("cos_sim"))
              .orderBy(F.desc("cos_sim"), F.col(id_col))
              .limit(k))


def srp_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """b-bit LSH bucket id: bit i = sign(dot(v, plane_i))."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        bit = F.when(dot_literal(vec_col, plane) >= 0,
                     F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit
    return bucket


def srp_buckets(df: DataFrame, n_planes: int = 8, vec_col: str = "embedding",
                id_col: str = "vec_id", dim: int | None = None) -> DataFrame:
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = srp_planes(dim, n_planes)
    return df.select(F.col(id_col), F.col(vec_col),
                     srp_bucket(F.col(vec_col), planes).alias("bucket"))


def _query_probes(query_vec: list[float], planes: list[list[float]],
                  probe_bits: int) -> set[int]:
    """The query's bucket plus its Hamming-<=probe_bits neighborhood —
    shared by single- and multi-table LSH so the sign convention and
    probe expansion can never desynchronize between them."""
    qb = 0
    for i, plane in enumerate(planes):
        if sum(q * p for q, p in zip(query_vec, plane)) >= 0:
            qb += 1 << i
    n = len(planes)
    probes = {qb}
    if probe_bits >= 1:
        probes |= {qb ^ (1 << i) for i in range(n)}
    if probe_bits >= 2:
        probes |= {qb ^ (1 << i) ^ (1 << j)
                   for i in range(n) for j in range(i + 1, n)}
    return probes


def ann_topk_lsh(df: DataFrame, query_vec: list[float], k: int = 10,
                 n_planes: int = 8, vec_col: str = "embedding",
                 id_col: str = "vec_id", probe_bits: int = 0) -> DataFrame:
    """ANN top-k: candidates from the query's SRP bucket, exact cosine
    rerank within. Scan prunes to bucket == query_bucket (a pushable
    filter once buckets are materialized/partitioned).

    ``probe_bits=1`` enables multi-probe (Lv'07): also search the
    n_planes buckets at Hamming distance 1 from the query's — recovers
    the recall lost when a near neighbor falls just across one
    hyperplane, at (n_planes+1)/2^n_planes of the data instead of
    1/2^n_planes. ``probe_bits=2`` adds the C(n_planes, 2)
    Hamming-2 buckets (a near neighbor crossing TWO planes — common
    at higher dimensions where per-plane margins are thin); for
    n_planes=8 the probed fraction is 37/256 ≈ 14% — still a pruned
    scan, recall typically ~2x the Hamming-1 floor on isotropic data.
    Candidates stay an IN-list filter — still pushable. For
    recall beyond what one code can give, see
    :func:`ann_topk_lsh_multitable`."""
    planes = srp_planes(len(query_vec), n_planes)
    probes = _query_probes(query_vec, planes, probe_bits)
    bucketed = df.select(
        F.col(id_col), F.col(vec_col),
        srp_bucket(F.col(vec_col), planes).alias("bucket"))
    cand = bucketed.filter(F.col("bucket").isin(sorted(probes)))
    sim = F.round(cosine(F.col(vec_col),
                         F.array(*[F.lit(float(v)) for v in query_vec])), 6)
    return (cand.select(F.col(id_col), sim.alias("cos_sim"))
                .orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k))


def ann_topk_lsh_multitable(df: DataFrame, query_vec: list[float],
                            k: int = 10, n_tables: int = 4,
                            n_planes: int = 8,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            probe_bits: int = 1) -> DataFrame:
    """Multi-TABLE SRP-LSH: ``n_tables`` independent hyperplane sets,
    candidates = union of each table's (multi-probed) bucket — the
    classic recall amplifier: a true neighbor is missed only if EVERY
    table separates it, so recall ≈ 1 - (1 - p)^L for per-table recall
    p. Cost: L bucket codes per row (narrow per-row dot products,
    computed in ONE scan — the filter is an OR of per-table IN-lists,
    no union of L scans) and ~L× the candidate fraction; at 1B vectors
    pick L and n_planes so candidates stay ≪ corpus
    (L*(1+n+...)/2^n). The exact-rerank top-k is unchanged
    (TakeOrderedAndProject)."""
    dim = len(query_vec)
    cond = None
    proj = df
    for t in range(n_tables):
        planes = srp_planes(dim, n_planes, seed=SRP_SEED + 101 * (t + 1))
        probes = _query_probes(query_vec, planes, probe_bits)
        col = f"__b{t}"
        proj = proj.withColumn(col, srp_bucket(F.col(vec_col), planes))
        hit = F.col(col).isin(sorted(probes))
        cond = hit if cond is None else (cond | hit)
    sim = F.round(cosine(F.col(vec_col),
                         F.array(*[F.lit(float(v)) for v in query_vec])), 6)
    return (proj.filter(cond)
                .select(F.col(id_col), sim.alias("cos_sim"))
                .orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k))


def l2_sq(a: Column, b: Column) -> Column:
    """Left-to-right squared L2 distance (oracle-reproducible)."""
    diffs = F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double")))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def scaled_centroid_count(n_rows: int, target_cell: int = 64) -> int:
    """The production quantizer-sizing rule: centroids PROPORTIONAL to
    the corpus so cell populations stay ~``target_cell`` regardless of
    scale — the within-cell quadratic cost is then n x target_cell
    (linear), not n x (n/k) (quadratic in the corpus for a fixed k; the
    r9 probe measured that failure at x36 wall for x10 data). On
    parquet sources the row count is a metadata-only aggregate, so the
    sizing pass is free. The oracle-SQL twin of this rule is
    ``greatest(4, count(*) // target_cell)``."""
    return max(4, n_rows // target_cell)


def ivf_centroids(df: DataFrame, n_centroids: int = 8,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> list[tuple[int, list[float]]]:
    """Deterministic coarse-quantizer centroids: the first ``n`` vectors
    by id. This is the ORACLE-reproducible quantizer (fixed literals on
    both engines); :func:`kmeans_centroids` is the quality upgrade with
    the same output shape — the index/search plumbing downstream is
    identical, so the quantizer is swappable without touching the plan."""
    rows = (df.filter(F.col(id_col) < n_centroids)
              .select(id_col, vec_col).orderBy(id_col).collect())
    return [(int(r[0]), [float(v) for v in r[1]]) for r in rows]


def kmeans_centroids(df: DataFrame, n_centroids: int = 8, iters: int = 5,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> list[tuple[int, list[float]]]:
    """Lloyd's k-means coarse quantizer, DataFrame-native.

    Init = the deterministic first-n quantizer, so inertia is
    non-increasing from the stub's own starting point. Each iteration is
    one distributed pass: per-row argmin assignment (``ivf_assign``,
    zero shuffle) then a per-(centroid, dim) mean via posexplode +
    groupBy — shuffle carries k x dim aggregation states, not vectors.
    Only k x dim floats cross the driver per iteration. Empty clusters
    keep their previous centroid. At 1B vectors run the same loop over a
    hash-gate sample (sampling.sample_by_hash) — the centroids only need
    the distribution, not every row."""
    cents = ivf_centroids(df, n_centroids, vec_col, id_col)
    for _ in range(iters):
        assigned = ivf_assign(df, cents, vec_col)
        means = (assigned
                 .select("centroid_id", F.posexplode(vec_col).alias("d", "v"))
                 .groupBy("centroid_id", "d")
                 .agg(F.avg("v").alias("m"))
                 .groupBy("centroid_id")
                 .agg(F.array_sort(F.collect_list(
                     F.struct(F.col("d"), F.col("m")))).alias("dm"))
                 .collect())
        new = {int(r["centroid_id"]): [float(x["m"]) for x in r["dm"]]
               for r in means}
        cents = [(cid, new.get(cid, vec)) for cid, vec in cents]
    return cents


def ivf_inertia(df: DataFrame, centroids: list[tuple[int, list[float]]],
                vec_col: str = "embedding") -> float:
    """Sum of squared distances to each row's assigned centroid — the
    k-means objective, for quantizer quality comparison."""
    assigned = ivf_assign(df, centroids, vec_col)
    entries = _centroid_dist_structs(centroids, vec_col)
    d = F.filter(entries, lambda e: e["cid"] == F.col("centroid_id"))[0]["dist"]
    return float(assigned.agg(F.sum(d)).collect()[0][0])


def _centroid_dist_structs(centroids: list[tuple[int, list[float]]],
                           vec_col) -> Column:
    """array<struct<dist, cid>> over all centroids via nested HOFs over
    two aligned single-call literals — O(1) expression nodes and O(1)
    py4j round-trips instead of k unrolled l2_sq trees (k*d F.lit calls
    cost seconds of pure plan construction; same fix as the PQ codebook
    literal). Struct order (dist, cid) keeps array_min's lexicographic
    compare = lowest cid on distance ties."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    cids = F.lit([int(c) for c, _ in centroids])
    vecs = F.lit([[float(x) for x in v] for _, v in centroids])
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda i: F.struct(
            l2_sq(vec, F.element_at(vecs, (i + 1).cast("int"))).alias("dist"),
            F.element_at(cids, (i + 1).cast("int"))
             .cast("long").alias("cid")))


def ivf_assign(df: DataFrame, centroids: list[tuple[int, list[float]]],
               vec_col: str = "embedding") -> DataFrame:
    """IVF list assignment: argmin squared-L2 over the (broadcast-as-
    literal) centroid table, computed per-row as an array-min over
    (dist, cid) structs — ZERO shuffle, deterministic (dist, cid)
    tie-break. At 1B vectors this is a narrow map stage; only the
    (optional) repartition by centroid_id for index layout shuffles."""
    entries = _centroid_dist_structs(centroids, vec_col)
    return df.withColumn("centroid_id", F.array_min(entries)["cid"])


def ivf_assign_arrow(df: DataFrame,
                     centroids: list[tuple[int, list[float]]],
                     vec_col: str = "embedding") -> DataFrame:
    """Arrow-vectorized twin of :func:`ivf_assign` — the PRODUCTION
    assign kernel for the n_centroids-proportional-to-corpus regimes
    (SemDeDup, knn_graph, IVF index build at scale). The HOF argmin
    evaluates n_rows x n_centroids x dim interpreted expression steps;
    measured round 11 it became the BOTTLENECK of the scaled-centroid
    knn recipe at 200K x 320 x 64 (~4G evals, minutes). This kernel is
    one numpy matmul per Arrow batch: argmin_c(||c||^2 - 2 x.c), the
    same squared-L2 ordering with ||x||^2 dropped (constant per row).

    Tie-break: centroid rows are sorted by cid ascending and
    ``np.argmin`` returns the FIRST minimum — lowest cid, matching the
    HOF's (dist, cid) struct-min. Only last-ulp float-sum differences
    (BLAS pairwise vs left-to-right) can flip a tie, the same
    documented caveat as knn_graph_within_clusters_arrow; the HOF form
    stays the oracle-pinned twin. Zero shuffle, same output schema."""
    import numpy as np

    order = sorted((int(c), [float(x) for x in v]) for c, v in centroids)
    cids = np.array([c for c, _ in order], dtype=np.int64)
    C = np.array([v for _, v in order], dtype=np.float64)
    half_cn = 0.5 * (C * C).sum(axis=1)

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    out_schema = fields + ", centroid_id long"

    def _assign(batches):
        import pandas as pd
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf):
                X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                # argmin(||c||^2/2 - x.c) == argmin L2^2, fewer flops
                pdf["centroid_id"] = cids[
                    np.argmin(half_cn[None, :] - X @ C.T, axis=1)]
            else:
                pdf["centroid_id"] = pd.Series([], dtype="int64")
            yield pdf

    return df.mapInPandas(_assign, schema=out_schema)


def ann_topk_ivf(df: DataFrame, query_vec: list[float],
                 centroids: list[tuple[int, list[float]]], k: int = 10,
                 nprobe: int = 2, vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` nearest inverted lists, exact
    cosine rerank within. With the index written partitioned by
    centroid_id the probe filter becomes partition pruning — the scan
    touches nprobe/n_centroids of the data."""
    def _dist(v: list[float]) -> float:
        s = 0.0
        for x, y in zip(query_vec, v):
            s += (float(x) - float(y)) * (float(x) - float(y))
        return s

    probes = [cid for cid, _ in
              sorted(centroids, key=lambda cv: (_dist(cv[1]), cv[0]))[:nprobe]]
    cand = ivf_assign(df, centroids, vec_col).filter(
        F.col("centroid_id").isin(probes))
    sim = F.round(cosine(F.col(vec_col),
                         F.array(*[F.lit(float(v)) for v in query_vec])), 6)
    return (cand.select(F.col(id_col), sim.alias("cos_sim"))
                .orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k))


def _pairs_within_key(keyed: DataFrame, key_col: str, threshold: float,
                      n_parts: int, vec_col: str, id_col: str,
                      max_group_size: int | None = None) -> DataFrame:
    """Cosine pairs WITHIN each key group (SRP bucket, IVF cluster):
    per-key collected (id, vec) lists rather than a keyed self-join —
    the aliased self-join defeats Spark's exchange reuse and would
    compute the upstream projection twice; one groupBy computes it once.
    Each id lives in exactly one group, so no distinct is needed.

    The L2 norm rides the item struct, computed ONCE per row before
    collection (cosine = dot/(sqrt(dot(a,a))*sqrt(dot(b,b))) — same
    float ops, same order, so factoring the sqrt out per row is
    bit-identical) — the quadratic inner loop then evaluates one
    aggregate per pair instead of three.

    ``max_group_size`` is this family's stop-bucket guard (the cosine
    twin of LSH's ``max_bucket_size`` and the jaccard family's
    ``max_doc_freq``): a group of g rows materializes a g-element
    vector array in ONE task and hides g^2/2 cosine evaluations behind
    it, so one degenerate cluster/bucket dominates the job at scale —
    the r9 10x probe measured semantic_dedup at x36 for x10 data with
    the quantizer held fixed. Groups over the cap are dropped whole
    (recall becomes a lower bound, the conservative direction; the
    caller's signal to raise n_centroids/n_planes).

    Zero-norm vectors are EXCLUDED before grouping (cosine is
    undefined for them): without the filter, the HOF path's 0/0
    division yields NaN, which Spark orders GREATEST (NaN >= threshold
    is true) while numpy's NaN >= threshold is false — the two kernels
    would emit different pairs on degenerate embeddings (ADVICE r12).
    Both kernels now drop the rows, and size checks count the
    survivors."""
    # explicit repartition BEFORE the groupBy (r14, guide §2.4): the
    # aggregate's ClusteredDistribution(key) is satisfied by the
    # repartition's hash partitioning, so the former second exchange
    # (groupBy shuffle, then repartition of the grouped rows)
    # disappears — collect_list partials don't reduce bytes, so the
    # one remaining shuffle moves the same data. The explicit
    # n_parts count keeps one partition per group: the collected rows
    # are tiny (AQE would coalesce them onto one task) but each hides
    # |group|^2/2 cosine evaluations of downstream compute.
    buckets = (keyed.withColumn("__nrm", l2_norm(F.col(vec_col)))
               .filter(F.col("__nrm") > 0.0)
               .repartition(n_parts, F.col(key_col))
               .groupBy(key_col)
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col(id_col).alias("id"),
                            F.col(vec_col).alias("v"),
                            F.col("__nrm").alias("n")))).alias("items"))
               .filter(F.size("items") > 1))
    if max_group_size is not None:
        buckets = buckets.filter(F.size("items") <= max_group_size)
    pairs = F.flatten(F.transform(
        F.col("items"),
        lambda x, i: F.transform(
            F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
            lambda y: F.struct(x["id"].alias("id_a"), y["id"].alias("id_b"),
                               F.round(dot(x["v"], y["v"])
                                       / (x["n"] * y["n"]), 6)
                               .alias("cos_sim")))))
    return (buckets.select(F.explode(pairs).alias("p"))
            .select("p.id_a", "p.id_b", "p.cos_sim")
            .filter(F.col("cos_sim") >= threshold))


def _pairs_within_key_arrow(keyed: DataFrame, key_col: str,
                            threshold: float, vec_col: str, id_col: str,
                            max_group_size: int | None = None
                            ) -> DataFrame:
    """Arrow-vectorized twin of :func:`_pairs_within_key` — the
    PRODUCTION within-group cosine-pair kernel: per group, ONE numpy
    matmul + upper-triangle slice inside ``applyInPandas`` instead of
    the interpreted per-pair HOF aggregates (same ~100x-per-element
    argument as knn_graph_within_clusters_arrow). Same grouping
    shuffle, same (id_a < id_b) convention (ids sorted ascending, like
    the HOF's array_sort), same round-6 cos_sim.

    Memory note the HOF form doesn't have: the matmul materializes the
    FULL g x g similarity matrix in one task (g=4096 -> 134 MB of
    float64), so ``max_group_size`` is doing double duty here — it
    bounds compute AND per-task memory. Groups over the cap are
    dropped whole, identical to the HOF semantics.

    Zero-norm vectors are dropped BEFORE the size checks, mirroring
    the HOF twin's pre-group filter (see :func:`_pairs_within_key` —
    ADVICE r12: numpy's 0/0 -> NaN silently dropped such pairs here
    while Spark's NaN-is-greatest emitted them there). The stack/norm
    pass below is linear in the group (the pdf is already
    materialized); only the g x g matmul is quadratic, and it stays
    gated on the post-filter count."""
    import numpy as np
    import pandas as pd

    empty = {"id_a": pd.Series([], dtype="int64"),
             "id_b": pd.Series([], dtype="int64"),
             "cos_sim": pd.Series([], dtype="float64")}

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(empty)
        order = np.argsort(pdf["__id"].to_numpy(), kind="stable")
        ids = pdf["__id"].to_numpy()[order]
        M = np.stack(pdf["__v"].to_numpy()[order]).astype(np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        live = norms > 0.0
        if not live.all():
            ids, M, norms = ids[live], M[live], norms[live]
        n = len(ids)
        if n < 2 or (max_group_size is not None and n > max_group_size):
            return pd.DataFrame(empty)
        S = np.round((M @ M.T) / np.outer(norms, norms), 6)
        ia, ib = np.triu_indices(n, 1)
        sims = S[ia, ib]
        keep = sims >= threshold
        return pd.DataFrame({"id_a": ids[ia[keep]],
                             "id_b": ids[ib[keep]],
                             "cos_sim": sims[keep]})

    sel = keyed.select(F.col(id_col).alias("__id"),
                       F.col(vec_col).alias("__v"), key_col)
    return sel.groupBy(key_col).applyInPandas(
        _pairs, "id_a long, id_b long, cos_sim double")


def semantic_dedup_pairs_scaled(df: DataFrame, threshold: float = 0.95,
                                target_cell: int = 64,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id",
                                max_cluster_size: int | None = 4096
                                ) -> DataFrame:
    """The PRODUCTION SemDeDup candidate generator, one call: centroid
    count scaled to the corpus (``scaled_centroid_count`` — cells stay
    ~``target_cell`` rows, so the within-cell quadratic cost is LINEAR
    in the corpus), assignment through the Arrow matmul kernel
    (:func:`ivf_assign_arrow`), pairs through the Arrow matmul pair
    kernel, capped by default (the quantizer WILL mis-fit some cluster;
    dropped clusters make recall a lower bound, the conservative
    direction). The in-query fixed-quantizer
    :func:`semantic_dedup_pairs` stays as the oracle-exactness twin;
    for a frozen persisted quantizer see
    :func:`semantic_dedup_pairs_indexed`."""
    n = df.count()   # metadata-only aggregate on parquet sources
    cents = ivf_centroids(df, scaled_centroid_count(n, target_cell),
                          vec_col, id_col)
    assigned = ivf_assign_arrow(df, cents, vec_col)
    return _pairs_within_key_arrow(assigned, "centroid_id", threshold,
                                   vec_col, id_col, max_cluster_size)


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.95,
                         n_planes: int = 6, vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         max_bucket_size: int | None = None) -> DataFrame:
    """Embedding near-duplicate pairs: SRP-bucket grouping + exact cosine
    filter. The bucket key bounds the comparisons: no O(n^2) cross
    product. At web scale raise ``n_planes`` so buckets stay small AND
    set ``max_bucket_size`` so a degenerate bucket (zero vectors,
    boilerplate embeddings) can't collect unboundedly — dropped buckets
    make recall a lower bound, the conservative direction."""
    b = srp_buckets(df, n_planes, vec_col, id_col)
    return _pairs_within_key(b, "bucket", threshold, 1 << n_planes,
                             vec_col, id_col, max_bucket_size)


def semantic_dedup_pairs(df: DataFrame,
                         centroids: list[tuple[int, list[float]]],
                         threshold: float = 0.95,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         max_cluster_size: int | None = None) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    k-means-partition the corpus, then cosine pairs WITHIN each cluster
    only — semantic redundancy lives inside tight neighborhoods, so the
    cluster key bounds comparisons exactly like an LSH bucket but with
    data-adaptive boundaries (SRP planes are data-blind; centroids
    follow density, so mutually-near vectors are far less likely to be
    split across keys).

    Scale shape: assignment is the zero-shuffle per-row argmin
    (``ivf_assign``); one shuffle on centroid_id; per-cluster pair gen.
    At 1B vectors use kmeans_centroids over a hash-gate sample and raise
    n_centroids so cluster populations stay bounded (cost is
    sum(|cluster|^2)/2 cosines) — and set ``max_cluster_size`` as the
    hard guard for the cluster the quantizer gets wrong anyway: the r9
    10x probe measured x36 wall for x10 data with the quantizer held
    fixed at 8 centroids (the registry exactness entry), which is
    exactly the fixed-cardinality failure the cap fences in production
    compositions."""
    assigned = ivf_assign(df, centroids, vec_col)
    return _pairs_within_key(assigned, "centroid_id", threshold,
                             max(len(centroids), 1), vec_col, id_col,
                             max_cluster_size)


def semantic_dedup_pairs_indexed(spark, df: DataFrame, index_dir: str,
                                 threshold: float = 0.95,
                                 vec_col: str = "embedding",
                                 id_col: str = "vec_id",
                                 max_cluster_size: int | None = 4096
                                 ) -> DataFrame:
    """PRODUCTION SemDeDup path: centroids come from the persisted IVF
    index (``save_ivf_index``) — a k-row parquet read — so the quantizer
    costs ZERO passes over the corpus. The in-query-trained
    :func:`semantic_dedup_pairs` stays as the oracle twin and the
    one-shot convenience; at 100 TB you train once (kmeans_centroids on
    a hash-gate sample), persist, and every dedup run scores against the
    frozen quantizer — re-train only when ``ivf_index_add``'s drift
    signal says the centroids stopped fitting. The corpus DataFrame is
    not touched until the returned pairs plan executes (pinned by
    tests/test_ivf_pruning.py: a poisoned corpus passes construction)."""
    cents = load_ivf_index(spark, index_dir)
    # capped BY DEFAULT: this is the production entry point (the frozen
    # quantizer WILL mis-fit some cluster between re-trains); None is
    # the explicit exactness opt-in, same contract as the LSH cap
    return semantic_dedup_pairs(df, cents, threshold, vec_col, id_col,
                                max_cluster_size)


def semantic_dedup(df: DataFrame,
                   centroids: list[tuple[int, list[float]]],
                   threshold: float = 0.95, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """End-to-end SemDeDup: keep one canonical vector (the MIN id) per
    within-cluster near-dup component, plus every vector in no
    component. Components run over the pair graph only (tiny next to the
    corpus); the corpus itself is touched once via left_anti — the same
    shape as dedup.dedup_keep_canonical."""
    from .dedup import neardup_components

    # pairs_distinct: each vector lives in exactly one nearest-centroid
    # cell and the within-cell kernels emit every pair once with
    # id_a < id_b, so the pair relation is distinct by construction
    pairs = semantic_dedup_pairs(df, centroids, threshold, vec_col, id_col)
    comp = neardup_components(pairs, pairs_distinct=True)
    drop = comp.filter(F.col("component") != F.col("doc_id")) \
               .select(F.col("doc_id").alias(id_col))
    return df.join(drop, id_col, "left_anti")


def knn_graph_within_clusters(df: DataFrame,
                              centroids: list[tuple[int, list[float]]],
                              k: int = 5, vec_col: str = "embedding",
                              id_col: str = "vec_id") -> DataFrame:
    """Directed k-nearest-neighbor graph WITHIN IVF clusters — the
    SemDeDup-family structure behind NN-descent seeding, graph-based
    dedup audits, and label propagation: for every vector, its ``k``
    most-cosine-similar neighbors among vectors sharing its coarse
    cell (ties broken by neighbor id, ranks dense from 1).

    Scale shape: one shuffle (groupBy centroid_id) collects each
    cluster once; neighbor selection is per-row higher-order-function
    math — per item, candidates are sorted by (sim desc, id) as a
    struct array and sliced to k, so NO second shuffle and no window
    over the quadratic pair set ever materializes. Compute is
    sum(|cluster|^2 log|cluster|) cosines — bound it exactly like
    SemDeDup, by raising n_centroids so cluster populations stay
    small; singleton clusters yield no rows (they have no in-cell
    neighbors), same as the SQL twin's self-join.

    Output: (src, dst, nn_rank, cos_sim), cos_sim rounded to 6 for
    oracle portability."""
    assigned = ivf_assign(df, centroids, vec_col)
    return _knn_within_key(assigned, "centroid_id",
                           max(len(centroids), 1), k, vec_col, id_col)


def knn_random_seed(df: DataFrame, n_buckets: int = 32, k: int = 5,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    kernel: str = "hof") -> DataFrame:
    """k-NN WITHIN RANDOM hash buckets — the classic NN-Descent random
    initialization, as a graph: bucket membership is the portable
    md5 hash of the id, so the edges are geometry-blind and, crucially,
    CROSS geometric cell boundaries. A cell-partitioned seed is closed
    under neighbor-of-neighbor expansion (every path stays inside its
    cell — refinement provably cannot recover a cross-cell neighbor);
    union this with the cell seed and the expansion escapes. Same cost
    machinery and output schema as :func:`knn_graph_within_clusters`;
    ``kernel="arrow"`` selects the vectorized production kernel
    (numpy matmul per bucket, see knn_graph_within_clusters_arrow)."""
    from .text import md5_prefix_int

    keyed = df.withColumn(
        "__bkt", md5_prefix_int(F.col(id_col).cast("string")) % n_buckets)
    if kernel == "arrow":
        return _knn_within_key_arrow(keyed, "__bkt", k, vec_col, id_col)
    return _knn_within_key(keyed, "__bkt", n_buckets, k, vec_col, id_col)


def _knn_within_key(keyed: DataFrame, key_col: str, n_parts: int,
                    k: int, vec_col: str, id_col: str) -> DataFrame:
    # repartition BEFORE the groupBy — same one-exchange rationale as
    # _pairs_within_key (r14, guide §2.4); the explicit n_parts count
    # keeps one partition per group against AQE coalescing
    buckets = (keyed.withColumn("__nrm", l2_norm(F.col(vec_col)))
               .repartition(n_parts, F.col(key_col))
               .groupBy(key_col)
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col(id_col).alias("id"),
                            F.col(vec_col).alias("v"),
                            F.col("__nrm").alias("n")))).alias("items"))
               .filter(F.size("items") > 1))
    # per item: neighbors sorted lexicographically on (-round(sim,6),
    # dst) — negating AFTER the round keeps the reported value exact;
    # norms are per-row precomputed (bit-identical factoring, see
    # _pairs_within_key) so each pair costs one aggregate, not three
    per_src = F.transform(
        F.col("items"),
        lambda x: F.struct(
            x["id"].alias("src"),
            F.slice(F.array_sort(F.transform(
                F.filter(F.col("items"), lambda y: y["id"] != x["id"]),
                lambda y: F.struct(
                    (-F.round(dot(x["v"], y["v"]) / (x["n"] * y["n"]), 6))
                    .alias("negsim"),
                    y["id"].alias("dst")))), 1, k).alias("nn")))
    return (buckets.select(F.explode(per_src).alias("s"))
            .select(F.col("s.src").alias("src"),
                    F.posexplode("s.nn").alias("pos", "n"))
            .select("src", F.col("n.dst").alias("dst"),
                    (F.col("pos") + 1).alias("nn_rank"),
                    (-F.col("n.negsim")).alias("cos_sim")))


def knn_graph_within_clusters_arrow(df: DataFrame,
                                    centroids: list[tuple[int, list[float]]],
                                    k: int = 5,
                                    vec_col: str = "embedding",
                                    id_col: str = "vec_id",
                                    assign: str = "hof") -> DataFrame:
    """Arrow-vectorized twin of :func:`knn_graph_within_clusters` —
    the PRODUCTION kernel: per-cell cosine top-k as one numpy
    matmul + argpartition inside ``applyInPandas``, instead of the
    interpreted per-element higher-order functions (HOFs do not enter
    whole-stage codegen; the BLAS matmul is ~100x the throughput on
    wide cells). Same shuffle shape (one groupBy on centroid_id),
    same output schema and (sim desc, dst) tie-break.

    The HOF form stays the ORACLE-pinned registry twin: summation
    order (pairwise-SIMD vs left-to-right) and rounding mode (numpy
    half-even vs Spark HALF_UP) can differ in the last printed digit,
    so this kernel is pinned against the same numpy reference as the
    HOF form (tests/test_ann_recall.py) rather than against DuckDB.

    ``assign="arrow"`` swaps the HOF centroid argmin for
    :func:`ivf_assign_arrow` — required once n_centroids scales with
    the corpus (round-11 measurement: at 200K vectors x 320 centroids
    the HOF assign alone dominates the job; the matmul assign makes
    the whole scaled-centroid recipe near-linear)."""
    assign_fn = ivf_assign_arrow if assign == "arrow" else ivf_assign
    assigned = assign_fn(df, centroids, vec_col)
    return _knn_within_key_arrow(assigned, "centroid_id", k, vec_col,
                                 id_col)


def _knn_within_key_arrow(keyed: DataFrame, key_col: str, k: int,
                          vec_col: str, id_col: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    assigned = keyed.select(F.col(id_col).alias("id"),
                            F.col(vec_col).alias("v"), key_col)

    def _bucket_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"src": pd.Series([], dtype="int64"),
                                 "dst": pd.Series([], dtype="int64"),
                                 "nn_rank": pd.Series([], dtype="int32"),
                                 "cos_sim": pd.Series([], dtype="float64")})
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        M = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        S = np.round((M @ M.T) / np.outer(norms, norms), 6)
        np.fill_diagonal(S, -np.inf)
        kk = min(k, n - 1)
        src, dst, rank, sim = [], [], [], []
        for i in range(n):
            # top-kk by (sim desc, id asc): full lexsort keeps boundary
            # ties exact (argpartition's cut is arbitrary among equals)
            cand = np.lexsort((ids, -S[i]))[:kk]
            src.extend([ids[i]] * kk)
            dst.extend(ids[cand])
            rank.extend(range(1, kk + 1))
            sim.extend(S[i][cand])
        return pd.DataFrame({"src": np.array(src, dtype="int64"),
                             "dst": np.array(dst, dtype="int64"),
                             "nn_rank": np.array(rank, dtype="int32"),
                             "cos_sim": np.array(sim, dtype="float64")})

    return assigned.groupBy(key_col).applyInPandas(
        _bucket_knn,
        "src long, dst long, nn_rank int, cos_sim double")


def rho_sample_size(rho: float, k: int) -> int:
    """Per-node neighbor-sample size for NN-Descent's ρ parameter:
    ``ceil(rho * k)``, floored at 1 (Dong et al. 2011 §4.2 sample the
    candidate lists at rate ρ; ceil keeps the bound integral and the
    oracle literal)."""
    import math
    return max(1, int(math.ceil(rho * k)))


def _rho_sample_slice(s: int) -> "Column":
    """Per-row ρ-sample of an adjacency ARRAY column ``__adj`` for node
    ``src``: sort neighbors by (md5-prefix edge hash, dst) and take the
    first ``s`` — exactly the rank the former window form
    (``row_number() OVER (PARTITION BY src ORDER BY hash, dst) <= s``)
    computed, but as array math on the grouped adjacency relation, so
    the sample costs zero additional shuffle (r14, guide §2.4). The
    hash key is geometry-blind, so the sample stays unbiased w.r.t.
    similarity; array_sort on the (hash, dst) struct is the same
    lexicographic order as the window's (hash ASC, dst ASC)."""
    from .text import md5_prefix_int

    return F.transform(
        F.slice(F.array_sort(F.transform(
            F.col("__adj"),
            lambda d: F.struct(
                md5_prefix_int(F.concat_ws(
                    ",", F.col("src").cast("string"),
                    d.cast("string"))).alias("h"),
                d.alias("dst")))), 1, s),
        lambda t: t["dst"])


def _rho_sample_adjacency(und: DataFrame, s: int) -> DataFrame:
    """Keep ``s`` deterministic-pseudorandom neighbors per src from an
    undirected adjacency EDGE relation — the edge-relation view of
    :func:`_rho_sample_slice` (one groupBy, per-row sort+slice, explode
    back), kept as the test/equivalence surface for the sampled round."""
    adj = und.groupBy("src").agg(F.collect_set("dst").alias("__adj"))
    return adj.select("src",
                      F.explode(_rho_sample_slice(s)).alias("dst"))


def nn_descent_round(graph: DataFrame, vectors: DataFrame, k: int = 5,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     rho: float | None = None) -> DataFrame:
    """One NN-Descent refinement round (Dong et al. 2011): expand each
    node's candidates with its neighbors' neighbors — in BOTH edge
    directions, the algorithm's core insight (a neighbor of my
    neighbor is probably my neighbor) — score the new candidates, keep
    the top ``k`` of old ∪ new. Fixed rounds keep the job graph static
    and the computation exactly replayable (the oracle unrolls the
    same round); 1-2 rounds already lift the within-cell seed graph's
    recall sharply (measured in tests/test_ann_recall.py).

    Scale shape per round: the expansion is an E ⋈ E self-join on the
    k-regular edge list — O(n·k²) candidate rows, never the corpus
    squared; scoring joins the (id, vec) table twice (shuffle by src,
    then by dst — vectors ride only the candidate set); selection is
    one row_number window partitioned by src (n keys, distributed).
    Output: (src, dst, nn_rank, cos_sim), same schema as
    :func:`knn_graph_within_clusters` so rounds compose.

    ``rho`` (r12 verdict item 2) bounds the per-round fan-out with the
    standard ρ-sampling: each node's UNDIRECTED adjacency list is
    down-sampled to ``ceil(rho·k)`` entries (deterministic md5-hash
    rank, mirrored literally in the oracle) before the E ⋈ E
    expansion, so candidates per node are ≤ (ρk)² regardless of how
    dense the reverse-edge lists get — the unbounded round's measured
    x5.67-at-10x superlinearity lives exactly in that density growth.
    The CURRENT edges always rejoin the candidate union, so a sampled
    round never ranks fewer than the incoming k per node.

    Plan shape (r14, guide §2.4 — value-identical to the former
    edge-list E ⋈ E self-join, fewer exchanges): the symmetrized edge
    list is grouped ONCE into per-node adjacency arrays (collect_set ≡
    the former .distinct(), same shuffle key). Because the list is
    symmetric, {(x,y): ∃m (x,m),(m,y) ∈ und} = ⋃_m A(m)×A(m) \\ diag,
    so the unsampled expansion is a per-row double explode of the
    adjacency array — no self-join, no second/third edge exchange. The
    ρ-sampled expansion is NOT symmetric (m ∈ S(x) and y ∈ S(m) are
    independent conditions), so it keeps one join — sampled edges
    (x, m) against the grouped (m, S(m)) arrays, whose groupBy
    partitioning the join reuses — and explodes S(m) after the match.
    Same per-node |A|² worst case as the self-join (a hot node's pairs
    land in one task either way); ρ-sampling remains the density
    fence. Scoring keeps the ordered-candidate form: two alternatives
    were measured and REJECTED on the same seed (r14, guide §1.1's
    "ideal plan is usually slower at first" loop) — canonical-pair
    scoring (score each unordered pair once under orientation flags,
    halving the d-dim dots) ran 2.3-2.9 s vs 1.5-2.0 s here because
    the flag aggregate + struct-array explode outweigh the saved dots
    at these candidate widths, and groupBy(src).collect_set dedup
    (saves the window exchange) ran ~0.3 s slower than the plain
    distinct for the same reason."""
    g = graph.select("src", "dst")
    und_dup = g.unionByName(g.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
    adj = und_dup.groupBy("src").agg(F.collect_set("dst").alias("__adj"))
    if rho is None:
        cand_dup = (adj.select("__adj",
                               F.explode("__adj").alias("__cx"))
                    .select(F.col("__cx").alias("src"),
                            F.explode("__adj").alias("dst"))
                    .filter(F.col("src") != F.col("dst")))
    else:
        sampled = adj.select(
            "src", _rho_sample_slice(rho_sample_size(rho, k)).alias("__s"))
        a = sampled.select(F.col("src").alias("__x"),
                           F.explode("__s").alias("__mid"))
        b = sampled.select(F.col("src").alias("__mid"),
                           F.col("__s").alias("__bs"))
        cand_dup = (a.join(b, "__mid")
                    .select(F.col("__x").alias("src"),
                            F.explode("__bs").alias("dst"))
                    .filter(F.col("src") != F.col("dst")))
    expanded = cand_dup.unionByName(g).distinct()
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


def nn_descent(vectors: DataFrame,
               centroids: list[tuple[int, list[float]]], k: int = 5,
               rounds: int = 1, random_buckets: int = 32,
               vec_col: str = "embedding",
               id_col: str = "vec_id", kernel: str = "hof",
               rho: float | None = None) -> DataFrame:
    """Global approximate k-NN graph: mixed seed + ``rounds``
    NN-Descent refinements. The seed UNIONS the within-cell graph
    (geometric quality: each node's true in-cell top-k) with the
    random-hash-bucket graph (connectivity: cross-cell reach — without
    it the expansion is provably confined to cells, see
    :func:`knn_random_seed`); every round then re-scores
    old ∪ neighbors-of-neighbors and keeps the top k. Checkpointed per
    round so the lineage stays flat. ``kernel="arrow"`` runs both
    quadratic seed kernels vectorized (the production path — seed
    edge placement tolerates the last-digit rounding deltas; the
    re-scoring rounds are identical either way). ``rho`` enables the
    standard per-round neighbor sampling (see
    :func:`nn_descent_round`) — the production setting (rho=0.5)
    bounds each round's candidate fan-out independent of graph
    density, which centroid scaling alone cannot do (the unbounded
    round probed x5.67 for x10 data; r12 verdict item 2)."""
    if kernel == "arrow":
        # assign="arrow" too: with corpus-proportional centroid counts
        # the HOF argmin alone dominates the job (the r11 measurement
        # behind ivf_assign_arrow) — an "arrow" nn_descent that kept
        # the interpreted assign would be slower than the HOF twin at
        # exactly the scales the arrow kernel exists for
        cell = knn_graph_within_clusters_arrow(
            vectors, centroids, k, vec_col, id_col, assign="arrow")
    else:
        cell = knn_graph_within_clusters(vectors, centroids, k,
                                         vec_col, id_col)
    cell = cell.select("src", "dst")
    rnd = knn_random_seed(vectors, random_buckets, k, vec_col,
                          id_col, kernel=kernel).select("src", "dst")
    # checkpoint the seed: the round references its input graph five
    # times (und twice, the expansion union, the re-score) — without a
    # cut the two quadratic seed kernels would replay per reference
    g = cell.unionByName(rnd).distinct().localCheckpoint(eager=False)
    for _ in range(rounds):
        g = nn_descent_round(g, vectors, k, vec_col, id_col, rho=rho) \
            .localCheckpoint(eager=False)
    return g


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  id_cols: tuple[str, ...] = ("vec_id",)) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q_i = round(x_i / scale)``
    with ``scale = max|x| / 127`` — the standard scalar-quantization step
    that cuts vector storage and ANN scan bandwidth 4x (float32 -> int8)
    at <1% recall loss for cosine search.

    Per-row array math only (transform/array_max), zero shuffle, runs at
    scan speed; at 100 TB the quantized column is what the ANN index
    stores, with the fp32 vector kept only for the final re-rank.
    Output: id cols, ``scale`` (double), ``q`` (array<int>), and
    ``q_l2sq`` (sum of squares of q — an exactness witness for tests and
    the oracle)."""
    v = F.col(vec_col)
    # greatest(·, 1e-30) guards the all-zero vector (scale 0 would put
    # NaN/Inf through round); with it, zero vectors quantize to zeros.
    # The oracle SQL applies the identical guard.
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))).cast("double")
        / F.lit(127.0),
        F.lit(1e-30))
    df = df.withColumn("scale", scale)
    q = F.transform(v, lambda x: F.round(x.cast("double") / F.col("scale"))
                    .cast("int"))
    df = df.withColumn("q", q)
    l2sq = F.aggregate(F.col("q"), F.lit(0).cast("long"),
                       lambda acc, x: acc + x.cast("long") * x.cast("long"))
    return df.select(*id_cols, "scale", "q", l2sq.alias("q_l2sq"))


def label_centroids_pandas(df: DataFrame, vec_col: str = "embedding",
                           label_col: str = "label") -> DataFrame:
    """Per-label embedding centroids via ``applyInPandas`` — the batch
    grouped-map Arrow path (the pattern for custom per-group kernels that
    genuinely need numpy: whitening, PCA-per-group, medoid selection).
    A plain mean IS expressible with built-ins; it is used here precisely
    so the Arrow path has a value-level oracle.

    Output is the exploded scalar form (label, dim, c) rather than an
    array column so the oracle comparison is tolerance-aware per element.
    Scale shape: one shuffle on the label key; each group streams through
    a worker as Arrow batches; numpy does the column math vectorized."""
    import pandas as pd  # noqa: F401 (worker-side)

    def _centroid(pdf):
        import numpy as np
        import pandas as pd
        m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
        c = m.mean(axis=0)
        return pd.DataFrame({
            label_col: pdf[label_col].iloc[0],
            "dim": range(1, len(c) + 1),
            "c": c,
            "n": len(m),
        })

    out_schema = f"{label_col} int, dim int, c double, n long"
    return df.groupBy(label_col).applyInPandas(_centroid, schema=out_schema)


def save_ivf_index(spark, centroids: list[tuple[int, list[float]]],
                   path: str) -> None:
    """Persist IVF centroids as a parquet table — the index lifecycle
    step: train once (kmeans_centroids on a sample), reuse across query
    sessions. Centroids are k rows; the assignment/probe plan is rebuilt
    from them on load, so the index artifact is engine-version-proof."""
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in centroids],
        "centroid_id int, centroid array<float>")
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_ivf_index(spark, path: str) -> list[tuple[int, list[float]]]:
    rows = spark.read.parquet(path).orderBy("centroid_id").collect()
    return [(r["centroid_id"], [float(x) for x in r["centroid"]])
            for r in rows]


def ivf_index_add(spark, new_df: DataFrame, index_path: str,
                  data_path: str, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> dict:
    """Incremental IVF maintenance: assign NEW vectors with the FROZEN
    quantizer and partition-append them into the centroid_id-partitioned
    layout — existing inverted lists are never rewritten (append adds
    files inside the touched ``centroid_id=`` directories only), and no
    re-clustering runs. This is how FAISS/Milvus grow an IVF index
    between re-trains; re-train (kmeans_centroids on a fresh sample +
    save_ivf_index + one rewrite) only when the returned drift signal
    says the frozen quantizer stopped fitting the data.

    Drift signal: mean squared distance of the ADDED vectors to their
    assigned centroid (their inertia/row). Compare against the same
    statistic recorded at train time — a sustained rise means new data
    lives between the old centroids and recall will sag.

    Scale shape: assignment is the zero-shuffle literal-centroid argmin;
    the only movement is the partitioned append of the new rows."""
    cents = load_ivf_index(spark, index_path)
    # lazy localCheckpoint: the drift-stats aggregate and the
    # partitioned append both consume the assignment — unmaterialized,
    # the new batch would be scanned and assigned twice (r13).
    # Caveat (ADVICE r13): the checkpointed batch lives on executors
    # without lineage — an executor loss between the stats action and
    # the append fails the call (re-run it; the append has not started),
    # and the blocks are freed by JVM GC, not an explicit unpersist.
    assigned = ivf_assign(new_df, cents).select(
        id_col, vec_col, "centroid_id").localCheckpoint(eager=False)
    entries = _centroid_dist_structs(cents, vec_col)
    own_d = F.filter(
        entries, lambda e: e["cid"] == F.col("centroid_id"))[0]["dist"]
    stats = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(own_d).alias("msd"),
        F.countDistinct("centroid_id").alias("lists_touched")).first()
    assigned.write.mode("append").partitionBy("centroid_id") \
        .parquet(data_path)
    return {"n_added": int(stats["n"]),
            "mean_sq_dist": float(stats["msd"]) if stats["msd"] is not None
            else None,
            "lists_touched": int(stats["lists_touched"])}


def ann_topk_indexed(spark, data_path: str, index_path: str,
                     query_vec: list[float], k: int = 10, nprobe: int = 2,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Search the PERSISTED centroid_id-partitioned IVF layout: the
    probe-list filter is a partition-pruning predicate, so the scan
    reads nprobe/n_centroids of the files (pinned by
    tests/test_ivf_pruning.py for the inline variant). Pair with
    :func:`ivf_index_add` for the full build -> add -> search
    lifecycle without re-reading the corpus."""
    cents = load_ivf_index(spark, index_path)

    def _dist(v: list[float]) -> float:
        return sum((float(x) - float(y)) ** 2
                   for x, y in zip(query_vec, v))

    probes = [cid for cid, _ in
              sorted(cents, key=lambda cv: (_dist(cv[1]), cv[0]))[:nprobe]]
    data = spark.read.parquet(data_path).filter(
        F.col("centroid_id").isin(probes))
    sim = F.round(cosine(F.col(vec_col),
                         F.array(*[F.lit(float(v)) for v in query_vec])), 6)
    return (data.select(F.col(id_col), sim.alias("cos_sim"))
                .orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k))


# -- Product Quantization (Jégou'11 PQ/ADC) ---------------------------------
#
# The memory rung of the ANN ladder: a d-dim float vector (d*4 bytes)
# compresses to m code bytes (here 8), so a 100 TB embedding corpus's
# search structure fits in ~0.8% of its raw size — the difference
# between "index lives in executor memory" and "index pages from disk".
# Codes are computed once (pq_encode, zero shuffle) and scanned with
# table-lookup distances (pq_adc_topk); no float vector rides the scan.

# Fence for the measured O(n*k*d) PQ-encode quadratic when k is scaled
# with the corpus (round 11 probe; see pq_codebooks docstring). 4096
# matches max_cluster_size's default cap elsewhere in the ANN family and
# is 16x the standard full-scale k=256.
_PQ_MAX_K = 4096


def _check_pq_k(k: int) -> None:
    if k > _PQ_MAX_K:
        raise ValueError(
            f"k={k} exceeds _PQ_MAX_K={_PQ_MAX_K}: PQ encode cost is "
            "O(n*k*d) — scale code length m, not k, with the corpus "
            "(k proportional to corpus size is the IVF recipe, and "
            "makes PQ quadratic)")


def pq_codebooks(df: DataFrame, m: int = 8, k: int = 16,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> list[list[list[float]]]:
    """Deterministic PQ codebooks: entry j of subspace s is the s-th
    subvector of the vector with id j — the oracle-reproducible
    quantizer, same convention as :func:`ivf_centroids` (fixed literals
    on both engines). :func:`pq_codebooks_kmeans` is the quality
    upgrade with the same output shape, so everything downstream
    (encode, ADC, the persisted layout) is quantizer-agnostic.
    Returns ``codebooks[s][j] = list[d/m floats]``.

    Scaling recipe (measured, round 11): encode cost is O(n_rows x m x
    k x d/m) = O(n x k x d) — LINEAR in k (k 16 -> 160 at 20K vectors:
    x9.2 wall) and sublinear-to-linear in n (x10 corpus at fixed k:
    x2.7). So k MUST stay fixed as the corpus grows (k=256 is the
    standard full-scale setting; per-vector quality is m*log2(k) bits
    and improves via m, the code length, not via k proportional to n).
    k ∝ corpus is the IVF recipe (bounded cells), NOT the PQ recipe —
    measured k∝n here is O(n^2): x24.6 wall for x10 data. ``_PQ_MAX_K``
    fences the quadratic: beyond it the codebook/LUT plan literal also
    stops being "tiny"."""
    _check_pq_k(k)
    rows = (df.filter(F.col(id_col) < k)
              .select(id_col, vec_col).orderBy(id_col).collect())
    d = len(rows[0][1])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub = d // m
    return [[[float(v) for v in r[1][s * sub:(s + 1) * sub]]
             for r in rows] for s in range(m)]


def _cb_literal(codebooks: list[list[list[float]]]):
    """m x k x (d/m) codebook as ONE nested literal array."""
    return F.array(*[F.array(*[F.array(*[F.lit(float(t)) for t in entry])
                               for entry in row]) for row in codebooks])


def _pq_min_structs(codebooks: list[list[list[float]]], vec_col):
    """Per-subspace argmin as an array of (dist, j) structs via NESTED
    higher-order functions over a single codebook literal — O(1)
    structural expression nodes instead of m*k unrolled l2_sq trees.
    The unrolled form computed the same math but took ~5 s of pure
    plan CONSTRUCTION per query (a py4j round-trip per codebook entry
    plus a Catalyst tree the analyzer re-walks); this builds in
    milliseconds and evaluates identically: aggregate/zip_with
    left-to-right double sums, array_min's lexicographic (dist, j)
    giving lowest j on ties — matching the oracle's ORDER BY dist, j.
    ``vec_col`` may be a name or a computed Column (the residual path
    passes ``vec - assigned_centroid``)."""
    m = len(codebooks)
    k = len(codebooks[0])
    sub = len(codebooks[0][0])
    cb = _cb_literal(codebooks)
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col

    def _dist(s, j):
        entry = F.element_at(F.element_at(cb, (s + 1).cast("int")),
                             (j + 1).cast("int"))
        subv = F.slice(vec, s * sub + 1, F.lit(sub))
        diffs = F.zip_with(subv, entry,
                           lambda x, y: (x.cast("double") - y)
                           * (x.cast("double") - y))
        return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)

    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.array_min(F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.struct(_dist(s, j).alias("dist"),
                               j.cast("int").alias("j")))))


def _pq_codes_expr(codebooks: list[list[list[float]]], vec_col):
    """array<int> of length m: the PQ code word."""
    return F.transform(_pq_min_structs(codebooks, vec_col),
                       lambda e: e["j"])


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """(id, vec) -> (id, codes: array<int> of length m). Zero shuffle:
    per-row argmin against codebook literals baked into the plan (the
    same codegen-literal pattern as ivf_assign). At 100 TB this is the
    one full-corpus pass PQ ever takes; everything after runs on
    m-byte codes."""
    return df.select(F.col(id_col),
                     _pq_codes_expr(codebooks, vec_col).alias("codes"))


def pq_codebooks_kmeans(df: DataFrame, m: int = 8, k: int = 16,
                        iters: int = 5, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> list[list[list[float]]]:
    """Per-subspace Lloyd refinement of the deterministic init. ALL m
    subspaces update in ONE distributed pass per iteration — the rows
    explode to (s, assigned_j, dim, value) and a single groupBy carries
    m*k*(d/m) = d*k aggregation states (4096 doubles here), never
    vectors; only that tiny relation reaches the driver. Empty cells
    keep their previous entry (same contract as kmeans_centroids)."""
    cbs = pq_codebooks(df, m, k, vec_col, id_col)
    sub = len(cbs[0][0])
    for _ in range(iters):
        codes = _pq_codes_expr(cbs, vec_col)
        entries = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.struct(
                s.cast("int").alias("s"),
                F.element_at(codes, (s + 1).cast("int")).alias("j"),
                F.slice(F.col(vec_col), s * sub + 1, F.lit(sub))
                 .alias("v")))
        means = (df.select(F.explode(entries).alias("e"))
                   .select("e.s", "e.j", F.posexplode("e.v")
                           .alias("d", "val"))
                   .groupBy("s", "j", "d")
                   .agg(F.avg("val").alias("mu"))
                   .collect())
        new: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            new.setdefault((int(r["s"]), int(r["j"])), {})[int(r["d"])] = \
                float(r["mu"])
        cbs = [[([new[(s, j)][t] for t in range(sub)]
                 if (s, j) in new else cbs[s][j])
                for j in range(k)] for s in range(m)]
    return cbs


def pq_adc_topk(codes_df: DataFrame, query_vec: list[float],
                codebooks: list[list[list[float]]], k: int = 10,
                id_col: str = "vec_id") -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query builds an
    m x k lookup table DRIVER-side (tiny, exact float sums left to
    right), approx dist = sum_s lut[s][code_s] — per row just m array
    lookups and adds, no vector math in the scan; top-k is
    TakeOrderedAndProject. Output: (id, approx_dist), ascending."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    lut = [[sum((float(query_vec[s * sub + t]) - codebooks[s][j][t]) ** 2
                for t in range(sub))
            for j in range(len(codebooks[s]))] for s in range(m)]
    lut_lit = F.lit([[float(v) for v in row] for row in lut])
    terms = [F.element_at(F.element_at(lut_lit, s + 1),
                          F.element_at("codes", s + 1).cast("int") + 1)
             for s in range(m)]
    dist = terms[0]
    for t in terms[1:]:
        dist = dist + t
    return (codes_df.select(F.col(id_col),
                            F.round(dist, 6).alias("approx_dist"))
                    .orderBy("approx_dist", id_col).limit(k))


def pq_quantization_error(df: DataFrame,
                          codebooks: list[list[list[float]]],
                          vec_col: str = "embedding") -> float:
    """Mean squared reconstruction error of the PQ quantizer over the
    corpus — sum_s l2(subvec_s, codebook[s][argmin]) averaged over
    rows. The per-subspace Lloyd objective, so it is non-increasing
    under :func:`pq_codebooks_kmeans`; production uses it as the
    retrain drift signal (mirror of ivf_inertia / ivf_index_add)."""
    err = F.aggregate(_pq_min_structs(codebooks, vec_col), F.lit(0.0),
                      lambda acc, e: acc + e["dist"])
    return float(df.agg(F.avg(err)).collect()[0][0])


def pq_adc_rerank_topk(codes_df: DataFrame, vectors_df: DataFrame,
                       query_vec: list[float],
                       codebooks: list[list[list[float]]], k: int = 10,
                       shortlist: int = 50, vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """The production PQ search shape: ADC over codes produces a
    ``shortlist`` (cheap, code-bytes-only scan), then ONLY those rows'
    float vectors are fetched for exact L2 rerank — measured on the
    isotropic fixture this lifts recall@10 from 0.35 (ADC alone) to
    0.70/0.74 (det/trained codebooks) at shortlist=50
    (tests/test_ann_recall.py). The rerank side is a broadcast semi-
    join of ``shortlist`` ids against the vector table: at 100 TB the
    full-precision vectors are touched for 50 rows, not the corpus.
    Output: (id, l2_dist), ascending exact distance."""
    sl = pq_adc_topk(codes_df, query_vec, codebooks, k=shortlist,
                     id_col=id_col)
    dist = l2_sq(F.col(vec_col),
                 F.array(*[F.lit(float(v)) for v in query_vec]))
    return (vectors_df.join(F.broadcast(sl.select(id_col)), id_col)
                      .select(F.col(id_col),
                              F.round(dist, 6).alias("l2_dist"))
                      .orderBy("l2_dist", id_col).limit(k))


# -- IVF-PQ (coarse quantizer + PQ over RESIDUALS, Jégou'11 §IV) ------------

def _centroid_lookup_expr(centroids: list[tuple[int, list[float]]]):
    """array-of-arrays literal indexed by centroid_id (ids are the
    contiguous 0..k-1 of the first-k deterministic quantizer). One
    nested F.lit — a single py4j call, not k*d."""
    return F.lit([[float(v) for v in vec] for _, vec in sorted(centroids)])


def _residual_expr(vec_col: str, centroids):
    cent = F.element_at(_centroid_lookup_expr(centroids),
                        F.col("centroid_id").cast("int") + 1)
    return F.zip_with(F.col(vec_col), cent,
                      lambda a, b: a.cast("double") - b)


def pq_residual_codebooks(df: DataFrame,
                          centroids: list[tuple[int, list[float]]],
                          m: int = 8, k: int = 16,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> list[list[list[float]]]:
    """Deterministic RESIDUAL codebooks: entry j of subspace s is the
    s-th subvector of (vector j - its assigned coarse centroid).
    Residuals are what IVF-PQ actually quantizes — they are centered
    near zero inside every inverted list, so k code entries cover them
    far better than they cover raw vectors. Same first-k convention as
    :func:`pq_codebooks`; swap in per-subspace Lloyd on residuals for
    the production upgrade (pq_codebooks_kmeans works unchanged on a
    pre-computed residual column). Same fixed-k scaling recipe as
    :func:`pq_codebooks` (encode is O(n*k*d); scale m, not k)."""
    _check_pq_k(k)    # before the collect the fence exists to prevent
    rows = (df.filter(F.col(id_col) < k)
              .select(id_col, vec_col).orderBy(id_col).collect())
    return pq_residual_codebooks_from_rows(rows, centroids, m, k)


def pq_residual_codebooks_from_rows(rows, centroids, m: int = 8,
                                    k: int = 16):
    """:func:`pq_residual_codebooks` on PRE-COLLECTED (id, vec) rows —
    lets a caller that already holds the first-k rows (e.g. one scan
    serving centroids + codebooks + the query vector) build the
    codebooks without a second driver action (r14, guide §5). ``rows``
    must be the id-ascending first-``k`` rows the collecting form
    would fetch."""
    _check_pq_k(k)
    rows = [r for r in rows][:k]
    d = len(rows[0][1])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub = d // m
    cents = {cid: vec for cid, vec in centroids}

    def _residual(v):
        best = min(cents.items(),
                   key=lambda cv: (sum((float(x) - float(y)) ** 2
                                       for x, y in zip(v, cv[1])), cv[0]))
        return [float(x) - float(y) for x, y in zip(v, best[1])]

    res = [_residual(r[1]) for r in rows]
    return [[rv[s * sub:(s + 1) * sub] for rv in res] for s in range(m)]


def ivfpq_encode(df: DataFrame,
                 centroids: list[tuple[int, list[float]]],
                 codebooks: list[list[list[float]]],
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """(id, vec) -> (id, centroid_id, codes): coarse assignment plus PQ
    codes of the RESIDUAL, in one zero-shuffle pass (both quantizers
    are plan literals). This is the persisted search structure: written
    ``partitionBy(centroid_id)`` it gives list-pruned scans over 8-byte
    codes — the layout save_ivf_index already uses, with codes instead
    of float vectors inside."""
    assigned = ivf_assign(df, centroids, vec_col)
    res = _residual_expr(vec_col, centroids)
    return assigned.select(F.col(id_col), "centroid_id",
                           _pq_codes_expr(codebooks, res).alias("codes"))


def ann_topk_ivfpq(encoded: DataFrame, query_vec: list[float],
                   centroids: list[tuple[int, list[float]]],
                   codebooks: list[list[list[float]]],
                   vectors_df: DataFrame | None = None, k: int = 10,
                   nprobe: int = 2, shortlist: int = 50,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """IVF-PQ search: probe the ``nprobe`` nearest inverted lists, ADC
    over residual codes with a PER-LIST lookup table (the query's
    residual differs per probed centroid), optional exact rerank when
    ``vectors_df`` is given. The scan reads codes from nprobe/k_coarse
    of the data (partition pruning when ``encoded`` is written
    partitionBy(centroid_id)) and touches float vectors for
    ``shortlist`` rows only — the FAISS IVFPQ architecture as a
    DataFrame plan. Output: (id, approx_dist) or (id, l2_dist) when
    reranking, ascending."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cents = sorted(centroids)

    def _qdist(vec):
        return sum((float(a) - float(b)) ** 2
                   for a, b in zip(query_vec, vec))

    probes = [cid for cid, vec in
              sorted(cents, key=lambda cv: (_qdist(cv[1]), cv[0]))[:nprobe]]
    luts = {}
    for cid in probes:
        cvec = dict(cents)[cid]
        qres = [float(a) - float(b) for a, b in zip(query_vec, cvec)]
        luts[cid] = [[sum((qres[s * sub + t] - codebooks[s][j][t]) ** 2
                          for t in range(sub))
                      for j in range(len(codebooks[s]))]
                     for s in range(m)]

    def _list_dist(cid):
        lut_lit = F.lit([[float(v) for v in row] for row in luts[cid]])
        terms = [F.element_at(F.element_at(lut_lit, s + 1),
                              F.element_at("codes", s + 1).cast("int") + 1)
                 for s in range(m)]
        d = terms[0]
        for t in terms[1:]:
            d = d + t
        return d

    dist = F.when(F.col("centroid_id") == probes[0], _list_dist(probes[0]))
    for cid in probes[1:]:
        dist = dist.when(F.col("centroid_id") == cid, _list_dist(cid))
    sl = (encoded.filter(F.col("centroid_id").isin(probes))
                 .select(F.col(id_col),
                         F.round(dist, 6).alias("approx_dist"))
                 .orderBy("approx_dist", id_col).limit(shortlist))
    if vectors_df is None:
        return sl.limit(k)
    exact = l2_sq(F.col(vec_col),
                  F.array(*[F.lit(float(v)) for v in query_vec]))
    return (vectors_df.join(F.broadcast(sl.select(id_col)), id_col)
                      .select(F.col(id_col),
                              F.round(exact, 6).alias("l2_dist"))
                      .orderBy("l2_dist", id_col).limit(k))


# --------------------------------------------------------------------------
# Maximal Marginal Relevance: diverse top-k over a bounded shortlist
# --------------------------------------------------------------------------

def mmr_topk(df: DataFrame, query_vec: list[float], k: int = 5,
             lam: float = 0.7, shortlist_n: int = 32,
             vec_col: str = "embedding", id_col: str = "vec_id",
             sim_dp: int = 9, out_dp: int = 6) -> DataFrame:
    """Diverse top-k via Maximal Marginal Relevance (Carbonell & Goldstein
    '98): greedily pick argmax of ``lam*rel(d) - (1-lam)*max_{s in S}
    sim(d, s)`` — relevance traded against redundancy with the already-
    selected set S.

    Two-phase scale shape, same as every production MMR: the CLUSTER does
    the heavy part (exact cosine shortlist via TakeOrderedAndProject —
    per-partition heaps, k-row driver merge, no global sort even on 10^11
    vectors), then the inherently-sequential greedy loop runs on the
    driver over the ``shortlist_n``-row shortlist — bounded work on a
    bounded relation, the same pattern as the k-means centroid collects.

    Determinism: relevance and pairwise similarities are rounded to
    ``sim_dp`` BEFORE every comparison, so selection order is stable
    across numpy/JVM/DuckDB ulp differences; ties break to the lower id.
    The emitted score is the MMR objective at selection time, rounded to
    ``out_dp``.
    """
    import numpy as np

    lit_q = F.array(*[F.lit(float(v)) for v in query_vec])
    rel_c = F.round(cosine(F.col(vec_col), lit_q), sim_dp)
    short = (df.select(F.col(id_col), F.col(vec_col), rel_c.alias("rel"))
               .orderBy(F.desc("rel"), F.col(id_col))
               .limit(shortlist_n))
    rows = short.collect()  # bounded: shortlist_n rows

    ids = [r[id_col] for r in rows]
    rel = {r[id_col]: float(r["rel"]) for r in rows}
    vecs = {r[id_col]: np.asarray(r[vec_col], dtype=np.float64) for r in rows}
    norms = {i: float(np.linalg.norm(v)) for i, v in vecs.items()}

    def pairsim(a: int, b: int) -> float:
        return round(float(np.dot(vecs[a], vecs[b])) / (norms[a] * norms[b]),
                     sim_dp)

    pen_w = 1.0 - lam
    selected: list[tuple[int, int, float]] = []
    chosen: list[int] = []
    remaining = list(ids)
    for rank in range(1, min(k, len(ids)) + 1):
        best_id, best_score = None, None
        for i in remaining:
            pen = max((pairsim(i, s) for s in chosen), default=0.0)
            score = lam * rel[i] - pen_w * pen
            if best_score is None or score > best_score or (
                    score == best_score and i < best_id):
                best_id, best_score = i, score
        selected.append((rank, best_id, round(best_score, out_dp)))
        chosen.append(best_id)
        remaining.remove(best_id)

    spark = df.sparkSession
    id_type = dict(df.dtypes)[id_col]
    return spark.createDataFrame(
        selected, schema=f"mmr_rank int, {id_col} {id_type}, mmr_score double")


def matryoshka_truncate(df: DataFrame, dims: int,
                        vec_col: str = "embedding",
                        out_col: str | None = None,
                        renormalize: bool = False) -> DataFrame:
    """Matryoshka-style dimension truncation (Kusupati et al. '22):
    keep the leading ``dims`` coordinates of an MRL-trained embedding —
    the cheap storage/compute ladder modern embedding models ship with
    (a 64-dim prefix of a 768-dim vector retains most retrieval
    quality at 1/12 the cost). Pure per-row slice, zero shuffle;
    ``renormalize`` divides by the truncated L2 norm when downstream
    code assumes unit vectors (cosine is scale-invariant, so the
    registry entry skips it)."""
    out = out_col or vec_col
    sliced = F.slice(F.col(vec_col), 1, dims)
    if renormalize:
        n = F.sqrt(F.aggregate(
            sliced, F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double")))
        sliced = F.transform(sliced, lambda x: x.cast("double") / n)
    return df.withColumn(out, sliced)


def binary_quantize(df: DataFrame, vec_col: str = "embedding",
                    id_cols: tuple[str, ...] = ("vec_id",),
                    dim: int = 64) -> DataFrame:
    """Binary (sign-bit) quantization: 1 bit per coordinate, packed into
    ``ceil(dim/32)`` 32-bit words stored as longs (``w0`` = coords 1..32,
    bit i set when the coordinate is > 0). float32 -> 1 bit is a 32x
    scan-bandwidth cut — the cheapest rung of the quantization ladder
    under :func:`quantize_int8` (4x) and PQ (configurable) — and Hamming
    distance between sign words is a monotone angular-distance proxy
    (each coordinate acts as an axis-aligned SRP hyperplane, so
    E[hamming] = dim * theta / pi for unit vectors).

    Per-row fold only, zero shuffle; downstream distance is XOR+popcount
    (JVM intrinsics inside whole-stage codegen). ``set_bits`` (popcount
    of the packed words) is the exactness witness for tests/oracles.
    At 100 TB the packed words are the column an ANN sweep scans (8
    bytes/vector for dim=64); floats are touched only by the final
    rerank (:func:`ann_hamming_topk` with ``rerank>0``)."""
    n_words = (dim + 31) // 32
    cols: list = [F.col(c) for c in id_cols]
    for w in range(n_words):
        lo, width = w * 32, min(32, dim - w * 32)
        # explicit NOT isnan guard: Spark orders NaN greatest so a bare
        # `NaN > 0` is TRUE, while the Python query-side twin
        # (pack_sign_words) evaluates `nan > 0` as False — a NaN
        # coordinate would silently desynchronize the two packings.
        # NaN => 0-bit on both sides.
        cols.append(F.expr(
            f"aggregate(sequence(0, {width - 1}), 0L, (acc, i) -> acc + "
            f"IF(NOT isnan(element_at({vec_col}, i + {lo + 1})) AND "
            f"element_at({vec_col}, i + {lo + 1}) > 0, "
            f"shiftleft(1L, i), 0L))").alias(f"w{w}"))
    out = df.select(*cols)
    set_bits = F.bit_count(F.col("w0"))
    for w in range(1, n_words):
        set_bits = set_bits + F.bit_count(F.col(f"w{w}"))
    return out.withColumn("set_bits", set_bits.cast("int"))


def pack_sign_words(vec: list[float], dim: int | None = None) -> list[int]:
    """Driver-side twin of :func:`binary_quantize` for a query vector —
    plain Python, no Spark job; must stay bit-identical to the column
    expression (same ``> 0`` threshold, same word/bit layout, and the
    same NaN convention: Python's ``nan > 0`` is False, so the column
    expression carries an explicit NOT isnan guard — Spark would
    otherwise evaluate ``NaN > 0`` as true, NaN ordering greatest)."""
    dim = len(vec) if dim is None else dim
    words = []
    for w in range((dim + 31) // 32):
        word = 0
        for i in range(min(32, dim - w * 32)):
            if vec[w * 32 + i] > 0:
                word |= 1 << i
        words.append(word)
    return words


def hamming_to_query(packed_word_cols: list[str],
                     q_words: list[int]) -> Column:
    """Hamming distance from packed sign-word columns to a constant
    query: sum of bit_count(xor) per word — folds into one codegen
    expression, no UDF, no array traversal."""
    d: Column | None = None
    for c, qw in zip(packed_word_cols, q_words):
        t = F.bit_count(F.col(c).bitwiseXOR(F.lit(int(qw))))
        d = t if d is None else d + t
    assert d is not None
    return d


def ann_hamming_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                     rerank: int = 0, vec_col: str = "embedding",
                     id_col: str = "vec_id", dim: int = 64) -> DataFrame:
    """Hamming-space ANN over binary sign quantization.

    ``rerank=0``: brute-force Hamming top-k over the packed words —
    TakeOrderedAndProject (per-partition top-k, k-row driver merge, no
    sort shuffle) on an 8-byte-per-vector scan; returns
    (id, ``hamming``), ties broken by id.

    ``rerank=m``: the production two-stage shape — the binary scan keeps
    an m-row shortlist, which broadcast-semi-joins back to the float
    vectors for an exact cosine top-k (touches m float rows instead of
    the corpus). The same shortlist->rerank economics as
    :func:`pq_adc_rerank_topk`, at a coarser quality/bandwidth point.
    Zero-norm candidates are dropped before the cosine ordering: 0/0 is
    NaN and Spark orders NaN GREATEST, so an all-zero vector (which the
    binary scan ranks first — its packed words are 0) would otherwise
    top the exact rerank with an undefined similarity."""
    packed = binary_quantize(df.select(id_col, vec_col), vec_col,
                             (id_col,), dim)
    q_words = pack_sign_words([float(v) for v in query_vec], dim)
    word_cols = [f"w{w}" for w in range(len(q_words))]
    ham = hamming_to_query(word_cols, q_words).cast("int")
    scored = packed.select(id_col, ham.alias("hamming"))
    if not rerank:
        return scored.orderBy("hamming", id_col).limit(k)
    shortlist = (scored.orderBy("hamming", id_col).limit(int(rerank))
                 .select(id_col))
    q_arr = F.array(*[F.lit(float(v)) for v in query_vec])
    cand = df.join(F.broadcast(shortlist), id_col) \
             .filter(l2_norm(F.col(vec_col)) > 0)
    return (cand.select(id_col,
                        F.round(cosine(F.col(vec_col), q_arr), 6)
                         .alias("cos_sim"))
                .orderBy(F.desc("cos_sim"), id_col).limit(k))


def kcenter_coreset(df: DataFrame, k: int = 8,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal,
    Gonzalez'85; the coreset construction Sener & Savarese'18 use for
    data selection). Seed = the lowest-id vector; each round selects
    the point maximizing its squared-L2 distance to the nearest
    already-selected center (ties -> lowest id). Returns the k picks as
    (sel_rank, vec_id, dist_at_selection) — the selection trace IS the
    coreset certificate: dist_at_selection is non-increasing and the
    last value bounds the covering radius of the whole corpus.

    Scale shape: greedy selection is inherently sequential in k, but
    each round is ONE distributed aggregate — a max over
    struct(min_dist, -id, vec) (partial-aggregable, no sort, no
    shuffle beyond the 1-row agg); only k x dim floats ever reach the
    driver (same contract as :func:`kmeans_centroids`). Distances are
    recomputed against the full center list per round via the O(1)-
    plan-node literal of :func:`_centroid_dist_structs` — O(n*k*d) work
    in round k, O(n*k^2*d) total, the right trade for the small k
    (8-1024) of quantizer seeding / coreset probes because it keeps the
    loop stateless (no caching, restart-safe). For large k maintain a
    running min-dist column instead: localCheckpoint the (id, vec,
    mind) relation once per round and update mind = least(mind,
    dist_to_new_center) — O(n*k*d) total at the cost of materializing
    the working set, the standard k-center implementation on a cluster.
    Already-selected points need no exclusion join: their min-dist is
    exactly 0, so they can never win the argmax while any unselected
    point remains."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    seed = df.orderBy(id_col).select(id_col, vec_col).first()
    centers = [(int(seed[0]), [float(x) for x in seed[1]])]
    picks = [(1, centers[0][0], 0.0)]
    for rank in range(2, k + 1):
        entries = _centroid_dist_structs(centers, vec_col)
        mind = F.array_min(entries)["dist"]
        best = df.agg(F.max(F.struct(
            mind.alias("d"),
            (-F.col(id_col)).cast("long").alias("nid"),
            F.col(vec_col).alias("v"))).alias("m")).first()["m"]
        picks.append((rank, int(-best["nid"]), float(best["d"])))
        centers.append((int(-best["nid"]), [float(x) for x in best["v"]]))
    out = df.sparkSession.createDataFrame(
        picks, "sel_rank INT, vec_id BIGINT, dist_at_selection DOUBLE")
    return out.select("sel_rank", "vec_id",
                      F.round("dist_at_selection", 6)
                       .alias("dist_at_selection"))


def prototypicality_prune(df: DataFrame, prune_frac: float = 0.25,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          label_col: str = "label") -> DataFrame:
    """Prototypicality ranking for data pruning (Sorscher'22 "Beyond
    neural scaling laws"): distance to the own-class centroid, ranked
    within the class — under data ABUNDANCE you prune the most
    prototypical (easiest, most redundant) fraction first; under
    scarcity you keep it. Output per vector: squared-L2 distance to its
    label centroid, the exact within-label percent rank of that
    distance (0 = most prototypical), and the prune-first flag
    (percent rank < ``prune_frac``).

    Scale shape: centroids are ONE groupBy with dim avg-states per
    label (partial-aggregable — a few KB of aggregate state per
    (task, label), never exploded rows) broadcast back as the small
    side of the join. The within-label percent rank deliberately does
    NOT use Window.partitionBy(label): class labels are few, so a
    label-partitioned window serializes 100 TB through n_labels tasks —
    the same cliff as the unpartitioned window, one partition count
    away. Instead ranks come from :func:`assign_global_ids` ordered by
    (label, dist, id) — one RANGE exchange numbered in parallel — and
    the within-label rank is global_rank - min(global_rank per label)
    + 1, with the per-label min/count a tiny broadcast aggregate.
    percent_rank = (rank-1)/(n-1) exactly as the SQL window function
    defines it (0.0 for single-row labels)."""
    from .partitioning import assign_global_ids
    dim = len(df.select(vec_col).first()[0])
    elem = lambda i: F.element_at(F.col(vec_col), i + 1).cast("double")
    cents = (df.groupBy(label_col)
               .agg(*[F.avg(elem(i)).alias(f"__m{i}") for i in range(dim)])
               .select(label_col,
                       F.array(*[F.col(f"__m{i}")
                                 for i in range(dim)]).alias("__cv")))
    scored = (df.join(F.broadcast(cents), label_col)
                .select(id_col, label_col,
                        l2_sq(F.col(vec_col), F.col("__cv"))
                        .alias("__dist"))
                # materialize the 3-column frame BEFORE the range
                # exchange: RangePartitioner's boundary sampling
                # evaluates its child, so an un-checkpointed dist
                # would compute the dim-wide squared-L2 twice (the
                # length_buckets lesson, measured 15x there)
                .localCheckpoint(eager=False))
    ranked = assign_global_ids(scored, [label_col, "__dist", id_col],
                               id_col="__gr")
    stats = (ranked.groupBy(label_col)
                   .agg(F.min("__gr").alias("__r0"),
                        F.count(F.lit(1)).alias("__n")))
    rank_in = F.col("__gr") - F.col("__r0") + 1
    pct = (F.when(F.col("__n") == 1, F.lit(0.0))
            .otherwise((rank_in - 1).cast("double")
                       / (F.col("__n") - 1).cast("double")))
    return (ranked.join(F.broadcast(stats), label_col)
                  .select(F.col(id_col), F.col(label_col),
                          F.round("__dist", 6).alias("proto_dist"),
                          F.round(pct, 6).alias("proto_pct"),
                          (pct < F.lit(float(prune_frac)))
                          .alias("prune_first")))
