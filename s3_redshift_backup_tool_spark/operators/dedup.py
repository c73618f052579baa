"""Deduplication operators for LLM training-data pipelines.

Five dedup families, each designed for 100 TB shuffle behavior:

- exact:        hash-groupBy on content digest. One shuffle on a 128-bit
                key; partial aggregation makes the map side cheap.
- minhash+LSH:  shingle -> k salted min-hashes -> band buckets ->
                bucket-join. The join is on band-hash buckets, so the
                shuffle volume is O(docs x bands), never O(docs^2);
                candidate verification happens only inside buckets
                (Broder'97; Leskovec MMDS ch.3).
- simhash:      per-token hash bit-votes -> 64-bit signature; near-dup =
                small Hamming distance. Signature is a pure map-side
                reduce (explode + groupBy doc).
- n-gram Jaccard: distinct-shingle self-join; pruned by requiring a
                shared shingle (inverted-index join), so pairs with zero
                overlap never shuffle.
- embedding cosine: see operators/similarity.py (cosine_pairs with LSH
                bucketing).

All hashes are md5-prefix int64 (portable to the DuckDB oracle);
production would swap in xxhash64 for speed without changing shapes.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import fan_out
from .text import md5_prefix_int

#: Mersenne prime 2^61-1: modulus of the affine MinHash family. With
#: a,b < 2^31 and the 60-bit base hash split into 30-bit halves, every
#: intermediate product stays < 2^62 — overflow-free int64 arithmetic on
#: both Spark (JVM long) and the DuckDB oracle (BIGINT).
MERSENNE61 = (1 << 61) - 1


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int, int]]:
    """Deterministic (a, b, c) coefficients for the affine hash family
    ``h_k = (a_k*lo + b_k*hi + c_k) mod 2^61-1`` over the 30-bit halves
    (lo, hi) of one 60-bit base hash. One real (md5) hash per shingle +
    k cheap affine mixes replaces k md5 passes — the textbook universal-
    hashing MinHash construction (Broder'97; Carter-Wegman)."""
    rng = random.Random(seed)
    return [(rng.randrange(1, 1 << 31), rng.randrange(1, 1 << 31),
             rng.randrange(0, 1 << 60)) for _ in range(num_hashes)]


def _affine(h, a: int, b: int, c: int):
    lo = h.bitwiseAND(F.lit((1 << 30) - 1))
    hi = F.shiftright(h, 30)
    return (F.lit(a) * lo + F.lit(b) * hi + F.lit(c)) % F.lit(MERSENNE61)


def exact_dedup(df: DataFrame, content_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content digest, keep min id as canonical.

    Digest first, then group: shuffling a 32-char digest instead of the
    full document body keeps shuffle volume ~constant per row regardless
    of document size."""
    return (df.select(F.md5(F.col(content_col).cast("binary")).alias("content_hash"),
                      F.col(id_col))
              .groupBy("content_hash")
              .agg(F.min(id_col).alias("canonical_id"),
                   F.count(F.lit(1)).alias("copies")))


def word_shingles(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc, via array ops + explode
    (no Python UDF)."""
    df = fan_out(df)
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return (df.select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")))


def minhash_signature_array(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            num_hashes: int = 16) -> DataFrame:
    """MinHash signature as one array column per doc: (id, sig) where
    ``sig[k]`` is the k-th affine min-hash. The un-exploded form —
    banding and signature comparison read it without any reassembly
    shuffle. See :func:`minhash_signatures` for the cost shape."""
    df = fan_out(df)
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))
    base_hashes = F.transform(grams, lambda g: md5_prefix_int(g))
    sig = F.array(*[
        F.array_min(F.transform(F.col("__hs"), lambda h: _affine(h, a, b, c)))
        for a, b, c in minhash_params(num_hashes)])
    return (df.select(F.col(id_col), base_hashes.alias("__hs"))
              .select(F.col(id_col), sig.alias("sig")))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 16) -> DataFrame:
    """MinHash signature: for each of ``num_hashes`` affine hash
    functions, the min shingle hash. Output: (id, hash_idx, min_hash).

    Cost shape: ONE md5 per distinct shingle, then k cheap affine mixes
    per shingle. Zero shuffle: signatures are per-row array math;
    downstream ops see only ``num_hashes`` rows per doc. The naive
    k-salted-md5 formulation costs k full digests per shingle — 16x the
    CPU at 100 TB for identical dedup quality.

    NOT built as ``posexplode(minhash_signature_array(...).sig)``: the
    optimizer inlines a generator's input expression into the Generate
    node, collapsing the md5-array child projection into all k affine
    references (k+1 md5 passes per row, measured ~20x slower). Instead
    the generator explodes a k-element index sequence — the md5 array
    stays a plain child attribute Generate only forwards — and the
    affine coefficients are picked per row via ``element_at`` on
    literal arrays."""
    df = fan_out(df)
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))
    base_hashes = F.transform(grams, lambda g: md5_prefix_int(g))
    params = minhash_params(num_hashes)
    a_arr = F.array(*[F.lit(a) for a, _, _ in params])
    b_arr = F.array(*[F.lit(b) for _, b, _ in params])
    c_arr = F.array(*[F.lit(c) for _, _, c in params])
    rows = (df.select(F.col(id_col), base_hashes.alias("__hs"))
              .select(F.col(id_col), F.col("__hs"),
                      F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1)))
                       .alias("hash_idx")))
    a = F.element_at(a_arr, F.col("hash_idx") + 1)
    b = F.element_at(b_arr, F.col("hash_idx") + 1)
    c = F.element_at(c_arr, F.col("hash_idx") + 1)
    min_hash = F.array_min(F.transform(
        F.col("__hs"),
        lambda h: (a * h.bitwiseAND(F.lit((1 << 30) - 1))
                   + b * F.shiftright(h, 30) + c) % F.lit(MERSENNE61)))
    return rows.select(F.col(id_col), F.col("hash_idx"),
                       min_hash.alias("min_hash"))


def _check_bucket_cap(max_bucket_size: int | None) -> None:
    """A non-positive cap makes the width filter drop EVERY bucket and
    silently return an empty pair set — reject it at the library
    boundary (the CLI already rejects it at the parser, but programmatic
    callers reach these functions directly)."""
    if max_bucket_size is not None and max_bucket_size < 1:
        raise ValueError(
            f"max_bucket_size must be >= 1 or None, got {max_bucket_size}")


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        num_hashes: int = 16, bands: int = 4,
                        max_bucket_size: int | None = None) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket; docs
    sharing any band-bucket become candidate pairs.

    Pairs are generated from per-bucket sorted id lists (groupBy band
    bucket -> collect_list -> in-bucket combinations), not a bucket
    self-join: the signature pipeline is computed ONCE (a self-join's two
    aliased sides defeat Spark's exchange reuse and would run it twice),
    and shuffle volume stays O(docs x bands). ``max_bucket_size`` is the
    web-scale degenerate-bucket guard — a bucket of b docs would
    otherwise emit b^2/2 pairs (see _pairs_from_banded)."""
    _check_bucket_cap(max_bucket_size)
    rows_per_band = num_hashes // bands
    banded = (signatures
              .withColumn("band", (F.col("hash_idx") / rows_per_band).cast("int"))
              .groupBy(id_col, "band")
              .agg(F.md5(F.concat_ws(",", F.sort_array(
                  F.collect_list(F.concat_ws(":", "hash_idx", "min_hash")))))
                   .alias("band_hash")))
    return _pairs_from_banded(banded, id_col, max_bucket_size)


def _pairs_from_banded(banded: DataFrame, id_col: str,
                       max_bucket_size: int | None = None,
                       distinct: bool = True) -> DataFrame:
    """(id, band, band_hash) -> distinct candidate pairs via per-bucket
    sorted id lists (see lsh_candidate_pairs docstring for why not a
    self-join). ``distinct=False`` skips the final dedup exchange for
    callers that dedup the union of several pair relations themselves
    (lsh_index_pairs — r14, guide §2.4: the outer distinct makes the
    inner one a pure extra shuffle).

    ``max_bucket_size`` is the degenerate-bucket guard: a bucket of b
    docs emits b^2/2 pairs AND materializes a b-element id array in one
    task, so one boilerplate-heavy band bucket at web scale (empty docs,
    template pages) can dominate the whole job. Buckets over the cap are
    dropped entirely — a band shared by thousands of documents carries
    no near-dup signal (it is the MinHash analogue of a stop-shingle),
    and any true near-dup pair inside it almost surely shares another,
    smaller bucket. Candidate recall becomes a lower bound, the
    conservative direction (same contract as ngram_jaccard_pairs'
    max_doc_freq)."""
    buckets = (banded.groupBy("band", "band_hash")
               .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
               .filter(F.size("ids") > 1))
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pairs = F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    out = (buckets.select(F.explode(pairs).alias("p"))
           .select(F.col("p.id_a").alias("id_a"),
                   F.col("p.id_b").alias("id_b")))
    return out.distinct() if distinct else out


def lsh_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              n: int = 3, num_hashes: int = 16, bands: int = 4,
              max_bucket_size: int | None = None) -> DataFrame:
    """MinHash + LSH banding end-to-end, band hashes computed per-row
    from the signature ARRAY: the (doc, band) reassembly shuffle of the
    exploded-signature path disappears — the only shuffles left are the
    bucket groupBy and the final distinct. Output identical to
    ``lsh_candidate_pairs(minhash_signatures(df))``."""
    _check_bucket_cap(max_bucket_size)
    arr = minhash_signature_array(df, text_col, id_col, n, num_hashes)
    # banding explodes a band INDEX sequence, not an array built from
    # sig: a generator input referencing the sig alias gets inlined
    # into the Generate node, re-running the whole signature pipeline
    # per band (9 md5 transforms in the optimized plan; plan-pinned)
    banded = _banded_from_array(arr, id_col, num_hashes, bands)
    return _pairs_from_banded(banded, id_col, max_bucket_size)


def source_overlap_matrix(df: DataFrame, group_col: str = "source",
                          text_col: str = "text", id_col: str = "doc_id",
                          n: int = 3, num_hashes: int = 16) -> DataFrame:
    """Cross-source contamination matrix: estimated shingle-set Jaccard
    between every PAIR of corpus sources — the curation dashboard that
    answers "how much does domain A's content leak into domain B"
    before any doc-level dedup runs (high overlap => run bipartite
    decontamination between those two sources specifically).

    MinHash unions compose: the per-source signature is the per-
    hash-function MIN over its docs' signature rows (min over a union
    of shingle sets = min over per-doc minima), so no shingle set is
    ever materialized per source. Scale shape: doc signatures are the
    zero-shuffle per-row pipeline; one (id) join tags them with the
    source (at 100 TB thread the group column through the signature
    projection instead); the per-source groupBy carries
    |sources| x num_hashes rows; the pairwise comparison runs on that
    tiny relation — O(|sources|^2) only on the GROUP count, never on
    docs. Estimator: fraction of agreeing signature positions
    (Broder'97), resolution 1/num_hashes."""
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    src = df.select(F.col(id_col), F.col(group_col))
    ss = (sig.join(src, id_col)
             .groupBy(group_col, "hash_idx")
             .agg(F.min("min_hash").alias("m")))
    a = ss.select(F.col(group_col).alias("source_a"),
                  "hash_idx", F.col("m").alias("__ma"))
    b = ss.select(F.col(group_col).alias("source_b"),
                  "hash_idx", F.col("m").alias("__mb"))
    return (a.join(b, "hash_idx")
             .filter(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.round(F.avg(F.when(F.col("__ma") == F.col("__mb"), 1.0)
                                 .otherwise(0.0)), 6).alias("est_jaccard")))


def _banded_from_array(arr: DataFrame, id_col: str, num_hashes: int,
                       bands: int) -> DataFrame:
    """(id, sig) -> (id, band, band_hash), band index exploded (NOT an
    array built from sig — see lsh_pairs' Generate-inlining note)."""
    rows_per_band = num_hashes // bands
    with_band = arr.select(
        F.col(id_col), F.col("sig"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"))
    k = F.col("band") * rows_per_band
    entries = F.array(*[
        F.concat_ws(":", (k + j).cast("string"),
                    F.element_at("sig", (k + j + 1).cast("int")).cast("string"))
        for j in range(rows_per_band)])
    return with_band.select(
        id_col, "band",
        F.md5(F.concat_ws(",", F.sort_array(entries))).alias("band_hash"))


def lsh_bipartite_pairs(left: DataFrame, right: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, num_hashes: int = 16, bands: int = 8,
                        max_bucket_size: int | None = None,
                        min_est_jaccard: float | None = None) -> DataFrame:
    """Fuzzy CROSS-CORPUS near-dup pairs (eval-vs-train fuzzy
    decontamination, the GPT-3-style eval scrub): MinHash-LSH as a
    BIPARTITE join — left (eval) band hashes equi-join right (train)
    band hashes, so the candidate space is bucket-bounded exactly like
    the self-join family but no within-side pairs are ever generated.
    :func:`decontaminate_overlap` catches EXACT shingle overlap; this
    catches paraphrased/partially-edited leakage it misses.

    Candidates then get an estimated Jaccard from signature agreement
    (``mean(sig_l[i] == sig_r[i])``, the unbiased MinHash estimator) —
    signatures join back onto the (few) candidates rather than riding
    through the band explode. ``max_bucket_size`` caps per-side bucket
    width (a bucket of l x r docs emits l*r rows). Output:
    (eval_id, train_id, est_jaccard)."""
    _check_bucket_cap(max_bucket_size)
    sl = minhash_signature_array(left, text_col, id_col, n, num_hashes)
    sr = minhash_signature_array(right, text_col, id_col, n, num_hashes)
    sl = sl.localCheckpoint(eager=False)    # feeds banding + estimate
    sr = sr.localCheckpoint(eager=False)
    bl = _banded_from_array(sl, id_col, num_hashes, bands) \
        .withColumnsRenamed({id_col: "eval_id"})
    br = _banded_from_array(sr, id_col, num_hashes, bands) \
        .withColumnsRenamed({id_col: "train_id"})
    if max_bucket_size is not None:
        wl = bl.groupBy("band", "band_hash").count() \
               .filter(F.col("count") <= max_bucket_size) \
               .select("band", "band_hash")
        wr = br.groupBy("band", "band_hash").count() \
               .filter(F.col("count") <= max_bucket_size) \
               .select("band", "band_hash")
        bl = bl.join(wl, ["band", "band_hash"], "left_semi")
        br = br.join(wr, ["band", "band_hash"], "left_semi")
    cand = (bl.join(br, ["band", "band_hash"])
              .select("eval_id", "train_id").distinct())
    est = F.size(F.filter(
        F.zip_with(F.col("__sl"), F.col("__sr"),
                   lambda x, y: x == y),
        lambda t: t)) / F.lit(float(num_hashes))
    out = (cand.join(sl.select(F.col(id_col).alias("eval_id"),
                               F.col("sig").alias("__sl")), "eval_id")
               .join(sr.select(F.col(id_col).alias("train_id"),
                               F.col("sig").alias("__sr")), "train_id")
               .select("eval_id", "train_id",
                       F.round(est, 6).alias("est_jaccard")))
    if min_est_jaccard is not None:
        out = out.filter(F.col("est_jaccard") >= min_est_jaccard)
    return out


def save_lsh_index(df: DataFrame, path: str, text_col: str = "text",
                   id_col: str = "doc_id", n: int = 3,
                   num_hashes: int = 16, bands: int = 8,
                   max_bucket_size: int | None = None) -> None:
    """Persist the corpus's banded MinHash signatures as a DEDUP INDEX:
    (id, band_hash) rows partitioned by ``band``, sorted by
    ``band_hash`` within each file so parquet row-group min/max stats
    prune bucket probes. This is the MinHash twin of the persisted IVF
    index (similarity.py save_ivf_index): build once from the corpus,
    then every incremental batch dedups against it via
    :func:`lsh_index_pairs` WITHOUT rescanning corpus text — the
    reference's incremental-sync contract (simple_watermark_manager.py
    v2.0 scan-only-the-delta) applied to near-dup detection.

    ``max_bucket_size`` drops degenerate stop-buckets at BUILD time
    (one groupBy here), so every later incremental query inherits the
    guard for free instead of re-counting bucket widths per batch.
    Scale shape: the index is O(docs x bands) rows of ~40 bytes —
    ~3 orders smaller than the text it summarizes; the build is the
    zero-shuffle signature pipeline plus one repartition-by-band."""
    _check_bucket_cap(max_bucket_size)
    arr = minhash_signature_array(df, text_col, id_col, n, num_hashes)
    banded = _banded_from_array(arr, id_col, num_hashes, bands)
    if max_bucket_size is not None:
        wide = (banded.groupBy("band", "band_hash").count()
                .filter(F.col("count") > max_bucket_size)
                .select("band", "band_hash"))
        banded = banded.join(wide, ["band", "band_hash"], "left_anti")
    (banded.repartition("band")
           .sortWithinPartitions("band_hash")
           .write.mode("overwrite").partitionBy("band").parquet(path))


def lsh_index_add(spark, new_df: DataFrame, path: str,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, num_hashes: int = 16,
                  bands: int = 8) -> None:
    """Append a new batch's banded signatures to a persisted LSH index
    (same parameters as at build — signatures from different
    (n, num_hashes) families are not comparable). No read-modify-write:
    parquet append into the band partitions, so concurrent queries keep
    seeing a consistent (slightly stale) index. Stop-bucket hygiene
    degrades as appends accumulate; rebuild with
    :func:`save_lsh_index` on the usual compaction cadence."""
    arr = minhash_signature_array(new_df, text_col, id_col, n, num_hashes)
    banded = _banded_from_array(arr, id_col, num_hashes, bands)
    (banded.repartition("band")
           .sortWithinPartitions("band_hash")
           .write.mode("append").partitionBy("band").parquet(path))


def lsh_index_pairs(spark, new_df: DataFrame, path: str,
                    text_col: str = "text", id_col: str = "doc_id",
                    n: int = 3, num_hashes: int = 16, bands: int = 8,
                    include_intra: bool = True,
                    broadcast_batch: bool = True,
                    max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup candidate pairs for an INCREMENTAL batch against a
    persisted LSH index: batch docs band-hash equi-join the index's
    (id, band, band_hash) rows — corpus text is never rescanned, only
    the ~40-byte/row index is. With ``broadcast_batch`` (the CDC-batch
    regime: batch << corpus) the batch's banded rows broadcast, so the
    index side never shuffles — the probe is a map-side hash join over
    index partitions. Set False when the batch is corpus-sized and let
    AQE pick the strategy.

    ``include_intra`` adds batch-internal pairs (same bucket machinery
    as :func:`lsh_pairs`), so index-probe + intra together equal the
    full-corpus pair set restricted to pairs touching the batch:
    exactly the delta a from-scratch rerun would add. Docs re-synced
    into a batch while already indexed self-pair-filter on id
    equality. Output: (id_a, id_b), id_a < id_b, distinct.

    ``max_bucket_size`` caps the COMBINED (index + batch) width of every
    bucket the probe touches. Build-time capping alone is not enough:
    :func:`lsh_index_add` appends without re-counting, so an index
    bucket can regrow past the build cap, and the intra-batch pair set
    has its own b^2/2 blowup — a capped build followed by an uncapped
    probe would still hand a stop-bucket l x r rows. Combined width is
    the from-scratch-equivalent semantics: a bucket this probe drops is
    exactly one a capped :func:`lsh_pairs` rerun over corpus+batch
    would drop. The width audit is one narrow count per batch-touched
    bucket (index rows semi-joined to the broadcast batch buckets
    first, so the full index is never re-counted); it counts DISTINCT
    doc ids across index+batch, so a doc re-synced into the batch
    while already indexed (same id on both sides — and lsh_index_add
    may have appended it more than once) is counted once; the naive
    batch-count + index-count sum would overstate the width and drop
    buckets a capped from-scratch rerun over corpus+batch keeps."""
    _check_bucket_cap(max_bucket_size)
    arr = minhash_signature_array(new_df, text_col, id_col, n, num_hashes)
    banded = _banded_from_array(arr, id_col, num_hashes, bands)
    banded = banded.localCheckpoint(eager=False)   # feeds probe + intra
    if max_bucket_size is not None:
        idx = spark.read.schema(banded.schema).parquet(path)
        bkeys = banded.select("band", "band_hash").distinct()
        touched = (idx.join(F.broadcast(bkeys),
                            ["band", "band_hash"], "left_semi")
                   .select("band", "band_hash", id_col))
        wide = (banded.select("band", "band_hash", id_col)
                .unionByName(touched)
                .groupBy("band", "band_hash")
                .agg(F.countDistinct(id_col).alias("__w"))
                .filter(F.col("__w") > max_bucket_size)
                .select("band", "band_hash"))
        banded = (banded.join(F.broadcast(wide), ["band", "band_hash"],
                              "left_anti")
                  .localCheckpoint(eager=False))
    # with intra pairs, ONE distinct over the union suffices — the
    # probe and intra relations skip their own dedup exchanges (r14,
    # guide §2.4; a pair can appear in several buckets AND on both the
    # probe and intra sides when a batch doc was already indexed, so
    # the outer distinct is the one that carries the contract)
    cross = _index_cross_pairs(spark, banded, path, id_col,
                               broadcast_batch,
                               distinct=not include_intra)
    if include_intra:
        cross = cross.unionByName(
            _pairs_from_banded(banded, id_col, max_bucket_size,
                               distinct=False)).distinct()
    return cross


def _index_cross_pairs(spark, banded: DataFrame, path: str, id_col: str,
                       broadcast_batch: bool = True,
                       distinct: bool = True) -> DataFrame:
    """Banded batch rows vs persisted index -> (id_a, id_b) distinct
    (``distinct=False`` when the caller dedups the union itself — see
    _pairs_from_banded). Explicit schema on the index read (identical
    to the batch's banded frame, partition column included): a fully-
    stop-bucketed or not-yet-appended index is a legal empty dataset
    with no footers to infer from."""
    idx = spark.read.schema(banded.schema).parquet(path)
    probe = F.broadcast(banded) if broadcast_batch else banded
    out = (idx.withColumnRenamed(id_col, "__idx_id")
           .join(probe, ["band", "band_hash"])
           .filter(F.col("__idx_id") != F.col(id_col))
           .select(F.least("__idx_id", id_col).alias("id_a"),
                   F.greatest("__idx_id", id_col).alias("id_b")))
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >= 1 shingle.

    inverted-index self-join on shingle -> per-pair intersection counts ->
    Jaccard = inter / (|A| + |B| - inter). Disjoint pairs never meet, so
    the shuffle is bounded by posting-list sizes, not |docs|^2.

    ``max_doc_freq`` is the web-scale skew guard: a shingle appearing in
    d docs contributes d^2 join rows, so one boilerplate phrase in 1% of
    a billion docs would alone emit 10^14 pairs. Stop-shingles (doc
    frequency > cap) are dropped from the join while sizes keep every
    shingle — the reported jaccard becomes a LOWER BOUND (shared
    boilerplate no longer counts toward the intersection), which is the
    conservative direction for dedup: boilerplate overlap is
    deliberately not treated as similarity.

    The shingle relation is localCheckpoint'd (lazily): it feeds sizes,
    the doc-frequency filter, and BOTH self-join sides, and Spark's
    exchange reuse does not fire across those differently-shaped
    consumers — unmaterialized, the split+transform+explode shingling
    pipeline executes 4-6x per query (measured; the corpus-shingling CPU
    is the dominant cost at scale). One materialization pass trades
    executor storage (~shingle volume) for 3-5 saved corpus shingles."""
    counts = _ngram_pair_counts(df, text_col, id_col, n, max_doc_freq)
    return (counts
            .withColumn("jaccard", F.round(
                F.col("inter").cast("double") /
                (F.col("size_a") + F.col("size_b") - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard"))


def _ngram_pair_counts(df: DataFrame, text_col: str, id_col: str, n: int,
                       max_doc_freq: int | None) -> DataFrame:
    """Shared inverted-index machinery: per-pair shingle intersection
    counts + both set sizes (see :func:`ngram_jaccard_pairs` for the
    cost shape and the checkpoint rationale)."""
    sh = word_shingles(df, text_col, id_col, n).localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    if max_doc_freq is not None:
        rare = (sh.groupBy("shingle")
                  .agg(F.count(F.lit(1)).alias("df"))
                  .filter(F.col("df") <= max_doc_freq)
                  .select("shingle"))
        # checkpoint again post-cap: both self-join sides read the capped
        # relation, which would otherwise re-run the cap join twice
        sh = sh.join(rare, "shingle").localCheckpoint(eager=False)
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def overlap_coefficient_pairs(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", n: int = 3,
                              threshold: float = 0.8,
                              max_doc_freq: int | None = None) -> DataFrame:
    """Szymkiewicz-Simpson overlap coefficient:
    ``inter / min(|A|, |B|)`` — the NEAR-SUPERSET detector Jaccard
    structurally misses. A 100-word doc quoted verbatim inside a
    5000-word doc has Jaccard ~0.02 (invisible at any sane threshold)
    but overlap ~1.0; that containment case is exactly how licensing
    leaks and eval-set contamination hide inside long concatenated
    training documents. Same inverted-index cost shape and
    ``max_doc_freq`` skew guard as :func:`ngram_jaccard_pairs`
    (the lower-bound caveat applies to the numerator here too)."""
    counts = _ngram_pair_counts(df, text_col, id_col, n, max_doc_freq)
    return (counts
            .withColumn("overlap", F.round(
                F.col("inter").cast("double")
                / F.least("size_a", "size_b"), 6))
            .filter(F.col("overlap") >= threshold)
            .select("id_a", "id_b", "inter", "size_a", "size_b", "overlap"))


def jaccard_prefix_filter_pairs(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id", n: int = 3,
                                threshold: float = 0.5) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering (the PPJoin family,
    Chaudhuri'06/Xiao'08): same answers as
    :func:`ngram_jaccard_pairs`, radically fewer candidates.

    Pigeonhole: J(x,y) >= t implies |x∩y| >= ceil(t*|x|), so under ANY
    fixed global token order two qualifying sets must share a token
    among the first ``|x| - ceil(t*|x|) + 1`` of either — index ONLY
    that prefix. Tokens are ordered rarest-first (ascending document
    frequency, tie-broken by token), which pushes the indexed prefix
    into the rare tail where posting lists are short: the join cost
    collapses from sum(df^2) over ALL shingles to the prefix tokens'
    lists. No global rank relation is materialized — each doc sorts
    its OWN tokens by the (df, token) key, so the "global order" costs
    one broadcast-free join of df counts.

    Verification is per-pair and exact (:func:`verify_jaccard`): the
    candidates join back both docs' full distinct token arrays and
    intersect them (array_intersect — arrays, never a second corpus
    shuffle).
    Shuffles: df counts, the prefix self-join, candidate distinct, two
    array joins. At threshold 0.8 the prefix is ~20% of each set."""
    # every downstream step needs only shingle EQUALITY — hash to
    # 8-byte longs first so the three corpus-scale shuffles (df counts,
    # df join, per-doc regroup) carry longs, not n-gram strings
    sh = (word_shingles(df, text_col, id_col, n)
          .select(F.col(id_col),
                  md5_prefix_int(F.col("shingle")).alias("shingle"))
          .localCheckpoint(eager=False))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # df-ordered arrays are needed ONLY for prefix selection; the
    # verification arrays are rebuilt per-row from the text (order
    # irrelevant to array_intersect) so the corpus never re-shuffles
    # for the verify side
    keyed = (sh.join(dfreq, "shingle")
               .groupBy(id_col)
               .agg(F.array_sort(F.collect_list(
                    F.struct(F.col("__df"), F.col("shingle")))).alias("__o"))
               .select(F.col(id_col),
                       F.transform("__o", lambda s: s["shingle"])
                        .alias("toks")))
    sz = F.size("toks")
    prefix_len = sz - F.ceil(sz * F.lit(float(threshold))).cast("int") + 1
    pref = keyed.select(
        id_col, F.explode(F.slice("toks", 1, prefix_len)).alias("tok"))
    a = pref.select(F.col(id_col).alias("id_a"), "tok")
    b = pref.select(F.col(id_col).alias("id_b"), "tok")
    cand = (a.join(b, "tok")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    return verify_jaccard(cand, df, text_col, id_col, n, threshold)


def verify_jaccard(cand: DataFrame, df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", n: int = 3,
                   threshold: float = 0.5) -> DataFrame:
    """Exact word-n-gram Jaccard check of candidate pairs ``(id_a, id_b)``:
    keep a pair only if ``|A∩B| / |A∪B| >= threshold`` over the two docs'
    distinct md5'd shingle sets. The filter keeps whatever pair contract
    the candidates carry (distinct, ``id_a < id_b``). Columns: ``id_a``,
    ``id_b``, ``inter``, ``size_a``, ``size_b``, ``jaccard``.

    The shingle arrays are built per row from the text (order irrelevant
    to array_intersect), so the corpus never re-shuffles for the verify
    side; only the candidates move, through two array joins."""
    w = F.split(F.col(text_col), " ")
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: md5_prefix_int(F.concat_ws(" ", F.slice(w, i + 1, n)))))
    # materialized once (lazy localCheckpoint, r14 guide §5): BOTH
    # candidate-join sides read the verification arrays, and rebuilding
    # them per side re-ran the per-shingle md5 over the full corpus
    # text twice — the query's per-row CPU hot spot
    verif = df.select(F.col(id_col), grams.alias("toks")) \
        .localCheckpoint(eager=False)
    ta = verif.select(F.col(id_col).alias("id_a"),
                      F.col("toks").alias("__ta"))
    tb = verif.select(F.col(id_col).alias("id_b"),
                      F.col("toks").alias("__tb"))
    inter = F.size(F.array_intersect("__ta", "__tb"))
    return (cand.join(ta, "id_a").join(tb, "id_b")
                .select("id_a", "id_b",
                        inter.alias("inter"),
                        F.size("__ta").alias("size_a"),
                        F.size("__tb").alias("size_b"))
                .withColumn("jaccard", F.round(
                    F.col("inter").cast("double")
                    / (F.col("size_a") + F.col("size_b")
                       - F.col("inter")), 6))
                .filter(F.col("jaccard") >= threshold))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """SimHash signature (Charikar'02): per-token md5 hash, per-bit +-1
    votes summed over the doc, sign -> bit.

    Pure per-row array math: token hashes materialized once in a child
    projection (as in :func:`minhash_signatures`), then one fold per bit.
    ZERO shuffle — the explode(tokens) x explode(bits) + double-groupBy
    formulation moves tokens x bits rows through two exchanges for the
    same integers. Near-dup detection is then a Hamming-distance filter
    over the int64 signatures.

    ``bits`` may be up to 64 (the Manku'07 production width): bit 63 is
    the int64 SIGN bit, so its weight is emitted as Long.MIN_VALUE
    (two's complement — ``1 << 63`` as a Python literal overflows the
    JVM long and cannot ride an ``F.lit``); the sum of distinct bit
    weights is then exactly the signed-long reinterpretation of the
    unsigned 64-bit signature, and downstream shiftright+mask chunk
    extraction and bit_count(xor) Hamming math are sign-agnostic.
    Entropy note: token hashes are the portable 60-bit md5 prefix, so
    signature bits 60-63 vote on constant-zero hash bits and come out 0
    for every doc — harmless for Hamming distances (identical bits add
    0) but the effective signature width is min(bits, 60)."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    df = fan_out(df)
    hs = F.transform(F.split(F.col(text_col), " "), lambda t: md5_prefix_int(t))
    # bit 63's weight: Long.MIN_VALUE, the signed representation of 2^63
    bit_vals = [
        F.when(
            F.aggregate(
                F.col("__hs"), F.lit(0),
                lambda acc, h: acc + F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1)).otherwise(F.lit(-1))) > 0,
            F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long"))
         .otherwise(F.lit(0).cast("long"))
        for b in range(bits)]
    total = bit_vals[0]
    for bv in bit_vals[1:]:
        total = total + bv
    return (df.select(F.col(id_col), hs.alias("__hs"))
              .select(F.col(id_col), total.alias("simhash")))


def simhash_hamming_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", bits: int = 32,
                          radius: int = 3) -> DataFrame:
    """Multi-index SimHash near-dup pairs (Manku, Jain & Das Sarma,
    WWW'07 — the Google web-crawl dedup design): two signatures within
    Hamming distance <= ``radius`` must agree EXACTLY on at least one of
    ``radius + 1`` disjoint bit-chunks (pigeonhole over the differing
    bits), so candidate generation is an equi-join on
    (chunk_index, chunk_value) — an inverted index over signature
    chunks, never an all-pairs product. An exact bit_count(xor) filter
    then removes pigeonhole false positives and ``distinct`` collapses
    pairs that collide in several chunks.

    Scale shape: one shuffle of (radius+1) 8-byte rows per doc on the
    chunk key; the only skew knob is chunk width ``bits/(radius+1)``,
    which sets the index fan-out 2^width — the paper's production
    setting is bits=64 with 4 x 16-bit tables (fan-out 65,536); the
    32-bit registry configuration (4 x 8-bit, fan-out 256) is sized to
    the oracle fixture. Candidate count per chunk-index is
    sum(bucket^2), the same quantity the LSH families fence — a
    pathological corpus (every doc near-identical) degrades toward the
    true duplicate-pair count, which is the output size itself."""
    if bits % (radius + 1) != 0:
        raise ValueError(f"bits={bits} not divisible by radius+1={radius + 1}")
    width = bits // (radius + 1)
    mask = (1 << width) - 1
    # materialized once (lazy localCheckpoint): the aliased self-join
    # below otherwise computes the ENTIRE simhash pipeline — per-token
    # md5 plus ``bits`` aggregate folds over the hash array per row —
    # once per side (the exact double-evaluation lsh_candidate_pairs'
    # docstring warns about; exchange reuse does not fire across the
    # differently-aliased sides). Checkpointing the (id, simhash) rows
    # halves the dominant per-row CPU; only the cheap chunk explode is
    # re-derived per side (r13, guide §2.4/§5).
    sigs = simhash(df, text_col, id_col, bits).localCheckpoint(eager=False)
    chunks = [
        F.struct(F.lit(c).alias("ci"),
                 F.shiftright(F.col("simhash"), c * width)
                  .bitwiseAND(F.lit(mask)).alias("cv"))
        for c in range(radius + 1)]
    chunked = (sigs.select(F.col(id_col), F.col("simhash"),
                           F.explode(F.array(*chunks)).alias("ch"))
                   .select(F.col(id_col), F.col("simhash"),
                           F.col("ch.ci").alias("ci"),
                           F.col("ch.cv").alias("cv")))
    a = chunked.select(F.col(id_col).alias("id_a"),
                       F.col("simhash").alias("sig_a"), "ci", "cv")
    b = chunked.select(F.col(id_col).alias("id_b"),
                       F.col("simhash").alias("sig_b"), "ci", "cv")
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (a.join(b, ["ci", "cv"])
             .where(F.col("id_a") < F.col("id_b"))
             .where(ham <= radius)
             .select("id_a", "id_b", ham.cast("int").alias("hamming"))
             .distinct())


# Below this many UNDIRECTED edges the pair graph collects to the
# driver and runs union-find there — the same economics as AQE's
# broadcast threshold: a multi-round distributed loop costs seconds of
# fixed overhead per round, while 200K edges resolve in milliseconds.
# The bound is sized for the real Python footprint (collect()
# materializes Row objects at ~100+ B each plus a parent dict of up to
# 2x node entries — tens of MB transient at this default, NOT just the
# 16 B/edge payload), so a graph at the threshold cannot OOM a modest
# driver. Above the bound the distributed algorithms run unchanged
# (they are the reason the operator scales at all).
COMPONENTS_DRIVER_MAX_EDGES = 200_000


def _maybe_driver_components(edges_one_dir: DataFrame,
                             driver_max_edges: int | None
                             ) -> DataFrame | None:
    """Shared small-graph gate: when the SINGLE-DIRECTION edge relation
    is at or under the limit, collect it and union-find driver-side;
    None -> caller runs its distributed loop. Output schema mirrors the
    input id type (string/int ids must round-trip unchanged — a
    hard-coded long schema would make result types depend on graph
    size).

    The gate decides AND fetches with ONE bounded action:
    ``take(limit + 1)`` replaces the old ``count()`` + ``collect()``
    pair. The count was the expensive half at scale — a full pass over
    a potentially billion-edge relation just to learn "too big" —
    while take() stops after ~limit rows regardless of graph size, and
    in the small case its rows ARE the edge list, so the separate
    collect job disappears too (r13, guide §5: the driver does the
    same bounded work, one job earlier)."""
    limit = COMPONENTS_DRIVER_MAX_EDGES if driver_max_edges is None \
        else driver_max_edges
    if not limit:
        return None
    rows = edges_one_dir.take(limit + 1)
    if len(rows) > limit:
        return None
    from pyspark.sql import types as T
    dtype = edges_one_dir.schema[0].dataType
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:          # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # nullable=True: the distributed loops' join/agg outputs carry
    # nullable columns, and result schema must not depend on graph size
    schema = T.StructType([T.StructField("doc_id", dtype, True),
                           T.StructField("component", dtype, True)])
    return edges_one_dir.sparkSession.createDataFrame(
        [(n, find(n)) for n in parent], schema)


def neardup_components(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b", max_iter: int = 20,
                       algorithm: str = "label_prop",
                       driver_max_edges: int | None = None,
                       pairs_distinct: bool = False) -> DataFrame:
    """Connected components over a near-dup candidate-pair graph: every
    doc gets the MIN doc id of its component as canonical label — the
    step that turns pairwise candidates into dedup groups.

    ``algorithm="label_prop"`` (default): min-label propagation — each
    iteration every node takes min(own label, neighbors' labels);
    converges in O(component diameter) rounds (near-dup components are
    shallow — a few rounds). Each round is one join + partial-aggregable
    groupBy; labels are localCheckpoint'd so lineage stays flat.

    ``algorithm="star"``: large-star/small-star (Kiveris'14) — the
    100 TB swap for high-diameter graphs, O(log^2 n) rounds independent
    of diameter (see :func:`neardup_components_star`). Same fixed point
    (component min is path-independent), pinned by an equivalence test,
    so the oracle's recursive-CTE reachability closure reproduces both
    exactly.

    Graphs whose single-direction edge relation is at or under
    ``driver_max_edges`` (default ``COMPONENTS_DRIVER_MAX_EDGES``)
    short-circuit to driver-side union-find — bounded like a broadcast,
    and orders of magnitude cheaper than even one distributed round;
    pass ``0`` to force the distributed path (tests do).

    ``pairs_distinct=True`` asserts the input pair relation is already
    deduplicated with ``id_a < id_b`` (the lsh_pairs/neardup-pair
    contract): the oriented edge list is then distinct as-is and its
    symmetrized union is distinct by construction, so both edge-dedup
    shuffles are skipped (same contract as graph.pagerank/kcore_peel)."""
    if algorithm == "star":
        return neardup_components_star(pairs, id_a, id_b, max_iter,
                                       driver_max_edges=driver_max_edges,
                                       pairs_distinct=pairs_distinct)
    one_dir = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    if not pairs_distinct:
        one_dir = one_dir.distinct()
    one_dir = one_dir.localCheckpoint(eager=True)
    small = _maybe_driver_components(one_dir, driver_max_edges)
    if small is not None:
        return small
    edges = one_dir.union(one_dir.select(F.col("v").alias("u"),
                                         F.col("u").alias("v")))
    if not pairs_distinct:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=True)
    labels = (edges.select("u").distinct()
              .withColumn("label", F.col("u")).localCheckpoint(eager=True))
    for _ in range(max_iter):
        nbr = (edges.join(labels.withColumnRenamed("u", "v"), "v")
                    .groupBy("u").agg(F.min("label").alias("nbr_min")))
        # the changed flag rides the same projection that produces the
        # labels, so convergence detection is a column scan over the
        # checkpointed result — not a second join+count per round (which
        # doubled per-iteration work)
        new_labels = (labels.join(nbr, "u", "left")
                      .select("u",
                              F.least(F.col("label"),
                                      F.coalesce("nbr_min", F.col("label"))
                                      ).alias("label"),
                              (F.coalesce("nbr_min", F.col("label"))
                               < F.col("label")).cast("int").alias("__chg"))
                      .localCheckpoint(eager=True))
        changed = new_labels.agg(F.sum("__chg").alias("c")).collect()[0]["c"]
        labels = new_labels.drop("__chg")
        if not changed:
            break
    return labels.select(F.col("u").alias("doc_id"),
                         F.col("label").alias("component"))


def neardup_components_star(pairs: DataFrame, id_a: str = "id_a",
                            id_b: str = "id_b",
                            max_iter: int = 25,
                            driver_max_edges: int | None = None,
                            pairs_distinct: bool = False) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond", Algorithm 2). Same output contract as
    :func:`neardup_components` — (doc_id, component-min label) — but
    convergence takes O(log^2 n) rounds regardless of component
    DIAMETER, where label propagation needs O(diameter) rounds: a
    10^6-node path graph finishes in ~20 star rounds vs 10^6 label
    rounds. Near-dup graphs are usually shallow (label_prop wins on
    constant factors); chain-structured graphs — version histories,
    crawl-date chains where each revision only pairs with its neighbor —
    are where this is the only option at scale.

    Per round: large-star hangs every larger neighbor of u off
    min(N(u) ∪ {u}) — star-ifies deep trees; small-star re-hangs each
    node's smaller neighbors (and itself) off their min — halves tree
    height. Both are one groupBy(min) + one join per direction, all
    partial-aggregable, edges localCheckpoint'd per round so lineage
    stays flat. Fixed point: every component is a star centered at its
    min, detected by an order-independent (count, hash-sum) edge-set
    checksum — two O(1)-row aggs, no edge-set collect.

    ``pairs_distinct=True``: see :func:`neardup_components` — skips the
    edge-dedup shuffle for already-distinct ``id_a < id_b`` input (the
    self-loop filter stays; it is a narrow no-shuffle scan)."""
    edges = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
             .filter(F.col("u") != F.col("v")))
    if not pairs_distinct:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=True)
    small = _maybe_driver_components(edges, driver_max_edges)
    if small is not None:
        return small
    nodes = (edges.select(F.col("u").alias("doc_id"))
             .union(edges.select("v")).distinct()
             .localCheckpoint(eager=True))

    def _checksum(e: DataFrame) -> tuple[int, int]:
        # bit_xor: order-independent and overflow-free under ANSI mode
        # (a hash SUM overflows long); edges are distinct, so xor can't
        # cancel duplicate rows
        r = e.agg(F.count(F.lit(1)).alias("n"),
                  F.coalesce(F.bit_xor(F.xxhash64("u", "v")),
                             F.lit(0)).alias("h")).first()
        return int(r["n"]), int(r["h"])

    prev = None
    for _ in range(max_iter):
        # large-star: for each u, every STRICTLY LARGER neighbor links to
        # m = min(N(u) ∪ {u})
        und = edges.union(edges.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        mins = (und.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m")))
        large = (und.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v")).distinct())
        # small-star: for each u over its SMALLER neighbors Γ,
        # m = min(Γ); re-hang Γ \ {m} and u itself off m
        sm = (large.union(large.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
              .filter(F.col("v") < F.col("u")))
        smins = sm.groupBy("u").agg(F.min("v").alias("m"))
        edges = (sm.join(smins, "u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .union(smins.select("u", F.col("m").alias("v")))
                 .filter(F.col("u") != F.col("v")).distinct()
                 .localCheckpoint(eager=True))
        cs = _checksum(edges)
        if cs == prev:
            break
        prev = cs
    # converged edges are (member -> component min); centers label themselves
    return (nodes.join(edges.select(F.col("u").alias("doc_id"),
                                    F.col("v").alias("component")),
                       "doc_id", "left")
            .select("doc_id", F.coalesce("component", F.col("doc_id"))
                    .alias("component")))


def decontaminate_overlap(eval_df: DataFrame, train_df: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Train/eval contamination check: per eval doc, the fraction of its
    word n-gram shingles that appear anywhere in the train corpus
    (benchmark-decontamination, GPT-3 appendix-C style).

    Shape: eval shingles LEFT SEMI JOIN the train shingle set — an
    inverted-index membership probe keyed by shingle, so shuffle volume
    is O(postings), never |eval|x|train|. The train side collapses to
    DISTINCT shingles first (the big corpus is reduced before the join).
    Output: (doc_id, n_shingles, n_overlap, overlap_frac, contaminated).
    """
    ev = word_shingles(eval_df, text_col, id_col, n)
    tr = word_shingles(train_df, text_col, id_col, n) \
        .select("shingle").distinct()
    return _overlap_report(ev, tr, id_col, threshold)


def _overlap_report(ev: DataFrame, tr_distinct: DataFrame, id_col: str,
                    threshold: float) -> DataFrame:
    """Per-eval-doc overlap fractions in ONE pass over the eval
    shingles (r13 optimization, value-identical): the train set is
    DISTINCT, so a left join cannot duplicate eval rows — a hit marker
    plus a single groupBy yields both counts at once. The previous
    shape (sizes groupBy + semi-join + hits groupBy + outer join)
    scanned the eval shingles twice and shuffled three times; this is
    one join shuffle + one aggregation shuffle."""
    marked = ev.join(tr_distinct.withColumn("__hit", F.lit(1)),
                     "shingle", "left")
    frac = F.round(F.col("n_overlap").cast("double")
                   / F.col("n_shingles"), 6)
    return (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.count("__hit").alias("n_overlap"))
            .select(id_col, "n_shingles", "n_overlap",
                    frac.alias("overlap_frac"),
                    (frac >= threshold).alias("contaminated")))


def _bloom_position_cols(shingle_col, m_bits: int, h_funcs: int,
                         seed: int) -> list:
    base = md5_prefix_int(shingle_col)
    return [(_affine(base, a, b, c) % m_bits).alias(f"__p{i}")
            for i, (a, b, c) in enumerate(minhash_params(h_funcs, seed))]


def shingle_bloom_mask(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       m_bits: int = 1 << 20, h_funcs: int = 4,
                       seed: int = 7) -> list[int]:
    """Bit-packed Bloom mask (int64 words) over a doc set's distinct
    word n-gram shingles, built with one distributed pass: shingle ->
    h affine positions (same Carter-Wegman family as MinHash) ->
    distinct positions to the driver (bounded by min(m_bits,
    h x |shingles|) longs — the EVAL side of decontamination is small
    by definition, that is the whole premise). Words are two's-
    complement so they round-trip through an ``array<bigint>``."""
    # no .distinct(): the word fold is idempotent (see
    # bloom_mask_from_keys) — deduplicating first paid a full shingle
    # exchange for an identical mask
    sh = word_shingles(df, text_col, id_col, n).select("shingle")
    return bloom_mask_from_keys(sh, "shingle", m_bits, h_funcs, seed)


def bloom_mask_from_keys(keys: DataFrame, key_col: str,
                         m_bits: int = 1 << 20, h_funcs: int = 4,
                         seed: int = 7) -> list[int]:
    """Generic Bloom builder over ANY key relation (the shingle mask
    above is one instance; skew.bloom_semi_join is another). The keys
    need NOT be deduplicated: bit_or is idempotent, so duplicate keys
    set the same bits — callers used to pay a full .distinct()
    exchange before this fold for nothing (removed r14, guide §2.4).
    Positions fold into 64-bit words DISTRIBUTED (bit_or
    partial-aggregates map-side to <= m_bits/64 words per task), so
    the driver receives <= m_bits/64 word rows — never one row per
    key or position."""
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    packed = _bloom_packed_words(keys, key_col, m_bits, h_funcs,
                                 seed).collect()
    words = [0] * (m_bits // 64)
    for r in packed:
        words[int(r["w"])] = int(r["word"]) & ((1 << 64) - 1)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def _bloom_packed_words(keys: DataFrame, key_col: str, m_bits: int,
                        h_funcs: int, seed: int) -> DataFrame:
    """(w, word) sparse Bloom words over a key relation — the shared
    distributed fold behind both mask forms."""
    return (keys.select(*_bloom_position_cols(F.col(key_col), m_bits,
                                              h_funcs, seed))
            .select(F.explode(F.array(
                *[F.col(f"__p{i}") for i in range(h_funcs)])).alias("p"))
            .select(F.shiftright("p", 6).alias("w"),
                    F.expr("shiftleft(cast(1 as bigint), "
                           "cast(p % 64 as int))").alias("bit"))
            .groupBy("w").agg(F.expr("bit_or(bit)").alias("word")))


def bloom_mask_df(keys: DataFrame, key_col: str, m_bits: int = 1 << 20,
                  h_funcs: int = 4, seed: int = 7) -> DataFrame:
    """LAZY twin of :func:`bloom_mask_from_keys`: the same mask as a
    1-row ``__bloom_mask: array<bigint>`` relation built entirely
    inside the plan (sparse words densified via a map lookup over the
    word-index sequence), so a query that gates on the mask needs NO
    eager driver collect — the mask materializes as a broadcast when
    the one real action runs (r14, guide §5: no driver actions in
    query paths). Bit-identical to the driver form: bit_or already
    produces the signed two's-complement word, and absent words
    densify to 0 (an empty key relation yields the all-zero mask,
    same as the driver loop). Densification gap-fills the SORTED
    sparse words with zeros in one array expression — per-element
    array access is O(1), unlike element_at on a Spark MAP, whose
    linear scan made the obvious map-lookup densify quadratic in one
    task (measured 17 s for the default 2^20-bit mask)."""
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    n_words = m_bits // 64
    packed = _bloom_packed_words(keys, key_col, m_bits, h_funcs, seed)
    ents = (packed.agg(F.array_sort(F.collect_list(
        F.struct(F.col("w").cast("int").alias("w"),
                 F.col("word").alias("word")))).alias("__e")))
    e = F.col("__e")
    zero = F.lit(0).cast("bigint")
    filled = F.flatten(F.transform(
        e, lambda s, i: F.concat(
            F.array_repeat(zero, s["w"] - F.when(i == F.lit(0), F.lit(-1))
                           .otherwise(F.element_at(e, i)["w"]) - 1),
            F.array(s["word"]))))
    return ents.select(
        F.concat(filled,
                 F.array_repeat(zero, F.lit(n_words) - F.size(filled)))
        .alias("__bloom_mask"))


def bloom_gate_sql(h_funcs: int) -> str:
    """SQL membership predicate over the ``__p{i}`` position columns and
    a broadcast ``__bloom_mask`` array<bigint> column."""
    return " AND ".join(
        f"((shiftright(element_at(__bloom_mask, "
        f"cast(__p{i} div 64 as int) + 1), "
        f"cast(__p{i} % 64 as int))) & 1) = 1"
        for i in range(h_funcs))


def decontaminate_overlap_bloom(eval_df: DataFrame, train_df: DataFrame,
                                text_col: str = "text",
                                id_col: str = "doc_id", n: int = 3,
                                threshold: float = 0.5,
                                m_bits: int = 1 << 20, h_funcs: int = 4,
                                seed: int = 7) -> DataFrame:
    """:func:`decontaminate_overlap` with a map-side Bloom pre-filter —
    IDENTICAL output (a false-positive train shingle that survives the
    gate can only match an eval shingle if it genuinely equals one, in
    which case it was a true positive; the exact semi-join settles
    everything), but the train side's distinct+join now shuffles only
    the shingles whose h Bloom bits all hit, instead of every distinct
    shingle in the corpus.

    That is THE scale fix for decontamination: at 100 TB the exact
    path's ``tr.distinct()`` shuffles the corpus's full posting list
    (~10^12 shingles) to answer a membership probe against a benchmark
    suite of ~10^6 shingles. The mask (m_bits/8 bytes, default 128 KB)
    rides a 1-row broadcast; the gate is pure JVM bit arithmetic, so
    the surviving volume is |matches| + FP-rate x |corpus shingles| —
    with default 2^20 bits / 4 hashes at 10^6 eval shingles, FP ~2%.
    Size m_bits ~ 20 x eval shingle count for that regime."""
    # the eval shingle relation feeds BOTH the mask fold and the final
    # report: materialize it once (lazy localCheckpoint) instead of
    # re-shingling the eval corpus per consumer
    ev = word_shingles(eval_df, text_col, id_col, n) \
        .localCheckpoint(eager=False)
    # the mask is a LAZY 1-row relation (r14, guide §5): the former
    # eager bloom_mask_from_keys collect made query construction
    # itself run 4-5 jobs; now the single real action materializes
    # the mask as a broadcast. Also no .distinct() before the fold —
    # bit_or is idempotent, so the dedup exchange of every eval
    # shingle bought nothing (guide §2.4).
    mask_df = bloom_mask_df(ev.select("shingle"), "shingle", m_bits,
                            h_funcs, seed)
    gate = bloom_gate_sql(h_funcs)
    tr = (word_shingles(train_df, text_col, id_col, n)
          .select("shingle")
          .crossJoin(F.broadcast(mask_df))
          .select(F.col("shingle"), F.col("__bloom_mask"),
                  *_bloom_position_cols(F.col("shingle"), m_bits,
                                        h_funcs, seed))
          .filter(F.expr(gate))
          .select("shingle").distinct())
    return _overlap_report(ev, tr, id_col, threshold)


def latest_record_dedup(df: DataFrame, key_cols: list[str], ts_col: str,
                        tiebreak_cols: list[str] | None = None) -> DataFrame:
    """CDC-delta compaction: latest record per key (SURVEY §2.5) —
    ``row_number() OVER (PARTITION BY key ORDER BY ts DESC, tiebreak) = 1``.
    One shuffle on the key; at scale prefer this over groupBy+max+join."""
    order = [F.desc(ts_col)] + [F.desc(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


def dup_span_chunks(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_words: int = 16,
                    min_docs: int = 2) -> DataFrame:
    """Chunk-level exact duplicate-span detection: split each document
    into consecutive non-overlapping ``chunk_words``-word chunks, hash
    each, and report chunks that appear in >= ``min_docs`` distinct
    documents — the copy-span / boilerplate detector that document-level
    dedup misses (a page can be unique overall yet 80% shared template).

    Scale shape: chunking is per-row array math; the only shuffle is the
    groupBy on the 64-bit chunk hash (never the chunk text), so shuffle
    volume is O(total_chunks x 8B) with map-side partial aggregation.
    Oracle-portable: md5-prefix hashing, deterministic chunk boundaries.
    Output: (chunk_hash, n_docs, n_occurrences)."""
    df = fan_out(df)  # chunk building is the per-row hot loop
    w = F.split(F.col(text_col), " ")
    n_chunks = F.floor(F.size(w) / chunk_words).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(w, i * chunk_words + 1,
                                                F.lit(chunk_words))))
    exploded = (df.filter(F.size(w) >= chunk_words)
                  .select(F.col(id_col), F.explode(chunks).alias("chunk")))
    return (exploded
            .select(id_col, md5_prefix_int(F.col("chunk")).alias("chunk_hash"))
            .groupBy("chunk_hash")
            .agg(F.countDistinct(id_col).alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_docs") >= min_docs))


def duplicated_spans(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 30,
                     min_len: int = 60,
                     max_doc_freq: int | None = None) -> DataFrame:
    """MAXIMAL character spans duplicated across documents — the exact
    substring-level dedup of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499), k-gram
    anchored instead of suffix-array'd so it distributes:

    1. every position emits the 64-bit hash of its k-gram (per-row
       array math, hashes only — text never shuffles);
    2. hashes seen in >= 2 distinct docs survive a groupBy + semi-join
       (the same inverted-index shape as the Jaccard family);
    3. per doc, surviving positions merge into maximal spans with the
       classic islands trick: a new island starts where the gap to the
       previous duplicated position exceeds k (overlapping/touching
       k-grams chain), then min/max per island — the window is
       PARTITIONED by doc, never global.

    Returns (doc_id, span_start, span_end, span_len) for spans of at
    least ``min_len`` chars (1-based, inclusive). Unlike
    :func:`dup_span_chunks` (fixed chunk boundaries, reports hashes)
    this recovers exact span EXTENTS, so a scrubber can cut precisely.
    ``max_doc_freq`` caps hub k-grams (stop-boilerplate) like the
    Jaccard ``max_doc_freq`` guard: hashes in more docs than the cap
    are treated as noise, bounding step 3's fan-in under template spam.
    Cost note: hashing is O(len·k) char work per doc (md5 per
    position keeps the oracle replayable; a rolling hash halves the
    constant when oracle parity is not needed)."""
    from pyspark.sql.window import Window

    t = F.col(text_col)
    base = fan_out(df.select(id_col, text_col)).filter(F.length(t) >= k)
    idx = F.sequence(F.lit(1), F.length(t) - k + 1)
    pos_h = F.transform(idx, lambda i: F.struct(
        i.alias("pos"), md5_prefix_int(t.substr(i, F.lit(k))).alias("h")))
    # materialized once (lazy localCheckpoint): the per-position hash
    # explode feeds BOTH the doc-frequency model and the position
    # semi-join — unmaterialized, the O(len·k) hashing pass runs twice
    # (same fix as bigram_logprob/ngram_jaccard)
    ex = (base.select(id_col, F.explode(pos_h).alias("s"))
              .select(id_col, F.col("s.pos").alias("pos"),
                      F.col("s.h").alias("h"))
              .localCheckpoint(eager=False))
    counts = ex.groupBy("h").agg(F.countDistinct(id_col).alias("nd"))
    dup = counts.filter(F.col("nd") >= 2)
    if max_doc_freq is not None:
        dup = dup.filter(F.col("nd") <= max_doc_freq)
    hits = ex.join(dup.select("h"), "h", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    island = F.sum(F.when(gap > k, 1).otherwise(0)).over(w)
    return (hits.withColumn("__isl", island)
                .groupBy(id_col, "__isl")
                .agg(F.min("pos").alias("span_start"),
                     (F.max("pos") + k - 1).alias("span_end"))
                .withColumn("span_len",
                            F.col("span_end") - F.col("span_start") + 1)
                .filter(F.col("span_len") >= min_len)
                .drop("__isl"))


def scrub_duplicated_spans(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 30,
                           min_len: int = 60,
                           max_doc_freq: int | None = None) -> DataFrame:
    """End-to-end exact-substring scrub (the Lee et al. 2021 action):
    find maximal cross-doc duplicated spans, keep ONE canonical
    occurrence of each span content (the min doc id holding it), and
    cut the span from every other document — document-level text
    survives, redundancy goes.

    Plan shape: :func:`duplicated_spans` (hash shuffles only) + one
    join back to the text to hash span CONTENT, a per-content min
    (canonical election, tiny relation), and a per-doc rebuild of the
    kept text as a single codegen fold over that doc's sorted cut
    list — no Python, no extra corpus shuffle beyond the spans join.
    Docs with no duplicated span pass through untouched."""
    spans = duplicated_spans(df, text_col, id_col, k, min_len,
                             max_doc_freq)
    t = F.col(text_col)
    with_text = spans.join(df.select(id_col, text_col), id_col)
    # content is tiny (one row per span) but sits on top of the whole
    # span pipeline; materialize so the canonical election and the cut
    # list don't each replay it
    content = (with_text
               .withColumn("__chash", md5_prefix_int(
                   t.substr(F.col("span_start"),
                            F.col("span_len"))))
               .select(id_col, "span_start", "span_end", "__chash")
               .localCheckpoint(eager=False))
    canon = content.groupBy("__chash").agg(F.min(id_col).alias("__keep"))
    cuts = (content.join(canon, "__chash")
                   .filter(F.col(id_col) != F.col("__keep"))
                   .groupBy(id_col)
                   .agg(F.array_sort(F.collect_list(
                       F.struct("span_start", "span_end"))).alias("__cuts")))
    joined = df.join(cuts, id_col, "left")
    # fold: walk the sorted cuts, appending the text BETWEEN cuts, then
    # the tail after the last cut. acc = (next uncut position, kept text)
    acc0 = F.struct(F.lit(1).cast("int").alias("pos"),
                    F.lit("").alias("out"))
    def _step(acc, c):
        seg = F.col(text_col).substr(
            acc["pos"], F.greatest(c["span_start"] - acc["pos"], F.lit(0)))
        return F.struct(
            F.greatest(c["span_end"] + 1, acc["pos"]).alias("pos"),
            F.concat(acc["out"], seg).alias("out"))
    folded = F.aggregate(
        F.col("__cuts"), acc0, _step,
        lambda acc: F.concat(
            acc["out"],
            F.col(text_col).substr(acc["pos"],
                                   F.length(text_col) - acc["pos"] + 1)))
    scrubbed = F.when(F.col("__cuts").isNull(), F.col(text_col)) \
                .otherwise(folded)
    return joined.withColumn(text_col, scrubbed).drop("__cuts")


def remove_boilerplate_chunks(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id",
                              chunk_words: int = 16,
                              max_docs: int = 2) -> DataFrame:
    """C4-style boilerplate REMOVAL (the scrub :func:`dup_span_chunks`
    only detects): delete from every document each ``chunk_words``-word
    chunk that occurs in more than ``max_docs`` distinct documents,
    then reassemble the survivors in original order (plus the
    final sub-chunk remainder, which is never corpus-counted).

    Two-pass shape, both passes cheap at 100 TB: (1) chunk-hash
    corpus counts — shuffle is O(chunks x 8B) with map-side combine;
    (2) positional chunks re-joined to the (filtered, much smaller)
    hot-chunk set via left_anti on the 8-byte hash, then per-doc
    reassembly with sort_array(collect_list(struct(pos, chunk))) — the
    groupBy shuffles each doc's surviving text exactly once. No
    windows, no Python. Output: (id, clean_text, n_removed)."""
    df = fan_out(df)
    w = F.split(F.col(text_col), " ")
    n_chunks = F.floor(F.size(w) / chunk_words).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(w, i * chunk_words + 1,
                                                F.lit(chunk_words))))
    remainder = F.concat_ws(
        " ", F.slice(w, n_chunks * chunk_words + 1,
                     F.size(w) - n_chunks * chunk_words))
    base = df.select(
        F.col(id_col),
        F.when(n_chunks > 0, chunks).otherwise(F.array()).alias("__chunks"),
        F.nullif(remainder, F.lit("")).alias("__rest"))
    # the positional-chunk relation feeds BOTH the corpus count and the
    # per-doc reassembly: checkpoint so the chunk/hash pass runs once
    pos = (base.select(id_col, F.posexplode("__chunks").alias("pos", "chunk"))
               .withColumn("chunk_hash", md5_prefix_int(F.col("chunk")))
               .localCheckpoint(eager=False))
    hot = (pos.groupBy("chunk_hash")
              .agg(F.countDistinct(id_col).alias("__nd"))
              .filter(F.col("__nd") > max_docs)
              .select("chunk_hash", F.lit(True).alias("__hot")))
    # one tagged join + ONE per-doc aggregate computes the surviving
    # body and the removed count together (collect_list drops the NULLs
    # the hot tag produces) — not two separate joins + groupBys
    per_doc = (pos.join(hot, "chunk_hash", "left")
                  .groupBy(id_col)
                  .agg(F.sort_array(F.collect_list(
                           F.when(F.col("__hot").isNull(),
                                  F.struct("pos", "chunk")))).alias("__kc"),
                       F.sum(F.when(F.col("__hot").isNotNull(), 1)
                              .otherwise(0)).alias("n_removed"))
                  .select(F.col(id_col),
                          F.concat_ws(
                              " ", F.transform("__kc", lambda s: s["chunk"]))
                           .alias("__body"),
                          "n_removed"))
    # base is preserved with a left join so a doc whose EVERY chunk was
    # boilerplate still comes back (as its remainder, possibly empty)
    return (base.select(id_col, "__rest")
                .join(per_doc, id_col, "left")
                .select(F.col(id_col),
                        F.concat_ws(" ", F.nullif(F.col("__body"), F.lit("")),
                                    "__rest").alias("clean_text"),
                        F.coalesce(F.col("n_removed"), F.lit(0))
                         .cast("int").alias("n_removed")))


def winnowing_fingerprints(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 5,
                           window: int = 4) -> DataFrame:
    """Robust-winnowing document fingerprints (Schleimer, Wilkerson,
    Aiken, SIGMOD'03 — the MOSS algorithm): hash EVERY ``k``-word
    shingle (all offsets, unlike :func:`dup_span_chunks`'s fixed
    non-overlapping chunks), then keep the distinct minimum of each
    sliding window of ``window`` consecutive shingle hashes.

    The guarantee fixed chunking cannot give: any shared run of at
    least ``k + window - 1`` words between two documents yields at
    least one IDENTICAL fingerprint in both, regardless of how the
    copy is aligned — chunk boundaries can split a copied span so the
    two sides hash differently; window-minima cannot. Fingerprint
    density is ~2/(window+1) of positions, so the selected set stays
    a small fraction of all shingles.

    Scale shape: shingling, hashing and window-min selection are
    per-row array expressions (zero shuffle, codegen'd); only the
    8-byte selected fingerprints are exploded. Output:
    (``id_col``, fingerprint) pairs — compose with a groupBy for the
    corpus-level dup report, or a self-join for pair generation."""
    df = fan_out(df)  # per-row hot loop
    w = F.split(F.col(text_col), " ")
    ns = (F.size(w) - k + 1).cast("int")            # shingle count
    grams = F.transform(
        F.sequence(F.lit(0), ns - 1),
        lambda i: F.concat_ws(" ", F.slice(w, i + 1, F.lit(k))))
    hashes = F.transform(grams, lambda g: md5_prefix_int(g))
    # materialize the hash array as a named attribute BEFORE the
    # window-min transform references it: an inline expression would be
    # re-evaluated per window position (O(ns) md5 passes per window ->
    # quadratic per doc) — the minhash Generate-inlining lesson
    mins = F.transform(
        F.sequence(F.lit(0), F.size(F.col("__hs")) - window),
        lambda j: F.array_min(F.slice(F.col("__hs"), j + 1, F.lit(window))))
    return (df.filter(F.size(w) >= k + window - 1)
              .select(F.col(id_col), hashes.alias("__hs"))
              .select(F.col(id_col),
                      F.explode(F.array_distinct(mins)).alias("fingerprint")))


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         keep_cols: list[str] | None = None,
                         pairs_distinct: bool = False) -> DataFrame:
    """End-to-end near-dup deduplication: from candidate pairs, keep one
    canonical document per connected component (the MIN id) plus every
    document in no component — the actual corpus-shrinking step that the
    pairs/clusters operators feed.

    Scale shape: components over pairs (not over docs — the pair graph is
    tiny relative to the corpus), then one left_anti join of the corpus
    against the drop-set (non-canonical members only). The corpus is
    touched exactly once. ``pairs_distinct``: see
    :func:`neardup_components`."""
    comp = neardup_components(pairs, pairs_distinct=pairs_distinct)
    drop = comp.filter(F.col("component") != F.col("doc_id")) \
               .select(F.col("doc_id").alias(id_col))
    out = df.join(drop, id_col, "left_anti")
    return out.select(*(keep_cols or df.columns))


def cluster_size_histogram(pairs: DataFrame,
                           pairs_distinct: bool = False) -> DataFrame:
    """Dedup audit: distribution of near-dup cluster sizes (how much
    duplication, in what shape — many pairs vs few giant templates).
    Two partial-aggregable groupBys over the component labels.
    ``pairs_distinct``: see :func:`neardup_components`."""
    comp = neardup_components(pairs, pairs_distinct=pairs_distinct)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (sizes.groupBy("cluster_size")
                 .agg(F.count(F.lit(1)).alias("n_clusters")))


def content_defined_chunks(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           divisor: int = 8) -> DataFrame:
    """Content-defined chunking at word granularity (the LBFS/FastCDC
    boundary rule applied to text): a chunk boundary falls after every
    word whose portable 60-bit hash is ≡ 0 (mod ``divisor``), plus the
    forced final boundary — so expected chunk length is ``divisor``
    words and, unlike :func:`dup_span_chunks`'s fixed-width windows,
    boundaries move WITH the content: inserting a word early in a
    document leaves every later chunk (and hence its fingerprint)
    unchanged. Complements :func:`winnowing_fingerprints`: winnowing
    SAMPLES overlapping k-gram fingerprints for detection; this
    PARTITIONS the document — every word lands in exactly one chunk —
    which is what storage-style dedup accounting needs (duplicated
    chunk mass is exactly the bytes a chunk store would not re-write).

    Output: one row per chunk — (``id_col``, chunk_id position within
    the doc, fingerprint of the chunk text, chunk_words). All per-row
    array expressions over one materialized word-hash array (the
    winnowing named-attribute lesson: an inline hash array would
    re-evaluate per chunk); zero shuffle, codegen'd; only 8-byte
    fingerprints + a length ever leave the row."""
    df = fan_out(df)  # per-row hot loop
    w = F.split(F.col(text_col), " ")
    n = F.size(F.col("__w"))
    hashes = F.transform(F.col("__w"), lambda t: md5_prefix_int(t))
    # boundary positions: words whose hash % divisor == 0 (except the
    # last word — the final boundary is forced), 0 prepended so chunk
    # j spans words bp[j]+1 .. bp[j+1]
    cuts = F.filter(F.sequence(F.lit(1), n),
                    lambda i: (F.element_at(F.col("__hs"), i)
                               % divisor == 0) & (i < n))
    bp = F.concat(F.array(F.lit(0)), cuts, F.array(n))
    chunk = lambda j: F.concat_ws(
        " ", F.slice(F.col("__w"),
                     F.element_at(F.col("__bp"), j) + 1,
                     F.element_at(F.col("__bp"), j + 1)
                     - F.element_at(F.col("__bp"), j)))
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(F.col("__bp")) - 1),
        lambda j: F.struct(
            j.cast("int").alias("chunk_id"),
            md5_prefix_int(chunk(j)).alias("fingerprint"),
            (F.element_at(F.col("__bp"), j + 1)
             - F.element_at(F.col("__bp"), j)).cast("int")
            .alias("chunk_words")))
    return (df.filter(F.size(w) >= 1)
              .select(F.col(id_col), w.alias("__w"))
              .withColumn("__hs", hashes)
              .withColumn("__bp", bp)
              .select(F.col(id_col), F.explode(chunks).alias("__c"))
              .select(id_col, "__c.chunk_id", "__c.fingerprint",
                      "__c.chunk_words"))
