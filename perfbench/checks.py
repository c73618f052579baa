"""Correctness checks made apart from Spark.

Every check reads the program's outputs back with pyarrow (or takes the
values ``sync_table`` / ``curate_corpus`` returned) and compares them with
facts computed from the generated inputs in numpy, hashlib or plain
Python. A check that fails raises :class:`CheckFailed`.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen


class CheckFailed(Exception):
    pass


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# --------------------------------------------------------------------------
# Sync outputs
# --------------------------------------------------------------------------


def parquet_files(root: str) -> list[str]:
    """Data files under ``root`` as Spark's reader sees them (names
    starting with ``_`` or ``.`` are metadata)."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return sorted(out)


def read_target(target_dir: str, columns: list[str] | None = None):
    files = parquet_files(target_dir)
    require(bool(files), f"target {target_dir} holds no parquet files")
    return pq.ParquetDataset(files).read(columns=columns)


def target_digest(target_dir: str) -> dict:
    """The same order-independent digest :func:`gen.digest` makes of the
    source, made of the target."""
    t = read_target(target_dir)
    status = t.column("status").to_pylist()
    per_status = Counter(status)
    # the target stores UTC-adjusted timestamps; the source is naive UTC
    ts = pc.min_max(t.column("updated_at").cast(pa.timestamp("us")))
    cents = sum(int(a * 100) for a in t.column("amount").to_pylist())
    return {
        "rows": t.num_rows,
        "id_sum": int(pc.sum(t.column("id")).as_py() or 0),
        "cents_sum": cents,
        "per_status": dict(per_status),
        "nulls": t.column("status").null_count + t.column("note").null_count,
        "ts_min": ts["min"].as_py(),
        "ts_max": ts["max"].as_py(),
    }


def check_target_digest(target_dir: str, expected: dict) -> None:
    got = target_digest(target_dir)
    for k, v in expected.items():
        require(got[k] == v, f"target digest {k}: got {got[k]!r}, expected {v!r}")


def check_watermark(doc: dict, expected: tuple[str, int]) -> None:
    ms = doc["mysql_state"]
    got = (ms.get("last_timestamp"), ms.get("last_id"))
    require(got == expected, f"watermark {got} != max (ts, id) {expected}")


def check_staged_layout(staging_dir: str) -> int:
    """Every staged file sits under the year=/month= directory of its
    own rows. Returns the number of staged files."""
    files = parquet_files(staging_dir)
    require(bool(files), "no staged files")
    for f in files:
        parts = dict(p.split("=", 1) for p in os.path.relpath(f, staging_dir)
                     .split(os.sep)[:-1] if "=" in p)
        require(set(parts) == {"year", "month"},
                f"staged file {f} is not under year=/month=")
        ts = pq.read_table(f, columns=["updated_at"]).column("updated_at")
        years = set(pc.unique(pc.year(ts)).to_pylist())
        months = set(pc.unique(pc.month(ts)).to_pylist())
        require(years == {int(parts["year"])} and months == {int(parts["month"])},
                f"staged file {f} holds rows of year {years} month {months}")
    return len(files)


def check_ids_exactly_once(target_dir: str, n_expected: int) -> None:
    """The target holds ids 1..n_expected, each exactly once (the
    generator hands out contiguous id blocks)."""
    ids = np.sort(read_target(target_dir, ["id"]).column("id").to_numpy())
    require(len(ids) == n_expected,
            f"target has {len(ids)} rows, expected {n_expected}")
    dup = ids[1:][ids[1:] == ids[:-1]]
    require(len(dup) == 0, f"ids loaded twice, e.g. {dup[:3].tolist()}")
    require(np.array_equal(ids, np.arange(1, n_expected + 1)),
            "target ids differ from the generated ids")


def check_sync_result(res, *, rows_extracted: int, target_rows: int) -> None:
    require(res.verified, f"sync not verified: {res}")
    require(res.rows_extracted == rows_extracted,
            f"extracted {res.rows_extracted} rows, generated delta {rows_extracted}")
    require(res.target_rows == target_rows,
            f"target_rows {res.target_rows}, cumulative generated {target_rows}")


def check_noop(res, files_before: list[str], files_after: list[str]) -> None:
    require(res.rows_extracted == 0 and res.files_loaded == 0,
            f"no-op sync extracted {res.rows_extracted} rows, "
            f"loaded {res.files_loaded} files")
    require(files_before == files_after, "no-op sync changed the target files")


def disk_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


# --------------------------------------------------------------------------
# Curate outputs
# --------------------------------------------------------------------------


def shingles(text: str, n: int = 3) -> frozenset[str]:
    """Distinct word n-grams exactly as ``dedup.word_shingles`` builds
    them: a doc shorter than n words is one shingle."""
    toks = text.split(" ")
    return frozenset(" ".join(toks[i:i + n])
                     for i in range(max(len(toks) - n, 0) + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def exact_survivors(ids, texts) -> dict[int, str]:
    """Min id per distinct text (hashlib), i.e. what exact dedup keeps."""
    keep: dict[str, int] = {}
    for i, t in zip(ids, texts):
        h = gen.md5_hex(t)
        keep[h] = min(keep.get(h, i), i)
    by_id = dict(zip(ids, texts))
    return {i: by_id[i] for i in keep.values()}


def docs_with_true_partner(sh: dict[int, frozenset], threshold: float = 0.5) -> set[int]:
    """Ids that share word-3-gram Jaccard >= threshold with some other
    doc of ``sh``, found through an inverted index over shingles."""
    postings: dict[str, list[int]] = defaultdict(list)
    for i, s in sh.items():
        for g in s:
            postings[g].append(i)
    out = set()
    for i, s in sh.items():
        inter = Counter()
        for g in s:
            inter.update(postings[g])
        for j, k in inter.items():
            if j != i and k / (len(s) + len(sh[j]) - k) >= threshold:
                out.add(i)
                break
    return out


class CurateFacts:
    """Facts about one generated corpus, computed once per run."""

    def __init__(self, c: dict, *, threshold: float, per_source_cap: int,
                 pack_budget: int):
        self.texts = dict(zip(c["ids"].tolist(), c["texts"]))
        self.n_input = len(self.texts)
        self.survivors = exact_survivors(c["ids"].tolist(), c["texts"])
        self.shingles = {i: shingles(t) for i, t in self.survivors.items()}
        self.has_partner = docs_with_true_partner(self.shingles)
        self.eval_shingles = frozenset().union(*(shingles(t) for t in c["eval_texts"]))
        self.near_pairs = [p for p in c["near_pairs"]
                           if p[0] in self.survivors and p[1] in self.survivors]
        self.threshold = threshold
        self.per_source_cap = per_source_cap
        self.pack_budget = pack_budget

    def overlap(self, doc_id: int) -> float:
        s = shingles(self.texts[doc_id])
        return round(len(s & self.eval_shingles) / len(s), 6)


def read_shards(out_path: str):
    return pq.ParquetDataset(parquet_files(out_path)).read(
        columns=["doc_id", "text", "source", "n_tokens", "pack_id"])


def check_curate(facts: CurateFacts, counts: dict, shards) -> None:
    """Everything but near-dup precision, which counts as a failed
    operation rather than a wrong output (see :func:`neardup_violations`)."""
    require(counts["input"] == facts.n_input,
            f"input count {counts['input']} != {facts.n_input} generated docs")
    require(counts["exact_dedup"] == len(facts.survivors),
            f"exact dedup kept {counts['exact_dedup']}, "
            f"distinct texts {len(facts.survivors)}")
    ids = shards.column("doc_id").to_pylist()
    require(len(ids) == counts["packed"],
            f"{len(ids)} shard rows, packed count {counts['packed']}")
    require(len(set(ids)) == len(ids), "a kept doc sits in more than one pack")
    texts = shards.column("text").to_pylist()
    for i, t in zip(ids, texts):
        require(facts.survivors.get(i) == t,
                f"doc {i} is not an exact-dedup survivor with its own text")
        require(facts.overlap(i) < facts.threshold,
                f"doc {i} is contaminated (overlap {facts.overlap(i)})")
    n_tok = shards.column("n_tokens").to_pylist()
    require(all(n == len(t.split(" ")) for n, t in zip(n_tok, texts)),
            "n_tokens differs from the doc's word count")
    packs: dict[int, list[int]] = defaultdict(list)
    for p, n in zip(shards.column("pack_id").to_pylist(), n_tok):
        packs[p].append(n)
    for p, ns in packs.items():
        # greedy packing may overshoot by at most its last doc
        require(sum(ns) - max(ns) < facts.pack_budget,
                f"pack {p} holds {sum(ns)} tokens over budget {facts.pack_budget}")
    for src, n in Counter(shards.column("source").to_pylist()).items():
        require(n <= facts.per_source_cap,
                f"source {src} kept {n} docs over cap {facts.per_source_cap}")


def neardup_violations(facts: CurateFacts, removed: set[int]) -> set[int]:
    """Docs the near-dup stage removed that have no other exact-dedup
    survivor at word-3-gram Jaccard >= 0.5."""
    return removed - facts.has_partner


def pair_precision(facts: CurateFacts, pairs: list[tuple[int, int]]) -> int:
    """Candidate pairs whose true word-3-gram Jaccard is >= 0.5."""
    return sum(jaccard(facts.shingles[a], facts.shingles[b]) >= 0.5
               for a, b in pairs)
