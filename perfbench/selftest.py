"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py

Runs one small sync and one curate_corpus call, shows that every check
passes on the program's real outputs, then corrupts copies of those
outputs one way at a time and shows that the matching check fires:

- a target row dropped;
- a staged file loaded twice;
- the watermark moved back by one id;
- a contaminated doc kept;
- a pack overfilled;
- a near-dup removal without a near duplicate.

Exits 0 when every check fires on its corruption, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402  (sets nothing up on import)

SYNC_ROWS = 20_000
CORPUS_DOCS = 300


def expect_fail(results: list, what: str, fn, needle: str) -> None:
    import checks
    try:
        fn()
    except checks.CheckFailed as e:
        ok = needle in str(e)
        results.append(ok)
        print(f"{'PASS' if ok else 'FAIL'}: {what} -> {e}")
        return
    results.append(False)
    print(f"FAIL: {what} -> no check fired")


def sync_cases(spark, work: str, results: list) -> None:
    import numpy as np
    import pyarrow.parquet as pq

    import checks
    import gen
    from syncs import SyncDir

    rng = np.random.default_rng(7)
    cols = gen.orders_batch(rng, np.arange(1, SYNC_ROWS + 1), 0, 60 * 1440)
    src = os.path.join(work, "src")
    gen.write_parquet(gen.orders_table(cols), os.path.join(src, "orders.parquet"))
    d = SyncDir(os.path.join(work, "sync"))
    res = d.sync(spark, src)
    expected, cursor = gen.digest(cols), gen.max_cursor(cols)

    checks.check_sync_result(res, rows_extracted=SYNC_ROWS, target_rows=SYNC_ROWS)
    checks.check_target_digest(d.target, expected)
    checks.check_ids_exactly_once(d.target, SYNC_ROWS)
    checks.check_watermark(d.watermark_doc(), cursor)
    checks.check_staged_layout(d.staging)
    print("PASS: every sync check holds on the real outputs")

    def copy_target(name: str) -> str:
        out = os.path.join(work, name)
        shutil.copytree(d.target, out)
        return out

    dropped = copy_target("target-dropped")
    f = checks.parquet_files(dropped)[0]
    t = pq.read_table(f)
    pq.write_table(t.slice(0, t.num_rows - 1), f)
    expect_fail(results, "target row dropped: digest",
                lambda: checks.check_target_digest(dropped, expected), "target digest")
    expect_fail(results, "target row dropped: ids",
                lambda: checks.check_ids_exactly_once(dropped, SYNC_ROWS), "target has")

    twice = copy_target("target-twice")
    staged = checks.parquet_files(d.staging)[0]
    shutil.copy(staged, os.path.join(twice, "part-again.parquet"))
    expect_fail(results, "staged file loaded twice: digest",
                lambda: checks.check_target_digest(twice, expected), "target digest rows")
    n_twice = SYNC_ROWS + pq.ParquetFile(staged).metadata.num_rows
    expect_fail(results, "staged file loaded twice: ids",
                lambda: checks.check_ids_exactly_once(twice, n_twice), "loaded twice")

    doc = d.watermark_doc()
    doc["mysql_state"]["last_id"] -= 1
    expect_fail(results, "watermark moved back by one id",
                lambda: checks.check_watermark(doc, cursor), "watermark")


def curate_cases(spark, work: str, results: list) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc

    import checks
    import gen
    from curation import CONTAMINATION, PACK_BUDGET, Capture
    from s3_redshift_backup_tool_spark.operators import dedup as dd
    from s3_redshift_backup_tool_spark.plans.curate import curate_corpus
    from tracing import patched

    cap_n = CORPUS_DOCS // 2
    c = gen.corpus(11, CORPUS_DOCS)
    docs_t, eval_t = gen.corpus_tables(c)
    paths = [os.path.join(work, "corpus", n) for n in ("docs.parquet", "eval.parquet")]
    gen.write_parquet(docs_t, paths[0])
    gen.write_parquet(eval_t, paths[1])
    facts = checks.CurateFacts(c, threshold=CONTAMINATION, per_source_cap=cap_n,
                               pack_budget=PACK_BUDGET)
    out = os.path.join(work, "shards")
    capture = Capture()
    with patched(dd, "neardup_components", capture.components(dd.neardup_components)):
        res = curate_corpus(spark, spark.read.parquet(paths[0]),
                            spark.read.parquet(paths[1]), out_path=out,
                            per_source_cap=cap_n,
                            contamination_threshold=CONTAMINATION,
                            pack_budget=PACK_BUDGET)
    shards = checks.read_shards(out)
    checks.check_curate(facts, res.counts, shards)
    print("PASS: every curate check holds on the real outputs")

    contaminated = next(i for i in facts.survivors if facts.overlap(i) >= CONTAMINATION)
    rows = shards.to_pylist()
    rows[0].update(doc_id=contaminated, text=facts.texts[contaminated])
    expect_fail(results, "contaminated doc kept",
                lambda: checks.check_curate(facts, res.counts, pa.Table.from_pylist(rows)),
                "contaminated")

    one_pack = shards.set_column(shards.schema.get_field_index("pack_id"), "pack_id",
                                 pc.multiply(pc.cast(shards.column("pack_id"), pa.int64()), 0))
    expect_fail(results, "pack overfilled",
                lambda: checks.check_curate(facts, res.counts, one_pack), "over budget")

    lonely = next(i for i in facts.survivors if i not in facts.has_partner)
    planted = facts.near_pairs[0][1]
    ok = (checks.neardup_violations(facts, {lonely}) == {lonely}
          and not checks.neardup_violations(facts, {planted}))
    results.append(ok)
    print(f"{'PASS' if ok else 'FAIL'}: near-dup removal without a near duplicate "
          f"is flagged; a planted near duplicate is not")
    removed = capture.removed()
    print(json.dumps({"program_neardup_removed": len(removed),
                      "without_near_duplicate": len(checks.neardup_violations(facts, removed)),
                      "planted_pairs": len(facts.near_pairs)}))


def main() -> int:
    work = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    run.machine_env(work)
    from s3_redshift_backup_tool_spark.session import get_spark
    spark = get_spark("perfbench-selftest", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false"})
    results: list[bool] = []
    try:
        sync_cases(spark, work, results)
        curate_cases(spark, work, results)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"{sum(results)} of {len(results)} corruptions caught")
    return 0 if results and all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
