"""Driver-contract invariants that must survive refactors."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_registry_at_most_50_qids():
    # the driver records at most 50 correctness rows per round; a
    # larger registry can never be fully attested (VERDICT r2)
    qids = list(entrymod.queries())
    assert len(qids) <= 50, len(qids)
    assert len(qids) == len(set(qids))


def test_every_qid_has_an_oracle():
    # every registered query must be value-checkable — rows-only
    # entries were eliminated in r3 (the ANN qid gained an exact
    # oracle via its pinned recall-1.0 config)
    missing = [q for q in entrymod.queries() if q not in entrymod.oracle_sql()]
    assert missing == [], missing


def test_no_orphan_oracles():
    orphans = [q for q in entrymod.oracle_sql() if q not in entrymod.queries()]
    assert orphans == [], orphans


def test_bench_headline_resolvable():
    # the bench headline times registered qids at their registered
    # definitions, so every member must be in the registry
    import bench

    qids = entrymod.queries()
    unregistered = [q for q in bench.HEADLINE if q not in qids]
    assert unregistered == [], unregistered
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_bench_tail_is_strict_priority_prefix():
    # synthetic timings, no Spark: the last line must stay under the
    # capture budget and hold a strict prefix of the priority order,
    # even when a later, shorter entry would still have fit
    import json

    import bench

    order = [f"query_entry_{i:03d}" for i in range(80)]
    order.insert(30, "x" * 1200)  # overflows after 30 short entries
    timings = {q: 1.0 + i / 7 for i, q in enumerate(order)}
    header = {"metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1}
    *spill, last = bench.tail_lines(header, timings, order)
    assert len(last) <= bench.TAIL_BUDGET
    packed = json.loads(last)["queries"]
    assert list(packed) == order[: len(packed)]
    assert len(packed) == 30
    (spill_line,) = spill
    spilled = json.loads(spill_line)
    assert spilled["spill"] is True and spilled["compact"] is True
    assert list(spilled["queries"]) == order[len(packed):]
    # everything fits → no spill line
    assert len(bench.tail_lines(header, timings, order[:5])) == 1


def test_cache_track_release(spark):
    from data_toolz_spark import cache

    df = spark.range(100).persist()
    cache.track(df)
    assert cache.release() >= 1
    assert df.storageLevel.useMemory is False  # unpersisted
    assert cache.release() == 0  # idempotent, list cleared
