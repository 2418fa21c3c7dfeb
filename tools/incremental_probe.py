"""Deep probe of the incremental MinHash index — the 100 TB headline.

Two claims get measured here, beyond the 1×/5×/20× table in
SCALE_PROBE.md:

1. **Corpus-size independence, deeper**: index build once over a
   mult× corpus (up to 100× sf0.1 = 500k docs), then mine a FIXED
   1×-sized increment.  Mine wall time must stay flat while the corpus
   (and legitimate output) grows — the index tables are read in place,
   only increment-sized frames shuffle.

2. **Compounding growth**: a production pipeline runs
   mine → append → mine → append … daily.  Starting from a base index,
   run K append cycles with fresh disjoint increments and time EVERY
   mine and EVERY append.  Mine time must not trend upward with cycle
   count beyond the index's organic growth; append cost must track the
   increment, not the index.

Appends a marker-delimited section to SCALE_PROBE.md (re-running
replaces the section, never the batch tables above it).

Usage: python tools/incremental_probe.py [max_mult] [n_cycles]
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_toolz_spark.cache import clear_session_caches
from data_toolz_spark.operators.incremental import (
    append_to_minhash_index,
    build_minhash_index,
    incremental_near_duplicates,
)
from data_toolz_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

MARKER_BEGIN = "<!-- incremental-probe:begin -->"
MARKER_END = "<!-- incremental-probe:end -->"


def _default_heap() -> str:
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gb = max(2, min(48, int(total * 0.4 / 2**30)))
    except (ValueError, OSError):
        gb = 4
    return f"{gb}g"


def replicate(df, id_col: str, mult: int, id_stride: int = 1_000_000):
    if mult == 1:
        return df
    copies = [
        df.withColumn(id_col, F.col(id_col) + F.lit(i * id_stride))
        for i in range(mult)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def drop_index(spark, prefix: str) -> None:
    for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members", "mh_journal"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def main() -> int:
    max_mult = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    n_cycles = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    mults = [m for m in (1, 5, 20, 50, 100) if m <= max_mult]
    spark = get_spark(
        app_name="incremental-probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 2,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", _default_heap()
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()

    # warmup (JVM codegen + Python worker pool), same rationale as bench
    from data_toolz_spark.operators.dedup import minhash_near_duplicates

    minhash_near_duplicates(docs.limit(300), "doc_id", "text", threshold=0.8).count()
    clear_session_caches(spark)

    # ---- part 1: fixed increment vs growing corpus -------------------
    base_mult = 20 if 20 in mults else mults[-1]  # part-2 index to keep
    flat_rows = []
    for mult in mults:
        corpus = replicate(docs, "doc_id", mult)
        prefix = f"iprobe_{mult}"
        drop_index(spark, prefix)
        idx_dir = tempfile.mkdtemp(prefix="dtz_iprobe_")
        t0 = time.perf_counter()
        build_minhash_index(
            corpus, prefix, threshold=0.8, n_buckets=64, path=idx_dir
        )
        t_build = round(time.perf_counter() - t0, 2)
        clear_session_caches(spark)
        inc = docs.withColumn("doc_id", F.col("doc_id") + F.lit(900_000_000))
        t0 = time.perf_counter()
        n_pairs = incremental_near_duplicates(spark, inc, prefix).count()
        t_mine = round(time.perf_counter() - t0, 2)
        clear_session_caches(spark)
        # band rows stay CONSTANT under replication (id-offset copies
        # share shingle sets, so they collapse to one fingerprint rep —
        # the identical-set collapse working as designed); members grow
        # linearly with the corpus
        n_bands = spark.table(f"{prefix}_mh_bands").count()
        n_members = spark.table(f"{prefix}_mh_members").count()
        flat_rows.append(
            (mult, mult * n_docs, t_build, n_bands, n_members, t_mine, n_pairs)
        )
        print(
            f"mult={mult}: build {t_build}s bands={n_bands:,} "
            f"members={n_members:,} mine {t_mine}s pairs={n_pairs:,}",
            flush=True,
        )
        if mult != base_mult:  # keep the base index for part 2
            drop_index(spark, prefix)
        _write_md(flat_rows, [], n_docs, n_cycles)

    # ---- part 2: compounding mine→append cycles on the base index ----
    cycle_rows = []
    prefix = f"iprobe_{base_mult}"
    for i in range(n_cycles):
        inc = docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(910_000_000 + i * 1_000_000)
        )
        t0 = time.perf_counter()
        n_pairs = incremental_near_duplicates(spark, inc, prefix).count()
        t_mine = round(time.perf_counter() - t0, 2)
        clear_session_caches(spark)
        t0 = time.perf_counter()
        append_to_minhash_index(spark, inc, prefix)
        t_append = round(time.perf_counter() - t0, 2)
        clear_session_caches(spark)
        n_members = spark.table(f"{prefix}_mh_members").count()
        cycle_rows.append((i + 1, t_mine, n_pairs, t_append, n_members))
        print(
            f"cycle {i + 1}: mine {t_mine}s pairs={n_pairs:,} "
            f"append {t_append}s members={n_members:,}",
            flush=True,
        )
        _write_md(flat_rows, cycle_rows, n_docs, n_cycles)
    drop_index(spark, prefix)
    print("wrote SCALE_PROBE.md (incremental section)")
    return 0


def _write_md(flat_rows, cycle_rows, n_docs, n_cycles) -> None:
    lines = [
        MARKER_BEGIN,
        "",
        "## Incremental index — deep probe (tools/incremental_probe.py)",
        "",
        "Part 1 — fixed 1×-sized increment mined against a growing",
        "corpus index (build once per corpus size; mine must stay flat",
        "while output tracks the true duplicates in the bigger corpus):",
        "",
        "(Band rows stay constant across mults by design: replicated",
        "copies share shingle sets and collapse to one fingerprint rep",
        "— the LSH join side is bounded by DISTINCT content, not corpus",
        "size.  The members table carries the linear growth.)",
        "",
        "| mult | corpus docs | idx build s | band rows | member rows "
        "| incr mine s | incr pairs |",
        "|---|---|---|---|---|---|---|",
    ]
    for m, nd, tb, nb, nm, tm, np_ in flat_rows:
        lines.append(
            f"| {m}× | {nd:,} | {tb} | {nb:,} | {nm:,} | {tm} | {np_:,} |"
        )
    if cycle_rows:
        base = 20 if any(r[0] == 20 for r in flat_rows) else flat_rows[-1][0]
        lines += [
            "",
            f"Part 2 — {n_cycles} compounding mine→append cycles on the "
            f"{base}× index ({base * n_docs:,} docs + {n_docs:,}/cycle).",
            "Mine time must not trend up with cycle count; append cost",
            "must track the increment (anti-join against known",
            "fingerprints + bucket-preserving insertInto), not the index:",
            "",
            "| cycle | mine s | pairs | append s | members after |",
            "|---|---|---|---|---|",
        ]
        for c, tm, np_, ta, nm in cycle_rows:
            lines.append(f"| {c} | {tm} | {np_:,} | {ta} | {nm:,} |")
    lines += ["", MARKER_END]
    section = "\n".join(lines)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "SCALE_PROBE.md")
    text = open(path).read() if os.path.exists(path) else ""
    pattern = re.escape(MARKER_BEGIN) + r".*?" + re.escape(MARKER_END)
    if re.search(pattern, text, re.S):
        text = re.sub(pattern, lambda _m: section, text, flags=re.S)
    else:
        text = text.rstrip("\n") + "\n\n" + section + "\n"
    with open(path, "w") as fh:
        fh.write(text)


if __name__ == "__main__":
    raise SystemExit(main())
