"""End-to-end pipeline scale probe: prepare_training_corpus at growing
corpus multiples.

The composed pipeline is the number a deployment cares about; its cost
model is the sum of stages whose individual growth shapes are probed
elsewhere (decon/line/chunk in decon_probe, span in span_probe, CC in
scale_probe).  This probe times the COMPOSITION — quality → line dedup
→ span dedup → MinHash+CC → decontamination → leakage-safe split →
chunk → pack as one call — so stage-interaction effects (the persisted
cleaned corpus, the shared CC map) are measured, not inferred.

Replicated corpora multiply near-dup clusters; the CC stage drops
every copy, so the pipeline's OUTPUT is replication-invariant while
wall time must track input rows.

Appends a marker-delimited section to SCALE_PROBE.md.
Usage: python tools/pipeline_probe.py [max_mult]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_toolz_spark.pipelines import prepare_training_corpus
from data_toolz_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

MARKER_BEGIN = "<!-- pipeline-probe:begin -->"
MARKER_END = "<!-- pipeline-probe:end -->"


def _default_heap() -> str:
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gb = max(2, min(48, int(total * 0.4 / 2**30)))
    except (ValueError, OSError):
        gb = 4
    return f"{gb}g"


def replicate(df, mult: int):
    if mult == 1:
        return df
    copies = [
        df.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        for i in range(mult)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def main() -> int:
    max_mult = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    mults = [m for m in (1, 5, 20) if m <= max_mult]
    spark = get_spark(
        app_name="pipeline-probe",
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
    from data_toolz_spark.cache import clear_session_caches

    docs0 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n0 = docs0.count()
    # warmup (session costs out of the 1x row)
    prepare_training_corpus(
        docs0.limit(300), None, near_dup_threshold=0.8
    ).write.format("noop").mode("overwrite").save()
    clear_session_caches(spark)

    rows = []
    for mult in mults:
        docs = replicate(docs0, mult)
        ev = docs.filter(F.col("doc_id") % 20 == 0).select("text")
        start = time.perf_counter()
        out = prepare_training_corpus(
            docs,
            ev,
            quality_thresholds={"min_tokens": 5},
            line_dedup_max_doc_freq=int(n0 * mult * 0.9),
            span_dedup_n=8,
            near_dup_threshold=0.8,
            decontaminate_n=8,
            chunk_max_words=64,
            chunk_overlap=8,
            pack_budget=2048,
            line_sep=" ",
        )
        n_chunks = out.count()
        wall = round(time.perf_counter() - start, 2)
        clear_session_caches(spark)
        rows.append((mult, mult * n0, wall, n_chunks))
        print(
            f"mult={mult}: {wall}s, {n_chunks} packed chunks", flush=True
        )
        _write_md(rows)
    print("wrote SCALE_PROBE.md (pipeline section)")
    return 0


def _write_md(rows) -> None:
    lines = [
        MARKER_BEGIN,
        "",
        "## End-to-end pipeline — growing corpus (tools/pipeline_probe.py)",
        "",
        "`prepare_training_corpus` (quality → line dedup → span dedup →",
        "MinHash+CC → decontamination → leakage-safe split → chunk →",
        "pack) as ONE call over replicated corpora — the composition,",
        "with the persisted cleaned corpus and the shared CC map, not",
        "the per-stage sums.  Wall time must track rows; the OUTPUT is",
        "replication-INVARIANT — every id-shifted copy is an exact",
        "near-duplicate, so the MinHash+CC stage collapses the corpus",
        "back to its 1× content and the packed-chunk count is constant",
        "(the strongest end-to-end dedup-correctness signal a scale",
        "probe can emit):",
        "",
        "| mult | docs | wall s | packed chunks |",
        "|---|---|---|---|",
    ]
    for mult, docs, wall, chunks in rows:
        lines.append(f"| {mult}× | {docs:,} | {wall} | {chunks:,} |")
    lines += ["", MARKER_END]
    block = "\n".join(lines)
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "SCALE_PROBE.md")
    text = open(path).read()
    if MARKER_BEGIN in text:
        text = re.sub(
            re.escape(MARKER_BEGIN) + r".*?" + re.escape(MARKER_END),
            block,
            text,
            flags=re.S,
        )
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    open(path, "w").write(text)


if __name__ == "__main__":
    raise SystemExit(main())
