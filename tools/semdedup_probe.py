"""Semantic-dedup scale probe: wall time vs corpus size at FIXED cell
granularity per row.

semantic_dedup's cost model is Σ|cell|²·dim BLAS flops; the production
knob is holding |cell| roughly constant by scaling n_centroids with the
corpus (the SemDeDup paper's 50 k clusters).  Two series per corpus
multiple:

* ``fixed cells`` — n_centroids frozen at the 1× value (8): |cell|
  grows with the corpus, so per-row time should degrade quadratically —
  the anti-pattern this probe demonstrates;
* ``scaled cells`` — n_centroids = 8×mult: |cell| constant, so wall
  time should grow ~linearly with rows — the shipped guidance.

Appends a marker-delimited section to SCALE_PROBE.md.
Usage: python tools/semdedup_probe.py [max_mult]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_toolz_spark.operators.similarity import semantic_dedup
from data_toolz_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

MARKER_BEGIN = "<!-- semdedup-probe:begin -->"
MARKER_END = "<!-- semdedup-probe:end -->"


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


def main() -> int:
    max_mult = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    mults = [m for m in (1, 5, 20) if m <= max_mult]
    spark = get_spark(
        app_name="semdedup-probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 2,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "24g"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_emb = emb.count()

    # warm the JVM + Python workers once so 1× isn't charged session
    # startup
    semantic_dedup(
        emb.limit(200), id_col="vec_id", threshold=0.6, n_centroids=2
    ).count()

    rows = []
    for mult in mults:
        e = replicate(emb, "vec_id", mult)
        t0 = time.perf_counter()
        n_fixed = semantic_dedup(
            e, id_col="vec_id", threshold=0.6, n_centroids=8,
            keep="centroid_far",
        ).count()
        t_fixed = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_scaled = semantic_dedup(
            e, id_col="vec_id", threshold=0.6, n_centroids=8 * mult,
            keep="centroid_far",
        ).count()
        t_scaled = round(time.perf_counter() - t0, 2)
        rows.append(
            (mult, mult * n_emb, t_fixed, n_fixed, t_scaled, n_scaled)
        )
        print(
            f"mult={mult}: fixed8 {t_fixed}s/{n_fixed} drops, "
            f"scaled{8*mult} {t_scaled}s/{n_scaled} drops",
            flush=True,
        )
        _write_md(rows)
    print("wrote SCALE_PROBE.md (semdedup section)")
    return 0


def _write_md(rows) -> None:
    lines = [
        MARKER_BEGIN,
        "",
        "## Semantic dedup — growing corpus (tools/semdedup_probe.py)",
        "",
        "θ=0.6, centroid_far keep.  `fixed` freezes n_centroids at 8 —",
        "cells grow with the corpus and the per-cell Gram matmul",
        "degrades quadratically (the anti-pattern).  `scaled` grows",
        "n_centroids with the corpus (8×mult) so |cell| stays constant",
        "— wall time should track rows, the production configuration",
        "(SemDeDup's 50 k clusters at web scale).  Replicated corpora",
        "duplicate every vector, so drop counts grow with corpus size",
        "by construction:",
        "",
        "| mult | vecs | fixed 8 cells s | drops | scaled 8·mult s "
        "| drops |",
        "|---|---|---|---|---|---|",
    ]
    for m, nv, tf, nf, ts, ns in rows:
        lines.append(f"| {m}× | {nv:,} | {tf} | {nf:,} | {ts} | {ns:,} |")
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
