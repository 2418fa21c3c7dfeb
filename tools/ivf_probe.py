"""Scale probe for the persistent IVF index: build once, serve cheap.

Claims measured:

1. Query cost against a growing index: a fixed query batch probing
   ``n_probe`` of ``n_centroids`` cells should scale with the PROBED
   fraction of the index (partition pruning), not the index size.
2. Append cost tracks the increment (stored centroids re-used, only
   touched partitions written), not the index.

Replicates the sf embeddings 1×/5×/20× (id-offset copies).  Appends a
marker-delimited section to SCALE_PROBE.md.

Usage: python tools/ivf_probe.py [max_mult]
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_toolz_spark.operators.incremental import (
    append_to_ivf_index,
    build_ivf_index,
    ivf_query_index,
)
from data_toolz_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

MARKER_BEGIN = "<!-- ivf-probe:begin -->"
MARKER_END = "<!-- ivf-probe:end -->"


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
    import shutil

    for t in ("ivf_meta", "ivf_centroids", "ivf_inv"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(
            os.path.join(os.getcwd(), "spark-warehouse", f"{prefix}_{t}"),
            ignore_errors=True,
        )


def main() -> int:
    max_mult = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    mults = [m for m in (1, 5, 20) if m <= max_mult]
    spark = get_spark(
        app_name="ivf-probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_emb = emb.count()
    queries = emb.filter(F.col("vec_id") < 32)
    increment = emb.withColumn(
        "vec_id", F.col("vec_id") + F.lit(900_000_000)
    )

    # warmup (Python worker pool for the Arrow assignment kernel)
    p0 = "ivfp_warm"
    drop_index(spark, p0)
    build_ivf_index(emb.limit(500), p0, n_centroids=8,
                    path=tempfile.mkdtemp(prefix="dtz_ivfw_"))
    ivf_query_index(spark, queries.limit(4), p0, k=5, n_probe=2).count()
    drop_index(spark, p0)

    rows = []
    for mult in mults:
        corpus = replicate(emb, "vec_id", mult)
        prefix = f"ivfp_{mult}"
        drop_index(spark, prefix)
        t0 = time.perf_counter()
        build_ivf_index(
            corpus, prefix, n_centroids=16,
            path=tempfile.mkdtemp(prefix="dtz_ivfp_"),
        )
        t_build = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_q = ivf_query_index(
            spark, queries, prefix, k=10, n_probe=4
        ).count()
        t_q4 = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        ivf_query_index(spark, queries, prefix, k=10, n_probe=16).count()
        t_q16 = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        append_to_ivf_index(spark, increment, prefix)
        t_app = round(time.perf_counter() - t0, 2)
        rows.append(
            (mult, mult * n_emb, t_build, t_q4, n_q, t_q16, t_app)
        )
        print(
            f"mult={mult}: build {t_build}s query-p4 {t_q4}s/{n_q:,} "
            f"query-p16 {t_q16}s append {t_app}s",
            flush=True,
        )
        drop_index(spark, prefix)
        _write_md(rows)
    print("wrote SCALE_PROBE.md (ivf section)")
    return 0


def _write_md(rows) -> None:
    lines = [
        MARKER_BEGIN,
        "",
        "## Persistent IVF index — growing corpus (tools/ivf_probe.py)",
        "",
        "Build once (16 cells), then serve a fixed 32-query batch:",
        "`query p4` probes 4/16 cells (partition-pruned scan of ~25 %",
        "of the inverted file), `p16` probes everything (exact).",
        "`append` folds a fixed 1×-sized increment using the STORED",
        "centroids (no retrain, only touched partitions written):",
        "",
        "| mult | vecs | build s | query p4 s | rows | query p16 s "
        "| append s |",
        "|---|---|---|---|---|---|---|",
    ]
    for m, nv, tb, tq4, nq, tq16, ta in rows:
        lines.append(
            f"| {m}× | {nv:,} | {tb} | {tq4} | {nq:,} | {tq16} | {ta} |"
        )
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
