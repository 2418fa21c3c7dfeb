"""Span-dedup scale probe: remove_duplicate_spans at growing corpus
multiples.

Replicated corpora are the adversarial case: every document's every
span is duplicated, so ALL positions in non-keeper copies get flagged
and the rebuild rewrites almost every replicated doc.  The claim to
verify: wall time tracks corpus rows (gram shuffle + linear join-back),
NOT pairs — the distinct-gram aggregate is bounded by distinct CONTENT,
which is constant across multiples.

Appends a marker-delimited section to SCALE_PROBE.md.
Usage: python tools/span_probe.py [max_mult]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_toolz_spark.operators.text_analysis import remove_duplicate_spans
from data_toolz_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

MARKER_BEGIN = "<!-- span-probe:begin -->"
MARKER_END = "<!-- span-probe:end -->"


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
        app_name="span-probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 2,
        extra_conf={"spark.ui.enabled": "false",
                    "spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    # warm JVM/codegen
    remove_duplicate_spans(docs.limit(200), n=8).count()

    rows = []
    for mult in mults:
        d = replicate(docs, mult)
        t0 = time.perf_counter()
        out = remove_duplicate_spans(d, n=8, out_col="cleaned")
        agg = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_dropped_words").alias("cut"),
            F.sum((F.col("n_dropped_words") > 0).cast("long")).alias(
                "docs_touched"
            ),
        ).collect()[0]
        t = round(time.perf_counter() - t0, 2)
        rows.append(
            (mult, mult * n_docs, t, agg["docs_touched"], int(agg["cut"]))
        )
        print(
            f"mult={mult}: {t}s, {agg['docs_touched']:,} docs touched, "
            f"{int(agg['cut']):,} words cut",
            flush=True,
        )
        _write_md(rows)
    print("wrote SCALE_PROBE.md (span section)")
    return 0


def _write_md(rows) -> None:
    lines = [
        MARKER_BEGIN,
        "",
        "## Duplicate-span removal — growing corpus (tools/span_probe.py)",
        "",
        "ExactSubstr pass (8-word spans, ≥2 docs) over replicated",
        "corpora — the adversarial case where every span of every",
        "non-keeper copy is flagged and rewritten.  Wall time must",
        "track ROWS (gram shuffle + join-back are linear; the",
        "distinct-gram aggregate is bounded by distinct content,",
        "constant across mults), while words cut grows with the",
        "replicas by construction:",
        "",
        "| mult | docs | wall s | docs rewritten | words cut |",
        "|---|---|---|---|---|",
    ]
    for m, nd, t, touched, cut in rows:
        lines.append(f"| {m}× | {nd:,} | {t} | {touched:,} | {cut:,} |")
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
