"""Vocabulary-family scale probe: build_vocab / vocab_coverage /
unigram_logprob at growing corpus multiples.

These are the explode-heaviest operators in the library (every token
crosses into the aggregate), so the claim to verify is that wall time
tracks token count (linear) and the aggregate state stays bounded by
DISTINCT vocabulary — constant across replicated multiples.

Appends a marker-delimited section to SCALE_PROBE.md.
Usage: python tools/vocab_probe.py [max_mult]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_toolz_spark.operators.text_analysis import (
    build_vocab,
    unigram_logprob,
    vocab_coverage,
)
from data_toolz_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

MARKER_BEGIN = "<!-- vocab-probe:begin -->"
MARKER_END = "<!-- vocab-probe:end -->"


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
        app_name="vocab-probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 2,
        extra_conf={"spark.ui.enabled": "false",
                    "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    build_vocab(docs.limit(200)).count()  # warmup

    rows = []
    for mult in mults:
        d = replicate(docs, mult)
        t0 = time.perf_counter()
        vocab = build_vocab(d, doc_id_col="doc_id")
        v_size = vocab.count()
        t_vocab = round(time.perf_counter() - t0, 2)
        vocab = vocab.cache()
        vocab.count()
        t0 = time.perf_counter()
        cov = vocab_coverage(
            d, vocab, group_cols=("lang",)
        ).count()
        t_cov = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_scored = unigram_logprob(d, vocab).count()
        t_lm = round(time.perf_counter() - t0, 2)
        vocab.unpersist()
        rows.append(
            (mult, mult * n_docs, t_vocab, v_size, t_cov, t_lm, n_scored)
        )
        print(
            f"mult={mult}: vocab {t_vocab}s ({v_size} tokens), "
            f"coverage {t_cov}s, lm {t_lm}s ({n_scored:,} docs)",
            flush=True,
        )
        _write_md(rows)
    print("wrote SCALE_PROBE.md (vocab section)")
    return 0


def _write_md(rows) -> None:
    lines = [
        MARKER_BEGIN,
        "",
        "## Vocabulary family — growing corpus (tools/vocab_probe.py)",
        "",
        "build_vocab (tf + doc-frequency), per-lang vocab_coverage,",
        "and unigram_logprob scoring over replicated corpora.  Every",
        "token is exploded, so wall time should track rows; aggregate",
        "state is bounded by DISTINCT vocabulary (constant across",
        "mults by construction):",
        "",
        "| mult | docs | vocab s | |V| | coverage s | lm score s "
        "| docs scored |",
        "|---|---|---|---|---|---|---|",
    ]
    for m, nd, tv, v, tc, tl, ns in rows:
        lines.append(
            f"| {m}× | {nd:,} | {tv} | {v} | {tc} | {tl} | {ns:,} |"
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
