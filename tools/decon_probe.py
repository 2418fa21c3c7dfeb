"""Scale probe for n-gram decontamination: growing corpus, fixed eval.

The 100 TB claim: the eval benchmark's gram set is a broadcast-sized
constant, so decontamination cost is ONE corpus scan — wall time per
corpus row must stay flat as the corpus grows, with no shuffle of the
corpus text (hashed-gram default).  Replicates the sf corpus 1×/5×/20×
(id-offset copies) against the fixed ``doc_id % 20 == 0`` eval slice of
the base corpus and times the default (hashed, broadcast) and the
shuffled-join fallback.

Appends a marker-delimited section to SCALE_PROBE.md.

Usage: python tools/decon_probe.py [max_mult]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_toolz_spark.operators.decontamination import ngram_decontaminate
from data_toolz_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

MARKER_BEGIN = "<!-- decon-probe:begin -->"
MARKER_END = "<!-- decon-probe:end -->"


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
        app_name="decon-probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    base_train = docs.filter(F.col("doc_id") % 20 != 0)

    # warmup
    ngram_decontaminate(base_train.limit(200), eval_df.limit(50), n=4).count()

    from data_toolz_spark.operators.text_analysis import (
        chunk_documents,
        line_dedup,
    )

    rows = []
    for mult in mults:
        train = replicate(base_train, "doc_id", mult)
        t0 = time.perf_counter()
        n_hash = ngram_decontaminate(train, eval_df, n=4).count()
        t_hash = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_shuf = ngram_decontaminate(
            train, eval_df, n=4, broadcast_eval=False
        ).count()
        t_shuf = round(time.perf_counter() - t0, 2)
        corpus = replicate(docs, "doc_id", mult)
        t0 = time.perf_counter()
        n_ld = line_dedup(corpus, max_doc_freq=2, sep=" ").count()
        t_ld = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_ch = chunk_documents(corpus, max_words=16, overlap=4).count()
        t_ch = round(time.perf_counter() - t0, 2)
        rows.append((mult, mult * (n_docs - n_docs // 20), t_hash, n_hash,
                     t_shuf, n_shuf, mult * n_docs, t_ld, n_ld, t_ch, n_ch))
        print(
            f"mult={mult}: broadcast {t_hash}s/{n_hash:,} "
            f"shuffled {t_shuf}s/{n_shuf:,} "
            f"line_dedup {t_ld}s/{n_ld:,} chunk {t_ch}s/{n_ch:,}",
            flush=True,
        )
        _write_md(rows)
    print("wrote SCALE_PROBE.md (decon section)")
    return 0


def _write_md(rows) -> None:
    lines = [
        MARKER_BEGIN,
        "",
        "## Text-pipeline ops — growing corpus (tools/decon_probe.py)",
        "",
        "4-gram collision vs the fixed `doc_id % 20 == 0` eval slice;",
        "`broadcast` = shipped default (hashed grams, broadcast eval",
        "set, corpus never shuffles text), `shuffled` = the",
        "`broadcast_eval=False` fallback for eval sets too big to",
        "broadcast.  Wall time per corpus row must stay flat:",
        "",
        "broadcast.  `line_dedup` (word-sep pseudo-lines, k=2) and",
        "`chunk` (16-word windows, overlap 4) run over the replicated",
        "full corpus — one hashed-long shuffle and a pure scan",
        "respectively:",
        "",
        "| mult | train docs | broadcast s | flagged | shuffled s "
        "| flagged | corpus docs | line_dedup s | rows | chunk s "
        "| chunks |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for m, nd, th, nh, ts, ns, nc, tld, nld, tch, nch in rows:
        lines.append(
            f"| {m}× | {nd:,} | {th} | {nh:,} | {ts} | {ns:,} "
            f"| {nc:,} | {tld} | {nld:,} | {tch} | {nch:,} |"
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
