"""A/B: merge-adjacent WINDOW recount vs the full signed recount of
the distributed subword trainers, interleaved in ONE warmed session
under the bench conf (isolated sweeps are inadmissible per-entry on a
host with steal storms).

Arms (picked by bpe._WINDOW_MIN_AVG_LEN: 0.0 forces the window
recount, inf the full recount; semantics-identical — pinned by
test_bpe_window_recount_toggle_parity + the window differential).
bpe._LOCAL_UNIT_CAP = 0 forces the distributed loop throughout:

* W1  x_bpe_delta128 workload: 128 merges, batch 64, word-trigram
      unit table (~27k units) — the distributed-delta demonstration
      entry.
* W2  wordpiece_train distributed loop, 12 merges on the word table —
      the above-cap WP regime.
* W3  48 merges, batch 64, on the word-8-GRAM unit table (~225k
      units, avg 43 raw chars) — the LONG-unit regime the window
      recount targets.

Measured r13 at local[32] (quiet, min of interleaved repeats): W1
23.82 window vs 24.22 full (flat), W2 3.33 vs 2.60 (full wins — short
words), W3 27.11 vs 139.64 (window 5.2×) — hence the production gate
at bpe._WINDOW_MIN_AVG_LEN.

Usage: python tools/r13_wdelta_ab.py [K]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
import data_toolz_spark.operators.bpe as bpemod
from data_toolz_spark.cache import clear_session_caches
from data_toolz_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
K = int(sys.argv[1]) if len(sys.argv) > 1 else 3


def main() -> None:
    spark = get_spark(
        app_name="r13-wdelta-ab",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.driver.memory": bench._default_heap()},
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod
    from data_toolz_spark.operators.bpe import (
        bpe_ngram_unit_table,
        bpe_train,
        bpe_word_table,
    )
    from data_toolz_spark.operators.wordpiece import wordpiece_train

    docs = entrymod.load(spark, SF_DIR, "documents")
    bpemod._LOCAL_UNIT_CAP = 0
    gates = {"window": 0.0, "full": math.inf}

    def w1():
        return bpe_train(
            bpe_ngram_unit_table(docs, 3),
            n_merges=128,
            min_count=2,
            batch_size=64,
        )

    def w2():
        return wordpiece_train(
            bpe_word_table(docs), n_merges=12, min_count=2
        )

    def w3():
        return bpe_train(
            bpe_ngram_unit_table(docs, 8),
            n_merges=48,
            min_count=2,
            batch_size=64,
        )

    for name, fn in (
        ("W1 bpe_delta128", w1),
        ("W2 wp_distributed", w2),
        ("W3 bpe_8gram48", w3),
    ):
        # warm both arms once, assert merge-list parity on real data
        refs = {}
        for arm, gate in gates.items():
            bpemod._WINDOW_MIN_AVG_LEN = gate
            refs[arm] = fn()
            clear_session_caches(spark)
        assert refs["window"] == refs["full"], f"{name}: merge lists diverge!"
        results = {arm: [] for arm in gates}
        for _ in range(K):
            for arm, gate in gates.items():
                bpemod._WINDOW_MIN_AVG_LEN = gate
                l0 = os.getloadavg()[0]
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
                results[arm].append(dt)
                clear_session_caches(spark)
                print(
                    f"  {name} {arm}: {dt:6.2f} s "
                    f"(load {l0:.1f}->{os.getloadavg()[0]:.1f})",
                    flush=True,
                )
        print(
            f"{name}: window min {min(results['window']):.2f} s vs "
            f"full-recount min {min(results['full']):.2f} s "
            f"(parity OK, {K} interleaved repeats)",
            flush=True,
        )


if __name__ == "__main__":
    main()
