"""The three benchmark workloads.

Each workload has the same shape:

* ``generate(seed, data_dir)`` writes its seeded inputs and returns
  their size in bytes (part of set-up, timed);
* ``prepare_checks()`` computes the expected results once, untimed;
* ``op(spark, tracer, k)`` is one timed operation against the public
  API of ``data_toolz_spark``, with a span around every call into a
  layer; it returns what ``check`` needs;
* ``check(result)`` verifies the operation's output, untimed, and
  returns ``(ok, facts)``;
* ``min_ops`` is the number of operations a run measures at least,
  whatever its length.  It is set so that the count does not flip with
  the host's speed.  The first measured operation is still slower than
  the rest, so the median of two ``lake_etl`` operations read 30 %
  above that of three.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import gen

# ---------------------------------------------------------------------------
# corpus_prepare
# ---------------------------------------------------------------------------


class CorpusPrepare:
    """``prepare_training_corpus`` with the canonical config, written
    to parquet with ``DataIO.write``."""

    name = "corpus_prepare"
    min_ops = 2

    def __init__(self, work: str, n_docs: int) -> None:
        self.work = work
        self.n_docs = n_docs
        self.items_per_op = n_docs
        self._digest: str | None = None

    def generate(self, seed: int, data_dir: str) -> int:
        self.data_dir = data_dir
        self.planted = gen.corpus(np.random.default_rng(seed), self.n_docs)
        return gen.write_tables(
            {"docs": self.planted["docs"], "eval": self.planted["eval"]},
            data_dir,
        )

    def input_facts(self) -> dict:
        return {"docs": self.n_docs, **gen.planted_shares(self.planted, self.n_docs)}

    def prepare_checks(self) -> None:
        self._digest = None

    def config(self) -> dict:
        return dict(
            quality_thresholds={"min_tokens": 5},
            line_dedup_max_doc_freq=int(self.n_docs * 0.9),
            span_dedup_n=8,
            near_dup_threshold=0.8,
            decontaminate_n=8,
            chunk_max_words=64,
            chunk_overlap=8,
            pack_budget=2048,
            line_sep=" ",
        )

    def op(self, spark, tr, k: int) -> dict:
        from data_toolz_spark import DataIO, prepare_training_corpus
        from data_toolz_spark.cache import release

        io = DataIO()
        out_dir = os.path.join(self.work, "out", f"corpus-{k}")
        with tr.span("sources.read"):
            docs = io.read(spark, os.path.join(self.data_dir, "docs.parquet"))
            evals = io.read(spark, os.path.join(self.data_dir, "eval.parquet"))
        with tr.span("pipelines.plan"):
            out = prepare_training_corpus(docs, evals, **self.config())
        with tr.span("pipelines.execute"):
            io.write(out, out_dir, "parquet")
        storage = tr.storage_mb(spark)
        with tr.span("cache.release"):
            released = release()
        return {"out_dir": out_dir, "released": released, "storage_mb": storage}

    def check(self, result: dict) -> tuple[bool, dict]:
        out_dir = result["out_dir"]
        written, files = _dir_usage(out_dir)
        table = pq.read_table(out_dir)
        shutil.rmtree(out_dir)
        cols = sorted(table.column_names)
        rows = sorted(zip(*(table.column(c).to_pylist() for c in cols)))
        digest = hashlib.sha256(repr(rows).encode()).hexdigest()
        if self._digest is None:
            self._digest = digest
        splits: dict[int, set] = {}
        for doc_id, split in zip(
            table.column("doc_id").to_pylist(), table.column("split").to_pylist()
        ):
            splits.setdefault(doc_id, set()).add(split)
        survivors = set(splits)
        copies = removed = 0
        dup_ok = True
        for group in self.planted["exact_groups"]:
            alive = len(survivors.intersection(group))
            dup_ok &= alive <= 1
            copies += len(group) - 1
            removed += min(len(group) - 1, len(group) - alive)
        ok = (
            table.num_rows > 0
            and digest == self._digest
            and all(len(s) == 1 for s in splits.values())
            and dup_ok
            and not survivors.intersection(self.planted["contaminated"])
        )
        return ok, {
            "bytes_written": written,
            "files_written": files,
            "rows_written": table.num_rows,
            "docs_in": self.n_docs,
            "docs_out": len(survivors),
            "planted_dups_removed_ratio": removed / copies,
            "frames_released": result["released"],
            "storage_peak_mb": result["storage_mb"],
        }


# ---------------------------------------------------------------------------
# lake_etl
# ---------------------------------------------------------------------------

_COL_SPEC = [
    {
        "event_type": ["click", "purchase", "signup"],
        "value": [{"numeric": [">", 5, "<=", 400]}],
    },
    {"event_type": [{"prefix": "err"}], "user_id": [{"numeric": ["<", 500]}]},
]
_JSON_SPEC = [
    {"src": ["web", "app"], "geo": {"country": [{"anything-but": ["JP"]}]}},
    {"k": [{"numeric": [">=", 90]}]},
]
# read-back filters: a partition-pruning predicate plus a row predicate
_READBACK = {
    "parquet": [
        {
            "event_date": [f"2024-01-{d:02d}" for d in (2, 3, 5, 8, 9, 12)],
            "value": [{"numeric": [">=", 20]}],
        }
    ],
    "jsonlines": [{"event_type": ["click", "purchase"]}],
    "dsv": [{"event_type": ["click", "signup"]}],
}
_SUFFIX = ["c0", "c1", "c2"]


class LakeEtl:
    """Read, filter (column + JSON mode), write three layouts, read
    each back with pruning filters, inventory and clean up with
    ``FsUtil``; every step wrapped in ``JsonLogger.decorate``."""

    name = "lake_etl"
    min_ops = 3

    def __init__(self, work: str, n_rows: int) -> None:
        self.work = work
        self.n_rows = n_rows
        self.items_per_op = n_rows
        self._built = None

    def generate(self, seed: int, data_dir: str) -> int:
        self.in_dir = os.path.join(data_dir, "events")
        self.table = gen.events(np.random.default_rng(seed), self.n_rows)
        os.makedirs(self.in_dir, exist_ok=True)
        total = 0
        step = -(-self.n_rows // 8)
        for i in range(8):
            path = os.path.join(self.in_dir, f"part-{i}.parquet")
            pq.write_table(self.table.slice(i * step, step), path)
            total += os.path.getsize(path)
        return total

    def input_facts(self) -> dict:
        return {"rows": self.n_rows, "input_files": 8}

    def prepare_checks(self) -> None:
        """Expected (rows, sum of ids) per format from the pure-Python
        ``Filter(spec)(record)`` path over the generated rows."""
        from data_toolz_spark import Filter

        col_f, json_f = Filter(_COL_SPEC), Filter(_JSON_SPEC)
        back = {fmt: Filter(spec) for fmt, spec in _READBACK.items()}
        names = ["event_id", "event_date", "user_id", "event_type", "value"]
        columns = [self.table.column(n).to_pylist() for n in names]
        props = self.table.column("props").to_pylist()
        # props takes ~1,500 distinct values: filter each one once
        json_kept = {p: json_f(json.loads(p)) for p in set(props)}
        self.expected = {fmt: [0, 0] for fmt in _READBACK}
        kept_types = set()
        for i, values in enumerate(zip(*columns)):
            rec = dict(zip(names, values))
            if not (col_f(rec) and json_kept[props[i]]):
                continue
            kept_types.add(rec["event_type"])
            for fmt, flt in back.items():
                if flt(rec):
                    self.expected[fmt][0] += 1
                    self.expected[fmt][1] += rec["event_id"]
        self.dsv_partitions = len(kept_types)

    def _steps(self, spark, tr):
        from pyspark.sql import functions as F

        from data_toolz_spark import DataIO, Filter, FsUtil, JsonLogger

        io, fs = DataIO(), FsUtil(spark)
        logger = JsonLogger(name="perfbench", env="bench", stream=tr.log_sink)

        def step(msg, layer, fn):
            decorated = logger.decorate(msg)(_spanned(tr, layer, fn))

            def run(*args):
                with tr.span("logging.decorate"):
                    return decorated(*args)

            return run

        def load_filter():
            df = io.read(spark, self.in_dir)
            with tr.span("plans.compile"):
                df = Filter(_COL_SPEC).apply(df)
                return Filter(_JSON_SPEC).apply(df, json_column="props")

        def write(df, out):
            io.write(df, f"{out}/parquet", "parquet", partition_by=["event_date"])
            io.write(df, f"{out}/jsonlines", "jsonlines", gzip=True,
                     partition_by=["event_type"])
            io.write(df, f"{out}/dsv", "dsv", partition_by=["event_type"],
                     suffix=_SUFFIX)

        def read_back(out):
            got = {}
            for fmt, spec in _READBACK.items():
                row = (
                    io.read(spark, f"{out}/{fmt}", fmt, filters=spec)
                    .agg(F.count(F.lit(1)), F.sum(F.col("event_id").cast("long")))
                    .collect()[0]
                )
                got[fmt] = [int(row[0]), int(row[1] or 0)]
            tr.note("rows_returned", sum(n for n, _ in got.values()))
            return got

        def inventory(out):
            files = [f for f in _fs_call(tr, fs.find, out) if _is_data(f)]
            size = _fs_call(tr, fs.du, out)
            parts = _fs_call(tr, fs.ls, f"{out}/dsv", False)
            chunks = [
                len([f for f in _fs_call(tr, fs.ls, p, False) if _is_data(f)])
                for p in parts
                if "=" in os.path.basename(p)
            ]
            return {"files": len(files), "bytes": size, "dsv_chunks": chunks}

        def cleanup(out):
            return _fs_call(tr, fs.rm, out, True)

        return {
            "load_filter": step("load and filter", "sources.read", load_filter),
            "write": step("write three layouts", "sources.write", write),
            "read_back": step("read back", "sources.read", read_back),
            "inventory": step("inventory", "fs.inventory", inventory),
            "cleanup": step("clean up", "fs.cleanup", cleanup),
        }

    def op(self, spark, tr, k: int) -> dict:
        if self._built is None or self._built[:2] != (spark, tr):
            self._built = (spark, tr, self._steps(spark, tr))
        steps = self._built[2]
        out = os.path.join(self.work, "out", f"lake-{k}")
        df = steps["load_filter"]()
        steps["write"](df, out)
        got = steps["read_back"](out)
        inv = steps["inventory"](out)
        steps["cleanup"](out)
        return {"got": got, "inventory": inv, "gone": not os.path.exists(out)}

    def check(self, result: dict) -> tuple[bool, dict]:
        inv = result["inventory"]
        ok = (
            result["got"] == self.expected
            and len(inv["dsv_chunks"]) == self.dsv_partitions
            and all(n == len(_SUFFIX) for n in inv["dsv_chunks"])
            and result["gone"]
        )
        facts = {"bytes_written": inv["bytes"], "files_written": inv["files"]}
        if not ok:
            facts["mismatch"] = {"got": result["got"], "expected": self.expected,
                                 "dsv_chunks": inv["dsv_chunks"]}
        return ok, facts


def _spanned(tr, layer, fn):
    def inner(*args):
        with tr.span(layer):
            return fn(*args)

    inner.__name__ = fn.__name__
    return inner


def _fs_call(tr, fn, *args):
    with tr.span("fs.call"):
        return fn(*args)


def _is_data(path: str) -> bool:
    base = os.path.basename(path)
    return not base.startswith((".", "_"))


def _dir_usage(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if _is_data(n):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

#: registered driver qid → the layer whose code it exercises
QUERY_LAYERS = {
    "filter_composite": "plans.query",
    "q1_pricing_summary": "plans.query",
    "join_shipping_priority": "plans.query",
    "agg_grouping_lattice": "plans.query",
    "win_ordered_analytics": "operators.windows.query",
    "asof_join_orders": "operators.windows.query",
    "text_tfidf_topk": "operators.text_analysis.query",
    "sim_topk_ann": "operators.similarity.query",
    "dedup_ngram_jaccard": "operators.dedup.query",
    "stream_windowed_counts": "streaming.query",
}
#: the one pipeline item of a pass: quality gate + deterministic split
PIPELINE = "prepare_training_corpus"


class QueryMix:
    """One pass over ten registered driver qids and one light
    ``prepare_training_corpus`` call, in a seeded order.  Each qid is
    forced with the ``noop`` sink and its row count checked against
    DuckDB ``oracle_sql()``; the pipeline output must be non-empty,
    give each doc one split, and repeat exactly across passes."""

    name = "query_mix"
    min_ops = 2
    items_per_op = len(QUERY_LAYERS) + 1

    def __init__(self, scale: float) -> None:
        self.scale = scale

    def generate(self, seed: int, data_dir: str) -> int:
        self.data_dir = data_dir
        rng = np.random.default_rng(seed)
        self.order_rng = np.random.default_rng(seed + 1)
        self.tables = gen.query_tables(rng, self.scale)
        return gen.write_tables(self.tables, data_dir)

    def input_facts(self) -> dict:
        return {"scale": self.scale, **{t: v.num_rows for t, v in self.tables.items()}}

    def prepare_checks(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for table in self.tables:
                path = os.path.join(self.data_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            self.expected = {
                q: con.execute(f"SELECT COUNT(*) FROM ({oracles[q]})").fetchone()[0]
                for q in QUERY_LAYERS
            }
        finally:
            con.close()
        self._pipeline_rows = None

    def _pipeline(self, spark, tr) -> list:
        from data_toolz_spark import DataIO, prepare_training_corpus

        with tr.span("sources.read"):
            docs = DataIO().read(spark, os.path.join(self.data_dir, "documents.parquet"))
        with tr.span("pipelines.plan"):
            out = prepare_training_corpus(
                docs.select("doc_id", "text"),
                quality_thresholds={"min_tokens": 5},
                near_dup_threshold=None,
            )
        with tr.span("pipelines.execute"):
            return [tuple(r) for r in out.select("doc_id", "split").collect()]

    def op(self, spark, tr, k: int) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        import __spark_entry__ as entry
        from data_toolz_spark.cache import release

        queries = entry.queries()
        order = [*QUERY_LAYERS, PIPELINE]
        self.order_rng.shuffle(order)
        got, pipeline_rows = {}, []
        released, storage = 0, 0.0
        for item in order:
            if item == PIPELINE:
                pipeline_rows = self._pipeline(spark, tr)
            else:
                obs = Observation(f"perfbench_{item}")
                with tr.span(QUERY_LAYERS[item]):
                    df = queries[item](spark, self.data_dir)
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    got[item] = obs.get["n"]
                    if QUERY_LAYERS[item] == "plans.query":
                        tr.note("rows_returned", got[item])
            storage = max(storage, tr.storage_mb(spark))
            with tr.span("cache.release"):
                released += release()
        return {"got": got, "pipeline": sorted(pipeline_rows),
                "released": released, "storage_mb": storage}

    def check(self, result: dict) -> tuple[bool, dict]:
        rows = result["pipeline"]
        if self._pipeline_rows is None:
            self._pipeline_rows = rows
        ids = [doc_id for doc_id, _ in rows]
        wrong = {q: (n, self.expected[q]) for q, n in result["got"].items()
                 if n != self.expected[q]}
        ok = (
            not wrong
            and rows
            and rows == self._pipeline_rows
            and len(ids) == len(set(ids))
            and {split for _, split in rows} <= {"train", "val", "test"}
        )
        facts = {
            "docs_in": self.tables["documents"].num_rows,
            "docs_out": len(ids),
            "frames_released": result["released"],
            "storage_peak_mb": result["storage_mb"],
        }
        if wrong:
            facts["mismatch"] = wrong
        return bool(ok), facts


def make(name: str, work: str):
    if name == "corpus_prepare":
        return CorpusPrepare(work, n_docs=500)
    if name == "lake_etl":
        return LakeEtl(work, n_rows=100_000)
    if name == "query_mix":
        return QueryMix(scale=0.01)
    raise ValueError(f"unknown workload {name!r}")
