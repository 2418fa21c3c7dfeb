"""Benchmark for data_toolz_spark: three seeded workloads, closed loop.

Run from the repository root::

    python3 perfbench/run.py --workload lake_etl --seed 1 \\
        --seconds 14 --trace 0

One client runs operations back to back (closed loop) on
``local[$SPARK_GRAFT_CPUS]`` (default: the cores this process may use)
for ``--seconds`` seconds after set-up, checks every operation's
output, and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics (spans and
Spark job counters per layer) with ``--trace 1``.  A detail line
before it carries per-operation wall and CPU times, the host's steal
share, the tail percentile, input sizes and planted shares; the same detail and the span log are written
under ``.perfbench_out/``.  Everything the run writes stays under the
repository root (``.perfbench_work/`` is scratch space).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import spans  # the benchmark's own module, next to this file

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
#: the traced run drops its first operation and alternates traced and
#: untraced ones, so it measures at least three
TRACED_MIN_OPS = 3
WORKLOADS = ("corpus_prepare", "lake_etl", "query_mix")

#: spans whose Spark job counters are reported, suffixed by spans.COUNTERS
COUNTED_SPANS = (
    "session.warmup",
    "sources.read",
    "sources.write",
    "pipelines.plan",
    "pipelines.execute",
    "plans.query",
    "operators.dedup.query",
    "operators.similarity.query",
    "operators.text_analysis.query",
    "operators.windows.query",
    "streaming.query",
)
#: per-layer metric → (unit, how it is computed); see ``layer_metrics``
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.read_s": "s",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.rows_written": "count",
    "sources.scan_bytes": "bytes",
    "plans.compile_s": "s",
    "plans.rows_scanned_per_row_returned": "ratio",
    "plans.query_s": "s",
    "fs.calls": "count",
    "fs.call_s": "s",
    "logging.decorate_self_s": "s",
    "logging.records": "count",
    "pipelines.plan_s": "s",
    "pipelines.execute_s": "s",
    "pipelines.docs_in": "count",
    "pipelines.docs_out": "count",
    "cache.frames_released": "count",
    "cache.storage_peak_mb": "MB",
    "operators.dedup.query_s": "s",
    "operators.similarity.query_s": "s",
    "operators.text_analysis.query_s": "s",
    "operators.windows.query_s": "s",
    "streaming.query_s": "s",
    "tracing.op_s_p50": "s",
    "tracing.overhead_s": "s",
    "tracing.self_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = dict(LAYER_UNITS)
    for span in COUNTED_SPANS:
        for counter, unit in spans.COUNTERS.items():
            units[f"{span}.{counter}"] = unit
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import data_toolz_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the library is not next to perfbench/: {exc}",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub))
    # every temp file (Python, JVM, Spark shuffle/spill) stays in WORK
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")

    import workloads

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    bench = Bench(args, cpus, workloads.make(args.workload, WORK))
    try:
        result = bench.run()
    finally:
        bench.shutdown()
    print(json.dumps({"detail": bench.detail}, default=str))
    print(json.dumps(result))
    return 0


class Bench:
    def __init__(self, args, cpus: int, workload) -> None:
        self.args = args
        self.cpus = cpus
        self.wl = workload
        self.tr = spans.Tracer(enabled=False)
        self.spark = None
        self.detail: dict = {"workload": workload.name, "seed": args.seed,
                             "cores": cpus, "clients": 1, "loop": "closed"}

    # -- session ---------------------------------------------------------

    def start_session(self):
        from data_toolz_spark import get_spark

        spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                # a fixed-size heap and young generation keep the JVM's
                # resident peak from following run-to-run GC sizing
                "spark.driver.memory": "2g",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.local.dir": os.path.join(WORK, "spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Xms2g -Xmn512m -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def shutdown(self) -> None:
        """Stop Spark, the JVM and its Python workers; wait for each."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        workers = spans.descendants(proc.pid) if proc else []
        if self.spark is not None:
            self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 10
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and _alive(pid):
                if time.time() > deadline:
                    os.kill(pid, 9)
                time.sleep(0.05)

    # -- phases ----------------------------------------------------------

    def setup(self) -> None:
        """Launch the JVM and session, write the inputs, run one warm-up
        operation.  Done once per run: a second cold set-up in the same
        process would reuse the warm JVM and measure something else."""
        t0 = time.perf_counter()
        self.spark = self.start_session()
        t1 = time.perf_counter()
        self.input_bytes = self.wl.generate(self.args.seed, os.path.join(WORK, "data"))
        t2 = time.perf_counter()
        self.tr.bind(self.spark)
        self.tr.enabled = bool(self.args.trace)
        with self.tr.span("session.warmup"):
            self.wl.op(self.spark, spans.Tracer(enabled=False), -1)
        t3 = time.perf_counter()
        self.tr.collect_op()
        shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
        self.setup_times = {"setup_s": t3 - t0, "start_s": t1 - t0,
                            "generate_s": t2 - t1, "warmup_s": t3 - t2}
        self.detail["setup"] = self.setup_times
        self.detail["inputs"] = {"bytes": self.input_bytes, **self.wl.input_facts()}

    def measure(self) -> list[dict]:
        args, tr = self.args, self.tr
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        sampler = spans.MemorySampler(jvm_pid).start()
        shuffle0 = spans.shuffle_write_bytes(self.spark)
        host0 = spans.host_cpu_ticks()
        ops: list[dict] = []
        min_ops = TRACED_MIN_OPS if args.trace else self.wl.min_ops
        t_start = time.perf_counter()
        while len(ops) < min_ops or time.perf_counter() - t_start < args.seconds:
            k = len(ops)
            # the traced run alternates traced and untraced operations,
            # so the tracing overhead is measured inside one run
            tr.enabled = bool(args.trace) and k % 2 == 0
            tr.op_id = k
            lines0, self0 = tr.log_sink.lines, tr.self_s
            cpu0, t0 = spans.cpu_s(jvm_pid), time.perf_counter()
            try:
                result, error = self.wl.op(self.spark, tr, k), None
            except Exception as exc:  # counted as a failed operation
                result, error = None, repr(exc)
            elapsed = time.perf_counter() - t0
            cpu = spans.cpu_s(jvm_pid) - cpu0
            tr.collect_op()
            ok, facts = False, {}
            if result is not None:
                try:
                    ok, facts = self.wl.check(result)
                except Exception as exc:  # an unreadable output fails the op
                    error = repr(exc)
            ops.append({"k": k, "s": elapsed, "cpu_s": cpu, "ok": ok,
                        "traced": tr.enabled,
                        "error": error, "log_records": tr.log_sink.lines - lines0,
                        "tracer_s": tr.self_s - self0,
                        **facts})
        tr.enabled = False
        self.shuffle_bytes = spans.shuffle_write_bytes(self.spark) - shuffle0
        self.detail["peak_rss"] = sampler.stop()
        self.detail["host_steal_share"] = spans.steal_share(host0, spans.host_cpu_ticks())
        return ops

    def run(self) -> dict:
        self.setup()
        self.wl.prepare_checks()
        ops = self.measure()
        failed = sum(not o["ok"] for o in ops)
        self.detail["ops"] = ops
        self.detail["failed_ratio"] = failed / len(ops)
        self.detail["op_s_tail"] = tail(
            [o["s"] for o in ops if not o["traced"] or not self.args.trace]
        )
        tag = f"{self.wl.name}-seed{self.args.seed}-trace{self.args.trace}"
        os.makedirs(OUT, exist_ok=True)
        if self.args.trace:
            metrics = self.layer_metrics(ops)
            self.tr.dump(os.path.join(OUT, f"{tag}-spans.jsonl"))
        else:
            metrics = self.end_to_end(ops)
        with open(os.path.join(OUT, f"{tag}.json"), "w") as fh:
            json.dump({"detail": self.detail, "metrics": metrics}, fh,
                      default=str, indent=1)
        return {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": metrics,
        }

    # -- metrics ---------------------------------------------------------

    def end_to_end(self, ops: list[dict]) -> dict:
        times = [o["s"] for o in ops]
        written = sum(o.get("bytes_written", 0) for o in ops)
        return _with_units({
            "setup_s": (self.setup_times["setup_s"], "s"),
            "op_s_p50": (statistics.median(times), "s"),
            "op_cpu_s_p50": (statistics.median(o["cpu_s"] for o in ops), "s"),
            "items_per_s": (self.wl.items_per_op * len(ops) / sum(times), "items/s"),
            "peak_rss_mb": (self.detail["peak_rss"]["total_mb"], "MB"),
            "write_amp": ((written + self.shuffle_bytes)
                          / (self.input_bytes * len(ops)), "ratio"),
        })

    def layer_metrics(self, ops: list[dict]) -> dict:
        tr = self.tr
        # the first measured operation is often still warming up, and it
        # is traced, so it would bias both the layer split and the
        # traced-minus-untraced overhead
        later = ops[1:]
        traced = [o for o in later if o["traced"]]
        plain = [o for o in later if not o["traced"]]
        by_op = {o["k"]: [s for s in tr.spans if s["op"] == o["k"]] for o in traced}

        def med(fn) -> float:
            return statistics.median(fn(o, by_op[o["k"]]) for o in traced)

        def self_s(name):
            return med(lambda o, ss: sum(
                tr.self_time(s) for s in ss if s["name"] == name))

        def fact(key):
            return med(lambda o, ss: o.get(key, 0))

        def scanned_ratio(o, ss):
            noted = [s for s in ss if "rows_returned" in s]
            returned = sum(s["rows_returned"] for s in noted)
            return sum(s["input_records"] for s in noted) / returned if returned else 0.0

        times = self.setup_times
        values = {
            "session.start_s": times["start_s"],
            "session.warmup_s": times["warmup_s"],
            "sources.read_s": self_s("sources.read"),
            "sources.write_s": self_s("sources.write"),
            "sources.bytes_written": fact("bytes_written"),
            "sources.files_written": fact("files_written"),
            "sources.rows_written": med(lambda o, ss: o.get("rows_written") or sum(
                s["output_records"] for s in ss if s["name"] == "sources.write")),
            "sources.scan_bytes": med(lambda o, ss: sum(
                s["input_bytes"] for s in ss if s["name"] == "sources.read")),
            "plans.compile_s": self_s("plans.compile"),
            "plans.rows_scanned_per_row_returned": med(scanned_ratio),
            "plans.query_s": self_s("plans.query"),
            "fs.calls": med(lambda o, ss: sum(
                s["name"] == "fs.call" for s in ss)),
            "fs.call_s": self_s("fs.call"),
            "logging.decorate_self_s": self_s("logging.decorate"),
            "logging.records": fact("log_records"),
            "pipelines.plan_s": self_s("pipelines.plan"),
            "pipelines.execute_s": self_s("pipelines.execute"),
            "pipelines.docs_in": fact("docs_in"),
            "pipelines.docs_out": fact("docs_out"),
            "cache.frames_released": fact("frames_released"),
            "cache.storage_peak_mb": fact("storage_peak_mb"),
            "operators.dedup.query_s": self_s("operators.dedup.query"),
            "operators.similarity.query_s": self_s("operators.similarity.query"),
            "operators.text_analysis.query_s": self_s("operators.text_analysis.query"),
            "operators.windows.query_s": self_s("operators.windows.query"),
            "streaming.query_s": self_s("streaming.query"),
            "tracing.op_s_p50": statistics.median(o["s"] for o in traced),
            "tracing.overhead_s": statistics.median(o["s"] for o in traced)
            - statistics.median(o["s"] for o in plain),
            "tracing.self_s": fact("tracer_s"),
        }
        warmup = next(s for s in tr.spans if s["name"] == "session.warmup")
        for span in COUNTED_SPANS:
            for counter in spans.COUNTERS:
                if span == "session.warmup":
                    v = warmup["counters"][counter]
                else:
                    v = med(lambda o, ss: sum(
                        s["counters"][counter] for s in ss if s["name"] == span))
                values[f"{span}.{counter}"] = v
        units = per_layer_units()
        return _with_units({k: (values[k], units[k]) for k in units})


def tail(times: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(times)
    if n < 11:
        return None
    pct = 100.0 * (n - 10) / n
    return {"percentile": pct, "samples": n,
            "op_s": sorted(times)[n - 11]}


def _with_units(values: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split()[2] != "Z"
    except OSError:
        return False


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
