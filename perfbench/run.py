"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is one fresh process: it
generates its inputs from the seed, starts the engine's Spark session
with a pinned configuration, sets up and warms the workload untimed,
measures for ``--seconds`` seconds, checks every output, and prints
one JSON object as the last line of standard output. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer ones (see README.md in this directory).
"""

from __future__ import annotations

import time

T_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("snapshot_load", "tail_big_table", "tail_many_tables",
             "replica_queries")
# a run must end well inside the 180 s a caller allows it
DEADLINE_S = 170

FSIO_FUNCS = ("listdir", "listdir_or_none", "isdir", "exists", "makedirs",
              "rmtree", "rmdir", "rename", "read_text", "write_text",
              "remove", "append_text", "write_json_meta", "read_json_meta")
SELF_TIME_LAYERS = {
    "self.pipeline_s": ("pipeline.replicate", "generator.generate_cdc"),
    "self.writer_s": ("writer.parquet",),
    "self.stream_batch_s": ("stream.multi_batch",),
    "self.stream_table_s": ("stream.table_batch",),
    "self.statecommit_s": ("statecommit.promote",),
    "self.fsio_s": ("fsio",),
}


class Bench:
    """One run's context: inputs, session, timed window and tracer."""

    def __init__(self, args, work: str, spark):
        from harness import NullTracer, Tracer

        self.root = ROOT
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracing = bool(args.trace)
        self.tracer = Tracer() if self.tracing else NullTracer()
        self.spark = spark
        self.setup_s: float | None = None
        self.window: tuple[float, float] | None = None
        self._lo = 0.0
        self._status = None
        self.phases: list[tuple[str, float]] = []
        self._start_ms = time.time() * 1e3

    def fixtures(self, sf: float, names: tuple[str, ...] | None = None) -> str:
        """Write the seeded fixture tables (all, or ``names``) and
        return their directory."""
        from fixtures import TABLES, make_tables, write_tables

        path = os.path.join(self.work, f"data-sf{sf}")
        write_tables(make_tables(self.seed, sf, names or TABLES), path)
        return path

    @contextmanager
    def phase(self, name: str):
        """Time one set-up or check phase; printed with the result."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases.append((name, time.perf_counter() - t0))

    def begin_window(self) -> None:
        self.setup_s = time.perf_counter() - T_PROCESS_START
        self._lo = time.time()

    def end_window(self, end: float) -> None:
        self.window = (self._lo, max(end, self._lo))

    # -- tracing hooks, installed only on traced runs
    def trace_common(self) -> None:
        if not self.tracing:
            return
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from bottledwater_pg_spark.streaming import fsio, statecommit
        from harness import parquet_bytes

        t = self.tracer
        # a read's tag is the bytes of parquet under its paths, sized
        # when the read is planned: the status store's input-bytes
        # figure stays at zero for local files, and a state generation
        # read inside a batch is deleted by a later commit
        t.wrap(DataFrameReader, "parquet", "reader.parquet",
               tag=lambda _self, *paths: parquet_bytes(*paths))
        t.wrap(DataFrameWriter, "parquet", "writer.parquet")
        t.wrap(statecommit.GenerationalState, "promote", "statecommit.promote")
        for fn in FSIO_FUNCS:
            t.wrap(fsio, fn, "fsio")

    def trace_pipeline(self) -> None:
        if not self.tracing:
            return
        from bottledwater_pg_spark import pipeline

        self.tracer.wrap(pipeline, "replicate_database", "pipeline.replicate",
                         ambient=True)
        self.tracer.wrap(pipeline, "generate_cdc", "generator.generate_cdc")

    def trace_stream(self) -> None:
        if not self.tracing:
            return
        from bottledwater_pg_spark.streaming import stream

        self.tracer.wrap(stream.MultiTableMaterializer, "process_batch",
                         "stream.multi_batch", tag=lambda *a: a[2],
                         ambient=True)
        self.tracer.wrap(stream.StreamingMaterializer, "process_batch",
                         "stream.table_batch", tag=lambda *a: a[2])

    def _load_status(self):
        if self._status is None:
            from harness import StatusStore

            store = StatusStore(self.spark)
            self._status = (store.jobs(self._start_ms),
                            store.stages(self._start_ms))
        return self._status

    @property
    def status_jobs(self) -> list[dict]:
        return self._load_status()[0]

    @property
    def status_stages(self) -> list[dict]:
        return self._load_status()[1]

    def common_layers(self) -> dict[str, float]:
        from harness import clip, spark_layer, union_length

        lo, hi = self.window
        out = spark_layer(self.status_jobs, self.status_stages, lo, hi)
        tr = self.tracer
        spans = [s for s in tr.spans if s["end"] and lo <= s["start"] <= hi]
        by_id = {s["id"]: s for s in tr.spans}
        promotes = [s for s in spans if s["name"] == "statecommit.promote"]
        fs_top = [s for s in spans if s["name"] == "fsio"
                  and by_id.get(s["parent"], {}).get("name") != "fsio"]
        reads = [s for s in spans if s["name"] == "reader.parquet"]
        out.update({
            "spark.scan_mb": sum(s["tag"] for s in reads) / 2 ** 20,
            "statecommit.promote_s": sum(s["end"] - s["start"] for s in promotes),
            "statecommit.promotes": len(promotes),
            "fsio.calls": len(fs_top),
            "fsio.s": union_length(clip([(s["start"], s["end"])
                                         for s in fs_top], lo, hi)),
        })
        kids = tr.children()
        self_by_name: dict[str, float] = {}
        for s in spans:
            covered = union_length(clip(
                [(c["start"], c["end"]) for c in kids.get(s["id"], ())],
                s["start"], s["end"]))
            self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        for metric, names in SELF_TIME_LAYERS.items():
            out[metric] = sum(self_by_name.get(n, 0.0) for n in names)
        cost = tr.span_cost_s()
        out["trace.spans"] = len(spans)
        out["trace.span_cost_s"] = cost
        out["trace.overhead_est_s"] = cost * len(spans) + sum(
            s.get("tag_s", 0.0) for s in spans)
        return out


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _registered_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _on_term(signum, frame):
    # unwind through the finally blocks that stop the JVM
    sys.exit(128 + signum)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isfile(os.path.join(ROOT, "bottledwater_pg_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "scripts", "exact_gate.py"))):
        print("perfbench: run from a checkout of the engine "
              "(bottledwater_pg_spark/, __spark_entry__.py and "
              "scripts/exact_gate.py must sit beside perfbench/)",
              file=sys.stderr)
        return 2
    registered = _registered_metrics()

    from harness import pinned_config, start_spark, stop_spark

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    config = pinned_config(ROOT, work)
    os.environ.update(config)
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "scripts")]
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.signal(signal.SIGTERM, _on_term)
    signal.alarm(DEADLINE_S)

    spark = None
    try:
        t_jvm = time.perf_counter()
        spark = start_spark(ROOT)
        jvm_s = time.perf_counter() - t_jvm
        bench = Bench(args, work, spark)
        bench.trace_common()
        if args.workload == "snapshot_load":
            from batch import run_snapshot_load as run
        elif args.workload == "replica_queries":
            from batch import run_replica_queries as run
        else:
            from tails import run_tail

            def run(b):
                return run_tail(b, args.workload)

        correct, attempted, failed, e2e, layers, info = run(bench)
        e2e["setup_s"] = bench.setup_s
        if bench.tracing:
            layers.update(bench.common_layers())
            layers["trace.throughput_per_s"] = e2e["throughput_per_s"]
            layers["trace.latency_p50_s"] = e2e["latency_p50_s"]
            bench.tracer.dump(os.path.join(
                ROOT, ".perfbench_out",
                f"trace-{args.workload}-seed{args.seed}.jsonl"))
            bench.tracer.unwrap_all()
    except Exception:  # noqa: BLE001 - report and exit non-zero
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        names = registered["per_layer"]
        values = {n: float(layers.get(n, 0.0)) for n in names}
        info += [(n, float(v), "", "per-layer, not registered")
                 for n, v in sorted(layers.items()) if n not in names]
    else:
        names = registered["end_to_end"]
        info += [(n, float(v), registered["per_layer"].get(n, ""),
                  "per-layer figure of this untraced run")
                 for n, v in sorted(layers.items())]
        missing = [n for n in names if n not in e2e]
        if missing:
            print(f"perfbench: no value for {missing}", file=sys.stderr)
            return 1
        values = {n: float(e2e[n]) for n in names}

    print(f"# workload {args.workload} seed {args.seed} seconds "
          f"{args.seconds} trace {args.trace}")
    for k, v in sorted(config.items()):
        print(f"# config {k}={v}")
    print(f"# config jvm_start_s={jvm_s:.3f} python={sys.version.split()[0]}")
    for name, secs in bench.phases:
        print(f"# phase {name} {secs:.3f} s")
    for name, value, unit, note in info:
        print(f"info {name} {value:.6g} {unit}  ({note})")
    for name, value in values.items():
        print(f"metric {name} {value:.6g} {names[name]}")
    result = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": v, "unit": names[n]}
                    for n, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
