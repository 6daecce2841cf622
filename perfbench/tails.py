"""The two replication-tail workloads: a seeded CDC change stream,
pre-generated as frame files, is fed to one ``MultiTableMaterializer``
streaming query by atomic rename. A backlog is drained closed-loop,
then frames trickle in open-loop on a fixed schedule.

Everything the lag figures need is read from outside the engine: the
frame-to-epoch mapping from the checkpoint's file-source log and each
epoch's commit time from the mtime of its commit-log entry.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import PssSampler, beyond, median, quantile, spans_under

# A frame committed later than this after its release counts as failed.
LAG_LIMIT_S = 10.0

ENVELOPE_ARROW = pa.schema([
    ("op", pa.string()), ("relid", pa.int64()), ("xid", pa.int64()),
    ("lsn", pa.int64()), ("key", pa.string()), ("old_row", pa.string()),
    ("new_row", pa.string()), ("schema_json", pa.string()),
    ("topic", pa.string()),
])

# Per workload: fixture table and scale, table shape, frame size and
# counts, and frames per trigger. The open-loop trickle spreads
# TRICKLE_FRAMES evenly over the run's --seconds.
TRICKLE_FRAMES = 100
PARAMS = {
    "tail_big_table": {
        "table": "orders", "sf": 0.01, "replicas": 8, "tables": 1,
        "frame_events": 100, "per_trigger": 32,
        "warm_frames": 32, "backlog_frames": 96,
    },
    "tail_many_tables": {
        "table": "customer", "sf": 0.06, "replicas": 1, "tables": 10,
        "frame_tables": 3, "frame_events": 3,
        "per_trigger": 48,
        "warm_frames": 32, "backlog_frames": 96,
    },
}


class Checkpoint:
    """Reads a streaming checkpoint's file-source log and commit log
    from the filesystem; makes no Spark call."""

    def __init__(self, path: str):
        self.path = path
        self._parsed: dict[str, dict[str, int]] = {}

    def frame_epochs(self) -> dict[str, int]:
        d = os.path.join(self.path, "sources", "0")
        out: dict[str, int] = {}
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return out
        for name in names:
            if name.startswith(".") or name.endswith(".tmp"):
                continue
            if name not in self._parsed:
                entries = {}
                with open(os.path.join(d, name)) as fh:
                    for line in fh.read().splitlines()[1:]:
                        e = json.loads(line)
                        entries[os.path.basename(e["path"])] = int(e["batchId"])
                self._parsed[name] = entries
            out.update(self._parsed[name])
        return out

    def commit_times(self) -> dict[int, float]:
        d = os.path.join(self.path, "commits")
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return {}
        return {int(n): os.stat(os.path.join(d, n)).st_mtime
                for n in names if n.isdigit()}

    def wait(self, frames: list[str], deadline: float) -> dict[str, float]:
        """Commit time of each frame's epoch, polling until every frame
        is committed or the deadline passes."""
        while True:
            epochs, commits = self.frame_epochs(), self.commit_times()
            got = {f: commits[epochs[f]] for f in frames
                   if f in epochs and epochs[f] in commits}
            if len(got) == len(frames) or time.time() > deadline:
                return got
            time.sleep(0.02)


class Releaser(threading.Thread):
    """Moves pre-generated frames into the watched directory by atomic
    rename, each at its scheduled wall time. It makes no Spark call."""

    def __init__(self, schedule: list[tuple[float, str, str]]):
        super().__init__(name="releaser", daemon=True)
        self.schedule = schedule
        self.late: list[float] = []

    def run(self) -> None:
        for due, src, dst in self.schedule:
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(src, dst)
            self.late.append(time.time() - due)


def _slices(spark, data_dir: str, p: dict):
    """(relid, table, DataFrame) per replicated table."""
    from pyspark.sql import functions as F

    from bottledwater_pg_spark.scale_fixtures import replicated_table
    from bottledwater_pg_spark.session import load_table
    from bottledwater_pg_spark.sources.catalog import get_table_list

    if p["tables"] == 1:
        t = get_table_list(data_dir, "orders")[0]
        return "orders", [(t.relid, "orders",
                           replicated_table(spark, data_dir, "orders",
                                            p["replicas"]))]
    customer = load_table(spark, data_dir, "customer")
    n = p["tables"]
    return "customer", [
        (30000 + i, f"customer_{i:02d}",
         customer.filter(F.pmod(F.xxhash64("c_custkey"), F.lit(n)) == i))
        for i in range(n)
    ]


def _events(base: str, slices):
    """Snapshot and change events of every slice, in the generator's
    own encoding."""
    from pyspark.sql import functions as F

    from bottledwater_pg_spark.pipeline import TABLE_SPECS
    from bottledwater_pg_spark.sources.catalog import TABLE_KEYS, TABLE_PKNUM_SQL
    from bottledwater_pg_spark.sources.generator import (
        mutation_events,
        snapshot_events,
    )

    keys = TABLE_KEYS[base]
    snap = changes = None
    for relid, name, df in slices:
        pk = F.expr(TABLE_PKNUM_SQL[base])
        s = snapshot_events(df, keys, pk, relid, name)
        c = mutation_events(df, keys, pk, relid, name, TABLE_SPECS[base])
        snap = s if snap is None else snap.unionByName(s)
        changes = c if changes is None else changes.unionByName(c)
    return snap, changes


def _assign_frames(events, p: dict, rng) -> list[np.ndarray]:
    """Row indices of each frame. One table: a seeded shuffle cut into
    equal frames. Many tables: each frame is a transaction over
    ``frame_tables`` distinct tables drawn uniformly by the seed,
    ``frame_events`` events from each."""
    need = p["warm_frames"] + p["backlog_frames"] + TRICKLE_FRAMES
    size = p["frame_events"]
    if p["tables"] == 1:
        order = rng.permutation(len(events))
        if len(order) < need * size:
            raise ValueError("fixture too small for the frame schedule")
        return [order[i * size:(i + 1) * size] for i in range(need)]
    relids = np.sort(events["relid"].unique())
    queues = {r: list(rng.permutation(np.flatnonzero(events["relid"] == r)))
              for r in relids}
    frames = []
    for _ in range(need):
        ok = np.array([len(queues[r]) >= size for r in relids])
        if ok.sum() < p["frame_tables"]:
            raise ValueError("fixture too small for the frame schedule")
        picked = rng.choice(np.flatnonzero(ok), size=p["frame_tables"],
                            replace=False)
        rows = []
        for r in relids[picked]:
            rows += queues[r][:size]
            del queues[r][:size]
        frames.append(np.array(rows))
    return frames


def _digests(parts) -> dict[int, tuple[int, str]]:
    """Row count and an order-insensitive content digest (the sum of
    per-row xxhash64 over the sorted columns) of each ``(key,
    DataFrame)``, in one Spark job; a key with no rows is absent."""
    from pyspark.sql import functions as F

    tagged = None
    for key, df in parts:
        d = df.select(F.lit(key).alias("k"),
                      F.xxhash64(*sorted(df.columns)).alias("h"))
        tagged = d if tagged is None else tagged.unionByName(d)
    rows = tagged.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ).collect()
    return {r["k"]: (int(r["n"]), str(r["s"])) for r in rows}


def run_tail(b, workload: str):
    from pyspark.sql import functions as F

    from bottledwater_pg_spark.operators.materialize import materialize
    from bottledwater_pg_spark.plans.envelope import envelope_schema
    from bottledwater_pg_spark.streaming.stream import (
        MultiTableMaterializer,
        read_envelope_stream,
    )

    p = PARAMS[workload]
    spark = b.spark
    rng = np.random.default_rng(b.seed)
    with b.phase("fixtures"):
        data_dir = b.fixtures(p["sf"], (p["table"],))
    base, slices = _slices(spark, data_dir, p)

    staged = os.path.join(b.work, "frames")
    watch = os.path.join(b.work, "watch")
    os.makedirs(staged)
    os.makedirs(watch)
    snap, changes = _events(base, slices)
    with b.phase("snapshot_frame"):
        # the snapshot is the stream's first batch, committed in set-up
        snap.write.parquet(os.path.join(staged, "snapshot"))
        snap_files = [f for f in os.listdir(os.path.join(staged, "snapshot"))
                      if f.endswith(".parquet")]
    n_warm, n_back = p["warm_frames"], p["backlog_frames"]
    with b.phase("change_frames"):
        # a stable row order, so the seed alone decides the frames
        events = changes.toPandas().sort_values(
            ["relid", "lsn", "op", "key"], ignore_index=True)
        frames = _assign_frames(events, p, rng)
        # warm-up and backlog frames each sit in one directory that is
        # released by a single rename, so a trigger never sees part of
        # a backlog; trickle frames are released one file at a time
        names = []
        for i, rows in enumerate(frames, start=1):
            group = ("warm" if i <= n_warm else
                     "backlog" if i <= n_warm + n_back else "")
            name = f"f{i:05d}.parquet"
            os.makedirs(os.path.join(staged, group), exist_ok=True)
            pq.write_table(
                pa.Table.from_pandas(events.iloc[np.sort(rows)],
                                     schema=ENVELOPE_ARROW, preserve_index=False),
                os.path.join(staged, group, name))
            names.append(name)
    warm = names[:n_warm]
    backlog = names[n_warm:n_warm + n_back]
    trickle = names[n_warm + n_back:]

    tables = {relid: (name, df.schema) for relid, name, df in slices}
    b.trace_stream()
    mat = MultiTableMaterializer(spark, os.path.join(b.work, "state"), tables)
    ckpt = Checkpoint(os.path.join(b.work, "ckpt"))
    query = mat.start(
        read_envelope_stream(spark, os.path.join(watch, "*"),
                             files_per_trigger=p["per_trigger"]),
        ckpt.path,
    )

    def release(entries, schedule_at):
        rel = Releaser([(t, os.path.join(staged, f), os.path.join(watch, f))
                        for f, t in zip(entries, schedule_at)])
        rel.start()
        return rel

    try:
        with b.phase("snapshot_commit"):
            release(["snapshot"], [time.time()]).join()
            got = ckpt.wait(snap_files, time.time() + 120)
        if len(got) != len(snap_files):
            raise RuntimeError("snapshot never committed")
        # warm-up: the small-batch path, untimed
        with b.phase("warm_up"):
            rel = release(["warm"], [time.time()])
            rel.join()
            if len(ckpt.wait(warm, time.time() + 60)) != len(warm):
                raise RuntimeError("warm-up frames never committed")

        b.begin_window()
        with PssSampler() as pss:
            # closed-loop drain of a released backlog
            t_drain = time.time()
            rel = release(["backlog"], [t_drain])
            rel.join()
            drained = ckpt.wait(backlog, t_drain + 120)
            drain_end = max(drained.values()) if drained else time.time()
            # open-loop trickle on a fixed schedule
            rate = len(trickle) / b.seconds
            t_trickle = time.time() + 0.05
            due = [t_trickle + i / rate for i in range(len(trickle))]
            rel = release(trickle, due)
            rel.join()
            committed = ckpt.wait(trickle, due[-1] + LAG_LIMIT_S)
            window_end = max(committed.values()) if committed else time.time()
        b.end_window(window_end)
        late = rel.late
        progress = query.recentProgress if b.tracing else []
    finally:
        query.stop()

    # -- correctness: each table's final state against a batch
    # materialization of that table's released events (outside the
    # timed window), so rows routed to the wrong table show
    with b.phase("check"):
        released = spark.read.schema(envelope_schema()).parquet(
            os.path.join(watch, "*"))
        want = _digests(
            (relid, materialize(released.filter(F.col("relid") == relid),
                                schema))
            for relid, (_, schema) in tables.items())
        have = _digests((relid, rows) for relid in tables
                        if (rows := mat.current_rows(relid)) is not None)
    bad = [tables[r][0] for r in tables if want.get(r) != have.get(r)]
    correct = not bad

    # tables each timed epoch touched, from the frames the checkpoint
    # log assigns to it
    frame_epoch = ckpt.frame_epochs()
    epoch_tables: dict[int, set] = {}
    for i, name in enumerate(names[n_warm:], start=n_warm):
        if name in frame_epoch:
            epoch_tables.setdefault(frame_epoch[name], set()).update(
                events["relid"].iloc[frames[i]])
    touched = [len(t) for t in epoch_tables.values()]

    lags = [committed[f] - d for f, d in zip(trickle, due) if f in committed]
    ok_lags = [x for x in lags if x <= LAG_LIMIT_S]
    attempted = len(backlog) + len(trickle) + len(tables)
    failed = ((len(backlog) - len(drained)) + (len(trickle) - len(ok_lags))
              + len(bad))
    n_back_events = sum(len(frames[n_warm + i]) for i in range(len(backlog)))
    drain_s = drain_end - t_drain
    e2e = {
        "throughput_per_s": n_back_events / drain_s,
        "latency_p50_s": median(lags) if lags else LAG_LIMIT_S,
    }
    info = [
        ("events_per_s", e2e["throughput_per_s"], "1/s",
         f"backlog drain: {n_back} frames, {n_back_events} events, "
         f"{p['per_trigger']} frames per trigger"),
        ("lag_p50_s", e2e["latency_p50_s"], "s", f"n={len(lags)}"),
        ("lag_p90_s", quantile(lags, 0.9) if lags else LAG_LIMIT_S, "s",
         f"n={len(lags)}, {beyond(len(lags), 0.9)} beyond"),
        ("offered_rate", rate, "frames/s",
         f"{len(frames[-1])} events per frame, {len(trickle)} frames"),
        ("backlog_left_frames", len(trickle) - len(committed), "count",
         "trickle frames not committed when the window closed"),
        ("tables_touched_per_epoch", median(touched), "count",
         f"median over {len(touched)} timed epochs of the tables their "
         f"frames hold, of {len(tables)}"),
        ("state_check", float(correct), "bool",
         f"tables differing from the reference: {', '.join(bad)}" if bad
         else f"{len(tables)} tables match the reference"),
    ]
    layers = {"mem.peak_pss_mb": pss.peak_mb,
              "generator.late_p90_s": quantile(late, 0.9)}
    if b.tracing:
        layers.update(stream_layers(b, mat, progress))
    return correct, attempted, failed, e2e, layers, info


def stream_layers(b, mat, progress) -> dict[str, float]:
    """Per-layer figures of the stream, state and commit layers over
    the timed window."""
    lo, hi = b.window
    tr = b.tracer
    batches = [s for s in tr.named("stream.multi_batch")
               if s["start"] >= lo and s["end"] <= hi]
    kids = tr.children()
    jobs = b.status_jobs
    per_sum, per_max, touched, n_jobs, scan_mb, epochs = [], [], [], [], [], set()
    for s in batches:
        tabs = [c for c in kids.get(s["id"], ())
                if c["name"] == "stream.table_batch"]
        durs = [c["end"] - c["start"] for c in tabs] or [0.0]
        per_sum.append(sum(durs))
        per_max.append(max(durs))
        touched.append(len(tabs))
        n_jobs.append(sum(1 for j in jobs if s["start"] <= j["start"] <= s["end"]))
        scan_mb.append(sum(r["tag"] for r in spans_under(kids, s, "reader.parquet"))
                       / 2 ** 20)
        epochs.add(s["tag"])
    overhead = [
        (pr.durationMs.get("triggerExecution", 0)
         - pr.durationMs.get("addBatch", 0)) / 1e3
        for pr in progress if pr.batchId in epochs
    ]
    durs = [s["end"] - s["start"] for s in batches]
    rows = mb = 0.0
    for m in mat.mats.values():
        st = m.read_state()
        if st is None:
            continue
        rows += st.count()
        mb += sum(os.path.getsize(f.replace("file://", ""))
                  for f in st.inputFiles()) / 2 ** 20
    out = {
        "stream.batches": len(batches),
        "stream.batch_p50_s": median(durs) if durs else 0.0,
        "stream.batch_max_s": max(durs, default=0.0),
        "stream.table_batch_sum_s": median(per_sum) if per_sum else 0.0,
        "stream.table_batch_max_s": median(per_max) if per_max else 0.0,
        "stream.tables_touched_per_batch":
            sum(touched) / len(touched) if touched else 0.0,
        "stream.jobs_per_batch": sum(n_jobs) / len(n_jobs) if n_jobs else 0.0,
        "stream.trigger_overhead_p50_s": median(overhead) if overhead else 0.0,
        "stream.state_scan_mb_per_batch":
            sum(scan_mb) / len(scan_mb) if scan_mb else 0.0,
        "state.rows": rows,
        "state.mb": mb,
    }
    return out
