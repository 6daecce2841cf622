"""The two batch workloads: repeated whole-database snapshot loads
through ``pipeline.replicate_database``, and closed-loop passes over a
fixed list of consumer queries from the ``__spark_entry__`` registry.
"""

from __future__ import annotations

import hashlib
import os
import time

from harness import PssSampler, median, spans_under

SNAPSHOT_SF = 0.01
QUERY_SF = 0.001

# family -> queries; only multimodal and avro cross the Python boundary.
# dedup_cluster_canonical_star and ivfpq_trained_topk are left out:
# together they cost 8 s of driver build per cold pass, which a run
# of this benchmark cannot afford.
QUERY_FAMILIES = {
    "relational": ["q1_pricing_summary", "q5_local_supplier_volume",
                   "top3_orders_per_segment"],
    "graph": ["pagerank_copurchase", "supplier_kcore"],
    "dedup": ["winnow_near_dup_pairs", "lsh_minhash_near_dup"],
    "similarity": ["containment_near_dup"],
    "multimodal": ["multimodal_ppm_stats"],
    "avro": ["cdc_avro_envelope_roundtrip"],
}
QUERIES = [q for qs in QUERY_FAMILIES.values() for q in qs]


def _oracle_sql(t, columns: list[str]) -> str:
    """DuckDB SQL for a table's replicated state: the engine's own
    closed-form oracle for keyed tables; for unkeyed ones the snapshot
    rows plus one appended copy per update-wave row (no deletes)."""
    from bottledwater_pg_spark.pipeline import TABLE_SPECS
    from bottledwater_pg_spark.sources.catalog import TABLE_PKNUM_SQL
    from bottledwater_pg_spark.sources.generator import (
        MutationSpec,
        oracle_final_state_sql,
    )

    spec = TABLE_SPECS.get(t.name) or MutationSpec()
    pknum = TABLE_PKNUM_SQL[t.name]
    if t.keyed:
        return oracle_final_state_sql(t.name, list(t.key_columns), pknum,
                                      columns, spec)
    updated = ", ".join(f"{spec.update_exprs.get(c, c)} AS {c}"
                        for c in columns)
    return (f"SELECT {', '.join(columns)} FROM {t.name} UNION ALL "
            f"SELECT {updated} FROM {t.name} "
            f"WHERE ({pknum}) % {spec.update_mod} = 0")


def _event_count_sql(t) -> str:
    """DuckDB SQL counting the CDC events the generator emits for a
    table, from the rules ``MutationSpec`` documents: one snapshot
    insert per row, an update per ``update_mod`` key, a delete plus an
    insert per ``pkchange_mod`` key and a delete per other
    ``delete_mod`` key (unkeyed tables get no deletes or key changes)."""
    from bottledwater_pg_spark.pipeline import TABLE_SPECS
    from bottledwater_pg_spark.sources.catalog import TABLE_PKNUM_SQL
    from bottledwater_pg_spark.sources.generator import MutationSpec

    spec = TABLE_SPECS.get(t.name) or MutationSpec()
    k = f"({TABLE_PKNUM_SQL[t.name]})"
    terms = ["COUNT(*)", f"COUNT(*) FILTER ({k} % {spec.update_mod} = 0)"]
    if t.keyed:
        terms += [f"2 * COUNT(*) FILTER ({k} % {spec.pkchange_mod} = 0)",
                  f"COUNT(*) FILTER ({k} % {spec.delete_mod} = 0 "
                  f"AND {k} % {spec.pkchange_mod} <> 0)"]
    return f"SELECT {' + '.join(terms)} FROM {t.name}"


def run_snapshot_load(b):
    import duckdb

    from bottledwater_pg_spark import pipeline
    from bottledwater_pg_spark.sources.catalog import get_table_list

    spark = b.spark
    with b.phase("fixtures"):
        data_dir = b.fixtures(SNAPSHOT_SF)
    tables = get_table_list(data_dir, "%", allow_unkeyed=True)
    b.trace_pipeline()
    with b.phase("warm_up"):
        pipeline.replicate_database(spark, data_dir,
                                    os.path.join(b.work, "replica_warm"), "%",
                                    allow_unkeyed=True)
    out = os.path.join(b.work, "replica")
    passes = []
    b.begin_window()
    with PssSampler() as pss:
        t_stop = time.perf_counter() + b.seconds
        while True:
            w0 = time.time()
            p0 = time.perf_counter()
            with b.tracer.span("bench.replicate_pass", ambient=True):
                counts = pipeline.replicate_database(
                    spark, data_dir, out, "%", allow_unkeyed=True)
            p1 = time.perf_counter()
            # per-table completion, read from the parquet commit markers
            done = {t: os.stat(os.path.join(out, t, "_SUCCESS")).st_mtime - w0
                    for t in counts}
            passes.append((p1 - p0, counts, done))
            # passes start until the window has elapsed, so a run
            # reports the median of at least two
            if p1 > t_stop and len(passes) >= 2:
                break
    b.end_window(time.time())

    # every table of the last pass against its DuckDB oracle, as exact
    # multisets of rows; every pass's returned row counts
    failed, mismatches, n_events = 0, [], 0
    with b.phase("check"):
        con = duckdb.connect()
        for t in tables:
            src = os.path.join(data_dir, f"{t.name}.parquet")
            con.sql(f"CREATE VIEW {t.name} AS SELECT * FROM read_parquet('{src}')")
            n_events += con.sql(_event_count_sql(t)).fetchone()[0]
            rep = os.path.join(out, t.name, "*.parquet")
            cols = con.sql(f"SELECT * FROM read_parquet('{rep}') LIMIT 0").columns
            have = f"SELECT {', '.join(cols)} FROM read_parquet('{rep}')"
            want = _oracle_sql(t, cols)
            n_want = con.sql(f"SELECT COUNT(*) FROM ({want})").fetchone()[0]
            n_diff = con.sql(
                f"SELECT COUNT(*) FROM (({have}) EXCEPT ALL ({want}) UNION ALL "
                f"(({want}) EXCEPT ALL ({have})))").fetchone()[0]
            bad_passes = sum(1 for _, counts, _ in passes
                             if counts.get(t.name) != n_want)
            failed += max(bad_passes, 1 if n_diff else 0)
            if n_diff or bad_passes:
                mismatches.append(f"{t.name}: {n_diff} rows differ from the "
                                  f"oracle, {bad_passes} passes miscounted")
        con.close()
    attempted = len(tables) * len(passes)

    total_s = sum(p[0] for p in passes)
    lat = [v for _, _, done in passes for v in done.values()]
    e2e = {
        "throughput_per_s": n_events * len(passes) / total_s,
        "latency_p50_s": median([p[0] for p in passes]),
    }
    info = [
        ("events_per_s", e2e["throughput_per_s"], "1/s",
         f"{n_events} events per pass, {len(passes)} passes"),
        ("pass_p50_s", e2e["latency_p50_s"], "s", f"n={len(passes)}"),
        ("table_latency_max_s", max(lat), "s",
         f"slowest table's completion, from its _SUCCESS mtime; "
         f"{len(lat)} tables"),
        ("table_check", float(not mismatches), "bool",
         "; ".join(mismatches) or f"{len(tables)} tables match the oracle"),
    ]
    layers = {"mem.peak_pss_mb": pss.peak_mb}
    if b.tracing:
        layers.update(pipeline_layers(b, len(passes), n_events))
    return not mismatches, attempted, failed, e2e, layers, info


def pipeline_layers(b, n_passes: int, n_events: int) -> dict[str, float]:
    lo, hi = b.window
    tr = b.tracer
    kids = tr.children()
    reps = [s for s in tr.named("pipeline.replicate")
            if s["start"] >= lo and s["end"] <= hi]

    w_max, w_sum = [], []
    for r in reps:
        d = [w["end"] - w["start"]
             for w in spans_under(kids, r, "writer.parquet")] or [0.0]
        w_max.append(max(d))
        w_sum.append(sum(d))
    return {
        "pipeline.replicate_s": sum(r["end"] - r["start"] for r in reps)
        / max(1, len(reps)),
        "pipeline.table_write_max_s": sum(w_max) / max(1, len(w_max)),
        "pipeline.table_write_sum_s": sum(w_sum) / max(1, len(w_sum)),
        "generator.events": n_events * n_passes,
    }


def _canonical(pdf) -> str:
    """The exact gate's canonical rows of a result, hashed."""
    from exact_gate import frame_rows

    cols, rows = frame_rows(pdf)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def run_replica_queries(b):
    import glob

    import duckdb

    import __spark_entry__ as entry

    spark = b.spark
    with b.phase("fixtures"):
        data_dir = b.fixtures(QUERY_SF)
    registry, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    # correctness pass, which is also the warm-up
    bad = []
    with b.phase("check_and_warm_up"):
        for name in QUERIES:
            try:
                got = _canonical(registry[name](spark, data_dir).toPandas())
                want = _canonical(con.sql(oracles[name]).df())
                if got != want:
                    bad.append(name)
            except Exception as exc:  # noqa: BLE001 - a failing query is a result
                bad.append(f"{name}: {type(exc).__name__}")
    con.close()

    family = {q: f for f, qs in QUERY_FAMILIES.items() for q in qs}
    passes, per_query, spans = [], [], []
    failed = 0
    b.begin_window()
    with PssSampler() as pss:
        t_stop = time.perf_counter() + b.seconds
        while True:
            p0 = time.perf_counter()
            for name in QUERIES:
                q0 = time.perf_counter()
                w0 = time.time()
                try:
                    with b.tracer.span("query.build", tag=name):
                        df = registry[name](spark, data_dir)
                    w1 = time.time()
                    with b.tracer.span("query.exec", tag=name):
                        df.write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 - counted as failed
                    failed += 1
                    w1 = time.time()
                per_query.append(time.perf_counter() - q0)
                spans.append((family[name], w0, w1, time.time()))
            p1 = time.perf_counter()
            passes.append(p1 - p0)
            if p1 + (p1 - p0) > t_stop:
                break
    b.end_window(time.time())

    suite_s = sum(passes) / len(passes)
    e2e = {
        "throughput_per_s": len(QUERIES) / suite_s,
        "latency_p50_s": median(passes),
    }
    info = [
        ("suite_s", suite_s, "s", f"mean of {len(passes)} timed passes of "
         f"{len(QUERIES)} queries"),
        ("per_query_max_s", max(per_query), "s",
         f"slowest query of the timed passes; {len(per_query)} queries"),
        ("oracle_check", float(not bad), "bool",
         ", ".join(bad) or f"{len(QUERIES)} queries match the DuckDB oracle"),
    ]
    layers = {"mem.peak_pss_mb": pss.peak_mb}
    if b.tracing:
        jobs = b.status_jobs
        for fam in QUERY_FAMILIES:
            mine = [s for s in spans if s[0] == fam]
            layers[f"q.{fam}.build_s"] = sum(s[2] - s[1] for s in mine) / len(passes)
            layers[f"q.{fam}.exec_s"] = sum(s[3] - s[2] for s in mine) / len(passes)
            layers[f"q.{fam}.jobs"] = sum(
                1 for j in jobs for s in mine if s[1] <= j["start"] <= s[3]
            ) / len(passes)
    attempted = len(QUERIES) * (1 + len(passes))
    return not bad, attempted, failed + len(bad), e2e, layers, info
