"""Turn a JVM result into the benchmark's metrics.

End-to-end metrics are the same two on every workload; each workload's own
figures (query latency percentiles, chain times, gate rates) are reported
beside them by `detail`. Per-layer metrics are one fixed list for every
workload: a layer a workload does not exercise reads 0.
"""
import statistics

CORE = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
        ("task_s", "s"), ("shuffle_bytes", "bytes")]
QUERY_SPANS = [f"queries.{m}" for m in ("relational", "event", "text", "dedup", "vector")]
NBA_SPANS = ["nba.fetch", "nba.ingest", "nba.starters", "nba.lineups", "nba.delta"]
CORPUS_SPANS = ["corpus.publish", "gate.build", "gate.batch", "gate.compact",
                "gate.resume", "corpus.purge"]
LOWER, HIGHER = "lower", "higher"


def per_layer_names():
    """(name, unit, better) of every per-layer metric, in report order."""
    out = []
    for s in QUERY_SPANS:
        out += [(f"{s}.{c}", u, LOWER) for c, u in CORE]
        out += [(f"{s}.build_s", "s", LOWER), (f"{s}.plan_ms", "ms", LOWER)]
    for s in NBA_SPANS:
        out += [(f"{s}.{c}", u, LOWER) for c, u in CORE]
    out += [("nba.ingest.output_bytes", "bytes", LOWER),
            ("nba.lineups.output_bytes", "bytes", LOWER),
            ("nba.fetch.requests", "count", LOWER), ("nba.fetch.errors", "count", LOWER),
            ("nba.lineups.rows", "count", HIGHER), ("nba.lineups.quarantined", "count", LOWER)]
    for s in CORPUS_SPANS:
        out += [(f"{s}.{c}", u, LOWER) for c, u in CORE]
    out += [("corpus.publish.serial_s", "s", LOWER), ("gate.batch.serial_s", "s", LOWER),
            ("gate.accepted", "count", HIGHER), ("gate.rejected", "count", LOWER),
            ("gate.absorbed_bytes", "bytes", LOWER),
            ("corpus.purge.rows_deleted", "count", HIGHER),
            ("corpus.purge.files_rewritten", "count", LOWER)]
    out += [("sessions.create_s", "s", LOWER), ("spark.gc_s", "s", LOWER),
            ("spark.spill_bytes", "bytes", LOWER), ("spark.sched_delay_s", "s", LOWER),
            ("spark.stages_skipped_ratio", "ratio", HIGHER),
            ("spark.tasks_failed", "count", LOWER), ("trace.overhead_s", "s", LOWER)]
    return out


def _p90(values):
    return statistics.quantiles(values, n=10, method="inclusive")[8] if len(values) > 1 \
        else values[0]


def steps(ops):
    """Latency of each timed step (a query, a DAG stage, a micro-batch): the
    summed time of its operations in a pass, median over the run's passes.
    A failed operation counts with the time it took."""
    per_pass = {}
    for o in ops:
        key = (o.get("step", o["name"]), o.get("pass", 0))
        per_pass[key] = per_pass.get(key, 0.0) + o["secs"]
    by = {}
    for (step, _), secs in per_pass.items():
        by.setdefault(step, []).append(secs)
    return [statistics.median(v) for v in by.values()]


def total_s(res):
    """Timed work of one run: the summed step latencies."""
    return sum(steps(res["ops"]))


def end_to_end(res):
    return {"setup_s": {"value": res["setup_s"], "unit": "s"},
            "total_s": {"value": total_s(res), "unit": "s"}}


def detail(workload, res):
    """The workload's own end-to-end figures, each as (median, samples)."""
    ops = res["ops"]
    ph = res["phases"]
    d = {"failed_frac": (sum(not o["ok"] for o in ops) / max(1, len(ops)), len(ops)),
         "peak_rss_mb": (res["peak_rss_mb"], 1)}
    if workload in ("query_suite", "corpus_queries"):
        qs = [o for o in ops if o["kind"] == "query"]
        q = steps(qs)
        d.update(query_p50_s=(statistics.median(q), len(qs)), query_p90_s=(_p90(q), len(qs)),
                 query_total_s=(sum(q), len({o["pass"] for o in qs})))
    if workload == "nba_season":
        d.update(nba_full_s=(ph["nba_full_s"], 1), nba_delta_s=(ph["nba_delta_s"], 1))
    if workload in ("corpus_stream", "corpus_queries"):
        b = [o for o in ops if o["kind"] == "batch" and o["ok"]]
        secs = [o["secs"] for o in b]
        d.update(corpus_publish_s=(ph["corpus_publish_s"], 1),
                 gate_batch_p50_s=(statistics.median(secs), len(secs)),
                 gate_docs_per_s=(res["facts"]["offered"] / sum(secs), len(secs)),
                 purge_s=(ph["purge_s"], 1))
    return {k: {"median": v, "n": n} for k, (v, n) in d.items()}


def per_layer(traced, untraced_total):
    layer = dict(traced["layer"])
    full = traced["facts"].get("full", {})
    layer["nba.lineups.rows"] = full.get("rows", 0)
    layer["nba.lineups.quarantined"] = full.get("quarantined", 0)
    layer["trace.overhead_s"] = total_s(traced) - untraced_total
    return {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u, _ in per_layer_names()}
