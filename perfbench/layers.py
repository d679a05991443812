"""Per-layer metrics of a traced run, rolled up from its spans.

Timings are per operation (summed over the operation's spans) and
reported as the median over traced operations; counts of Spark work
are per-operation means; layout figures are read from the warehouse
when the run ends. The set-up is rolled up the same way, as one
operation, under ``setup.`` (on ``hourly_tick`` it is the backfill).
A layer that does no work in a workload reports 0.
"""

from __future__ import annotations

from perfbench.stats import median
from perfbench.trace import JOB_COUNTERS, LAYERS, Tracer

TABLES = ("bn_spot_symbols", "bn_perp_symbols", "bn_spot_klines", "bn_perp_klines",
          "bn_funding_rates")
WAREHOUSE_TIMES = {
    "watermark_s": ("incremental_start", "latest_timestamp"),
    "overwrite_s": ("overwrite",),
    "upsert_s": ("upsert",),
    "transaction_s": ("transaction",),
    "read_between_s": ("read_between",),
}
PLANS = ("premium_wma", "extreme_cases", "validate_klines")
SETUP_METRICS = (
    "sources.fetch_s", "sources.rows", "sources.pages", "sources.rows_per_s",
    "warehouse.overwrite_s", "warehouse.upsert_s", "warehouse.bytes_written",
    "warehouse.rows_rewritten_per_row_upserted", "plans.premium_wma_s",
    "spark.jobs_per_op", "spark.tasks_per_op",
)

# Which end-to-end metric (on which workload) each per-layer metric
# should move; written down before any optimisation is measured.
MOVES = (
    ("pipeline.", "op_p50_s", "hourly_tick"),
    ("sources.", "op_p50_s (barely)", "hourly_tick"),
    ("setup.", "setup_s", "hourly_tick (the backfill)"),
    ("warehouse.watermark_s", "op_p50_s", "hourly_tick"),
    ("warehouse.overwrite_s", "op_p50_s", "hourly_tick (dims rewrite)"),
    ("warehouse.upsert_s", "op_p50_s", "hourly_tick"),
    ("warehouse.transaction_s", "op_p50_s", "hourly_tick"),
    ("warehouse.read_between_s", "op_p50_s", "analytics (watchlist), hourly_tick"),
    ("warehouse.files_listed_ratio", "op_p50_s", "analytics (watchlist), hourly_tick"),
    ("warehouse.bytes_written", "op_p50_s", "hourly_tick"),
    ("warehouse.rows_rewritten_per_row_upserted", "op_p50_s", "hourly_tick"),
    ("warehouse.live_files", "op_p50_s", "hourly_tick, analytics"),
    ("warehouse.max_files_per_partition", "op_p50_s", "hourly_tick, analytics"),
    ("plans.premium_wma", "op_p50_s", "analytics, hourly_tick"),
    ("plans.extreme_cases", "op_p50_s", "analytics"),
    ("plans.validate_klines", "op_p50_s", "analytics"),
    ("streaming.", "op_p50_s", "hourly_tick"),
    ("spark.", "op_p50_s", "hourly_tick (the per-job floor)"),
)


def layer_metrics(tracer: Tracer, wl, results, session_s: float, setup_op: int) -> dict:
    own, net = tracer.self_times()
    ops = [i for i, r in enumerate(results) if r.extra.get("traced")]
    m = {"session.start_s": session_s, **rollup(tracer, wl, ops, own, net)}
    m["pipeline.failed_tables"] = float(sum(r.extra.get("failed_tables", 0) for r in results))
    setup = rollup(tracer, wl, [setup_op], own, net)
    m.update({f"setup.{k}": setup[k] for k in SETUP_METRICS})

    live, widest = 0, 0
    for wh, specs in wl.warehouses():
        for spec in specs:
            if wh.exists(spec.name):
                counts = [n for n, _ in wh.partition_files(spec.name).values()]
                live += sum(counts)
                widest = max([widest, *counts])
    m["warehouse.live_files"] = float(live)
    m["warehouse.max_files_per_partition"] = float(widest)
    m["streaming.alerts_sent"] = float(len(getattr(wl, "messages", [])))
    m["streaming.ledger_rows"] = float(getattr(wl, "ledger_rows", 0))
    return m


def rollup(tracer: Tracer, wl, ops: list[int], own: dict, net: dict) -> dict:
    """The per-operation metrics over operations ``ops``."""

    def per_op(pred, value=lambda s: net[s.id]) -> float:
        """Median over ``ops`` of each operation's summed span values."""
        groups = tracer.by_op(pred)
        return median([sum(value(s) for s in groups.get(i, [])) for i in ops])

    def mean_per_op(pred, value) -> float:
        groups = tracer.by_op(pred)
        return sum(value(s) for i in ops for s in groups.get(i, [])) / len(ops) if ops else 0.0

    named = lambda name: lambda s: s.name == name  # noqa: E731
    m: dict[str, float] = {}
    for layer in LAYERS[1:]:
        m[f"{layer}.self_s"] = per_op(lambda s, lay=layer: s.layer == lay, lambda s: own[s.id])
        for c in JOB_COUNTERS:
            m[f"{layer}.{c}"] = mean_per_op(lambda s, lay=layer: s.layer == lay,
                                            lambda s, c=c: getattr(s, c))
    for t in TABLES:
        m[f"pipeline.update_table_s.{t}"] = per_op(
            lambda s, t=t: s.name == "pipeline.update_table" and s.attrs.get("table") == t)

    m["sources.fetch_s"] = per_op(named("sources.fetch"))
    rows = [wl.fetched.get(i, 0) for i in ops]
    m["sources.rows"] = median(rows)
    m["sources.pages"] = median([wl.pages_by_op.get(i, 0) for i in ops])
    fetch_total = sum(net[s.id] for s in tracer.spans
                      if s.name == "sources.fetch" and s.op in ops)
    m["sources.rows_per_s"] = ratio(sum(rows), fetch_total)

    for metric, methods in WAREHOUSE_TIMES.items():
        m[f"warehouse.{metric}"] = per_op(
            lambda s, ms=methods: s.layer == "warehouse" and s.name.split(".", 1)[1] in ms)
    st = wl.stats
    total = lambda counts: sum(counts.get(i, 0) for i in ops)  # noqa: E731
    m["warehouse.files_listed_ratio"] = ratio(total(st.files_listed), total(st.files_live))
    m["warehouse.bytes_written"] = median([st.bytes_written.get(i, 0) for i in ops])
    m["warehouse.rows_rewritten_per_row_upserted"] = ratio(
        total(st.rows_rewritten), total(st.rows_upserted))

    for plan in PLANS:
        pred = named(f"plans.{plan}")
        m[f"plans.{plan}_s"] = per_op(pred, lambda s: own[s.id])
        m[f"plans.{plan}.rows_out"] = per_op(pred, lambda s: s.attrs.get("rows", 0))
    m["streaming.alert_stage_s"] = per_op(named("streaming.alert_stage"))

    work = lambda s: s.layer != "trace"  # noqa: E731
    m["spark.jobs_per_op"] = mean_per_op(work, lambda s: s.jobs)
    m["spark.tasks_per_op"] = mean_per_op(work, lambda s: s.tasks)
    return m


def ratio(a: float, b: float) -> float:
    return a / b if b else 0.0
