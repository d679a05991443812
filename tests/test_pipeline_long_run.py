"""A long-lived ``run_forever`` process must stay flat: every tick
releases what it caches, and unchanged dimension tables are not
rewritten."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.cli import standard_jobs
from binancedatapipeline_spark.pipeline import Pipeline

DIMS = (catalog.BN_SPOT_SYMBOLS, catalog.BN_PERP_SYMBOLS)


def _version(pipe: Pipeline, spec) -> str:
    return pipe.warehouse._load_manifest(spec.name)["version"]


def _dims_pipeline(spark, root: str, symbols: list[str]) -> Pipeline:
    pipe = Pipeline(spark, root)
    for job in standard_jobs(symbols):
        if job.spec in DIMS:
            pipe.register(job)
    return pipe


def test_run_forever_does_not_accumulate_cached_batches(spark, tmp_path):
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    for job in standard_jobs(["BTCUSDT"], parallelism=2):
        pipe.register(job)
    jsc = spark.sparkContext._jsc
    # count only RDDs persisted during the run: blocks cached by earlier
    # tests may be released by the context cleaner mid-run
    before = set(jsc.getPersistentRDDs().keys())
    cached, results, dim_files, dim_versions = [], [], [], []
    update_all = pipe.update_all

    def tick(now=None):
        results.append(update_all(now))
        cached.append(len(set(jsc.getPersistentRDDs().keys()) - before))
        dim_files.append(max(
            n for spec in DIMS for n, _ in pipe.warehouse.partition_files(spec.name).values()
        ))
        dim_versions.append(tuple(_version(pipe, spec) for spec in DIMS))
        return results[-1]

    pipe.update_all = tick
    # 10:58 start → immediate catch-up tick, then one tick per hour;
    # the clock alternates "scheduling" (xx:28) and "tick fires" (xx:58)
    t0 = datetime(2024, 3, 1, 10, 58)
    times = [t0] + [t0 + timedelta(minutes=30 * k) for k in range(1, 25)]
    clock = iter(times)
    ticks = pipe.run_forever(
        update_minute=58, clock=lambda: next(clock), sleep=lambda s: None,
        max_ticks=12,
    )
    assert ticks == 12
    assert all(n >= 0 for r in results for n in r.values()), results
    # every later tick fetched the new hour's bar
    assert all(r[catalog.BN_SPOT_KLINES.name] > 0 for r in results)
    assert len(set(cached)) == 1, cached
    assert len(set(dim_files)) == 1, dim_files
    # the dims were written by the first tick and never again
    assert len(set(dim_versions)) == 1, dim_versions


def test_unchanged_dims_keep_their_manifest_version(spark, tmp_path):
    root = str(tmp_path / "wh")
    pipe = _dims_pipeline(spark, root, ["BTCUSDT", "ETHUSDT"])
    assert pipe.update_all() == {spec.name: 2 for spec in DIMS}
    first = {spec.name: _version(pipe, spec) for spec in DIMS}

    assert pipe.update_all() == {spec.name: 2 for spec in DIMS}
    assert {spec.name: _version(pipe, spec) for spec in DIMS} == first

    # the fingerprint lives in the manifest: a restarted process skips too
    restarted = _dims_pipeline(spark, root, ["BTCUSDT", "ETHUSDT"])
    assert restarted.update_all() == {spec.name: 2 for spec in DIMS}
    assert {spec.name: _version(restarted, spec) for spec in DIMS} == first


def test_changed_dims_payload_republishes(spark, tmp_path):
    root = str(tmp_path / "wh")
    pipe = _dims_pipeline(spark, root, ["BTCUSDT", "ETHUSDT"])
    pipe.update_all()
    first = {spec.name: _version(pipe, spec) for spec in DIMS}

    listed = _dims_pipeline(spark, root, ["BTCUSDT", "ETHUSDT", "SOLUSDT"])
    assert listed.update_all() == {spec.name: 3 for spec in DIMS}
    for spec in DIMS:
        assert _version(listed, spec) != first[spec.name]
        got = {r["symbol"] for r in listed.warehouse.read(spec).collect()}
        assert got == {"BTCUSDT", "ETHUSDT", "SOLUSDT"}


def test_upsert_after_overwrite_drops_the_fingerprint(spark, tmp_path):
    """Only a whole-table replace records a fingerprint: a dimension
    changed by an upsert is rewritten by the next refresh."""
    pipe = _dims_pipeline(spark, str(tmp_path / "wh"), ["BTCUSDT"])
    pipe.update_all()
    spec = catalog.BN_SPOT_SYMBOLS
    assert pipe.warehouse.digest(spec) is not None
    row = pipe.warehouse.read(spec).withColumn("status", F.lit("BREAK"))
    assert pipe.warehouse.upsert(spec, row) == 1
    assert pipe.warehouse.digest(spec) is None
    pipe.update_table(spec.name)
    assert [r["status"] for r in pipe.warehouse.read(spec).collect()] == ["TRADING"]
