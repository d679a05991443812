"""A long-lived ``run_forever`` process must stay flat: every tick
releases what it caches."""

from __future__ import annotations

from datetime import datetime, timedelta

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.cli import standard_jobs
from binancedatapipeline_spark.pipeline import Pipeline


def test_run_forever_does_not_accumulate_cached_batches(spark, tmp_path):
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    for job in standard_jobs(["BTCUSDT"], parallelism=2):
        pipe.register(job)
    jsc = spark.sparkContext._jsc
    # count only RDDs persisted during the run: blocks cached by earlier
    # tests may be released by the context cleaner mid-run
    before = set(jsc.getPersistentRDDs().keys())
    cached, results = [], []
    update_all = pipe.update_all

    def tick(now=None):
        results.append(update_all(now))
        cached.append(len(set(jsc.getPersistentRDDs().keys()) - before))
        return results[-1]

    pipe.update_all = tick
    # 10:58 start → immediate catch-up tick, then one tick per hour;
    # the clock alternates "scheduling" (xx:28) and "tick fires" (xx:58)
    t0 = datetime(2024, 3, 1, 10, 58)
    times = [t0] + [t0 + timedelta(minutes=30 * k) for k in range(1, 7)]
    clock = iter(times)
    ticks = pipe.run_forever(
        update_minute=58, clock=lambda: next(clock), sleep=lambda s: None,
        max_ticks=4,
    )
    assert ticks == 4
    assert all(n >= 0 for r in results for n in r.values()), results
    # every later tick fetched the new hour's bar
    assert all(r[catalog.BN_SPOT_KLINES.name] > 0 for r in results)
    assert cached[0] == cached[-1], cached
