"""binancedatapipeline_spark — an hourly market-data engine on PySpark.

A from-scratch re-expression of the reference Binance market-data
pipeline (albusmaxgrangerthu/binancedatapipeline) on Apache Spark:

- relational table model with declared schemas and primary keys
  (``catalog.TableSpec``), stored as manifest-committed parquet
  (``warehouse``);
- incremental kline and funding fetches (``sources``) PK-upserted
  every tick (``pipeline``, ``operators.upsert``);
- the analytics surface: the perp-vs-spot premium and its WMA-120,
  funding-squeeze detection, gap audits, margin assets (``plans/``);
- the alert loop and micro-batch ingestion via Structured Streaming
  (``streaming/``), with Telegram notification (``notifications``);
- a process entry point with the scheduler and maintenance verbs
  (``cli``).

Everything is expressed through the DataFrame / Spark SQL API so
Catalyst plans it (predicate pushdown, column pruning, broadcast
joins, whole-stage codegen); pandas appears only inside Arrow-batched
kernels where the built-in operators genuinely cannot express the
semantics.
"""

__version__ = "0.1.0"
