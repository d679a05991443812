"""trainingdata_spark — large-scale training-data operators on PySpark.

A sibling of the ``binancedatapipeline_spark`` market engine, kept in
the same repository but outside its distribution: it reuses the
engine's session, table specs and snapshot-committed warehouse, and
the engine imports nothing from it.

- text curation, dedup, language ID, quality scoring, BPE, LM
  scoring, DSIR selection, sketches, packing and export (``textops``);
- vector search and semantic dedup (``similarity``) and multimodal
  header plumbing (``multimodal``);
- graph and layout operators (``operators``);
- persisted model artifacts and their registry (``models``);
- streaming dedup, curation and sketch jobs (``streaming``);
- model-fitting verbs (``python -m trainingdata_spark``, ``cli``);
- the generic and corpus-shaped queries retired from the market
  entry registry, with their DuckDB oracles (``entry_queries``).
"""
