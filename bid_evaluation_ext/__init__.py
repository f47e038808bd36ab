"""bid_evaluation_ext — data-pipeline operators built beside the scoring engine.

The scoring engine (:mod:`bid_evaluation_spark`) never imports this
package. It holds the operator families that grew around the engine:

- ``operators/`` — dedup, similarity, text, analytics, time series,
  graph, media codecs and other batch operators;
- ``streaming/`` — micro-batch streaming operators;
- ``plans/prep.py`` — the config-driven training-data prep pipeline;
- ``sources/`` — WARC and WebDataset readers, plus table I/O helpers
  (bucketed tables, training shards, JSONL/ORC, parquet footer stats);
- ``dispatch.py`` — the local-vs-distributed size caps the operators read.

It depends on :mod:`bid_evaluation_spark` only for sessions and table
loading.
"""
