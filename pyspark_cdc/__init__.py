"""pyspark-cdc: a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of hankerbiao/pg2meili-cdc's Debezium-consumer
core (reference at /root/reference, see SURVEY.md) in idiomatic Spark:

    event log (Kafka-shaped)  ->  from_json parse + normalize (parse.py)
                              ->  idempotent append of each batch as a
                                  delta of a bucketed merge-on-read
                                  parquet lake (sink.py), its snapshot
                                  manifests built by manifest.py
                              ->  per-key last-writer-wins (ordering key
                                  in order.py) resolved in sink.py at read
                                  and fold time

driven either as one batch (replay_batch) or as a checkpointed Structured
Streaming job (stream.py), with per-partition lineage metrics (metrics.py)
and a pure-Python oracle of the reference semantics (oracle.py) for tests.
"""

__version__ = "0.1.0"
