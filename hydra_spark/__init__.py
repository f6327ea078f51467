"""hydra_spark — a PySpark-native structured-streaming / CEP engine.

From-scratch reimplementation of the capabilities of ps-dev/hydra
(an Akka/fs2 Kafka ingest pipeline) as an idiomatic Spark engine:
rate-controlled replay sources with offset lineage, vectorized
Arrow/pandas decode + normalization, event-time windows + watermarks,
stateful stream-stream join, latest-wins keyed state, and an
exactly-once idempotent keyed MERGE sink with per-partition lineage and
metrics. See SURVEY.md for the full reference mapping.

Nothing here may import pyspark: the Python worker daemon
(``hydra_spark.pydaemon``) trims the import path before pyspark loads.
"""

__version__ = "0.1.0"
