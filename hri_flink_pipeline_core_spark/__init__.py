"""PySpark-native analytics engine with the capabilities of
Alvearie/hri-flink-pipeline-core, re-expressed Spark-first.

The reference (studied at /root/reference, v3.2-1.1.1) is a Flink
Kafka->Kafka record-validation streaming library. This engine expresses
the same semantics as declarative DataFrame plans (Catalyst optimizes;
Structured Streaming runs the streaming mode with the identical
transformations), and extends the surface with the relational and
training-data-pipeline operators declared in SURVEY.md §2.16.

Layout:
  session     - tuned SparkSession builders (local test / cluster-scale notes)
  schemas     - the four reference record envelopes as Spark StructTypes
  topics      - ingest topic-name derivation/validation (TopicNamingException)
  operators/  - relational + validation + tracker + dedup/similarity/text ops
  functions/  - column-level helpers (header extraction, retry combinator)
  sources/    - kafka + file stream sources
  sinks/      - Kafka record shapes, exactly-once writers, Mgmt-API sink
  plans/      - DuckDB oracle SQL and driver-testdata adapters (oracle checks)
  streaming/  - end-to-end validation job; ``streaming.pipeline.start_job``
                wires the job graph ``cli.py`` runs
"""

__version__ = "0.1.0"
