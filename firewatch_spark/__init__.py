"""firewatch_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the FireWatch reference pipeline.

The reference (raghuselvaraj/FireWatch) is a Kafka video-stream processor:
frames -> per-frame ML inference -> per-key stateful sessionization ->
annotated sinks (see SURVEY.md).  This package re-expresses every operator
in that dataflow as idiomatic Spark (DataFrame / SQL / Structured
Streaming), declared so Catalyst can optimize, and adds the parity-plus
surface a 100 TB training-data pipeline needs: joins/set-ops/window
functions, dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
similarity search over embeddings, text analysis, and multimodal binary
column plumbing.

Layout:
  session.py              SparkSession builder (scale-aware defaults)
  surrogate.py            deterministic surrogate "model" (oracle-testable)
  models.py               model-backend registry (M1) + pandas-UDF path
  operators/              cadence, sessions, aggregates, dedup, text,
                          similarity, joins (as-of/range/top-k)
  functions/projections   scalar projection builders (P1/P5/P8, S5 encode)
  functions/heatmap       GradCAM surrogate + overlay contract (M3/P10/P11)
  sources/                Kafka builders, synthetic frame + video-file scan,
                          multimodal decode/resize/encode plumbing
  streaming/              stateful session op, full EP2 stateful pipeline
                          (cadence+session in one operator), custom sinks,
                          late/duplicate policy (W5)
  queries.py              the (queries, oracle_sql) registry for the driver
"""

__version__ = "0.1.0"
