"""rollup_engine — a PySpark-native time-series rollup + downsample +
retention engine over multi-turn transcript tables.

Brand-new engine (NOT a port) re-expressing the query semantics of
pixelistik/request_log_analyzer (reference at /root/reference, cited by
file:line in docstrings) as Catalyst-optimized DataFrame plans:

- scan → parse → pair → filter → aggregate becomes
  Iceberg/parquet scan → window-lag deltas → predicate pushdown →
  partial+final aggregation with mergeable histogram state.
- one-bucket-per-run becomes per-minute/hour/day continuous aggregate
  tiers with gap-fill, Gorilla/delta-of-delta chunk compression,
  salted skew handling, and snapshot-checkpointed incremental refresh.
"""

__version__ = "0.1.0"
