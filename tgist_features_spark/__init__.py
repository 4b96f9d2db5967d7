"""tgist_features_spark — a from-scratch PySpark-native point-in-time
feature-engineering engine.

Re-imagines the document feature-extraction pipeline of
``techknowledgist/tgist-features`` (tagger -> chunker -> feature stages over
patent corpora) as windowed, leakage-free feature vectors over columnar
tables of multi-turn agent transcripts:

* input:  (conv_id string, turn_idx int32, role string, text string,
           tool string, ts timestamp[us])
* engine: pyspark.sql DataFrame API + vectorized Arrow (pandas) UDFs only
  (no RDDs, no per-row Python UDFs)
* core:   as-of (backward/forward) merge-scan join, lag/lead turn features,
  timestamp-gap sessionize, rolling per-role/tool counts, n-gram/chunk
  text features, a streaming as-of whose task memory a hot
  conversation does not grow,
  per-partition lineage manifest.

The reference checkout was empty during the survey session (SURVEY.md §0),
so reference parity is defined by BASELINE.json's north_rule and verified
against the in-repo pure pandas/numpy oracle (tgist_features_spark.oracle).
"""

__version__ = "0.1.0"

from tgist_features_spark.session import get_spark  # noqa: F401
