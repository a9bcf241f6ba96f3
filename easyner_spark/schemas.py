"""Canonical table schemas (SURVEY.md section 1.2).

The reference flows a nested `{doc_id: {title, sentences: [...]}}` JSON
document store between stages (reference scripts/splitter.py:51-58,
scripts/ner_main.py:85-86). The engine replaces that with fixed,
columnar StructType tables; the nested shape exists only at the
compat-export boundary (sinks.compat).

Span convention: internal `[begin, end)` exclusive (the reference BERT
path, scripts/ner_main.py:199); the dictionary path's inclusive-end
quirk (scripts/ner_main.py:80) is applied only in the compat export.
"""

from __future__ import annotations

import pyspark.sql.types as T

# Exploded sentence table (reference splitter output, one row per sentence).
SENTENCES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("sentence", T.StringType(), False),
    ]
)

# Exploded mention table (reference NER output `entities`/`entity_spans`).
# begin/end are char offsets in the sentence, [begin, end) exclusive;
# begin_tok/end_tok are token indices in the canonical token stream.
MENTIONS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("mention", T.StringType(), False),
        T.StructField("mention_lc", T.StringType(), False),
        T.StructField("begin", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("begin_tok", T.IntegerType(), False),
        T.StructField("end_tok", T.IntegerType(), False),
        T.StructField("class", T.StringType(), True),
    ]
)

# NER dictionary (reference dictionaries/*.txt + entity_type config).
DICT_TERMS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("class", T.StringType(), True),
    ]
)

# NEL alias lookup (reference scripts/nel.py:13 TSV with term, ID).
ALIAS_LOOKUP = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("ID", T.StringType(), False),
    ]
)

# Canonicalized entity nodes.
NODES = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("canonical", T.StringType(), True),
        T.StructField("component_id", T.StringType(), True),
        T.StructField("mention_count", T.LongType(), True),
    ]
)

# Triples / edges (generalizes reference entity_parser.py hasCoOccurrence).
EDGES = T.StructType(
    [
        T.StructField("subj_id", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_id", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("sent_idx", T.IntegerType(), True),
    ]
)

# Event-log table (testdata `events` shape). ts is NTZ: plain parquet
# timestamps load as TIMESTAMP_NTZ, and the pinned streaming schema
# must match the files or the file source errors.
EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

# Per-partition lineage/metrics row (replaces the reference's err.txt
# retry ledger + TIMEKEEP wall-clock file, scripts/pubmed_bulk.py:33-55).
LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("skipped_count", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)
