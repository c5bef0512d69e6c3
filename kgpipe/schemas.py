"""Explicit StructTypes for every table in the pipeline (SURVEY.md §1).

The reference duck-types everything (column-count fallback parsing,
nested mutable dicts — run_genre.py:66-75, :133-187); our engine pins a
fixed schema per table so Catalyst can prune columns and push filters.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The 13 languages the reference keeps (get_wikidata.py:17-31).
LANGUAGES2SAVE = [
    "bn", "de", "en", "es", "fa", "fr", "hi",
    "it", "pt", "sv", "uk", "zh", "eu",
]

# Sentinels (get_wikidata.py:203,218; run_genre.py:364).
Q0 = "Q0"
NO_WIKIDATA_SUMMARY = "No wikidata summary found"
NO_WIKIPEDIA_TITLE = "No wikipedia title"
NO_WIKIPEDIA_SUMMARY = "No wikipedia summary found"

# Wikidata properties expanded during enrichment (get_wikidata.py:69-72)
# and their triple predicates (SURVEY.md §7.2).
PROPS = ["P31", "P106", "P279"]
PROP2PRED = {"P31": "instance_of", "P106": "occupation", "P279": "subclass_of"}

# Primary input (BASELINE.json input_hint).
TRANSCRIPTS = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), True),
    StructField("text", StringType(), False),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), True),
])

# Wikidata-shaped entity dimension (preprocess_wikidata.py:80-135).
ENTITY_KB = StructType([
    StructField("qid", StringType(), False),
    StructField("labels", MapType(StringType(), StringType()), True),
    StructField("descriptions", MapType(StringType(), StringType()), True),
    StructField("sitelinks", MapType(StringType(), StringType()), True),
    StructField("aliases", MapType(StringType(), ArrayType(StringType())), True),
])

KB_ARGS = StructType([
    StructField("qid", StringType(), False),
    StructField("prop", StringType(), False),
    StructField("arg_qid", StringType(), False),
    StructField("ord", IntegerType(), False),
])

REDIRECTS = StructType([
    StructField("lang", StringType(), False),
    StructField("src_title", StringType(), False),
    StructField("dst_title", StringType(), False),
])

MENTION_COUNTS = StructType([
    StructField("mention", StringType(), False),
    StructField("qid", StringType(), False),
    StructField("cnt", LongType(), False),
])

WIKI_SUMMARIES = StructType([
    StructField("title", StringType(), False),
    StructField("summary", StringType(), False),
])
