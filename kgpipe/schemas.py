"""Explicit StructTypes for every table in the pipeline (SURVEY.md §1).

The reference duck-types everything (column-count fallback parsing,
nested mutable dicts — run_genre.py:66-75, :133-187); our engine pins a
fixed schema per table so Catalyst can prune columns and push filters.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
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

# One row per detected mention (reference entity record, run_genre.py:77-130).
MENTION = StructType([
    StructField("text", StringType(), False),
    StructField("start", IntegerType(), False),
    StructField("end", IntegerType(), False),
    StructField("fine_cat", StringType(), False),
    StructField("general_cat", StringType(), False),
])

MENTIONS = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("entity_id", IntegerType(), False),
    StructField("mention_id", StringType(), False),
    StructField("text", StringType(), False),
    StructField("start", IntegerType(), False),
    StructField("end", IntegerType(), False),
    StructField("fine_cat", StringType(), False),
    StructField("general_cat", StringType(), False),
    StructField("marked_text", StringType(), False),
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

TITLE_MAP = StructType([
    StructField("lang", StringType(), False),
    StructField("title", StringType(), False),
    StructField("qid", StringType(), False),
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

# Ranked linking output per mention (post_process_wikidata semantics,
# GENRE/genre/utils.py:491-535).
CANDIDATES = StructType([
    StructField("mention_id", StringType(), False),
    StructField("qid", StringType(), False),
    StructField("texts", ArrayType(StringType()), False),
    StructField("scores", ArrayType(DoubleType()), False),
    StructField("score", DoubleType(), False),
    StructField("rank", IntegerType(), False),
])

TRIPLES = StructType([
    StructField("subj", StringType(), False),
    StructField("pred", StringType(), False),
    StructField("obj", StringType(), False),
])

GOLD_LABELS = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("tokens", ArrayType(StringType()), False),
    StructField("tags", ArrayType(StringType()), False),
])
