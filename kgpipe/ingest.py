"""Compat sources/sinks (SURVEY.md §2.1): CoNLL TSV scanner (S1),
reference JSON sentence-dict source/sink (S2/S9), plus the
anchor/sentence normalizers (P4/P5/P10/P12) and the context-window
truncation (Q3).

The primary source of the engine is the transcripts table; these
readers exist so a user of the reference can point the engine at the
reference's own files (data_examples/entity_boundary.conll,
data_examples/context-enriched.json shapes) unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_conll(spark: SparkSession, path: str) -> DataFrame:
    """S1 CoNLL TSV sentence scanner as a declarative plan
    (preprocess_MultiCoNER2.py:11-103 semantics): tolerate 2/3/4-column
    lines (word first, label last — matching the reference's fallback
    order for CONLL / manual-projection / MultiCoNER), skip `# id` and
    -DOCSTART- lines, normalize `_`→O (P5), group sentences by a
    running sum over blank-line separators.

    Note the file-order dependency: sentence ids are positional, so the
    scan must follow (file path, line offset) order. `spark.read.text`
    packs splits into partitions by SIZE, not path order, so
    monotonically_increasing_id alone misorders multi-file globs; we
    read wholetext per file and derive a per-file line index instead —
    (file, line_no) is deterministic regardless of split packing. At
    100 TB you'd never ship CoNLL — this is the compat path; the
    running-sum window is a single global sort, acceptable for
    dim-scale files.
    """
    lines = (
        spark.read.text(path, wholetext=True)
        .select(F.input_file_name().alias("file"), "value")
        .select("file", F.posexplode(F.split("value", "\n")).alias("line_no", "value"))
    )
    # per-file running sum: file boundaries always break sentences (the
    # reference reads files one at a time), and the window is
    # partitioned, not global
    w = Window.partitionBy("file").orderBy("line_no")
    grouped = (
        lines
        .withColumn("is_blank", (F.trim("value") == "").cast("int"))
        .withColumn("sid_in_file",
                    (F.sum("is_blank").over(w) - F.col("is_blank")).cast("int"))
        .filter(F.col("is_blank") == 0)
        # P4 comment/DOCSTART filter
        .filter(~F.trim("value").startswith("# id"))
        .filter(~F.trim("value").startswith("-DOCSTART-"))
        .withColumn("parts", F.split(F.trim("value"), r"\s+"))
        .withColumn("word", F.col("parts")[0])
        .withColumn(
            "label",
            F.when(F.size("parts") == 1, F.lit("O"))
            .otherwise(F.element_at("parts", -1)),
        )
        # P5 `_` → O
        .withColumn("label",
                    F.when(F.col("label") == "_", F.lit("O"))
                    .otherwise(F.col("label")))
    )
    return (
        grouped
        .groupBy("file", "sid_in_file")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("line_no", "word", "label"))
            ).alias("rows")
        )
        .select(
            "file", "sid_in_file",
            F.expr("transform(rows, r -> r.word)").alias("words"),
            F.expr("transform(rows, r -> r.label)").alias("labels"),
        )
        # renumber densely in (file path, offset) order — deterministic
        # across split packing and multi-file globs (blank-run tolerance)
        .withColumn(
            "sentence_id",
            (F.row_number().over(Window.orderBy("file", "sid_in_file")) - 1)
            .cast("int"),
        )
        .select("sentence_id", "words", "labels")
    )


def read_sentence_json(spark: SparkSession, path: str) -> DataFrame:
    """S2 reference stage-checkpoint JSON source: nested
    {sid: {words, labels, entities: {eid: {...}}}} (the shape of
    data_examples/context-enriched.json, run_genre.py:231-236) →
    one row per (sentence_id, entity_id) mention."""
    import json

    with open(path, "r", encoding="utf8") as f:
        d = json.load(f)
    rows = []
    for sid, s in d.items():
        for eid, e in (s.get("entities") or {}).items():
            rows.append((
                int(sid), int(eid), s["words"], s["labels"],
                e.get("text"), e.get("start"), e.get("end"),
                e.get("general_cat"), e.get("fine_cat"),
                e.get("genre_prediction"),
                e.get("wikidata_summary"), e.get("wikidata_arguments"),
                e.get("wikipedia_title"), e.get("wikipedia_summary"),
            ))
    schema = (
        "sentence_id int, entity_id int, words array<string>,"
        " labels array<string>, text string, start int, end int,"
        " general_cat string, fine_cat string,"
        " genre_prediction array<string>, wikidata_summary string,"
        " wikidata_arguments array<string>, wikipedia_title string,"
        " wikipedia_summary string"
    )
    return spark.createDataFrame(rows, schema=schema)


def write_sentence_json(df: DataFrame, path: str) -> None:
    """S9 sink: reassemble the nested sentence-dict and dump like the
    reference (json.dump indent=4 ensure_ascii=False,
    run_genre.py:383-384). Driver-side — the reference format is a
    single JSON document, inherently non-distributed."""
    import json
    from collections import OrderedDict

    out: dict = OrderedDict()
    for r in df.orderBy("sentence_id", "entity_id").collect():
        sid = str(r["sentence_id"])
        if sid not in out:
            out[sid] = {"words": list(r["words"]), "labels": list(r["labels"]),
                        "entities": {}}
        out[sid]["entities"][str(r["entity_id"])] = {
            "text": r["text"], "start": r["start"], "end": r["end"],
            "general_cat": r["general_cat"], "fine_cat": r["fine_cat"],
            "genre_prediction": list(r["genre_prediction"] or []) or None,
            "wikidata_summary": r["wikidata_summary"],
            "wikidata_arguments": list(r["wikidata_arguments"] or []),
            "wikipedia_title": r["wikipedia_title"],
            "wikipedia_summary": r["wikipedia_summary"],
        }
    with open(path, "w", encoding="utf8") as f:
        json.dump(out, f, indent=4, ensure_ascii=False)


# ------------------------------------------------ normalizers (P10, P12)

def normalize_anchor(col):
    """P10 anchor URL normalization (preprocess_anchors.py:17-30):
    strip %3A / w%3A / cross-wiki prefixes, iterated to a fixpoint
    (the reference recurses; prefixes nest ≤3 deep in practice)."""
    out = col
    for _ in range(3):
        out = F.regexp_replace(out, r"^(%3A|w%3A|:)", "")
        out = F.regexp_replace(out, r"^[a-z]{2,3}:(?=[^/])", "")
    return out


def sanitize_sentence(col):
    """P12 brace sanitization (GENRE/genre/utils.py:98-109):
    {}[] → (), non-breaking space → space."""
    return F.translate(col, "{}[] ", "()() ")


def truncate_context(left_col, mention_col, right_col, max_length: int,
                     start_tok: str = "[START]", end_tok: str = "[END]"):
    """Q3 context-window truncation (GENRE/genre/utils.py:46-95
    create_input 4-case logic) as one column expression over token
    arrays: budget max_length tokens split between left/right context.
    Inputs are array<string> columns; returns the marked string."""
    l_sz, r_sz = F.size(left_col), F.size(right_col)
    total = l_sz + r_sz + F.size(mention_col)
    half = max_length // 2

    full = F.concat_ws(" ", F.concat(
        left_col, F.array(F.lit(start_tok)), mention_col,
        F.array(F.lit(end_tok)), right_col))
    keep_left_all = F.concat_ws(" ", F.concat(
        left_col, F.array(F.lit(start_tok)), mention_col,
        F.array(F.lit(end_tok)),
        F.slice(right_col, F.lit(1),
                F.greatest(F.lit(max_length) - l_sz, F.lit(0)))))
    keep_right_all = F.concat_ws(" ", F.concat(
        F.slice(left_col,
                F.greatest(l_sz - (F.lit(max_length) - r_sz) + 1, F.lit(1)),
                F.greatest(F.lit(max_length) - r_sz, F.lit(0))),
        F.array(F.lit(start_tok)), mention_col,
        F.array(F.lit(end_tok)), right_col))
    both_half = F.concat_ws(" ", F.concat(
        F.slice(left_col, F.greatest(l_sz - half + 1, F.lit(1)),
                F.least(l_sz, F.lit(half))),
        F.array(F.lit(start_tok)), mention_col,
        F.array(F.lit(end_tok)),
        F.slice(right_col, F.lit(1), F.lit(half))))

    return (
        F.when(total <= max_length, full)
        .when(l_sz <= half, keep_left_all)
        .when(r_sz <= half, keep_right_all)
        .otherwise(both_half)
    )
