"""Mention detection: W1 ordering, boundary tagging, Q1 span grouping,
Q2 context marking (SURVEY.md §2.3, §2.6).

The reference's stage 1 is an XLM-R token classifier emitting
B-ENTITY/I-ENTITY/O (TokenClassification/run_tokenclass.py); this
sandbox has no GPU/model, so the tagger is a deterministic gazetteer
matcher with the *identical I/O contract*: (words) → BIO tags. The
downstream dataflow (span grouping per run_genre.py:77-128, marking per
run_genre.py:203-213) is exactly the reference's.

Scale notes: the tagger is JVM-only — a join of the posexploded turn
tokens against a surface dim keyed on its first token (broadcast below
BROADCAST_MAX_SURFACES distinct surfaces), then a per-turn greedy
longest-match fold — and marking is a column expression, so stage 1
starts no Python workers. The pure-Python gazetteer scan and span
grouping below (`build_gazetteer`, `_tag_tokens`, `group_spans`) are the
reference semantics the oracle and the tests compare against.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgpipe.tags import FINE2GENERAL, rewrite_labels

# gazetteer dims below this many DISTINCT surfaces get the broadcast
# hint in detect_mentions_join; larger sets are left to AQE
BROADCAST_MAX_SURFACES = 2_000_000


def with_turn_order(transcripts: DataFrame) -> DataFrame:
    """W1 stable turn ordering + ingest dedup (FIXTURES.md edge case 10).

    Duplicate (conv_id, turn_idx) rows are dropped deterministically
    (keep min ts, then min text) so the sequential-id invariant of the
    reference's file-order enumeration (run_genre.py:179-187) holds.
    """
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("ts").asc_nulls_last(), F.col("text").asc()
    )
    deduped = (
        transcripts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    order_w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return deduped.withColumn("turn_order", F.row_number().over(order_w) - F.lit(1))


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokenization + per-turn text-equality invariant
    (input_hint; mirrors the reference's length asserts,
    preprocess_MultiCoNER2.py:85-101)."""
    out = df.withColumn("tokens", F.split(F.col(text_col), " "))
    return out.withColumn(
        "text_roundtrip_ok", F.concat_ws(" ", F.col("tokens")) == F.col(text_col)
    )


def assert_text_equality(df: DataFrame) -> None:
    bad = df.filter(~F.col("text_roundtrip_ok")).count()
    if bad:
        raise AssertionError(f"{bad} turns violate per-turn text equality")


# ------------------------------------------------------------ gazetteer

def build_gazetteer(surfaces: List[str]) -> Dict[str, List[Tuple[str, ...]]]:
    """first-token → candidate token tuples, longest first (deterministic
    greedy longest-match)."""
    gaz: Dict[str, List[Tuple[str, ...]]] = {}
    for s in sorted(set(surfaces)):
        toks = tuple(s.split(" "))
        gaz.setdefault(toks[0], []).append(toks)
    for k in gaz:
        gaz[k].sort(key=lambda t: (-len(t), t))
    return gaz


def _tag_tokens(tokens: List[str], gaz) -> List[str]:
    tags = ["O"] * len(tokens)
    i = 0
    while i < len(tokens):
        hit = None
        for cand in gaz.get(tokens[i], ()):
            if tuple(tokens[i:i + len(cand)]) == cand:
                hit = cand
                break
        if hit:
            tags[i] = "B-ENTITY"
            for j in range(i + 1, i + len(hit)):
                tags[j] = "I-ENTITY"
            i += len(hit)
        else:
            i += 1
    return tags


# --------------------------------------------------------- span grouping

def group_spans(tokens: List[str], tags: List[str]) -> List[dict]:
    """Q1 BIO span grouping, matching run_genre.py:77-128 semantics:
    a span opens at B-, extends over I-, closes at O/B-/EOS; entity ids
    are the in-turn enumeration order. Tags are IOB2-normalized first
    (the reference assumes IOB2 input; orphan I- becomes B-)."""
    tags = rewrite_labels(list(tags), "iob2")
    spans: List[dict] = []
    cur: List[str] = []
    cur_start = -1
    cur_cat = ""

    def flush(end: int):
        if cur:
            fine = cur_cat
            general = "ENTITY" if fine == "ENTITY" else FINE2GENERAL.get(fine, "ENTITY")
            spans.append({
                "text": " ".join(cur), "start": cur_start, "end": end,
                "fine_cat": fine, "general_cat": general,
            })

    for i, (tok, tag) in enumerate(zip(tokens, tags)):
        if (tag.startswith("B-") or tag == "O") and cur:
            flush(i)
            cur, cur_start, cur_cat = [], -1, ""
        if tag.startswith("B-"):
            cur = [tok]
            cur_start = i
            cur_cat = tag[2:]
        elif tag.startswith("I-"):
            cur.append(tok)
    flush(len(tokens))
    return spans


def surface_dim(surfaces_df: DataFrame) -> DataFrame:
    """The tagger's surface dim: one row per distinct `surface` (as its
    token array), keyed on its first token."""
    return (
        surfaces_df.select(F.split(F.col("surface"), " ").alias("s_toks"))
        .distinct()
        .select(
            "s_toks",
            F.col("s_toks")[0].alias("_first_tok"),
            F.size("s_toks").alias("s_len"),
        )
    )


def detect_mentions_join(turns: DataFrame, surfaces_df: DataFrame,
                         broadcast_dim: bool | None = None) -> DataFrame:
    """Stage-1 gazetteer tagging, fully distributed: turns(+tokens) →
    one row per mention with marked context (columns conv_id, turn_idx,
    entity_id, tokens, text, start, end, fine_cat, general_cat,
    mention_id, marked_text). The surface universe stays a DataFrame
    end-to-end — no driver-side collect — so KB-sized gazetteers
    (10⁷–10⁸ surfaces) tag the same way as small ones.

    Broadcast policy: gazetteer-sized dims join fastest broadcast, but a
    KB-sized surface set (10⁷–10⁸ rows) must NOT be force-broadcast — it
    would OOM driver and executors. `broadcast_dim=None` (default)
    probes the DISTINCT surface count (what is actually broadcast — a
    duplicated-but-small gazetteer must not lose the hint) with a
    short-circuiting limit scan and hints broadcast only up to
    BROADCAST_MAX_SURFACES; above it the join is left to
    AQE/autoBroadcastJoinThreshold (shuffle hash join on `_first_tok`
    at KB scale). The probe costs one Spark job per call — repeated
    callers should decide once and pass True/False (build_dims derives
    the decision for free via an Observation on the dim materialization
    and run_pipeline threads it through). To tag many frames against
    one gazetteer, build `surface_dim` once and call `tag_with_dim`.
    """
    if broadcast_dim is None:
        broadcast_dim = (
            surfaces_df.select("surface").distinct()
            .limit(BROADCAST_MAX_SURFACES + 1).count()
            <= BROADCAST_MAX_SURFACES
        )
    dim = surface_dim(surfaces_df)
    return tag_with_dim(turns, F.broadcast(dim) if broadcast_dim else dim)


def tag_with_dim(turns: DataFrame, dim: DataFrame) -> DataFrame:
    """detect_mentions_join against a prebuilt `surface_dim` (broadcast-
    hinted or not by the caller).

    Plan: posexplode turn tokens → join the surface dim on the first
    surface token (prunes to candidate starts) → verify the full token
    slice as a column expression → per-turn greedy longest-match
    resolution (matches sorted by (start asc, len desc), folded
    left-to-right: accept iff start ≥ previous accepted end — exactly
    the _tag_tokens scan order) → posexplode the accepted spans, in
    turn order, as entity ids (group_spans' enumeration) → Q2
    [START]/[END] marking (run_genre.py:203-213). The only shuffle is
    the per-turn groupBy, keyed on (conv_id, turn_idx). `turns` is read
    twice (token explode and join-back): callers materialize it first.
    """
    cand = (
        turns.select(
            "conv_id", "turn_idx", "tokens",
            F.posexplode("tokens").alias("pos", "_first_tok"),
        )
        .join(dim, "_first_tok")
        .filter(F.expr("slice(tokens, pos + 1, s_len) = s_toks"))
        .select("conv_id", "turn_idx", "pos", "s_len")
    )
    # greedy longest-match fold per turn (deterministic: start asc,
    # len desc — first match at a position is the longest)
    resolved = (
        cand.groupBy("conv_id", "turn_idx")
        .agg(F.array_sort(F.collect_list(
            F.struct("pos", (-F.col("s_len")).alias("neg_len")))).alias("ms"))
        .withColumn("spans_pos", F.expr(
            "aggregate(ms,"
            " struct(0 as nxt, cast(array() as array<struct<s:int,e:int>>) as acc),"
            " (st, m) -> if(m.pos >= st.nxt,"
            "   struct(m.pos - m.neg_len as nxt,"
            "          array_append(st.acc,"
            "            struct(m.pos as s, m.pos - m.neg_len as e)) as acc),"
            "   st),"
            " st -> st.acc)"
        ))
        .select("conv_id", "turn_idx", "spans_pos")
    )
    m = (
        turns.join(resolved, ["conv_id", "turn_idx"], "inner")
        .select(
            "conv_id", "turn_idx", "tokens",
            F.posexplode("spans_pos").alias("entity_id", "sp"),
        )
        .select(
            "conv_id", "turn_idx", "entity_id", "tokens",
            F.concat_ws(
                " ", F.expr("slice(tokens, sp.s + 1, sp.e - sp.s)")
            ).alias("text"),
            F.col("sp.s").alias("start"),
            F.col("sp.e").alias("end"),
            F.lit("ENTITY").alias("fine_cat"),
            F.lit("ENTITY").alias("general_cat"),
        )
        .withColumn(
            "mention_id",
            F.concat_ws("/", F.col("conv_id"), F.col("turn_idx"), F.col("entity_id")),
        )
    )
    return m.withColumn(
        "marked_text",
        mark_context(F.col("tokens"), F.col("start"), F.col("end")),
    )


def mark_context(tokens_col, start_col, end_col, start_tok="[START]", end_tok="[END]"):
    """Standalone Q2 expression (classification variant uses
    [START_ENT]/[END_ENT] — dataset.py:40-48)."""
    return F.concat_ws(
        " ",
        F.concat(
            F.slice(tokens_col, F.lit(1), start_col),
            F.array(F.lit(start_tok)),
            F.slice(tokens_col, start_col + 1, end_col - start_col),
            F.array(F.lit(end_tok)),
            F.slice(tokens_col, end_col + 1,
                    F.greatest(F.size(tokens_col) - end_col, F.lit(0))),
        ),
    )


def context_window(turns: DataFrame, k: int = 2) -> DataFrame:
    """W4 cross-turn context: ±k turns of text per turn (generalizes the
    reference's single-sentence context, run_genre.py:206-212)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(-k, k)
    return turns.withColumn("context_texts", F.collect_list("text").over(w))
