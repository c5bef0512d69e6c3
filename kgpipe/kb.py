"""KB dimension builders + lookup joins (SURVEY.md §2.4 J1-J4, §2.5 A3-A5).

The reference holds these as multi-GB pickled Python dicts
(preprocess_wikidata.py:175-251, preprocess_mention_dicts.py:73-148);
here each is a columnar dim table built declaratively from `entity_kb`,
small enough to broadcast — exactly how the reference holds them fully
in RAM (README.md:151-153). At 10^12-turn scale the *fact* side grows;
these dims stay broadcast-sized, so every lookup below remains a
broadcast hash join with zero shuffle on the fact table.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgpipe.schemas import LANGUAGES2SAVE, PROPS

DISAMBIG_DESCRIPTIONS = ["Wikimedia disambiguation page", "Wikimedia list article"]

# 14-QID P31/P279 blocklist of page-less wikidata classes
# (preprocess_wikidata.py:22-38)
NOPAGE = [
    "Q4167836", "Q24046192", "Q20010800", "Q11266439", "Q11753321",
    "Q19842659", "Q21528878", "Q17362920", "Q14204246", "Q21025364",
    "Q17442446", "Q26267864", "Q4663903", "Q15184295",
]


def compress_wikidata_dump(raw: DataFrame) -> DataFrame:
    """S3 wikidata dump compress (preprocess_wikidata.py:80-135): from a
    raw dump-shaped frame (qid, labels, descriptions, sitelinks,
    aliases, instance_of array, subclass_of array) keep only entity_kb
    columns, dropping NOPAGE-class items (P7) and items without
    sitelinks (P8). Declarative select/filter — at dump scale (1 TB
    jsonl) this is a single pruned scan with pushed filters."""
    nopage = F.array(*[F.lit(q) for q in NOPAGE])
    classes = F.concat(
        F.coalesce(F.col("instance_of"), F.expr("array()").cast("array<string>")),
        F.coalesce(F.col("subclass_of"), F.expr("array()").cast("array<string>")),
    )
    return (
        raw.filter(~F.arrays_overlap(classes, nopage))                 # P7
        .filter(F.size(F.map_keys(F.col("sitelinks"))) > 0)           # P8
        .select("qid", "labels", "descriptions", "sitelinks", "aliases")
    )


def exclude_pairs(train: DataFrame, test: DataFrame,
                  keys=("mention", "qid")) -> DataFrame:
    """J10 tr2016-style exclusion (preprocess_mgenre.py:140-144): drop
    training pairs present in the test set — left anti-join."""
    return train.join(test.select(*keys).distinct(), list(keys), "left_anti")


def qid_num(col):
    """Numeric part of a QID for the max-QID tiebreak (run_genre.py:283-285)."""
    return F.substring(col, 2, 18).cast("long")


def build_title_map(entity_kb: DataFrame) -> DataFrame:
    """sitelinks map → (lang, title, qid) rows
    (lang_title2wikidataID, preprocess_wikidata.py:195-197)."""
    return (
        entity_kb.select("qid", F.explode("sitelinks").alias("lang", "title"))
        .select("lang", "title", "qid")
        .distinct()
    )


def build_alias_map(entity_kb: DataFrame) -> DataFrame:
    """lowercased labels ∪ aliases → (alias_lc, qid)
    (label_or_alias2wikidataID, preprocess_wikidata.py:208-217)."""
    labels = entity_kb.select(
        F.explode(F.map_values("labels")).alias("l"), "qid"
    ).select(F.lower("l").alias("alias_lc"), "qid")
    aliases = entity_kb.select(
        F.explode(F.flatten(F.map_values("aliases"))).alias("a"), "qid"
    ).select(F.lower("a").alias("alias_lc"), "qid")
    return labels.unionByName(aliases).distinct()


def build_mention_counts(anchors: DataFrame) -> DataFrame:
    """A3 mention/QID co-occurrence counts over anchor rows
    (mention, qid) → cnt (preprocess_mention_dicts.py:106-108)."""
    return anchors.groupBy("mention", "qid").agg(F.count("*").alias("cnt"))


def build_lang_priority(anchors_with_lang: DataFrame) -> DataFrame:
    """A4 per-QID language priority: langs ranked by (per-QID count,
    global lang count) desc (preprocess_mention_dicts.py:110-127).
    Input rows: (qid, lang). Output: (qid, langs array<string>)."""
    per_qid = anchors_with_lang.groupBy("qid", "lang").agg(F.count("*").alias("cnt"))
    global_cnt = per_qid.groupBy("lang").agg(F.sum("cnt").alias("total"))
    joined = per_qid.join(F.broadcast(global_cnt), "lang")
    return (
        joined.groupBy("qid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    (-F.col("total")).alias("neg_total"),
                    F.col("lang"),
                ))
            ).alias("ranked")
        )
        .select("qid", F.expr("transform(ranked, x -> x.lang)").alias("langs"))
    )


def build_canonical_titles(entity_kb: DataFrame, lang_priority: DataFrame,
                           allowed_langs=None) -> DataFrame:
    """A5 canonical (lang, title) per QID: first language in the priority
    list with a sitelink (preprocess_tries.py:153-193)."""
    allowed = allowed_langs or LANGUAGES2SAVE
    titles = entity_kb.select("qid", F.explode("sitelinks").alias("lang", "title"))
    pr = lang_priority.select(
        "qid", F.posexplode("langs").alias("lang_rank", "lang")
    ).filter(F.col("lang").isin(allowed))
    cand = titles.join(pr, ["qid", "lang"])
    return cand.groupBy("qid").agg(
        F.min_by(F.struct("lang", "title"), "lang_rank").alias("c")
    ).select("qid", F.col("c.lang").alias("lang"), F.col("c.title").alias("title"))


def build_kb_context(entity_kb: DataFrame, kb_args: DataFrame,
                     langs=None) -> DataFrame:
    """The materialized form of the reference's wikidata/argument JSON
    caches (get_wikidata.py:34-72): per QID — language-projected
    descriptions (P9), ordered argument label maps (J6 expansion via the
    kb_args edge table), and 'titles' (= wikidata *labels*; the reference
    reads item.attributes['labels'] as wikipedia_titles,
    get_wikidata.py:157-164). Disambiguation/list pages are blanked
    (P6, get_wikidata.py:131-141)."""
    langs = langs or LANGUAGES2SAVE
    langs_arr = F.array(*[F.lit(l) for l in langs])
    keep = lambda col: F.map_filter(col, lambda k, _: F.array_contains(langs_arr, k))

    is_disambig = reduce(
        lambda a, b: a | b,
        [
            F.array_contains(F.map_values("descriptions"), F.lit(d))
            for d in DISAMBIG_DESCRIPTIONS
        ],
    )

    # argument labels: kb_args edge → arg entity labels (2-hop expansion)
    arg_labels = (
        kb_args.alias("e")
        .join(F.broadcast(entity_kb.select(
            F.col("qid").alias("arg_qid"),
            F.col("labels").alias("arg_labels"))), "arg_qid")
        # reference ordering: P31 edges, then P106, then P279, each in
        # item order (get_wikidata.py:143-150)
        .withColumn("prop_rank",
                    F.array_position(F.array(*[F.lit(p) for p in PROPS]), F.col("prop")))
        .groupBy("qid")
        .agg(F.collect_list(F.struct(
            "prop_rank", "ord", "prop", "arg_qid",
            F.col("arg_labels").alias("labels"))).alias("arguments_raw"))
        # structs containing maps aren't natively orderable → explicit
        # comparator on (prop_rank, ord)
        .withColumn("arguments", F.expr(
            "array_sort(arguments_raw, (l, r) -> case"
            " when l.prop_rank < r.prop_rank then -1"
            " when l.prop_rank > r.prop_rank then 1"
            " when l.ord < r.ord then -1"
            " when l.ord > r.ord then 1 else 0 end)"
        ))
        .drop("arguments_raw")
    )

    ctx = (
        entity_kb.join(arg_labels, "qid", "left")
        .select(
            "qid",
            F.when(is_disambig, F.create_map()).otherwise(keep(F.col("descriptions")))
             .alias("descriptions"),
            F.when(is_disambig, F.array()).otherwise(
                F.coalesce(F.expr(
                    "transform(arguments, x -> struct(x.prop as prop,"
                    " x.arg_qid as arg_qid, x.labels as labels))"
                ), F.array())
            ).alias("arguments"),
            F.when(is_disambig, F.create_map()).otherwise(keep(F.col("labels")))
             .alias("titles"),
            is_disambig.alias("is_disambig"),
        )
    )
    return ctx


def resolve_redirect_closure(redirects: DataFrame, max_hops: int = 10) -> DataFrame:
    """J2 bounded redirect chase as a one-shot closure precompute:
    iterate `final = redirects[final]` up to max_hops, exactly mirroring
    the while-loop bound at GENRE/genre/utils.py:454-459 (so a 2-cycle
    terminates at the parity the loop would reach). Output:
    (lang, src_title, final_title).

    Each hop is a broadcast self-join; the redirect dim is
    broadcast-sized, so the closure costs max_hops map-side joins and
    no shuffle. canonical.connected_components is the unbounded,
    undirected counterpart; the bounded unroll keeps exact reference
    parity for cycles.
    """
    cur = redirects.select(
        "lang", "src_title", F.col("dst_title").alias("final_title")
    )
    hop = F.broadcast(redirects.select(
        F.col("lang").alias("h_lang"),
        F.col("src_title").alias("h_src"),
        F.col("dst_title").alias("h_dst"),
    ))
    for _ in range(max_hops - 1):
        cur = (
            cur.join(
                hop,
                (cur["lang"] == hop["h_lang"]) & (cur["final_title"] == hop["h_src"]),
                "left",
            )
            .select(
                "lang", "src_title",
                F.coalesce("h_dst", "final_title").alias("final_title"),
            )
        )
    return cur


def resolve_titles(df: DataFrame, title_map: DataFrame,
                   lang_col: str = "lang", title_col: str = "title") -> DataFrame:
    """J1 title→QID with max-numeric-QID tiebreak (run_genre.py:281-285):
    broadcast join + max_by. Adds column `resolved_qid` (null if no hit)."""
    tm = F.broadcast(title_map.select(
        F.col("lang").alias("_tm_lang"), F.col("title").alias("_tm_title"), "qid"
    ))
    joined = df.join(
        tm,
        (F.col(lang_col) == F.col("_tm_lang")) & (F.col(title_col) == F.col("_tm_title")),
        "left",
    )
    keys = [c for c in df.columns]
    return (
        joined.groupBy(*keys)
        .agg(F.max_by("qid", qid_num(F.col("qid"))).alias("resolved_qid"))
    )


def resolution_cascade(anchors: DataFrame, title_map: DataFrame,
                       redirect_closure: DataFrame, alias_map: DataFrame) -> DataFrame:
    """J4 3-way cascade with provenance (get_wikidata_ids,
    GENRE/genre/utils.py:470-488), faithful to the reference's actual
    control flow:

    1. search_simple (utils.py:439-450): http anchors and anchors that
       normalize to "" short-circuit with provenance 'simple' and NO
       qids. Its title probe is a dead branch (it probes the
       label_or_alias dict with a (lang,title) tuple that can never be
       a key), so 'simple' never resolves anything — but its
       NORMALIZATION is load-bearing: unquote(anchor), split('#')[0],
       '_'→' ', first-char uppercase.
    2. search_wikipedia (utils.py:453-463): redirect-chase the
       normalized title (≤10 hops — the precomputed closure), THEN
       probe the title map with the chased title → 'wikipedia'.
    3. search_wikidata (utils.py:466-467): probe the alias map with
       lower(chased title) → 'wikidata' (even when the probe is empty,
       matching the reference's unconditional last return).

    Input rows: (lang, anchor, ...). Adds resolved_qids (the full QID
    set, numerically sorted), resolved_qid (max-numeric-QID tiebreak,
    J1 convention), provenance.
    """
    base_cols = anchors.columns
    # Python's unquote leaves '+' intact; the JVM url_decode would turn
    # it into a space — protect it. Invalid %-sequences → NULL → keep
    # the raw anchor (Python leaves them as-is).
    unq = F.coalesce(
        F.expr("try_url_decode(replace(anchor, '+', '%2B'))"), F.col("anchor")
    )
    norm = F.replace(F.substring_index(unq, "#", 1), F.lit("_"), F.lit(" "))
    a = (
        anchors
        .withColumn("_norm", norm)
        .withColumn("_skip",
                    F.col("anchor").contains("http") | (F.col("_norm") == ""))
        .withColumn(
            "chase_key",
            F.when(
                ~F.col("_skip"),
                F.concat(F.upper(F.substring("_norm", 1, 1)),
                         F.expr("substring(_norm, 2)")),
            ),
        )
        .drop("_norm")
    )

    # redirect chase FIRST (every non-skipped anchor is chased because
    # search_simple never matches), then the title probe on the chased
    # title
    chased = a.join(
        F.broadcast(redirect_closure.select(
            "lang", F.col("src_title").alias("chase_key"), "final_title")),
        ["lang", "chase_key"], "left",
    ).withColumn(
        "chase_title", F.coalesce("final_title", "chase_key")
    ).drop("final_title", "chase_key")

    tm = F.broadcast(title_map)
    wiki = chased.join(
        tm.withColumnRenamed("title", "chase_title"),
        ["lang", "chase_title"], "left",
    ).groupBy(*chased.columns).agg(
        F.collect_set("qid").alias("wiki_qids")
    )

    # rename the alias qid: alias_map and title_map usually share
    # lineage (both built from entity_kb), which trips the ambiguous-
    # self-join check otherwise
    am = F.broadcast(alias_map.select(
        "alias_lc", F.col("qid").alias("_alias_qid")))
    final = wiki.join(
        am, F.lower(wiki["chase_title"]) == am["alias_lc"], "left"
    ).groupBy(*wiki.columns).agg(
        F.collect_set("_alias_qid").alias("alias_qids")
    )

    picked = (
        F.when(F.col("_skip"), F.array().cast("array<string>"))
        .when(F.size("wiki_qids") > 0, F.col("wiki_qids"))
        .otherwise(F.col("alias_qids"))
    )
    qids_sorted = F.expr(
        "array_sort(_picked, (l, r) -> case"
        " when cast(substring(l, 2, 18) as long)"
        "    < cast(substring(r, 2, 18) as long) then -1"
        " when cast(substring(l, 2, 18) as long)"
        "    > cast(substring(r, 2, 18) as long) then 1 else 0 end)"
    )
    return (
        final.withColumn("_picked", picked)
        .withColumn("resolved_qids", qids_sorted)
        .select(
            *base_cols,
            "resolved_qids",
            # try_element_at: empty set → null (ANSI element_at throws)
            F.expr("try_element_at(resolved_qids, -1)").alias("resolved_qid"),
            F.when(F.col("_skip"), F.lit("simple"))
            .when(F.size("wiki_qids") > 0, F.lit("wikipedia"))
            .otherwise(F.lit("wikidata"))
            .alias("provenance"),
        )
    )
