"""Evaluation suite (SURVEY.md §2.5 A6-A14): confusion counts,
span-level P/R/F1 (strong/weak), recall@k, per-word error dictionaries,
multi-seed tables, data-quality ratios — each as a declarative plan.
Reference analogs cited per function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def align_gold_pred(gold: DataFrame, pred: DataFrame) -> DataFrame:
    """J8 gold/pred alignment (eval_utils.py:171-270 create_eval_file):
    token rows (sentence_id, token_idx, word, tag) from two sources,
    full-outer joined on position; missing predictions padded 'O'.
    Output: (sentence_id, token_idx, word, gold_tag, pred_tag)."""
    g = gold.select("sentence_id", "token_idx", "word",
                    F.col("tag").alias("gold_tag"))
    p = pred.select("sentence_id", "token_idx",
                    F.col("tag").alias("pred_tag"))
    return (
        g.join(p, ["sentence_id", "token_idx"], "full_outer")
        .withColumn("pred_tag", F.coalesce("pred_tag", F.lit("O")))
        .withColumn("gold_tag", F.coalesce("gold_tag", F.lit("O")))
    )


def confusion_long(df: DataFrame, true_col: str = "true_label",
                   pred_col: str = "pred_label") -> DataFrame:
    """A6 confusion counts (run_text_classification.py:39-63): one
    (true, pred, n) row per pair, a stable schema for oracle comparison."""
    return df.groupBy(true_col, pred_col).agg(F.count("*").alias("n"))


def span_prf(pred: DataFrame, gold: DataFrame, mode: str = "strong") -> dict:
    """A8 micro P/R/F1 over span tuples (GENRE/genre/utils.py:284-346).
    Inputs: (doc_id, start, length, label) rows. strong = exact tuple;
    weak = same doc+label with boundary overlap."""
    p = pred.select("doc_id", "start", "length", "label").distinct().cache()
    g = gold.select("doc_id", "start", "length", "label").distinct().cache()
    n_pred, n_gold = p.count(), g.count()
    if mode == "strong":
        tp = p.join(g, ["doc_id", "start", "length", "label"]).count()
    else:  # weak: pred start or end falls inside the gold span
        gg = g.select(
            "doc_id", F.col("start").alias("g_start"),
            F.col("length").alias("g_len"), "label",
        )
        tp = (
            p.join(gg, ["doc_id", "label"])
            .filter(
                ((F.col("g_start") <= F.col("start"))
                 & (F.col("start") <= F.col("g_start") + F.col("g_len")))
                | ((F.col("g_start") <= F.col("start") + F.col("length"))
                   & (F.col("start") + F.col("length")
                      <= F.col("g_start") + F.col("g_len")))
            )
            .count()
        )
    precision = tp / n_pred if n_pred else 0.0
    recall = tp / n_gold if n_gold else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1,
            "tp": tp, "n_pred": n_pred, "n_gold": n_gold}


def recall_at_k(df: DataFrame, ks=(1, 10),
                pred_col: str = "genre_prediction",
                gold_col: str = "gold_qid") -> DataFrame:
    """A10 (evaluate_mel.py:28-66): rank of first correct QID in the
    ranked prediction list → micro R@k."""
    pos = df.select(
        (F.array_position(F.col(pred_col), F.col(gold_col))).alias("rank1")
    )
    aggs = [
        F.round(
            F.avg(F.when((F.col("rank1") >= 1) & (F.col("rank1") <= k), 1.0)
                  .otherwise(0.0)), 6
        ).alias(f"r_at_{k}")
        for k in ks
    ]
    return pos.agg(*aggs)


def el_running_metrics(df: DataFrame, pred_col: str = "genre_prediction",
                       gold_col: str = "gold_qids") -> DataFrame:
    """A9 (evaluate_kilt_dataset.py:204-222): hit = pred∩gold nonempty."""
    return df.select(
        F.when(F.arrays_overlap(F.col(pred_col), F.col(gold_col)), 1.0)
        .otherwise(0.0).alias("hit")
    ).agg(F.round(F.avg("hit"), 6).alias("accuracy"), F.count("*").alias("n"))


def per_word_errors(df: DataFrame) -> DataFrame:
    """A7 (eval_utils.py:274-364): per surface form TP/FP/FN/TN counts
    from token rows (word, gold_tag, pred_tag), sorted by fp+fn desc."""
    agg = df.groupBy("word").agg(
        F.sum(F.when((F.col("gold_tag") != "O")
                     & (F.col("gold_tag") == F.col("pred_tag")), 1)
              .otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("gold_tag") == "O")
                     & (F.col("pred_tag") != "O"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("gold_tag") != "O")
                     & (F.col("pred_tag") != F.col("gold_tag")), 1)
              .otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("gold_tag") == "O")
                     & (F.col("pred_tag") == "O"), 1).otherwise(0)).alias("tn"),
    )
    return agg.orderBy((F.col("fp") + F.col("fn")).desc(), F.col("word").asc())


def per_class_report(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """seqeval classification_report semantics (eval_utils.py:110-155):
    per entity class, span-level precision/recall/F1/support (exact
    (doc_id, start, length, label) tuple match = seqeval's strict span
    equality), plus '_micro' (pooled counts) and '_macro' (unweighted
    class mean) rows. Inputs: (doc_id, start, length, label) span rows.

    One inner join on the span tuple + three small groupBys — the whole
    report is a handful of broadcastable aggregates at any corpus size.
    """
    p = pred.select("doc_id", "start", "length", "label").distinct()
    g = gold.select("doc_id", "start", "length", "label").distinct()
    tp = (
        p.join(g, ["doc_id", "start", "length", "label"])
        .groupBy("label").agg(F.count("*").alias("tp"))
    )
    pc = p.groupBy("label").agg(F.count("*").alias("n_pred"))
    gc = g.groupBy("label").agg(F.count("*").alias("n_gold"))
    per = (
        gc.join(pc, "label", "full_outer").join(tp, "label", "left")
        .na.fill(0, ["tp", "n_pred", "n_gold"])
        .select(
            "label", "tp", "n_pred", "n_gold",
            F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred"))
            .otherwise(F.lit(0.0)).alias("precision"),
            F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold"))
            .otherwise(F.lit(0.0)).alias("recall"),
        )
        .withColumn(
            "f1",
            F.when(F.col("precision") + F.col("recall") > 0,
                   2 * F.col("precision") * F.col("recall")
                   / (F.col("precision") + F.col("recall")))
            .otherwise(F.lit(0.0)),
        )
    )
    micro = per.agg(
        F.lit("_micro").alias("label"),
        F.sum("tp").alias("tp"), F.sum("n_pred").alias("n_pred"),
        F.sum("n_gold").alias("n_gold"),
    ).select(
        "label", "tp", "n_pred", "n_gold",
        F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred"))
        .otherwise(F.lit(0.0)).alias("precision"),
        F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold"))
        .otherwise(F.lit(0.0)).alias("recall"),
    ).withColumn(
        "f1",
        F.when(F.col("precision") + F.col("recall") > 0,
               2 * F.col("precision") * F.col("recall")
               / (F.col("precision") + F.col("recall")))
        .otherwise(F.lit(0.0)),
    )
    macro = per.agg(
        F.lit("_macro").alias("label"),
        F.sum("tp").alias("tp"), F.sum("n_pred").alias("n_pred"),
        F.sum("n_gold").alias("n_gold"),
        F.avg("precision").alias("precision"), F.avg("recall").alias("recall"),
        F.avg("f1").alias("f1"),
    )
    return (
        per.unionByName(micro).unionByName(macro)
        .select(
            "label",
            F.round("precision", 6).alias("precision"),
            F.round("recall", 6).alias("recall"),
            F.round("f1", 6).alias("f1"),
            F.col("n_gold").cast("long").alias("support"),
        )
    )


def token_accuracy(df: DataFrame) -> DataFrame:
    """conlleval-style token-level accuracy (conlleval:1-20 vendored
    scorer) over aligned (gold_tag, pred_tag) token rows."""
    return df.agg(
        F.round(F.avg(F.when(F.col("gold_tag") == F.col("pred_tag"), 1.0)
                      .otherwise(0.0)), 6).alias("token_accuracy"),
        F.count("*").alias("n_tokens"),
    )


def multi_seed_table(df: DataFrame, min_f1: float = 5.0) -> DataFrame:
    """A11 (eval_utils.py:408-527): mean/stdev of metrics over seed runs,
    dropping outliers with f1 < min_f1. Input rows:
    (dataset, seed, f1, precision, recall)."""
    return (
        df.filter(F.col("f1") >= min_f1)
        .groupBy("dataset")
        .agg(
            F.round(F.avg("f1"), 6).alias("f1_mean"),
            F.round(F.coalesce(F.stddev_samp("f1"), F.lit(0.0)), 6).alias("f1_std"),
            F.round(F.avg("precision"), 6).alias("p_mean"),
            F.round(F.avg("recall"), 6).alias("r_mean"),
            F.count("*").alias("n_runs"),
        )
    )


def anchors_solved_ratio(df: DataFrame, ids_col: str = "qids") -> DataFrame:
    """A13 (preprocess_anchors.py:157-171): fraction of anchors resolved
    to exactly one QID — per-partition data-quality metric."""
    return df.agg(
        F.round(
            F.sum(F.when(F.size(F.col(ids_col)) == 1, 1).otherwise(0))
            / F.count("*"), 6
        ).alias("solved_ratio"),
        F.count("*").alias("n_anchors"),
    )


def global_lang_frequency(df: DataFrame, langs_col: str = "langs") -> DataFrame:
    """A14 (preprocess_tries.py:146-151): Counter over all priority
    lists → lang frequency desc."""
    return (
        df.select(F.explode(F.col(langs_col)).alias("lang"))
        .groupBy("lang").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("lang").asc())
    )


def relaxed_overlap_matrix(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """A12 (relax_seqeval.py:88-231, relaxed): gold_type×pred_type counts
    for token-overlapping span pairs. Inputs: (doc_id, start, end, label)."""
    g = gold.select(
        "doc_id", F.col("start").alias("g_s"), F.col("end").alias("g_e"),
        F.col("label").alias("gold_type"),
    )
    p = pred.select(
        "doc_id", F.col("start").alias("p_s"), F.col("end").alias("p_e"),
        F.col("label").alias("pred_type"),
    )
    overlap = (F.col("p_s") < F.col("g_e")) & (F.col("g_s") < F.col("p_e"))
    return (
        g.join(p, "doc_id").filter(overlap)
        .groupBy("gold_type", "pred_type").agg(F.count("*").alias("n"))
    )
