"""Sequence-compat operators (SURVEY.md §2.3 Q4/Q5/Q6): markup→BIO decode
for seq2seq-style outputs, token-subsequence search with a
normalization fallback, and subword label alignment. Pure per-row
functions; Q6 alignment also has Arrow-batched UDF wrappers (q41).
Only needed for interop with the reference's auxiliary formats
(utils.py:96-144, :267-321, run_ner.py:454-487).
"""

from __future__ import annotations

import re
import string
from typing import List, Optional, Tuple

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

_PUNCT_TABLE = str.maketrans("", "", string.punctuation)


def _split_markup(tag_regex: re.Pattern, text: str) -> List[str]:
    """Whitespace-split while separating markup tags glued onto words
    (split_sentence semantics, utils.py:8-38). Emitted tags are wrapped
    so they aren't re-scanned; fragments re-enter the queue."""
    queue: List[object] = list(text.strip().split())
    out: List[str] = []
    while queue:
        w = queue.pop(0)
        if isinstance(w, tuple):  # already-extracted tag
            out.append(w[1])
            continue
        m = tag_regex.search(w)
        if not m:
            out.append(w)
            continue
        left, tag, right = w[: m.start()].strip(), m.group(0), w[m.end():].strip()
        items: List[object] = []
        if left:
            items.append(left)
        items.append(("tag", tag))
        if right:
            items.append(right)
        queue[:0] = items
    return out


def markup_to_bio(text: str, possible_labels: List[str]) -> Tuple[List[str], List[str]]:
    """Q4: '<Person>Obama</Person> went to <Location>New York</Location>'
    → (['Obama','went','to','New','York'],
       ['B-Person','O','O','B-Location','I-Location'])
    (labelled_sentence_2_iob2 semantics, utils.py:96-144)."""
    tag_regex = re.compile("</?(" + "|".join(map(re.escape, possible_labels)) + ")>")
    words: List[str] = []
    tags: List[str] = []
    inside, current, first = False, "", True
    for tok in _split_markup(tag_regex, text):
        m = tag_regex.match(tok)
        if m and m.group(0) == tok:
            if tok.startswith("</"):
                inside = False
            else:
                inside, current, first = True, tok[1:-1], True
        else:
            if inside:
                tags.append(("B-" if first else "I-") + current)
                first = False
            else:
                tags.append("O")
            words.append(tok)
    return words, tags


def subfinder(tokens: List[str], pattern: List[str],
              tags: Optional[List[str]] = None) -> List[int]:
    """Q5 token-subsequence search (utils.py:267-321 semantics): exact
    pass, then a lowercased punctuation-stripped fallback; with `tags`,
    matched positions must all be 'O'."""
    def scan(lst: List[str], pat: List[str], tg) -> List[int]:
        hits = []
        limit = len(lst) if tg is None else min(len(lst), len(tg))
        for i in range(limit):
            if lst[i] != pat[0]:
                continue
            if lst[i:i + len(pat)] != pat:
                continue
            if tg is not None and any(
                tg[j] != "O" for j in range(i, min(i + len(pat), len(tg)))
            ):
                continue
            hits.append(i)
        return hits

    if not pattern:
        return []
    hits = scan(tokens, pattern, tags)
    if hits:
        return hits
    norm_tokens = [t.lower().translate(_PUNCT_TABLE) for t in tokens]
    norm_tokens = [t for t in norm_tokens if t]
    norm_pattern = [p.lower().translate(_PUNCT_TABLE) for p in pattern]
    norm_pattern = [p for p in norm_pattern if p]
    if not norm_pattern or not norm_tokens:
        return []
    # note: after dropping empty tokens the positions refer to the
    # normalized list (reference behavior — utils.py:292-318)
    return scan(norm_tokens, norm_pattern, tags)


# ------------------------------------------------- Q6 subword alignment

IGNORE_LABEL = "-100"
SUBWORD_CHUNK = 4


def subword_pieces(word: str, chunk: int = SUBWORD_CHUNK) -> List[str]:
    """Deterministic subword tokenizer stand-in: fixed-width character
    chunks (the sandbox has no HF fast tokenizer; the alignment logic
    below is tokenizer-agnostic — it only consumes the pieces-per-word
    structure, exactly like word_ids())."""
    return [word[i:i + chunk] for i in range(0, len(word), chunk)] or [word]


def _b_to_i(label: str, label_list: Optional[List[str]] = None) -> str:
    """b_to_i_label semantics (run_ner.py:407-414): B-x → I-x, but only
    when the matching I-x exists in the label taxonomy (when one is
    given); everything else unchanged. label_list=None converts
    unconditionally (open taxonomy)."""
    if label.startswith("B-"):
        i_label = "I-" + label[2:]
        if label_list is None or i_label in label_list:
            return i_label
    return label


def align_from_pieces(pieces_per_word: List[List[str]], labels: List[str],
                      label_all_tokens: bool = False,
                      label_list: Optional[List[str]] = None,
                      ) -> Tuple[List[str], List[str]]:
    """Q6 alignment core over an EXTERNALLY-supplied tokenization: one
    piece list per word — exactly the structure a HF fast tokenizer's
    word_ids() induces (run_ner.py:454-487). Special tokens get -100;
    the first subtoken of each word gets the word's label; continuation
    subtokens get -100, or the B→I-converted label under
    label_all_tokens (conversion gated on label_list when given).

    A user with a real tokenizer plugs in here: materialize a
    `pieces array<array<string>>` column (one tokenizer call per word
    batch, outside Spark or in its own mapInPandas stage) and align it
    with this function."""
    subtokens, out = ["[CLS]"], [IGNORE_LABEL]
    for pieces, lab in zip(pieces_per_word, labels):
        pieces = list(pieces) or [""]
        subtokens.extend(pieces)
        out.append(lab)
        cont = (_b_to_i(lab, label_list) if label_all_tokens
                else IGNORE_LABEL)
        out.extend([cont] * (len(pieces) - 1))
    subtokens.append("[SEP]")
    out.append(IGNORE_LABEL)
    return subtokens, out


def align_subword_labels(words: List[str], labels: List[str],
                         label_all_tokens: bool = False,
                         chunk: int = SUBWORD_CHUNK,
                         label_list: Optional[List[str]] = None,
                         ) -> Tuple[List[str], List[str]]:
    """Q6 token/subword label alignment (run_ner.py:454-487
    tokenize_and_align_labels) with the deterministic chunk-tokenizer
    stand-in supplying the pieces; delegates to align_from_pieces."""
    return align_from_pieces(
        [subword_pieces(w, chunk) for w in words], labels,
        label_all_tokens=label_all_tokens, label_list=label_list)


_ALIGN_SCHEMA = StructType([
    StructField("subtokens", ArrayType(StringType())),
    StructField("aligned_labels", ArrayType(StringType())),
])


def align_subword_labels_udf(label_all_tokens: bool = False,
                             label_list: Optional[List[str]] = None):
    @F.pandas_udf(_ALIGN_SCHEMA)
    def udf(words: pd.Series, labels: pd.Series) -> pd.DataFrame:
        rows = [align_subword_labels(list(w), list(l), label_all_tokens,
                                     label_list=label_list)
                for w, l in zip(words, labels)]
        return pd.DataFrame(
            {"subtokens": [r[0] for r in rows],
             "aligned_labels": [r[1] for r in rows]})
    return udf
