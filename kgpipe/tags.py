"""Tag-sequence operators (SURVEY.md §2.2 P1, §2.3 Q7/Q8).

Re-implements the reference's tag-encoding semantics
(tag_encoding.py:4-164, eval_utils.py:47-69) from scratch. The
sequential dependency is *within* one row's label array, so these run
as Arrow-batched Series→Series pandas UDFs — vectorized transfer,
per-row pure-Python state machines, no cross-row state.
"""

from __future__ import annotations

from typing import List

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

# fine→general category projection (fine2general.py:4-59,
# category_dictionary.py:19-56). Static public label taxonomy of
# SemEval-2023 MultiCoNER2 — data, not code.
GENERAL2FINE = {
    "Location": ["Facility", "OtherLOC", "HumanSettlement", "Station"],
    "CreativeWork": ["VisualWork", "MusicalWork", "WrittenWork", "ArtWork",
                     "Software", "OtherCW"],
    "Group": ["MusicalGRP", "PublicCorp", "PrivateCorp", "OtherGRP",
              "AerospaceManufacturer", "SportsGRP", "CarManufacturer",
              "TechCorp", "ORG"],
    "Person": ["Scientist", "Artist", "Athlete", "Politician", "Cleric",
               "SportsManager", "OtherPER"],
    "Product": ["Clothing", "Vehicle", "Food", "Drink", "OtherPROD"],
    "Medical": ["Medication/Vaccine", "MedicalProcedure",
                "AnatomicalStructure", "Symptom", "Disease"],
}
FINE2GENERAL = {f: g for g, fs in GENERAL2FINE.items() for f in fs}
FINE_CATEGORIES = sorted(FINE2GENERAL)  # 36 classes


def _split_tag(tag: str) -> tuple[str, str]:
    if "-" not in tag:
        raise ValueError(f"cannot split tag {tag!r} into prefix and type")
    b, t = tag.split("-", 1)
    return b, t


def to_iob(tags: List[str]) -> List[str]:
    """IOB2/BILOU → IOB1: B only separates adjacent same-type spans
    (tag_encoding.py:4-29 semantics)."""
    out = []
    prev_b, prev_t = "O", ""
    for tag in tags:
        if tag == "O":
            out.append("O")
            prev_b, prev_t = "O", ""
            continue
        b, t = _split_tag(tag)
        if b in ("B", "U") and prev_b != "O" and prev_t == t:
            out.append(f"B-{t}")
        else:
            out.append(f"I-{t}")
        prev_b, prev_t = b, t
    return out


def to_iob2(tags: List[str]) -> List[str]:
    """IOB/BILOU (or broken sequences, e.g. orphan I-) → canonical IOB2:
    every span opens with B (tag_encoding.py:32-59 semantics)."""
    out = []
    prev_b, prev_t = "O", ""
    for tag in tags:
        if tag == "O":
            out.append("O")
            prev_b, prev_t = "O", ""
            continue
        b, t = _split_tag(tag)
        if b in ("B", "U") or prev_b == "O" or (prev_t != "" and prev_t != t):
            out.append(f"B-{t}")
        else:
            out.append(f"I-{t}")
        prev_b, prev_t = b, t
    return out


def to_bilou(tags: List[str]) -> List[str]:
    """IOB/IOB2 → BILOU (tag_encoding.py:62-151 semantics): normalize
    to IOB2 spans, then emit U for singletons, B..I..L otherwise."""
    iob2 = to_iob2(tags)
    out = list(iob2)
    n = len(out)
    i = 0
    while i < n:
        if out[i] == "O":
            i += 1
            continue
        t = out[i].split("-", 1)[1]
        j = i + 1
        while j < n and out[j] == f"I-{t}":
            j += 1
        if j - i == 1:
            out[i] = f"U-{t}"
        else:
            out[i] = f"B-{t}"
            for k in range(i + 1, j - 1):
                out[k] = f"I-{t}"
            out[j - 1] = f"L-{t}"
        i = j
    return out


def rewrite_labels(tags: List[str], encoding: str = "iob2") -> List[str]:
    """Dispatcher matching tag_encoding.py:154-164."""
    enc = encoding.lower()
    if enc == "iob":
        return to_iob(list(tags))
    if enc == "iob2":
        return to_iob2(list(tags))
    if enc == "bilou":
        return to_bilou(list(tags))
    raise NotImplementedError(f"encoding {encoding} not supported (iob/iob2/bilou)")


def merge_gap_tags(tags: List[str]) -> List[str]:
    """`B I O I` → `B I I I` gap filling, forward in-place so chains of
    alternating O/I close up (eval_utils.py:54-64 semantics)."""
    out = list(tags)
    for i in range(1, len(out) - 1):
        if (
            out[i] == "O"
            and (out[i - 1].startswith("B") or out[i - 1].startswith("I"))
            and out[i + 1].startswith("I")
            and out[i - 1].split("-")[-1] == out[i + 1].split("-")[-1]
        ):
            out[i] = out[i + 1]
    return out


def fix_tags(tags: List[str], encoding: str = "iob2", merge_tags: bool = False) -> List[str]:
    """eval_utils.py:47-69 semantics: optional gap merge, then rewrite."""
    out = merge_gap_tags(tags) if merge_tags else list(tags)
    return rewrite_labels(out, encoding)


def pad_predictions(preds: List[str], gold_len: int) -> List[str]:
    """Q7 prediction-length repair (tags2tsv.py:26-29): pad short with O,
    error when longer."""
    if len(preds) > gold_len:
        raise ValueError(f"predictions longer than gold: {len(preds)} > {gold_len}")
    return list(preds) + ["O"] * (gold_len - len(preds))


# ---------------------------------------------------------------- UDFs

def _array_udf(fn):
    @F.pandas_udf(ArrayType(StringType()))
    def udf(col: pd.Series) -> pd.Series:
        return col.map(lambda tags: fn(list(tags)))
    return udf


rewrite_iob2_udf = _array_udf(lambda t: rewrite_labels(t, "iob2"))
rewrite_iob_udf = _array_udf(lambda t: rewrite_labels(t, "iob"))
rewrite_bilou_udf = _array_udf(lambda t: rewrite_labels(t, "bilou"))
merge_gap_tags_udf = _array_udf(merge_gap_tags)
