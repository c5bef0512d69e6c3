"""Property-based tests (hypothesis) over the pure-Python kernels.

The example-based tests pin the reference's documented cases; these
pin the ALGEBRA — invariants that must hold for every input the
operators can see at corpus scale, where hand-picked examples cannot
cover the tail. All properties run without a Spark session, so the
whole module is cheap (~seconds).

Reference semantics under test:
- tag_encoding.py:4-164 scheme rewrites (via kgpipe.tags)
- eval_utils.py:47-69 gap merge (via kgpipe.tags)
- tags2tsv.py:26-29 prediction repair (via kgpipe.tags)
- utils.py:96-144 markup->BIO, utils.py:267-321 subfinder
  (via kgpipe.seq_compat)
- preprocess_mention_dicts.py:97-104 normalization
  (via kgpipe.candidates)
"""
from __future__ import annotations

import pytest
from hypothesis import given, strategies as st

from kgpipe.candidates import normalize_mention
from kgpipe.seq_compat import markup_to_bio, subfinder
from kgpipe.tags import (
    merge_gap_tags,
    pad_predictions,
    to_bilou,
    to_iob,
    to_iob2,
)

# ----------------------------------------------------------- tag schemes

TYPES = ["PER", "LOC"]
# arbitrary (including broken: orphan I-, dangling L-, U- mid-span)
tag_seqs = st.lists(
    st.sampled_from(
        ["O"] + [f"{p}-{t}" for p in "BILU" for t in TYPES]),
    max_size=12,
)


def iob2_spans(tags):
    """Independent decoder for canonical IOB2: spans as (start, end, t)."""
    spans, i = set(), 0
    while i < len(tags):
        if tags[i].startswith("B-"):
            t = tags[i][2:]
            j = i + 1
            while j < len(tags) and tags[j] == f"I-{t}":
                j += 1
            spans.add((i, j, t))
            i = j
        else:
            assert tags[i] == "O", f"non-canonical IOB2 tag {tags[i]}"
            i += 1
    return spans


def bilou_spans(tags):
    """Independent decoder for canonical BILOU."""
    spans, i = set(), 0
    while i < len(tags):
        tag = tags[i]
        if tag.startswith("U-"):
            spans.add((i, i + 1, tag[2:]))
            i += 1
        elif tag.startswith("B-"):
            t = tag[2:]
            j = i + 1
            while j < len(tags) and tags[j] == f"I-{t}":
                j += 1
            assert j < len(tags) and tags[j] == f"L-{t}", \
                f"B- span without L- at {i}: {tags}"
            spans.add((i, j + 1, t))
            i = j + 1
        else:
            assert tag == "O", f"non-canonical BILOU tag {tag} at {i}"
            i += 1
    return spans


@given(tag_seqs)
def test_rewrites_preserve_length(tags):
    for fn in (to_iob, to_iob2, to_bilou):
        assert len(fn(tags)) == len(tags)


@given(tag_seqs)
def test_to_iob2_idempotent(tags):
    once = to_iob2(tags)
    assert to_iob2(once) == once


@given(tag_seqs)
def test_to_bilou_idempotent(tags):
    once = to_bilou(tags)
    assert to_bilou(once) == once


@given(tag_seqs)
def test_iob2_and_bilou_encode_identical_spans(tags):
    # the two canonicalizations must agree on WHICH spans exist —
    # decoded by two independent decoders, not by the code under test
    assert iob2_spans(to_iob2(tags)) == bilou_spans(to_bilou(tags))


@given(tag_seqs)
def test_iob1_roundtrip_preserves_spans(tags):
    # IOB1 is a lossless re-encoding: converting the canonical IOB2
    # form to IOB1 and back recovers the exact same tag sequence
    canon = to_iob2(tags)
    assert to_iob2(to_iob(canon)) == canon


@given(tag_seqs)
def test_merge_gap_tags_only_fills_gaps(tags):
    out = merge_gap_tags(tags)
    assert len(out) == len(tags)
    for i, (a, b) in enumerate(zip(tags, out)):
        if a == b:
            continue
        # every change fills an O between same-type span tokens
        assert a == "O" and b == tags[i + 1]
        assert tags[i - 1][:1] in "BI" and tags[i + 1][:1] == "I"
        assert tags[i - 1].split("-")[-1] == tags[i + 1].split("-")[-1]


@given(tag_seqs, st.integers(min_value=0, max_value=20))
def test_pad_predictions_contract(preds, extra):
    gold_len = len(preds) + extra
    out = pad_predictions(preds, gold_len)
    assert len(out) == gold_len
    assert out[:len(preds)] == preds
    assert all(t == "O" for t in out[len(preds):])
    if preds:
        with pytest.raises(ValueError):
            pad_predictions(preds, len(preds) - 1)


# ------------------------------------------------------- normalization

@given(st.text(max_size=40))
def test_normalize_mention_idempotent(text):
    once = normalize_mention(text)
    assert normalize_mention(once) == once


# ---------------------------------------------------- markup -> BIO

words_st = st.lists(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=6),
    min_size=1, max_size=8)


@st.composite
def sentences_with_spans(draw):
    """Random words partitioned into O-runs and labelled spans."""
    words = draw(words_st)
    labels, tags, i = ["Person", "Location"], [], 0
    pieces = []
    while i < len(words):
        span_len = draw(st.integers(min_value=0, max_value=3))
        span_len = min(span_len, len(words) - i)
        if span_len == 0:
            pieces.append(words[i])
            tags.append("O")
            i += 1
        else:
            lab = draw(st.sampled_from(labels))
            chunk = words[i:i + span_len]
            pieces.append(f"<{lab}>{' '.join(chunk)}</{lab}>")
            tags.extend([f"B-{lab}"] + [f"I-{lab}"] * (span_len - 1))
            i += span_len
    return " ".join(pieces), words, tags, labels


@given(sentences_with_spans())
def test_markup_to_bio_roundtrip(case):
    text, words, tags, labels = case
    got_words, got_tags = markup_to_bio(text, labels)
    assert got_words == words
    assert got_tags == tags


# ----------------------------------------------------------- subfinder

token_st = st.text(alphabet="abcXY", min_size=1, max_size=4)


@given(st.lists(token_st, max_size=8), st.lists(token_st, max_size=8),
       st.lists(token_st, min_size=1, max_size=3))
def test_subfinder_finds_planted_pattern(prefix, suffix, pattern):
    tokens = prefix + pattern + suffix
    hits = subfinder(tokens, pattern)
    # the exact-scan pass is exhaustive, so the planted offset is a hit
    # and every reported hit really matches
    assert len(prefix) in hits
    for h in hits:
        assert tokens[h:h + len(pattern)] == pattern


@given(st.lists(token_st, max_size=8), st.lists(token_st, min_size=1,
                                                max_size=3))
def test_subfinder_tag_gate_blocks_covered_hits(tokens, pattern):
    # with every position non-O, the tags= gate rejects every position
    # in BOTH the exact pass and the normalized fallback (the fallback
    # list is never longer than the tag list), so nothing can match
    assert subfinder(tokens, pattern, tags=["B-PER"] * len(tokens)) == []


# ------------------------------------------------- hostload helpers

def test_cpu_jiffies_contract():
    from kgpipe.hostload import cpu_jiffies

    s0, t0 = cpu_jiffies()
    s1, t1 = cpu_jiffies()
    assert isinstance(s0, int) and isinstance(t0, int)
    # counters are cumulative since boot: monotone, steal <= total
    assert 0 <= s0 <= t0
    assert s1 >= s0 and t1 >= t0


def test_load_probe_positive():
    from kgpipe.hostload import load_probe_gbps

    assert load_probe_gbps(16) > 0
