"""Seeded-generator tests: determinism per seed, and the property each
workload was chosen for, checked on the generated input with the
pure-Python reference oracle (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parents[1])]

import gen  # noqa: E402
from workloads import (  # noqa: E402
    FILES_PER_TRIGGER, KgAmbiguous, KgDense, KgResume, StreamMentions,
)

from kgpipe import fixtures  # noqa: E402
from kgpipe.driver_queries import LEXICON  # noqa: E402
from kgpipe.mentions import _tag_tokens, build_gazetteer, group_spans  # noqa: E402
from kgpipe.oracle.reference_semantics import (  # noqa: E402
    OracleKB, accept_one, link_one,
)
from kgpipe.pipeline import IN_ROW_MAX_FANOUT  # noqa: E402


@pytest.fixture(scope="module")
def catalog():
    return fixtures.build_catalog(300)


@pytest.fixture(scope="module")
def kb(catalog):
    return OracleKB(catalog)


def _mentions(rows, kb):
    """(surface, context tokens) of every gazetteer mention in rows."""
    gaz = build_gazetteer(sorted(kb.surfaces))
    out = []
    for row in rows:
        tokens = row[3].split(" ")
        for span in group_spans(tokens, _tag_tokens(tokens, gaz)):
            out.append((span["text"], tokens))
    return out


def _fanout(surface, kb) -> int:
    return len(set(kb.mention_counts.get(surface, {}))
               | set(kb.mention_counts.get(surface.lower(), {})))


def test_same_seed_same_inputs(catalog):
    assert gen.dense_documents(3, 300, 5) == gen.dense_documents(3, 300, 5)
    assert gen.dense_documents(3, 300, 5) != gen.dense_documents(4, 300, 5)
    a = gen.ambiguous_conversations(3, 500, catalog)
    assert a == gen.ambiguous_conversations(3, 500, catalog)
    assert a != gen.ambiguous_conversations(4, 500, catalog)


def test_written_tables_repeat(tmp_path, catalog):
    convs = gen.ambiguous_conversations(5, 400, catalog)
    tables = []
    for d in ("a", "b"):
        (path,) = gen.write_transcripts(convs, str(tmp_path / d))
        tables.append(pq.read_table(path))
    assert tables[0].equals(tables[1])
    assert tables[0].num_rows == len(gen.flatten(convs))


def test_dense_fanout_one():
    # q_kg_triples links each LEXICON word to exactly one QID, so every
    # mention has fan-out 1 when mentions are exactly the lexicon tokens
    assert len(set(LEXICON)) == len(LEXICON)
    assert set(LEXICON) <= set(gen.DENSE_VOCAB)
    cols = gen.dense_documents(1, KgDense.N_TURNS, KgDense.N_SOURCES)
    tokens = [t for text in cols["text"] for t in text.split(" ")]
    n_mentions = sum(t in LEXICON for t in tokens)
    assert 1 <= IN_ROW_MAX_FANOUT
    assert 40 < len(tokens) / KgDense.N_TURNS < 70          # long turns
    assert n_mentions / KgDense.N_TURNS > 8                 # dense mentions
    assert len(set(cols["source"])) == KgDense.N_SOURCES    # few convs


def test_ambiguous_fanout_and_surfaces(catalog, kb):
    rows = gen.flatten(
        gen.ambiguous_conversations(1, KgAmbiguous.N_TURNS, catalog))
    mentions = _mentions(rows, kb)
    surfaces = Counter(s for s, _ in mentions)
    assert max(_fanout(s, kb) for s in surfaces) > IN_ROW_MAX_FANOUT
    assert len(surfaces) * 10 < len(mentions)


def test_ambiguous_de_and_en_fallback_acceptances(catalog, kb):
    rows = gen.flatten(
        gen.ambiguous_conversations(1, KgAmbiguous.N_TURNS, catalog))
    langs = Counter()
    for surface, tokens in _mentions(rows, kb):
        _qid, lang, *_ = accept_one(link_one(surface, tokens, kb), kb,
                                    language="de")
        langs[lang] += 1
    assert langs["de"] > 0
    assert langs["en"] > 0           # EN fallback
    assert langs[None] > 0           # sentinel


def test_resume_delta_is_new_conversations(catalog):
    base = gen.ambiguous_conversations(1, KgResume.N_BASE, catalog)
    delta = gen.ambiguous_conversations(1, KgResume.N_DELTA, catalog,
                                        first_conv=len(base))
    base_ids = {r[0] for r in gen.flatten(base)}
    delta_ids = {r[0] for r in gen.flatten(delta)}
    assert delta_ids and not base_ids & delta_ids


def test_stream_input_spans_micro_batches(tmp_path, catalog):
    convs = gen.ambiguous_conversations(1, StreamMentions.N_TURNS, catalog)
    paths = gen.write_transcripts(convs, str(tmp_path), StreamMentions.N_FILES)
    assert -(-len(paths) // FILES_PER_TRIGGER) >= 3
    # files arrive oldest first and never hold rows older than an
    # earlier file's, so the stream's watermark drops nothing
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert mtimes == sorted(set(mtimes))
    spans = [pq.read_table(p, columns=["ts"]).column("ts") for p in paths]
    for prev, cur in zip(spans, spans[1:]):
        assert min(cur.to_pylist()) > max(prev.to_pylist())
