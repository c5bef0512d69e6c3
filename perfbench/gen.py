"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (seed, size): the same seed gives
byte-identical tables, another seed gives other text. Generation is
plain Python + pyarrow (no Spark), so it runs before the timed region
and the tests can check it without a session.

Two input shapes:

- dense documents: the driver-contract `documents` table that
  `driver_queries.q_kg_triples` reads (q25 shape). Few sources with
  hundreds of long turns; about a quarter of the tokens are words of
  the 7-word lexicon, each linked to exactly one QID.
- ambiguous transcripts: `kgpipe.fixtures` conversation semantics
  (3-12 turns, 4-14 filler tokens, 0-3 Zipf-weighted catalog surfaces
  per turn), drawn from a seed-dependent random stream instead of the
  fixture's fixed one.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

# Filler vocabulary of the driver-contract documents table: 30 equally
# likely words, 7 of them lexicon words (driver_queries.LEXICON).
DENSE_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DENSE_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]

# kgpipe.fixtures.FILLER: lowercase filler text around the mentions
AMBIG_FILLER = (
    "the a of and to in for on with about show me find tell what when how "
    "please run check look report from that this it was is are were been "
    "did does had city song film drug team car game tool agent step plan "
    "result answer query table note item list case work time year day"
).split()

DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
TRANSCRIPTS_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    ("role", pa.string()),
    pa.field("text", pa.string(), nullable=False),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
TRANSCRIPT_COLUMNS = TRANSCRIPTS_SCHEMA.names


def dense_documents(seed: int, n_turns: int, n_sources: int) -> dict:
    """Columns of a `documents` table with `n_turns` rows spread
    round-robin over `n_sources` sources (the conversations)."""
    rng = random.Random(f"dense-{seed}")
    cols = {name: [] for name in DOCUMENTS_SCHEMA.names}
    for doc_id in range(n_turns):
        n_tok = rng.randint(8, 100)
        text = " ".join(DENSE_VOCAB[rng.randrange(len(DENSE_VOCAB))]
                        for _ in range(n_tok))
        cols["doc_id"].append(doc_id)
        cols["text"].append(text)
        cols["lang"].append(DENSE_LANGS[rng.randrange(len(DENSE_LANGS))])
        cols["source"].append(f"src{doc_id % n_sources}")
        cols["n_chars"].append(len(text))
    return cols


def _conversation(seed: int, conv: int, surfaces, weights) -> list:
    """One conversation's turn rows (fixtures._gen_conversation
    semantics, seeded by (seed, conv))."""
    rng = random.Random(f"ambig-{seed}-conv-{conv}")
    n_turns = 3 + rng.randrange(10)
    base_ts = (datetime(2026, 1, 1, tzinfo=timezone.utc)
               + timedelta(hours=conv % 8760))
    roles = ["user", "assistant", "tool"]
    rows = []
    for t in range(n_turns):
        n_fill = 4 + rng.randrange(11)
        tokens = [AMBIG_FILLER[rng.randrange(len(AMBIG_FILLER))]
                  for _ in range(n_fill)]
        n_m = rng.choices([0, 1, 2, 3], weights=[20, 50, 22, 8])[0]
        positions = sorted(rng.randrange(n_fill + 1) for _ in range(n_m))
        for p in reversed(positions):
            surfs = surfaces[rng.choices(range(len(surfaces)),
                                         weights=weights)[0]]
            tokens[p:p] = surfs[rng.randrange(len(surfs))].split(" ")
        role = roles[t % 3]
        rows.append((f"conv-{conv:07d}", t, role, " ".join(tokens),
                     f"tool{conv % 5}" if role == "tool" else None,
                     base_ts + timedelta(minutes=t)))
    return rows


def ambiguous_conversations(seed: int, n_turns: int, catalog,
                            first_conv: int = 0) -> list:
    """Whole conversations, numbered from `first_conv`, until at least
    `n_turns` turns are drawn. Returns a list of per-conversation row
    lists (rows are (conv_id, turn_idx, role, text, tool, ts))."""
    surfaces = [e.surfaces for e in catalog.entities]
    weights = catalog.mention_weights()
    convs, total, conv = [], 0, first_conv
    while total < n_turns:
        rows = _conversation(seed, conv, surfaces, weights)
        convs.append(rows)
        total += len(rows)
        conv += 1
    return convs


def flatten(convs: list) -> list:
    return [r for rows in convs for r in rows]


def transcripts_table(rows: list) -> pa.Table:
    return pa.Table.from_pylist(
        [dict(zip(TRANSCRIPT_COLUMNS, r)) for r in rows],
        schema=TRANSCRIPTS_SCHEMA)


def write_rows(rows: list, spark_schema, path: str) -> None:
    """Write tuples laid out as `spark_schema` (a pyspark StructType) to
    one parquet file. Map values are dicts."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(spark_schema)
    cols = list(zip(*rows)) or [()] * len(schema)
    arrays = [pa.array([list(v.items()) for v in col]
                       if pa.types.is_map(field.type) else list(col),
                       type=field.type)
              for col, field in zip(cols, schema)]
    pq.write_table(pa.table(arrays, schema=schema), path)


def write_documents(cols: dict, path: str) -> None:
    pq.write_table(pa.Table.from_pydict(cols, schema=DOCUMENTS_SCHEMA), path)


def write_transcripts(convs: list, directory: str, n_files: int = 1) -> list:
    """Write conversations as `n_files` parquet files of consecutive
    whole conversations; returns the file paths.

    A file stream source delivers files oldest first, and the stream
    drops rows older than its watermark. File k therefore holds later
    conversations (later event times) than file k-1 and gets a later
    modification time, so no streamed row arrives late."""
    import os

    os.makedirs(directory, exist_ok=True)
    per_file = -(-len(convs) // n_files)
    paths = []
    for f in range(n_files):
        path = os.path.join(directory, f"part-{f:04d}.parquet")
        pq.write_table(
            transcripts_table(flatten(convs[f * per_file:(f + 1) * per_file])),
            path)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
        paths.append(path)
    return paths
