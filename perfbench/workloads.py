"""The benchmark workloads: seeded inputs, one timed pipeline op, and
the oracle every op's output is checked against.

A workload's life in one process:

    w = WORKLOADS[name](work_dir, seed)
    w.write_kb(spark)         # seed-independent KB tables, once
    w.prepare(spark)          # seeded inputs → parquet, oracle (repeatable)
    w.prepare_once(spark)     # state every op starts from (kg_resume)
    w.before_op()             # untimed per-op reset
    w.op(spark, sink)         # timed: the pipeline, output written to sink
    w.check(sink)             # (ok, output rows) against the oracle

`traced_op` runs the same op with layer spans (see tracing.py).
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import pyarrow as pa

import gen

# Triple-table columns, in the order both sides are compared.
TRIPLE_COLS = "subj, pred, obj"
# Mention-row columns the streamed tagger and the batch tagger share.
MENTION_COLS = ("conv_id, turn_idx, entity_id, mention_id, text, start, "
                '"end", marked_text')
# kgpipe.streaming.read_transcript_stream reads this many files per
# micro-batch; the stream input is cut into files accordingly.
FILES_PER_TRIGGER = 8


def _oracle_db() -> duckdb.DuckDBPyConnection:
    db = duckdb.connect()
    db.execute("SET threads TO 2")
    return db


def _compare(db, sink_glob: str, cols: str) -> tuple[bool, int]:
    """Multiset equality of the sink files and table `gold`, on `cols`.
    Returns (equal, sink rows)."""
    src = f"read_parquet('{sink_glob}')"
    n, extra, missing = db.execute(f"""
        SELECT (SELECT count(*) FROM {src}),
               (SELECT count(*) FROM (SELECT {cols} FROM {src}
                                      EXCEPT ALL SELECT {cols} FROM gold)),
               (SELECT count(*) FROM (SELECT {cols} FROM gold
                                      EXCEPT ALL SELECT {cols} FROM {src}))
    """).fetchone()
    return extra == 0 and missing == 0, n


def same_output(glob_a: str, glob_b: str, cols: str) -> bool:
    """Multiset equality of two sinks (traced vs untraced output)."""
    db = _oracle_db()
    try:
        a, b = (f"read_parquet('{g}')" for g in (glob_a, glob_b))
        n = db.execute(f"""
            SELECT (SELECT count(*) FROM (SELECT {cols} FROM {a}
                                          EXCEPT ALL SELECT {cols} FROM {b}))
                 + (SELECT count(*) FROM (SELECT {cols} FROM {b}
                                          EXCEPT ALL SELECT {cols} FROM {a}))
        """).fetchone()[0]
        return n == 0
    finally:
        db.close()


class Workload:
    name = ""
    language = "en"
    OUT_COLS = TRIPLE_COLS

    def __init__(self, work_dir: str, seed: int):
        self.dir = work_dir
        self.seed = seed
        self.input_dir = os.path.join(work_dir, "input")
        self.kb_dir = os.path.join(work_dir, "kb")
        self.db = _oracle_db()
        self.sizes: dict = {}
        self.turns = 0

    def write_kb(self, spark) -> None:
        """Write the tables that do not depend on the seed."""

    def prepare(self, spark) -> None:
        """Generate the seeded inputs into parquet and load the oracle.
        Safe to repeat: every call rewrites the same files and table."""
        shutil.rmtree(self.input_dir, ignore_errors=True)
        os.makedirs(self.input_dir)
        self._prepare(spark)

    def _prepare(self, spark) -> None:
        raise NotImplementedError

    def prepare_once(self, spark) -> None:
        """State every op starts from (after the last prepare)."""

    def before_op(self) -> None:
        """Untimed per-op reset."""

    def op(self, spark, sink: str) -> None:
        raise NotImplementedError

    def traced_op(self, spark, sink: str, tracer) -> None:
        raise NotImplementedError

    def sink_glob(self, sink: str) -> str:
        return os.path.join(sink, "*.parquet")

    def batch_ms(self) -> list:
        """Micro-batch trigger times of the last op (streaming only)."""
        return []

    def check(self, sink: str) -> tuple[bool, int]:
        return _compare(self.db, self.sink_glob(sink), self.OUT_COLS)

    def path(self, name: str) -> str:
        return os.path.join(self.input_dir, name)

    def _load_gold(self, table: pa.Table) -> None:
        self.db.register("gold_src", table)
        self.db.execute("CREATE OR REPLACE TABLE gold AS SELECT * FROM gold_src")
        self.db.unregister("gold_src")


class KgDense(Workload):
    """q25 driver shape through driver_queries.q_kg_triples: dense
    single-token lexicon mentions, 7-QID KB with fan-out 1 (in-row
    linking path). Oracle: the query's DuckDB twin."""

    name = "kg_dense"
    N_TURNS = 2000
    N_SOURCES = 20

    def _prepare(self, spark) -> None:
        from kgpipe.driver_queries import Q_KG_TRIPLES_SQL

        docs = self.path("documents.parquet")
        gen.write_documents(
            gen.dense_documents(self.seed, self.N_TURNS, self.N_SOURCES), docs)
        self.db.execute(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        self.db.execute(f"CREATE OR REPLACE TABLE gold AS {Q_KG_TRIPLES_SQL}")
        self.turns = self.N_TURNS
        self.sizes = {"turns": self.N_TURNS, "conversations": self.N_SOURCES,
                      "kb_rows": 7}

    def op(self, spark, sink: str) -> None:
        from kgpipe.driver_queries import q_kg_triples

        q_kg_triples(spark, self.input_dir).write.parquet(sink)

    def traced_op(self, spark, sink: str, tracer) -> None:
        import kgpipe.pipeline
        from kgpipe.driver_queries import q_kg_triples

        # q_kg_triples builds its inline KB and calls
        # kgpipe.pipeline.run_pipeline; swap in the layered twin so the
        # traced op sees the query's exact inputs
        real = kgpipe.pipeline.run_pipeline
        kgpipe.pipeline.run_pipeline = tracer.pipeline
        try:
            triples = q_kg_triples(spark, self.input_dir)
        finally:
            kgpipe.pipeline.run_pipeline = real
        tracer.write_triples(triples, sink)


class _RowCapture:
    """Stands in for the session in kgpipe.fixtures' `<table>_df`
    builders, which end in `spark.createDataFrame(rows, schema)`: it
    hands back the rows and schema, so the KB tables are written with
    pyarrow and set-up runs no Spark job for them."""

    @staticmethod
    def createDataFrame(rows, schema):  # noqa: N802 (SparkSession's name)
        return rows, schema


class _Fixture(Workload):
    """kgpipe.fixtures-shaped inputs: the 300-entity catalog's KB tables
    and seeded conversations."""

    language = "de"
    KB_TABLES = ("entity_kb", "kb_args", "mention_counts", "wiki_summaries")

    def write_kb(self, spark) -> None:
        from kgpipe import fixtures

        self.catalog = fixtures.build_catalog(300)
        for name in self.KB_TABLES:
            rows, schema = getattr(fixtures, f"{name}_df")(_RowCapture(),
                                                           self.catalog)
            os.makedirs(os.path.join(self.kb_dir, name))
            gen.write_rows(rows, schema,
                           os.path.join(self.kb_dir, name, "part-0.parquet"))
        self.sizes["kb_rows"] = (len(self.catalog.entities)
                                 + len(self.catalog.class_entities))

    def _load_oracle_triples(self, rows: list) -> None:
        from kgpipe.oracle.reference_semantics import oracle_triples

        gold = oracle_triples([(r[0], r[1], r[3]) for r in rows],
                              self.catalog, language=self.language)
        subj, pred, obj = zip(*gold)
        self._load_gold(pa.table({"subj": subj, "pred": pred, "obj": obj}))

    def tables(self, spark, transcripts: str | None) -> list:
        """[transcripts] + the KB tables, read from parquet."""
        read = spark.read.parquet
        head = [read(self.path(transcripts))] if transcripts else []
        return head + [read(os.path.join(self.kb_dir, n))
                       for n in self.KB_TABLES]


class KgAmbiguous(_Fixture):
    """Many short conversations over an ambiguous catalog (fan-out up
    to 50 > IN_ROW_MAX_FANOUT: join linking path) at language=de
    (EN fallback, disambiguation and sentinel branches). Oracle:
    kgpipe.oracle.reference_semantics.oracle_triples."""

    name = "kg_ambiguous"
    N_TURNS = 3000

    def _prepare(self, spark) -> None:
        convs = gen.ambiguous_conversations(self.seed, self.N_TURNS,
                                            self.catalog)
        gen.write_transcripts(convs, self.path("transcripts"))
        rows = gen.flatten(convs)
        self._load_oracle_triples(rows)
        self.turns = len(rows)
        self.sizes.update(turns=len(rows), conversations=len(convs))

    def op(self, spark, sink: str) -> None:
        from kgpipe.pipeline import run_pipeline

        res = run_pipeline(spark, *self.tables(spark, "transcripts"),
                           language=self.language)
        res["triples"].write.parquet(sink)

    def traced_op(self, spark, sink: str, tracer) -> None:
        triples = tracer.pipeline(spark, *self.tables(spark, "transcripts"),
                                  language=self.language)["triples"]
        tracer.write_triples(triples, sink)


class KgResume(_Fixture):
    """run_pipeline(checkpoint_dir=…): every op copies the same
    committed base (kg_ambiguous shape), adds a delta of new
    conversations and resumes. The only workload that commits durable
    stage tables. Oracle: oracle_triples over base ∪ delta."""

    name = "kg_resume"
    N_BASE = 2400
    N_DELTA = 600

    def _prepare(self, spark) -> None:
        base = gen.ambiguous_conversations(self.seed, self.N_BASE, self.catalog)
        delta = gen.ambiguous_conversations(self.seed, self.N_DELTA,
                                            self.catalog, first_conv=len(base))
        gen.write_transcripts(base, self.path("base"))
        # base ∪ delta: the base file plus one delta file
        shutil.copytree(self.path("base"), self.path("all"))
        (delta_file,) = gen.write_transcripts(delta, self.path("delta"))
        shutil.move(delta_file,
                    os.path.join(self.path("all"), "part-0001.parquet"))
        rows = gen.flatten(base + delta)
        self._load_oracle_triples(rows)
        self.turns = len(rows)
        self.sizes.update(turns=len(rows), base_turns=len(gen.flatten(base)),
                          delta_turns=len(gen.flatten(delta)),
                          conversations=len(base) + len(delta),
                          delta_conversations=len(delta))

    def prepare_once(self, spark) -> None:
        from kgpipe.pipeline import run_pipeline

        # run_pipeline commits the mentions/linked/enriched stage tables
        # eagerly; the triples are not needed for the base
        self.base_ck = os.path.join(self.dir, "base_ck")
        shutil.rmtree(self.base_ck, ignore_errors=True)
        run_pipeline(spark, *self.tables(spark, "base"),
                     language=self.language, checkpoint_dir=self.base_ck)
        # committed rows per stage table, from each stage's manifest:
        # the base of the traced run's new-rows count
        self.base_rows = {}
        for stage in os.listdir(self.base_ck):
            with open(os.path.join(self.base_ck, stage,
                                   "_kgpipe_manifest.json")) as f:
                self.base_rows[stage] = json.load(f)["rows"]

    def before_op(self) -> None:
        # every op resumes from its own copy of the committed base
        self.op_ck = os.path.join(self.dir, "op_ck")
        shutil.rmtree(self.op_ck, ignore_errors=True)
        shutil.copytree(self.base_ck, self.op_ck)

    def op(self, spark, sink: str) -> None:
        from kgpipe.pipeline import run_pipeline

        res = run_pipeline(spark, *self.tables(spark, "all"),
                           language=self.language, checkpoint_dir=self.op_ck)
        res["triples"].write.parquet(sink)

    def traced_op(self, spark, sink: str, tracer) -> None:
        triples = tracer.resume_pipeline(
            spark, *self.tables(spark, "all"), language=self.language,
            checkpoint_dir=self.op_ck, base_rows=self.base_rows)
        tracer.write_triples(triples, sink)


class StreamMentions(_Fixture):
    """The kg_ambiguous transcripts split over many parquet files and
    streamed through read_transcript_stream → incremental_mentions
    (availableNow, pandas-UDF tagger per micro-batch). Check: the
    streamed mention rows equal detect_mentions_join on the same
    turns."""

    name = "stream_mentions"
    OUT_COLS = MENTION_COLS
    N_TURNS = 3000
    N_FILES = 24

    KB_TABLES = ("entity_kb", "mention_counts")

    def write_kb(self, spark) -> None:
        from kgpipe.kb import build_alias_map
        from kgpipe.pipeline import surfaces_df_from_dims

        super().write_kb(spark)
        # the gazetteer's surface universe, as the batch pipeline
        # derives it; the streamed tagger takes it as a list
        entity_kb, mention_counts = self.tables(spark, None)
        self.surfaces_df = surfaces_df_from_dims(
            build_alias_map(entity_kb), mention_counts).localCheckpoint()
        self.surfaces = [r[0] for r in self.surfaces_df.collect()]

    def _prepare(self, spark) -> None:
        convs = gen.ambiguous_conversations(self.seed, self.N_TURNS,
                                            self.catalog)
        gen.write_transcripts(convs, self.path("stream"), self.N_FILES)
        self.turns = sum(len(c) for c in convs)
        self.sizes.update(turns=self.turns, conversations=len(convs),
                          files=self.N_FILES,
                          files_per_trigger=FILES_PER_TRIGGER)
        self.n_op = 0

    def prepare_once(self, spark) -> None:
        # the oracle is a Spark job here, so set-up runs it once rather
        # than with every repeated input generation
        from kgpipe import schemas
        from kgpipe.mentions import detect_mentions_join, tokenize

        turns = spark.read.schema(schemas.TRANSCRIPTS).parquet(
            self.path("stream"))
        gold = detect_mentions_join(tokenize(turns), self.surfaces_df)
        gold.selectExpr(*MENTION_COLS.replace('"', "`").split(", ")).write.parquet(
            self.path("gold_mentions"))
        self.db.execute(
            "CREATE OR REPLACE TABLE gold AS SELECT * FROM read_parquet("
            f"'{self.path('gold_mentions')}/*.parquet')")

    def op(self, spark, sink: str) -> None:
        from kgpipe.streaming import incremental_mentions, read_transcript_stream

        self.n_op += 1
        ck = os.path.join(self.dir, f"stream_ck{self.n_op}")
        q = incremental_mentions(
            read_transcript_stream(spark, self.path("stream")),
            self.surfaces, ck, sink)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        shutil.rmtree(ck, ignore_errors=True)

    def batch_ms(self) -> list:
        return [p["durationMs"]["triggerExecution"] for p in self.progress]

    def traced_op(self, spark, sink: str, tracer) -> None:
        with tracer.span("streaming"):
            self.op(spark, sink)
        (rows,) = self.db.execute(
            f"SELECT count(*) FROM read_parquet('{self.sink_glob(sink)}')"
        ).fetchone()
        tracer.stream_progress(self.batch_ms(), rows)

    def sink_glob(self, sink: str) -> str:
        # incremental_mentions writes one batch_id=N directory per batch
        return os.path.join(sink, "*", "*.parquet")


WORKLOADS = {w.name: w for w in (KgDense, KgAmbiguous, KgResume,
                                 StreamMentions)}
