"""CoNLL/JSON compat ingest (S1/S2/S8/S9), normalizers, Q3 truncation,
and streaming ingestion."""

import json

from pyspark.sql import functions as F

from kgpipe.ingest import (
    normalize_anchor,
    read_conll,
    read_sentence_json,
    sanitize_sentence,
    truncate_context,
    write_sentence_json,
)
from kgpipe import streaming


def test_read_conll_reference_example(spark, tmp_path):
    # mirror of the reference I/O contract
    # (data_examples/entity_boundary.conll:1-11 shape)
    content = (
        "# id abc\n"
        "eli B-ENTITY\n"
        "lilly I-ENTITY\n"
        "founder O\n"
        "x _\n"
        "\n"
        "only4 tok col B-ENTITY\n"
        "three a O\n"
        "\n"
    )
    p = tmp_path / "ex.conll"
    p.write_text(content)
    out = {r["sentence_id"]: r for r in read_conll(spark, str(p)).collect()}
    assert out[0]["words"] == ["eli", "lilly", "founder", "x"]
    assert out[0]["labels"] == ["B-ENTITY", "I-ENTITY", "O", "O"]  # _ → O
    # 4-column and 3-column rows: word first, label last
    assert out[1]["words"] == ["only4", "three"]
    assert out[1]["labels"] == ["B-ENTITY", "O"]


def test_conll_roundtrip_real_reference_file(spark):
    path = "/root/reference/data_examples/entity_boundary.conll"
    df = read_conll(spark, path)
    rows = {r["sentence_id"]: r for r in df.collect()}
    assert rows[0]["words"][:2] == ["eli", "lilly"]
    assert rows[0]["labels"][0] == "B-ENTITY"
    assert all(len(r["words"]) == len(r["labels"]) for r in rows.values())


def test_sentence_json_roundtrip(spark, tmp_path):
    src = "/root/reference/data_examples/context-enriched.json"
    df = read_sentence_json(spark, src)
    assert df.count() >= 2
    r0 = df.filter((F.col("sentence_id") == 0) & (F.col("entity_id") == 0)) \
        .collect()[0]
    assert r0["text"] == "eli lilly" and r0["start"] == 0 and r0["end"] == 2
    out = str(tmp_path / "roundtrip.json")
    write_sentence_json(df, out)
    orig = json.load(open(src))
    mine = json.load(open(out))
    assert set(mine.keys()) == set(orig.keys())
    for sid in orig:
        assert mine[sid]["words"] == orig[sid]["words"]
        for eid in orig[sid]["entities"]:
            for k in ("text", "start", "end", "genre_prediction",
                      "wikidata_summary", "wikipedia_title"):
                assert mine[sid]["entities"][eid][k] == \
                    orig[sid]["entities"][eid][k], (sid, eid, k)


def test_normalizers(spark):
    df = spark.createDataFrame(
        [("%3AFoo",), ("w%3ABar",), ("de:Baz",), ("Plain",)], "a string"
    ).withColumn("n", normalize_anchor(F.col("a")))
    out = {r["a"]: r["n"] for r in df.collect()}
    assert out["%3AFoo"] == "Foo" and out["w%3ABar"] == "Bar"
    assert out["de:Baz"] == "Baz" and out["Plain"] == "Plain"

    df2 = spark.createDataFrame([("a {b} [c]\xa0d",)], "s string") \
        .withColumn("x", sanitize_sentence(F.col("s")))
    assert df2.collect()[0]["x"] == "a (b) (c) d"


def test_truncate_context_four_cases(spark):
    rows = [
        (["l1", "l2"], ["m"], ["r1", "r2"]),                      # fits
        (["l1"], ["m"], [f"r{i}" for i in range(20)]),            # short left
        ([f"l{i}" for i in range(20)], ["m"], ["r1"]),            # short right
        ([f"l{i}" for i in range(20)], ["m"],
         [f"r{i}" for i in range(20)]),                           # both long
    ]
    df = spark.createDataFrame(
        rows, "left array<string>, mention array<string>, right array<string>"
    ).withColumn(
        "out",
        truncate_context(F.col("left"), F.col("mention"), F.col("right"), 8),
    )
    outs = [r["out"].split(" ") for r in df.collect()]
    assert outs[0] == ["l1", "l2", "[START]", "m", "[END]", "r1", "r2"]
    # budget respected: context tokens ≤ max_length (case 2: left + capped right)
    assert outs[1][:3] == ["l1", "[START]", "m"]
    assert len([t for t in outs[1] if not t.startswith("[")]) <= 8 + 1
    assert outs[2][-3:] == ["m", "[END]", "r1"]
    # case 4: half/half window around the mention
    assert outs[3][4] == "[START]" and len(outs[3]) == 4 + 3 + 4


def test_streaming_dedup_and_incremental_mentions(spark, tmp_path):
    from datetime import datetime

    from kgpipe import schemas

    rows = [
        ("c1", 0, "user", "ask eli lilly now", None, datetime(2026, 1, 1, 0, 0)),
        ("c1", 0, "user", "ask eli lilly now DUP", None, datetime(2026, 1, 1, 0, 1)),
        ("c1", 1, "user", "plain turn", None, datetime(2026, 1, 1, 0, 2)),
        ("c2", 0, "tool", "eli lilly again", "t1", datetime(2026, 1, 1, 0, 3)),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS) \
        .coalesce(1).write.mode("overwrite").parquet(src)

    turns = streaming.read_transcript_stream(spark, src)
    out = str(tmp_path / "mentions_out")
    q = streaming.incremental_mentions(
        turns, ["eli lilly"], str(tmp_path / "ck"), out
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    m = {(r["conv_id"], r["turn_idx"]) for r in got.collect()}
    assert m == {("c1", 0), ("c2", 0)}
    # dedup within watermark: exactly one mention row for (c1, 0)
    assert got.filter((F.col("conv_id") == "c1") & (F.col("turn_idx") == 0)) \
        .count() == 1


def test_streaming_mentions_equal_batch(spark, tmp_path):
    """Streamed mentions equal the batch tagger on the same deduplicated
    turns: 10 files at 8 files per trigger make 2 micro-batches;
    multi-token and overlapping surfaces; turn (c0, 1) is re-delivered
    with other text in the second micro-batch, inside the watermark, and
    must be dropped. Surfaces as a list and as a DataFrame give the same
    rows, and only micro-batches that carried rows write a batch_id
    directory."""
    import os
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from kgpipe import schemas
    from kgpipe.mentions import detect_mentions_join, tokenize

    surfaces = ["eli lilly", "eli", "new york", "york city hall", "iker"]
    texts = ["eli lilly met iker in new york", "in new york city hall today",
             "iker then eli eli lilly", "nothing here",
             "york city hall and eli"]
    t0 = datetime(2026, 1, 1)
    files = [[(f"c{f}", i, "user", texts[(f + i) % len(texts)], None,
               t0 + timedelta(seconds=10 * f + i)) for i in range(3)]
             for f in range(10)]
    redelivered = ("c0", 1, "user", "iker iker", None,
                   t0 + timedelta(seconds=95))
    src = tmp_path / "src"
    src.mkdir()
    arrow_schema = to_arrow_schema(schemas.TRANSCRIPTS)
    cols = [f.name for f in schemas.TRANSCRIPTS.fields]
    for f, rows in enumerate(files):
        rows = rows + [redelivered] if f == 9 else rows
        path = str(src / f"part-{f:02d}.parquet")
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(cols, r)) for r in rows], schema=arrow_schema), path)
        # the file source delivers oldest first
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))

    mention_cols = ["conv_id", "turn_idx", "entity_id", "mention_id", "text",
                    "start", "end", "marked_text"]
    batch = detect_mentions_join(
        tokenize(spark.createDataFrame(
            [r for rows in files for r in rows], schema=schemas.TRANSCRIPTS)),
        spark.createDataFrame([(s,) for s in surfaces], "surface string"))
    expected = sorted(tuple(r) for r in batch.select(*mention_cols).collect())

    def stream(surf, name):
        out = str(tmp_path / name)
        q = streaming.incremental_mentions(
            streaming.read_transcript_stream(spark, str(src)), surf,
            str(tmp_path / f"ck_{name}"), out)
        assert q.awaitTermination(120)
        assert q.exception() is None
        fed = {p["batchId"] for p in q.recentProgress if p["numInputRows"]}
        written = {int(d.split("=")[1]) for d in os.listdir(out)
                   if d.startswith("batch_id=")}
        assert len(fed) >= 2
        assert written == fed
        for b in written:
            assert spark.read.parquet(f"{out}/batch_id={b}").count() > 0
        return sorted(tuple(r) for r in
                      spark.read.parquet(out).select(*mention_cols).collect())

    from_list = stream(surfaces, "from_list")
    assert from_list == expected
    assert len(expected) >= 20
    surf_df = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    assert stream(surf_df, "from_df") == from_list


def test_turn_rate_metrics_batch_semantics(spark):
    # run the same aggregation in batch mode to pin the window semantics
    from datetime import datetime

    from kgpipe import schemas

    rows = [
        ("c1", 0, "user", "a b", None, datetime(2026, 1, 1, 0, 0)),
        ("c1", 1, "user", "c", None, datetime(2026, 1, 1, 0, 2)),
        ("c1", 2, "tool", "d e f", "t", datetime(2026, 1, 1, 0, 7)),
    ]
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    out = streaming.turn_rate_metrics(df).collect()
    by_role = {(r["role"], r["window"]["start"].minute): (r["n_turns"], r["n_tokens"])
               for r in out}
    assert by_role[("user", 0)] == (2, 3)
    assert by_role[("tool", 5)] == (1, 3)


def test_stateful_conversation_progress(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: per-conversation
    running progress accumulates across micro-batches; state is one
    fixed-width row per live conversation."""
    from datetime import datetime

    from kgpipe import schemas

    src = str(tmp_path / "state_src")
    rows1 = [
        ("c1", 0, "user", "hello world", None, datetime(2026, 1, 1, 0, 0)),
        ("c1", 1, "agent", "hi there friend", None, datetime(2026, 1, 1, 0, 1)),
        ("c2", 0, "user", "solo", None, datetime(2026, 1, 1, 0, 2)),
    ]
    spark.createDataFrame(rows1, schema=schemas.TRANSCRIPTS) \
        .coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.format("parquet").schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 1).load(src)
    )
    out = streaming.conversation_progress(stream)
    sink = str(tmp_path / "progress_out")

    def run_to(batch_dir_prefix):
        # memory sink can't recover from a checkpoint; foreachBatch can —
        # idempotent per-batch parquet subdirs, same as incremental_mentions
        def process(bdf, bid):
            if not bdf.isEmpty():
                bdf.write.mode("overwrite").parquet(
                    f"{sink}/{batch_dir_prefix}_batch{bid}")
        q = (out.writeStream.foreachBatch(process)
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "state_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_to("r1")
    got = {r["conv_id"]: r for r in
           spark.read.parquet(f"{sink}/r1_batch*").collect()}
    assert got["c1"]["n_turns"] == 2
    assert got["c1"]["max_turn_idx"] == 1
    assert got["c1"]["n_tokens"] == 5        # 2 + 3
    assert got["c2"]["n_turns"] == 1 and got["c2"]["n_tokens"] == 1
    assert not got["c1"]["complete"]         # NoTimeout: progress only

    # second batch of files, SAME checkpoint: state must carry over
    # (c1 grows across restarts, c3 appears fresh)
    rows2 = [
        ("c1", 2, "user", "one more turn here", None,
         datetime(2026, 1, 1, 0, 5)),
        ("c3", 0, "tool", "new conv", "t1", datetime(2026, 1, 1, 0, 6)),
    ]
    spark.createDataFrame(rows2, schema=schemas.TRANSCRIPTS) \
        .coalesce(1).write.mode("append").parquet(src)
    run_to("r2")
    got2 = {r["conv_id"]: r for r in
            spark.read.parquet(f"{sink}/r2_batch*").collect()}
    assert got2["c1"]["n_turns"] == 3 and got2["c1"]["max_turn_idx"] == 2
    assert got2["c1"]["n_tokens"] == 9       # 5 carried + 4 new
    assert got2["c3"]["n_turns"] == 1

    # timeout variant: drained availableNow stream finalizes every live
    # conversation (pending processing-time timeouts fire in the final
    # no-data batch) — complete=true rows carry the full totals
    out_t = streaming.conversation_progress(stream, idle_timeout_ms=30_000)
    q3 = (out_t.writeStream.format("memory").queryName("conv_final")
          .outputMode("update")
          .option("checkpointLocation", str(tmp_path / "state_ck_t"))
          .trigger(availableNow=True).start())
    q3.awaitTermination(120)
    final = {r["conv_id"]: r for r in
             spark.sql("select * from conv_final").collect()
             if r["complete"]}
    assert final["c1"]["n_turns"] == 3 and final["c1"]["n_tokens"] == 9
    assert final["c2"]["n_turns"] == 1 and final["c3"]["n_turns"] == 1
