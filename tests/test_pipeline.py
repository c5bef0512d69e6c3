"""E2E parity: Spark pipeline vs pure-Python oracle on fixtures
(BASELINE.json: triple P/R ≥ 0.95; we target exact match)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from kgpipe.oracle import oracle_triples
from kgpipe.oracle.reference_semantics import triple_prf
from kgpipe.pipeline import run_pipeline
from kgpipe.triples import salted_subject_counts


def _run(spark, fixture_set, language="en", checkpoint_dir=None, **kw):
    return run_pipeline(
        spark,
        fixture_set["transcripts"],
        fixture_set["entity_kb"],
        fixture_set["kb_args"],
        fixture_set["mention_counts"],
        fixture_set["wiki_summaries"],
        language=language,
        checkpoint_dir=checkpoint_dir,
        **kw,
    )


def test_pipeline_matches_oracle(spark, fixture_set):
    res = _run(spark, fixture_set)
    spark_triples = {
        (r["subj"], r["pred"], r["obj"]) for r in res["triples"].collect()
    }
    rows = [(r["conv_id"], r["turn_idx"], r["text"])
            for r in fixture_set["transcripts"].collect()]
    gold = oracle_triples(rows, fixture_set["catalog"], language="en")
    prf = triple_prf(spark_triples, gold)
    assert prf["precision"] >= 0.95 and prf["recall"] >= 0.95, prf
    # we target exact parity, not just the 0.95 bar
    assert prf["f1"] > 0.999, prf


def test_pipeline_de_language_fallback_paths(spark, fixture_set):
    res = _run(spark, fixture_set, language="de")
    enr = res["enriched"]
    langs = {r["accepted_lang"] for r in
             enr.select("accepted_lang").distinct().collect()}
    # both de acceptances and EN fallbacks must occur
    assert "de" in langs and "en" in langs

    rows = [(r["conv_id"], r["turn_idx"], r["text"])
            for r in fixture_set["transcripts"].collect()]
    gold = oracle_triples(rows, fixture_set["catalog"], language="de")
    spark_triples = {
        (r["subj"], r["pred"], r["obj"]) for r in res["triples"].collect()
    }
    prf = triple_prf(spark_triples, gold)
    assert prf["f1"] > 0.999, prf


def test_sentinels_present(spark, fixture_set):
    res = _run(spark, fixture_set)
    enr = res["enriched"]
    n_sentinel = enr.filter(F.col("link_qid") == "Q0").count()
    assert n_sentinel > 0  # no-coverage entities exist in fixtures
    assert enr.filter(F.col("wikipedia_summary") == "No wikipedia summary found") \
        .count() > 0


def test_salted_counts_match_plain_groupby(spark, fixture_set):
    res = _run(spark, fixture_set)
    t = res["triples"].cache()
    salted = {(r["subj"], r["n_triples"])
              for r in salted_subject_counts(t, n_salts=8).collect()}
    plain = {(r["subj"], r["count"])
             for r in t.groupBy("subj").count().collect()}
    assert salted == plain


def _triples(res):
    return {(r["subj"], r["pred"], r["obj"]) for r in res["triples"].collect()}


@pytest.fixture(scope="module")
def default_triples(spark, fixture_set):
    """Triples of a fresh default-path (non-resumable) run, per language."""
    cache = {}

    def get(language="en"):
        if language not in cache:
            cache[language] = _triples(_run(spark, fixture_set, language))
        return cache[language]
    return get


def _manifest(ckdir, stage):
    with open(os.path.join(ckdir, stage, "_kgpipe_manifest.json")) as f:
        return json.load(f)


def _manifests(ckdir):
    return {st: _manifest(ckdir, st) for st in ("mentions", "linked", "enriched")}


def test_checkpoint_resume(spark, fixture_set, tmp_path, default_triples):
    ckdir = str(tmp_path / "ck")
    t1 = _triples(_run(spark, fixture_set, checkpoint_dir=ckdir))
    before = _manifests(ckdir)
    listing = {st: sorted(os.listdir(os.path.join(ckdir, st))) for st in before}
    # rerun: all keys done → no recompute, no new segment, same output
    t2 = _triples(_run(spark, fixture_set, checkpoint_dir=ckdir))
    assert t1 == t2 == default_triples("en")
    assert _manifests(ckdir) == before
    assert {st: sorted(os.listdir(os.path.join(ckdir, st)))
            for st in before} == listing


@pytest.mark.parametrize("language", ["en", "de"])
def test_resume_path_matches_oracle(spark, fixture_set, tmp_path, language):
    """The resumable path is the same stage graph: triple F1 = 1.0
    against the reference-semantics oracle."""
    res = _run(spark, fixture_set, language=language,
               checkpoint_dir=str(tmp_path / "ck"))
    rows = [(r["conv_id"], r["turn_idx"], r["text"])
            for r in fixture_set["transcripts"].collect()]
    gold = oracle_triples(rows, fixture_set["catalog"], language=language)
    assert triple_prf(_triples(res), gold)["f1"] == 1.0


def _split_convs(fixture_set):
    t = fixture_set["transcripts"]
    convs = sorted(r["conv_id"] for r in t.select("conv_id").distinct().collect())
    first = convs[:len(convs) // 2]
    return t.filter(F.col("conv_id").isin(first)), set(first)


def _segment(spark, ckdir, stage, seg):
    return spark.read.parquet(os.path.join(ckdir, stage, seg["dir"]))


def test_resume_partial_commits_only_the_delta(spark, fixture_set, tmp_path,
                                               default_triples):
    """Commit half the conversations, then rerun on all of them: the
    triples equal a fresh run, and every stage's new segment holds only
    the other half's rows, computed from the new mention segment."""
    ckdir = str(tmp_path / "ck")
    half, first = _split_convs(fixture_set)
    _run(spark, {**fixture_set, "transcripts": half}, checkpoint_dir=ckdir)
    before = _manifests(ckdir)
    res = _run(spark, fixture_set, checkpoint_dir=ckdir)
    assert _triples(res) == default_triples("en")

    after = _manifests(ckdir)
    new = {st: after[st]["segments"][-1] for st in after}
    for st in after:
        assert after[st]["segments"][:-1] == before[st]["segments"]
        assert after[st]["rows"] == before[st]["rows"] + new[st]["rows"]
    assert new["linked"]["consumed"] == [new["mentions"]["dir"]]
    assert new["enriched"]["consumed"] == [new["linked"]["dir"]]
    for st in ("mentions", "enriched"):  # one row per mention
        seg = _segment(spark, ckdir, st, new[st])
        convs = {r["conv_id"] for r in seg.select("conv_id").distinct().collect()}
        assert convs and not convs & first
        assert seg.count() == new[st]["rows"] == new["mentions"]["rows"]
    total = res["mentions"].filter(~F.col("conv_id").isin(list(first))).count()
    assert new["mentions"]["rows"] == total


def test_resume_after_interrupted_commit(spark, fixture_set, tmp_path,
                                         monkeypatch, default_triples):
    """A run killed between the mentions and linked commits resumes
    exactly: the next run consumes the leftover mention segment along
    with its own delta."""
    from kgpipe import checkpoints

    ckdir = str(tmp_path / "ck")
    half, _ = _split_convs(fixture_set)
    real_commit = checkpoints.commit_stage

    def crash_on_linked(df, path, stage, *args, **kwargs):
        if stage == "linked":
            raise RuntimeError("killed before the linked commit")
        return real_commit(df, path, stage, *args, **kwargs)

    monkeypatch.setattr(checkpoints, "commit_stage", crash_on_linked)
    with pytest.raises(RuntimeError, match="killed"):
        _run(spark, {**fixture_set, "transcripts": half}, checkpoint_dir=ckdir)
    monkeypatch.setattr(checkpoints, "commit_stage", real_commit)
    leftover = _manifest(ckdir, "mentions")["segments"]
    assert len(leftover) == 1
    assert not os.path.exists(os.path.join(ckdir, "linked"))

    res = _run(spark, fixture_set, checkpoint_dir=ckdir)
    assert _triples(res) == default_triples("en")
    m = _manifests(ckdir)
    assert len(m["mentions"]["segments"]) == 2
    (linked,) = m["linked"]["segments"]
    assert linked["consumed"] == [s["dir"] for s in m["mentions"]["segments"]]
    assert m["enriched"]["rows"] == m["mentions"]["rows"]


def test_resume_skips_conversations_without_mentions(spark, fixture_set,
                                                     tmp_path, monkeypatch):
    """A conversation that yields no mention is recorded as processed:
    a rerun neither re-tags it nor writes a segment."""
    from kgpipe import checkpoints, schemas

    quiet = spark.createDataFrame(
        [("conv-quiet", i, "user", "zzq qqz zqz", None, None) for i in range(3)],
        schema=schemas.TRANSCRIPTS)
    fx = {**fixture_set,
          "transcripts": fixture_set["transcripts"].unionByName(quiet)}
    ckdir = str(tmp_path / "ck")
    _run(spark, fx, checkpoint_dir=ckdir)
    before = _manifests(ckdir)
    (seg,) = before["mentions"]["segments"]
    keys = spark.read.parquet(os.path.join(ckdir, "mentions", seg["dir"], "_keys"))
    assert keys.filter(F.col("conv_id") == "conv-quiet").count() == 1

    tagged = []
    real_resume = checkpoints.resume_stage

    def counting(work, path, stage, compute, key="mention_id"):
        def wrapped(pending):
            if stage == "mentions":
                tagged.append(pending.count())
            return compute(pending)
        return real_resume(work, path, stage, wrapped, key=key)

    monkeypatch.setattr(checkpoints, "resume_stage", counting)
    _run(spark, fx, checkpoint_dir=ckdir)
    # the shuffled anti-join (committed keys above the broadcast bound)
    # finds the same nothing
    monkeypatch.setattr(checkpoints, "BROADCAST_MAX_KEYS", 0)
    _run(spark, fx, checkpoint_dir=ckdir)
    assert tagged == [0, 0]
    assert _manifests(ckdir) == before


def test_resume_delta_of_zero_candidate_mentions(spark, fixture_set, tmp_path):
    """A delta whose every mention has zero surviving candidates (a KB
    label with no anchor counts: tagged, never a candidate) still
    reaches the enriched stage through the linked segment's lineage —
    on a resume and on a first run, the triples equal the default
    path's, with the Q0 links — and a rerun finds nothing pending."""
    from kgpipe import schemas

    label = fixture_set["catalog"].class_entities[0][1]
    assert fixture_set["mention_counts"].filter(
        F.col("mention") == label).count() == 0
    odd = spark.createDataFrame(
        [("conv-alias-only", i, "user", f"show me {label} please", None, None)
         for i in range(2)], schema=schemas.TRANSCRIPTS)
    fx = {**fixture_set,
          "transcripts": fixture_set["transcripts"].unionByName(odd)}
    expected = _triples(_run(spark, fx))
    assert {o for s, p, o in expected
            if p == "links_to" and "conv-alias-only" in s} == {"Q0"}

    ckdir = str(tmp_path / "ck")
    _run(spark, fixture_set, checkpoint_dir=ckdir)
    assert _triples(_run(spark, fx, checkpoint_dir=ckdir)) == expected
    after = _manifests(ckdir)
    new = {st: after[st]["segments"][-1] for st in after}
    assert new["mentions"]["rows"] == 2 and new["linked"]["rows"] == 0
    assert new["linked"]["consumed"] == [new["mentions"]["dir"]]
    assert new["enriched"]["consumed"] == [new["linked"]["dir"]]
    assert new["enriched"]["rows"] == 2
    _run(spark, fx, checkpoint_dir=ckdir)
    assert _manifests(ckdir) == after

    fresh = str(tmp_path / "fresh")
    only = {**fixture_set, "transcripts": odd}
    assert (_triples(_run(spark, only, checkpoint_dir=fresh))
            == _triples(_run(spark, only)))
    assert _manifest(fresh, "enriched")["rows"] == 2


def test_resume_from_moved_checkpoint_dir(spark, fixture_set, tmp_path):
    """Segments resolve relative to their stage directory: a moved
    checkpoint dir resumes in place, and a missing segment raises."""
    import shutil

    old, new = str(tmp_path / "ck"), str(tmp_path / "moved")
    t1 = _triples(_run(spark, fixture_set, checkpoint_dir=old))
    shutil.move(old, new)
    before = _manifests(new)
    assert _triples(_run(spark, fixture_set, checkpoint_dir=new)) == t1
    assert _manifests(new) == before

    shutil.rmtree(os.path.join(new, "linked",
                               before["linked"]["segments"][0]["dir"]))
    with pytest.raises(FileNotFoundError, match="does not exist"):
        _run(spark, fixture_set, checkpoint_dir=new)


def test_pipeline_ensemble_vote_matches_oracle(spark, fixture_set):
    res = run_pipeline(
        spark,
        fixture_set["transcripts"],
        fixture_set["entity_kb"],
        fixture_set["kb_args"],
        fixture_set["mention_counts"],
        fixture_set["wiki_summaries"],
        language="en",
        ensemble_seeds=5,
    )
    spark_triples = {
        (r["subj"], r["pred"], r["obj"]) for r in res["triples"].collect()
    }
    rows = [(r["conv_id"], r["turn_idx"], r["text"])
            for r in fixture_set["transcripts"].collect()]
    gold = oracle_triples(rows, fixture_set["catalog"], language="en",
                          ensemble_seeds=5)
    prf = triple_prf(spark_triples, gold)
    assert prf["f1"] > 0.999, prf


def test_io_format_switch_fallback(spark, tmp_path):
    """KGPIPE_TABLE_FORMAT=iceberg without the runtime jar falls back
    to parquet transparently (SURVEY §7.5.3 single-switch promise)."""
    from kgpipe import io

    df = spark.createDataFrame([(1, "a")], "id int, v string")
    path = str(tmp_path / "fmt")
    io.set_table_format("iceberg")
    try:
        io.write_table(df, path)
        assert io.last_fallback is not None  # no iceberg jar in sandbox
        assert [tuple(r) for r in io.read_table(spark, path).collect()] == \
            [(1, "a")]
    finally:
        io.set_table_format(None)
        io.last_fallback = None

    io.write_table(df, path)  # parquet default path
    assert spark.read.parquet(path).count() == 1


def test_io_marker_dispatch_per_table(spark, tmp_path):
    """read_table dispatches on the per-table format marker, not on
    process-global state: a later fallback write of table B must not
    reroute reads of table A (ADVICE r2, kgpipe/io.py)."""
    from kgpipe import io

    df_a = spark.createDataFrame([(1, "a")], "id int, v string")
    df_b = spark.createDataFrame([(2, "b")], "id int, v string")
    path_a, path_b = str(tmp_path / "ta"), str(tmp_path / "tb")

    used_a = io.write_table(df_a, path_a)      # parquet, marker "parquet"
    assert used_a == "parquet"
    assert io._read_marker(path_a) == "parquet"

    io.set_table_format("iceberg")
    try:
        used_b = io.write_table(df_b, path_b)  # falls back in sandbox
        assert used_b == "parquet" and io.last_fallback is not None
        # table A reads fine regardless of the global flag B's write set
        assert io.read_table(spark, path_a).collect()[0]["v"] == "a"
        assert io.read_table(spark, path_b).collect()[0]["v"] == "b"
    finally:
        io.set_table_format(None)
        io.last_fallback = None


def test_io_marker_hadoop_fs(spark, tmp_path):
    """Markers go through the Hadoop FileSystem API (same path
    resolution as the DataFrame writer — s3a://, hdfs:// included);
    an unwritable scheme is RECORDED in last_marker_skip instead of
    silently degrading read_table to format guessing (ADVICE r3)."""
    from kgpipe import io

    d = str(tmp_path / "marked")
    (tmp_path / "marked").mkdir()
    io._write_marker(d, "iceberg", spark=spark)
    assert io.last_marker_skip is None
    assert io._read_marker(d, spark=spark) == "iceberg"
    assert (tmp_path / "marked" / "_kgpipe_format").read_text() == "iceberg"

    io._write_marker("bogus-scheme://bucket/x", "parquet", spark=spark)
    assert io.last_marker_skip is not None
    io.last_marker_skip = None


def test_build_dims_broadcast_decision(spark, fixture_set):
    """build_dims derives the tagger broadcast decision from an
    Observation riding the surfaces-dim materialization job (zero
    extra jobs); fixture-scale gazetteers are broadcastable."""
    from kgpipe.pipeline import build_dims

    dims = build_dims(spark, fixture_set["entity_kb"],
                      fixture_set["kb_args"],
                      fixture_set["mention_counts"],
                      fixture_set["wiki_summaries"])
    assert dims["surfaces_broadcastable"] is True


def test_checkpoint_gc_retains_parent(spark, tmp_path):
    """Commits only append: a DataFrame from an earlier load_stage
    survives later commits, the next load_stage reads every segment,
    and an orphan v-dir left by a crashed write is removed at the next
    commit while the live segments stay."""
    from kgpipe.checkpoints import commit_stage, load_stage

    def ks(df):
        return sorted(r["k"] for r in df.collect())

    path = str(tmp_path / "stage")
    commit_stage(spark.createDataFrame([(1,)], "k int"), path, "s")
    live = load_stage(spark, path)          # reads v000001 lazily

    commit_stage(spark.createDataFrame([(2,)], "k int"), path, "s")
    assert ks(live) == [1]
    assert ks(load_stage(spark, path)) == [1, 2]

    # a write that crashed before its manifest swap
    orphan = os.path.join(path, "v000099")
    spark.createDataFrame([(9,)], "k int").write.parquet(orphan)
    commit_stage(spark.createDataFrame([(3,)], "k int"), path, "s")
    assert not os.path.exists(orphan)
    assert sorted(d for d in os.listdir(path) if d.startswith("v")) == [
        "v000001", "v000002", "v000003"]
    assert ks(load_stage(spark, path)) == [1, 2, 3]
    assert ks(live) == [1]


def test_fanout_60_linking_matches_oracle(spark, fixture_set, tmp_path):
    """At a dictionary fan-out of 60 QIDs per surface (with duplicate
    (mention, qid) rows, a Fat/fat case pair and a fullwidth variant
    that normalizes to `fat`), every mention's genre_prediction equals
    the reference semantics (link_one), on the default path and the
    checkpoint_dir path."""
    from kgpipe import schemas
    from kgpipe.oracle.reference_semantics import OracleKB, link_one

    catalog = fixture_set["catalog"]
    ents = catalog.entities[:60]
    rows = []
    for i, e in enumerate(ents):
        rows.append(("fat", e.qid, (i * 7) % 13 + 1))
        if i % 5 == 0:
            rows.append(("fat", e.qid, 2))  # duplicate (mention, qid)
    rows.append(("Fat", ents[0].qid, 100))  # exact "Fat", lowered "fat"
    # the fullwidth surface is tagged, but its one QID is found only by
    # an unnormalized probe: NFKD maps it to "fat"
    fw = "".join(chr(ord(c) + 0xFEE0) for c in "fat")
    rows.append((fw, catalog.entities[60].qid, 10_000))
    kb = OracleKB(catalog)
    for mention, qid, cnt in rows:
        kb.mention_counts[mention][qid] = (
            kb.mention_counts[mention].get(qid, 0) + cnt)

    titles = [e.surfaces[0] for e in (ents[3], ents[17], ents[42])]
    texts = ["i ate fat today", f"Fat and {titles[0]} again",
             f"{fw} then {titles[1]} and {fw}", f"fat {titles[2]} Fat"]
    fx = {**fixture_set,
          "mention_counts": fixture_set["mention_counts"].unionByName(
              spark.createDataFrame(rows, schema=schemas.MENTION_COUNTS)),
          "transcripts": spark.createDataFrame(
              [("conv-fat", i, "user", t, None, None)
               for i, t in enumerate(texts)], schema=schemas.TRANSCRIPTS)}

    for ckdir in (None, str(tmp_path / "ck")):
        res = _run(spark, fx, checkpoint_dir=ckdir)
        got = res["mentions"].join(
            res["enriched"].select("mention_id", "genre_prediction"),
            "mention_id").collect()
        assert sum(r["text"] in ("fat", "Fat", fw) for r in got) == 6
        for r in got:
            expected = link_one(r["text"], texts[r["turn_idx"]].split(" "), kb)
            assert list(r["genre_prediction"]) == expected, r["text"]


def test_checkpoint_old_layout_raises(tmp_path):
    """A stage dir written before segment manifests raises a clear
    error instead of a KeyError deep in a resume."""
    from kgpipe import checkpoints

    (tmp_path / "_kgpipe_manifest.json").write_text(
        json.dumps({"version": 1, "rows": 3, "data_dir": "/gone/v000001"}))
    with pytest.raises(ValueError, match="predates segment manifests"):
        checkpoints.load_stage(None, str(tmp_path))


def test_parquet_cut_mode_matches_default(spark, fixture_set, tmp_path,
                                          default_triples):
    """cut_mode="parquet" is the same stage graph with its cuts written
    as tables under work_dir: exactly the default path's triples."""
    work = tmp_path / "work"
    res = _run(spark, fixture_set, cut_mode="parquet", work_dir=str(work))
    assert _triples(res) == default_triples("en")
    assert sorted(os.listdir(work)) == [
        "classified", "decisions", "linked", "mentions", "turns"]


def test_cut_mode_rejects_unknown_value(spark, fixture_set):
    with pytest.raises(ValueError, match="'local' or 'parquet'"):
        _run(spark, fixture_set, cut_mode="parquett")
