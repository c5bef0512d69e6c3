"""A run does only the work its inputs need: an all-ASCII corpus plans
no Python UDF, and a resume on unchanged KB files reads the KB dims it
committed instead of rebuilding them."""

import json
import os

import pytest
from pyspark.sql import functions as F

from kgpipe import candidates, checkpoints, schemas
from kgpipe import pipeline as P
from kgpipe.candidates import generate_candidates, normalize_mention

KB = ("entity_kb", "kb_args", "mention_counts", "wiki_summaries")
STAGES = ["enriched", "linked", "mentions"]


def _run(spark, transcripts, kb, **kw):
    return P.run_pipeline(spark, transcripts, *(kb[n] for n in KB), **kw)


def _triples(res):
    return {(r["subj"], r["pred"], r["obj"]) for r in res["triples"].collect()}


def _manifest(ckdir, stage):
    with open(os.path.join(ckdir, stage, "_kgpipe_manifest.json")) as f:
        return json.load(f)


def _fullwidth(s):
    """The fullwidth form of every printable ASCII character; NFKD maps
    it back."""
    return "".join(chr(ord(c) + 0xFEE0) if "!" <= c <= "~" else c for c in s)


@pytest.fixture(scope="module")
def wide(spark, fixture_set):
    """One conversation whose only mention is a fullwidth surface `fw`.
    normalize_mention(fw) is an entity's ASCII surface with candidates
    `expected`; fw itself is a dictionary surface too (so the tagger
    finds it) with one decoy QID that only an unnormalized probe
    finds."""
    e = fixture_set["catalog"].entities[1]
    surface = e.surfaces[0]
    fw = _fullwidth(surface)
    assert fw != surface and normalize_mention(fw) == surface
    mc = fixture_set["mention_counts"]
    expected = {r["qid"] for r in mc.filter(
        F.col("mention").isin(surface, surface.lower())).collect()}
    decoy = next(o.qid for o in fixture_set["catalog"].entities
                 if o.qid not in expected)
    decoy_row = spark.createDataFrame([(fw, decoy, 10_000)],
                                      schema=schemas.MENTION_COUNTS)
    turns = spark.createDataFrame(
        [("conv-wide", i, "user", f"tell me about {fw} please", None, None)
         for i in range(2)], schema=schemas.TRANSCRIPTS)
    return {"fw": fw, "expected": expected, "decoy": decoy,
            "kb": {**fixture_set, "mention_counts": mc.unionByName(decoy_row)},
            "transcripts": fixture_set["transcripts"].unionByName(turns)}


def _wide_predictions(res, fw):
    m = res["mentions"].filter(F.col("text") == fw)
    return [set(r["genre_prediction"])
            for r in m.join(res["linked"], "mention_id").collect()]


@pytest.fixture(params=["join", "inrow"])
def linking_path(request, monkeypatch):
    """The two plans of the one linking path. "inrow": the fixture's
    surfaces are broadcastable, so the per-text candidate table is
    broadcast onto the token-bearing mention rows and scored there
    without moving them. "join": a zero broadcast bound makes build_dims
    decide the surfaces are not broadcastable, so neither the tagger
    nor link() hints a broadcast and the planner chooses the joins."""
    if request.param == "join":
        monkeypatch.setattr(P, "BROADCAST_MAX_SURFACES", 0)
    return request.param


def test_non_ascii_mention_gets_normalized_candidates(spark, fixture_set, wide,
                                                      tmp_path, linking_path):
    """Default path and resume path: the fullwidth mention is linked
    through its NFKD form's candidates, never the decoy."""
    default = _run(spark, wide["transcripts"], wide["kb"])
    ckdir = str(tmp_path / "ck")
    # an all-ASCII base, then a resume whose delta is the wide conversation
    _run(spark, fixture_set["transcripts"], wide["kb"], checkpoint_dir=ckdir)
    resumed = _run(spark, wide["transcripts"], wide["kb"], checkpoint_dir=ckdir)
    for res in (default, resumed):
        preds = _wide_predictions(res, wide["fw"])
        assert len(preds) == 2
        for p in preds:
            assert p and p <= wide["expected"] and wide["decoy"] not in p
    assert _triples(resumed) == _triples(default)


def test_leftover_mentions_keep_normalization(spark, fixture_set, wide,
                                              tmp_path, monkeypatch):
    """A mention segment committed by a run killed before its linked
    commit is linked by the next run, whose own turns are all ASCII
    (here: none are pending): the leftover still takes the normalizing
    plan."""
    ckdir = str(tmp_path / "ck")
    real_commit = checkpoints.commit_stage

    def crash_on_linked(df, path, stage, *args, **kwargs):
        if stage == "linked":
            raise RuntimeError("killed before the linked commit")
        return real_commit(df, path, stage, *args, **kwargs)

    monkeypatch.setattr(checkpoints, "commit_stage", crash_on_linked)
    with pytest.raises(RuntimeError, match="killed"):
        _run(spark, wide["transcripts"], wide["kb"], checkpoint_dir=ckdir)
    monkeypatch.setattr(checkpoints, "commit_stage", real_commit)
    res = _run(spark, wide["transcripts"], wide["kb"], checkpoint_dir=ckdir)
    preds = _wide_predictions(res, wide["fw"])
    assert len(preds) == 2
    assert all(p and p <= wide["expected"] for p in preds)


def test_all_ascii_run_plans_no_python_udf(spark, fixture_set, wide, tmp_path,
                                           monkeypatch, linking_path):
    """normalize_mention_udf is never built into an all-ASCII run's plan
    (default or resume path), and is on a non-ASCII one."""
    built = []
    real = candidates.normalize_mention_udf

    def spy(col):
        built.append(col)
        return real(col)

    monkeypatch.setattr(candidates, "normalize_mention_udf", spy)
    _run(spark, fixture_set["transcripts"], fixture_set)
    ckdir = str(tmp_path / "ck")
    _run(spark, fixture_set["transcripts"], fixture_set, checkpoint_dir=ckdir)
    assert built == []
    _run(spark, wide["transcripts"], wide["kb"], checkpoint_dir=ckdir)
    assert built


def test_ascii_candidate_plan_has_no_python_eval(spark, fixture_set):
    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    m = spark.createDataFrame([("m1", "amble0")], "mention_id string, text string")
    mc = fixture_set["mention_counts"]
    assert "ArrowEvalPython" in plan(generate_candidates(m, mc))
    # a supplied norm_mention (run_pipeline's all-ASCII case) is kept
    m_ascii = m.withColumn("norm_mention", F.col("text"))
    assert "EvalPython" not in plan(generate_candidates(m_ascii, mc))


# ------------------------------------------------------ durable KB dims

@pytest.fixture
def kb_files(spark, fixture_set, tmp_path):
    """The fixture KB as parquet files; returns a reader."""
    root = tmp_path / "kb"
    for name in KB:
        fixture_set[name].write.parquet(str(root / name))
    return lambda: {n: spark.read.parquet(str(root / n)) for n in KB}


@pytest.fixture(scope="module")
def default_triples(spark, fixture_set):
    return _triples(_run(spark, fixture_set["transcripts"], fixture_set))


def _halves(fixture_set):
    t = fixture_set["transcripts"]
    convs = sorted(r["conv_id"] for r in t.select("conv_id").distinct().collect())
    return t.filter(F.col("conv_id").isin(convs[:len(convs) // 2])), t


def _dims_manifests(ckdir):
    return {d: _manifest(ckdir, d) for d in checkpoints.DIMS}


def _segment_dirs(ckdir, stage):
    return sorted(e for e in os.listdir(os.path.join(ckdir, stage))
                  if e.startswith("v"))


def test_resume_reuses_committed_dims(spark, fixture_set, kb_files, tmp_path,
                                      monkeypatch, default_triples):
    """The first run commits the four dims under checkpoint_dir; a
    resume on the same KB files builds no dim, and its triples equal
    the default path's."""
    ckdir = str(tmp_path / "ck")
    half, full = _halves(fixture_set)
    _run(spark, half, kb_files(), checkpoint_dir=ckdir)
    assert sorted(os.listdir(ckdir)) == sorted([*checkpoints.DIMS, *STAGES])
    before = _dims_manifests(ckdir)
    for d, m in before.items():
        assert len(m["segments"]) == 1 and m["rows"] > 0
        assert m["kb"] == before["title_map"]["kb"]
        assert m["surfaces_broadcastable"] is True
        assert "max_fanout" not in m

    def no_build(*args, **kwargs):
        raise AssertionError("a dim was rebuilt")

    for name in ("build_title_map", "build_kb_context", "build_alias_map"):
        monkeypatch.setattr(P, name, no_build)
    assert _triples(_run(spark, full, kb_files(),
                         checkpoint_dir=ckdir)) == default_triples
    assert _dims_manifests(ckdir) == before


def test_changed_kb_file_rebuilds_dims(spark, fixture_set, kb_files, tmp_path):
    """Rewriting a KB file replaces the committed dims (one segment each,
    the old one gone); the resumed triples equal a fresh checkpoint_dir
    run on the new KB. The new surface is tagged only through a rebuilt
    surface dim."""
    ckdir = str(tmp_path / "ck")
    _run(spark, fixture_set["transcripts"], kb_files(), checkpoint_dir=ckdir)
    before = _dims_manifests(ckdir)

    qid = fixture_set["catalog"].entities[2].qid
    mc = kb_files()["mention_counts"].unionByName(spark.createDataFrame(
        [("zorblax", qid, 50)], schema=schemas.MENTION_COUNTS)).collect()
    spark.createDataFrame(mc, schema=schemas.MENTION_COUNTS).write.mode(
        "overwrite").parquet(str(tmp_path / "kb" / "mention_counts"))
    new = spark.createDataFrame(
        [("conv-new", 0, "user", "i like zorblax a lot", None, None)],
        schema=schemas.TRANSCRIPTS)
    transcripts = fixture_set["transcripts"].unionByName(new)

    resumed = _triples(_run(spark, transcripts, kb_files(),
                            checkpoint_dir=ckdir))
    after = _dims_manifests(ckdir)
    fresh_ck = str(tmp_path / "fresh")
    fresh = _triples(_run(spark, transcripts, kb_files(),
                          checkpoint_dir=fresh_ck))
    assert resumed == fresh
    assert {o for s, p, o in resumed
            if s.startswith("mention:conv-new/") and p == "links_to"} == {qid}
    for d in checkpoints.DIMS:
        assert after[d]["kb"] == _manifest(fresh_ck, d)["kb"] != before[d]["kb"]
        (seg,) = after[d]["segments"]
        assert _segment_dirs(ckdir, d) == [seg["dir"]]
        assert seg["dir"] != before[d]["segments"][0]["dir"]


@pytest.mark.parametrize("swaps_before_crash", [0, 1])
def test_killed_dims_commit_is_rebuilt(spark, fixture_set, kb_files, tmp_path,
                                       monkeypatch, default_triples,
                                       swaps_before_crash):
    """A dims commit killed before its manifests (or between two of
    them) leaves no set of dims the next run trusts: it rebuilds them,
    clears the orphan segments and gives the default path's triples."""
    ckdir = str(tmp_path / "ck")
    real_swap = checkpoints._swap_manifest
    swaps = []

    def crash(path, stage, *args, **kwargs):
        if stage in checkpoints.DIMS:
            if len(swaps) == swaps_before_crash:
                raise RuntimeError("killed during the dims commit")
            swaps.append(stage)
        return real_swap(path, stage, *args, **kwargs)

    monkeypatch.setattr(checkpoints, "_swap_manifest", crash)
    with pytest.raises(RuntimeError, match="killed"):
        _run(spark, fixture_set["transcripts"], kb_files(), checkpoint_dir=ckdir)
    monkeypatch.setattr(checkpoints, "_swap_manifest", real_swap)
    assert all(_segment_dirs(ckdir, d) for d in checkpoints.DIMS)
    assert sum(os.path.exists(os.path.join(ckdir, d, "_kgpipe_manifest.json"))
               for d in checkpoints.DIMS) == swaps_before_crash

    res = _run(spark, fixture_set["transcripts"], kb_files(), checkpoint_dir=ckdir)
    assert _triples(res) == default_triples
    for d, m in _dims_manifests(ckdir).items():
        (seg,) = m["segments"]
        assert _segment_dirs(ckdir, d) == [seg["dir"]]


def test_explicit_dims_bypass_committed_dims(spark, fixture_set, kb_files,
                                             tmp_path, monkeypatch,
                                             default_triples):
    """dims= is used as given: nothing is loaded or committed. A KB that
    is not a bare file read commits no dims either."""
    kb = kb_files()
    dims = P.build_dims(spark, *(kb[n] for n in KB))

    def no_dims(*args, **kwargs):
        raise AssertionError("committed dims touched")

    monkeypatch.setattr(checkpoints, "load_dims", no_dims)
    monkeypatch.setattr(checkpoints, "commit_dims", no_dims)
    ckdir = str(tmp_path / "ck")
    res = _run(spark, fixture_set["transcripts"], kb, checkpoint_dir=ckdir,
               dims=dims)
    assert _triples(res) == default_triples
    assert sorted(os.listdir(ckdir)) == STAGES

    in_memory = str(tmp_path / "in_memory")
    _run(spark, fixture_set["transcripts"], fixture_set,
         checkpoint_dir=in_memory)
    assert sorted(os.listdir(in_memory)) == STAGES
