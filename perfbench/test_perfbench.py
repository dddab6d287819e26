"""Tests of the benchmark itself: ``python -m pytest perfbench -q``.

The generator and assertion tests need no Spark. The rest share one local
session with the event log on and run every workload at a tiny size.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
import workloads  # noqa: E402
from otar3088_spark.synth import entity_dictionary_pandas  # noqa: E402

TERMS = [t for t in entity_dictionary_pandas()["term"] if len(t) > 2]


@pytest.fixture(scope="module")
def gaz():
    return gen.gazetteer(7)


# --- generators ------------------------------------------------------------

@pytest.mark.parametrize("make", [
    lambda s: gen.transcripts(s, 300, TERMS),
    lambda s: gen.gazetteer(s, n_first=2000),
    lambda s: gen.documents(s, 1000, TERMS),
])
def test_generators_deterministic_per_seed_and_differ_across_seeds(make):
    pd.testing.assert_frame_equal(make(3), make(3))
    assert not make(3).equals(make(4))


def test_good_inputs_pass_every_assertion(gaz):
    gen.check_gazetteer(gaz)
    gen.check_transcripts(gen.transcripts(1, 2000, TERMS, head_share=0.05), 0.05)
    gen.check_documents(gen.documents(1, 2000, TERMS))


# --- each property assertion fires on a bad input -------------------------

def _first(d):
    return d["term"].str.lower().str.split().str[0]


@pytest.mark.parametrize("stat, spoil", [
    ("distinct_anchor_keys", lambda d: d.iloc[:15_000]),  # ~45k keys
    ("max_multi_token_group", lambda d: d[~d["ent_id"].str.startswith("H")]),
    ("median_anchor_group", lambda d: pd.concat(
        [d] + [d.assign(ent_id=d["ent_id"] + f"x{k}", term=_first(d) + f" extra{k}")
               for k in range(2)])),
    ("max_alias_cluster", lambda d: d[~d["ent_id"].str.startswith("A")]),
])
def test_gazetteer_assertions_fire(gaz, stat, spoil):
    with pytest.raises(gen.InputPropertyError, match=stat):
        gen.check_gazetteer(spoil(gaz))


def test_head_share_assertion_fires():
    flat = gen.transcripts(1, 2000, TERMS, head_share=0.0)
    with pytest.raises(gen.InputPropertyError, match="head_conversation_share"):
        gen.check_transcripts(flat, 0.05)


def test_planted_twin_assertion_fires():
    docs = gen.documents(1, 2000, TERMS)
    twin = min(b for _, b in gen.planted_pairs(len(docs)))
    docs.loc[twin, "text"] = "a fresh unrelated text"
    with pytest.raises(gen.InputPropertyError, match="planted_dup_pairs"):
        gen.check_documents(docs)


def test_no_program_means_no_result(tmp_path):
    """In a directory holding only the benchmark, it fails fast and prints
    no result line."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "corpus_nerset",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and '"correct"' not in p.stdout


# --- workloads at tiny size, one shared session ------------------------------

TINY = {"ref_turns": 300, "big_turns": 150, "big_first_tokens": 17_500,
        "big_mention_terms": 200, "docs": 1000,
        "head_share": 0.05, "oracle_convs": 6}


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    import run

    d = tmp_path_factory.mktemp("perfbench")
    (d / "tmp").mkdir()
    os.environ["PYTHONPATH"] = str(ROOT)
    spark = run.start_session(d, trace=True)
    yield spark, d
    run.stop_session(spark)


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "SIZES", TINY)


def _workload(name, session, tmp_path, seed=5):
    spark, _ = session
    paths, _ = workloads.prepare_inputs(name, seed, str(tmp_path / "inputs"))
    return workloads.WORKLOADS[name](spark, str(ROOT), paths, seed, str(tmp_path))


@pytest.mark.parametrize("name", ["kg_refdict", "kg_bigdict_model", "kg_resume",
                                  "corpus_nerset"])
def test_workload_smoke(name, session, tmp_path, tiny):
    """Fused job passes the deep checks, a second job hash-equals it, and the
    staged job reproduces it with aligned spans and reconciled layer times."""
    from tracing import Tracer

    w = _workload(name, session, tmp_path)
    w.run_job(str(tmp_path / "out1"), str(tmp_path / "st1"))
    assert w.deep_check(str(tmp_path / "out1")) == []
    ref = w.fingerprints(str(tmp_path / "out1"))
    st2 = str(tmp_path / ("st1" if not w.fresh_staging else "st2"))
    w.run_job(str(tmp_path / "out2"), st2)
    assert w.fingerprints(str(tmp_path / "out2")) == ref
    tr = Tracer(session[0])
    st3 = str(tmp_path / ("st1" if not w.fresh_staging else "st3"))
    assert w.staged(tr, str(tmp_path / "out3"), st3) == 0
    assert w.fingerprints(str(tmp_path / "out3")) == ref
    root = next(s for s in tr.spans if s["parent"] is None)
    layers = sum(s["end"] - s["start"] for s in tr.spans if s["parent"] is not None)
    assert abs(layers - (root["end"] - root["start"])) <= 0.1 * (root["end"] - root["start"])


def test_oracle_check_rejects_one_corrupted_triple(session, tmp_path, tiny):
    w = _workload("kg_refdict", session, tmp_path)
    out = tmp_path / "out"
    w.run_job(str(out), str(tmp_path / "st"))
    t = pd.read_parquet(out / "triples")
    i = t.index[t["conv_id"].isin(w._sample) & (t["pred"] == "is_a")][0]
    t.loc[i, "obj"] = "Tissue" if t.loc[i, "obj"] != "Tissue" else "Drug"
    bad = tmp_path / "bad"
    (bad / "triples").mkdir(parents=True)
    t.to_parquet(bad / "triples" / "part-0.parquet", index=False)
    problems = w.deep_check(str(bad))
    assert len(problems) == 1 and "P=" in problems[0]


def test_event_log_rollup_on_tiny_staged_run(session, tmp_path, tiny):
    from tracing import LAYERS, Tracer, layer_metrics, rollup_event_log

    spark, d = session
    w = _workload("corpus_nerset", session, tmp_path)
    (log,) = (d / "eventlog").iterdir()  # one live log, shared by this module's tests
    before = rollup_event_log(str(log))
    tr = Tracer(spark)
    w.staged(tr, str(tmp_path / "out"), str(tmp_path / "st"))
    rollup = {la: {k: v - before.get(la, {}).get(k, 0) for k, v in r.items()}
              for la, r in rollup_event_log(str(log)).items()}
    ran = {"dedup", "sentencize", "tagging", "spans", "training_data", "sink"}
    assert {la for la, r in rollup.items() if r["jobs"] > 0} == ran
    assert rollup["dedup"]["shuffle_write_bytes"] > 0
    m = layer_metrics(tr.spans, rollup)
    assert {f"{la}.wall_s" for la in LAYERS} <= set(m)
    assert m["inference.jobs"] == 0 and m["dedup.candidate_pairs"] > 0
    assert 0 < m["dedup.pair_yield"] <= 1
