"""Streamed deletes (tombstone generations), exactly-once epochs, multi-gen
WAND/pinned serving, and the K6 error taxonomy (reference:
postgres/replication.go:324-347 delete dispatch; search/errors.go:9-47)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_replica_spark.config import IndexConfig
from search_replica_spark.corpus import generate_corpus
from search_replica_spark.errors import (
    SchemaMismatch,
    SinkThrottled,
    TransientSinkError,
    classify,
    with_retries,
)
from search_replica_spark.index.build import build_index
from search_replica_spark.oracle import doc_id_of
from search_replica_spark.query.bm25 import IndexReader, TermAtATimeScorer
from search_replica_spark.streaming.incremental import (
    MultiGenReader,
    add_generation,
    index_stream,
)

CFG = IndexConfig(shuffle_partitions=4, hot_df_threshold=200, salt_range_docs=256)


@pytest.fixture(scope="module")
def corpus2():
    c = generate_corpus(300)
    return c.iloc[:200], c.iloc[200:]


def _delete_batch(rows: pd.DataFrame) -> pd.DataFrame:
    d = rows.copy()
    d["_change_type"] = "delete"
    return d


def test_streamed_delete_hides_doc_without_compaction(spark, corpus2, tmp_path):
    a, _ = corpus2
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    victim = a.iloc[[5]]
    did = doc_id_of(victim["repo"].iloc[0], victim["path"].iloc[0])
    # a query built from the victim's own content always matches it
    from search_replica_spark.analysis import tokenize_text

    q = " ".join(tokenize_text(victim["content"].iloc[0])[:3])
    before = MultiGenReader(spark, idx)
    assert any(d == did for d, _ in before.score(q, 300))

    add_generation(spark, spark.createDataFrame(_delete_batch(victim)), idx, CFG)
    after = MultiGenReader(spark, idx)
    assert len(after.gens) == 2
    assert after.gens[1]["dir"] is None  # delete-only generation
    assert not any(d == did for d, _ in after.score(q, 300))
    assert len(after) == len(before) - 1  # one fewer visible doc
    # deleting an unindexed doc is a silent no-op (document_missing analogue)
    ghost = victim.copy()
    ghost["path"] = "never/indexed.py"
    add_generation(spark, spark.createDataFrame(_delete_batch(ghost)), idx, CFG)
    assert len(MultiGenReader(spark, idx)) == len(after)


def test_reinsert_after_delete_revives(spark, corpus2, tmp_path):
    a, _ = corpus2
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    victim = a.iloc[[7]]
    did = doc_id_of(victim["repo"].iloc[0], victim["path"].iloc[0])
    add_generation(spark, spark.createDataFrame(_delete_batch(victim)), idx, CFG)
    revived = victim.copy()
    revived["content"] = "qqrevivedqq fresh body"
    add_generation(spark, spark.createDataFrame(revived), idx, CFG)

    mg = MultiGenReader(spark, idx)
    hits = mg.score("qqrevivedqq", 10)
    assert [d for d, _ in hits] == [did]
    # only the revived version is visible — the gen-0 slot stays dead, so a
    # query from the ORIGINAL content no longer surfaces the doc
    from search_replica_spark.analysis import tokenize_text

    q_old = " ".join(tokenize_text(victim["content"].iloc[0])[:3])
    assert not any(d == did for d, _ in mg.score(q_old, 300))


def test_mixed_batch_delete_and_upsert_same_key(spark, corpus2, tmp_path):
    """P12 key-change semantics: delete+insert of the same key in ONE batch
    nets to the insert (the generation's upserts beat its tombstones)."""
    a, _ = corpus2
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    victim = a.iloc[[9]]
    did = doc_id_of(victim["repo"].iloc[0], victim["path"].iloc[0])
    upd = victim.copy()
    upd["content"] = "qqmixedqq body"
    upd["_change_type"] = "update"
    mixed = pd.concat([_delete_batch(victim), upd], ignore_index=True)
    add_generation(spark, spark.createDataFrame(mixed), idx, CFG)

    mg = MultiGenReader(spark, idx)
    assert [d for d, _ in mg.score("qqmixedqq", 10)] == [did]


def test_incremental_deletes_then_compact_equals_rebuild(spark, corpus2, tmp_path):
    a, _ = corpus2
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    dels = a.iloc[[0, 3, 11]]
    add_generation(spark, spark.createDataFrame(_delete_batch(dels)), idx, CFG)

    snapshot = a.drop(a.index[[0, 3, 11]])
    mg = MultiGenReader(spark, idx)
    assert len(mg) == len(snapshot)
    from search_replica_spark.streaming.incremental import compact

    compact(spark, spark.createDataFrame(snapshot), idx, CFG)
    full = str(tmp_path / "full")
    build_index(spark, spark.createDataFrame(snapshot), full, CFG)
    got = MultiGenReader(spark, idx)
    want = TermAtATimeScorer(IndexReader(spark, full))
    for q in ("license apache", "def return", "the"):
        g = got.score(q, 10)
        w = want.score(q, 10)
        assert [(d, round(s, 9)) for d, s in g] == [(d, round(s, 9)) for d, s in w], q


def test_multigen_wand_and_pinned_rank_identity(spark, corpus2, tmp_path):
    """WAND + pinned serving over >=3 generations (with a delete) must be
    rank-identical to the batched TATA path."""
    a, b = corpus2
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(a.iloc[:100]), idx, CFG)
    add_generation(spark, spark.createDataFrame(a.iloc[100:]), idx, CFG)
    add_generation(spark, spark.createDataFrame(_delete_batch(a.iloc[[2]])), idx, CFG)
    add_generation(spark, spark.createDataFrame(b), idx, CFG)

    mg = MultiGenReader(spark, idx)
    queries = ["license apache", "def return", "VersubDelrel", "the"]
    tata = {q: mg.score(q, 10) for q in queries}
    for q in queries:
        stats = {}
        w = mg.wand(q, 10, stats=stats)
        assert [(d, round(s, 9)) for d, s in w] == [
            (d, round(s, 9)) for d, s in tata[q]
        ], q
    mg.pin_driver()
    for q in queries:
        p = mg.score(q, 10)
        assert [(d, round(s, 9)) for d, s in p] == [(d, round(s, 9)) for d, s in tata[q]], q


def test_epoch_replay_is_noop(spark, corpus2, tmp_path):
    a, _ = corpus2
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(a.iloc[:50]), idx, CFG, epoch_id=0)
    n1 = MultiGenReader(spark, idx).n_docs
    out = add_generation(spark, spark.createDataFrame(a.iloc[:50]), idx, CFG, epoch_id=0)
    assert out.get("replayed") is True
    mg = MultiGenReader(spark, idx)
    assert mg.n_docs == n1 and len(mg.gens) == 1  # no duplicate generation


def test_processing_time_trigger(spark, corpus2, tmp_path):
    a, b = corpus2
    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "sidx")
    os.makedirs(in_dir)
    schema = "repo string, path string, commit string, lang string, content string"
    a.to_parquet(os.path.join(in_dir, "b0.parquet"), index=False)
    q = index_stream(
        spark, in_dir, idx, schema, CFG, trigger={"processingTime": "1 seconds"}
    )
    try:
        import time

        deadline = time.time() + 120
        while time.time() < deadline:
            if os.path.exists(os.path.join(idx, "generations.json")):
                if MultiGenReader(spark, idx).n_docs >= len(a):
                    b.to_parquet(os.path.join(in_dir, "b1.parquet"), index=False)
                    break
            time.sleep(1)
        while time.time() < deadline:
            try:
                if MultiGenReader(spark, idx).n_docs == len(a) + len(b):
                    break
            except FileNotFoundError:
                pass
            time.sleep(1)
    finally:
        q.stop()
    assert MultiGenReader(spark, idx).n_docs == len(a) + len(b)


def test_error_classification_and_retry():
    assert classify(SchemaMismatch("bad")) == "fatal"
    assert classify(TransientSinkError("net")) == "retry"
    assert classify(SinkThrottled("429")) == "throttle"
    assert classify(ValueError("?")) == "fatal"

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise TransientSinkError("blip")
        return "ok"

    assert with_retries(flaky, sleep=lambda _s: None) == "ok"
    assert calls["n"] == 3

    with pytest.raises(SchemaMismatch):
        with_retries(lambda: (_ for _ in ()).throw(SchemaMismatch("x")), sleep=lambda _s: None)

    boom = {"n": 0}

    def always():
        boom["n"] += 1
        raise SinkThrottled("busy")

    with pytest.raises(SinkThrottled):
        with_retries(always, max_attempts=3, sleep=lambda _s: None)
    assert boom["n"] == 3


def test_delete_marks_stats_until_compaction(spark, corpus2, tmp_path):
    """ES/Lucene semantics: tombstoned docs still count in N/avgdl until
    merge — verify we do the same (documented behavior, not a bug)."""
    a, _ = corpus2
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    add_generation(spark, spark.createDataFrame(_delete_batch(a.iloc[[1]])), idx, CFG)
    mg = MultiGenReader(spark, idx)
    assert mg.n_docs == len(a)  # stats unchanged
    assert len(mg) == len(a) - 1  # visibility changed


def test_fingerprint_detects_content_update(spark, tmp_path):
    """Same row count, changed content → rebuild, not a stale resume."""
    c = generate_corpus(40)
    out = str(tmp_path / "fp")
    build_index(spark, spark.createDataFrame(c), out, CFG)
    c2 = c.copy()
    c2.loc[c2.index[0], "content"] = "qqfingerprintqq new body"
    build_index(spark, spark.createDataFrame(c2), out, CFG)
    rd = IndexReader(spark, out)
    hits = TermAtATimeScorer(rd).score("qqfingerprintqq", 5)
    assert len(hits) == 1


def test_validate_schema_against_spark_df(spark):
    from search_replica_spark.sources.code_table import validate_input_schema

    good = spark.createDataFrame(
        [("r", "p", "c", "py", "body")], "repo string, path string, commit string, lang string, content string"
    )
    validate_input_schema(good)
    bad = good.withColumn("commit", F.lit(1))
    with pytest.raises(SchemaMismatch):
        validate_input_schema(bad.select("repo", "path", "commit", "lang", "content"))


def test_distributed_multigen_rank_identity(spark, corpus2, tmp_path):
    """The DISTRIBUTED strategy over a generational index (with an update
    and a delete) must be rank-identical to MultiGenReader's TATA path."""
    from search_replica_spark.streaming.incremental import bm25_topk_spark_multigen

    a, b = corpus2
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    upd = a.iloc[[4]].copy()
    upd["content"] = "qqdistqq updated body license"
    add_generation(spark, spark.createDataFrame(upd), idx, CFG)
    add_generation(spark, spark.createDataFrame(_delete_batch(a.iloc[[6]])), idx, CFG)
    add_generation(spark, spark.createDataFrame(b), idx, CFG)

    mg = MultiGenReader(spark, idx)
    for q in ("license apache", "qqdistqq", "def return", "the"):
        want = [(d, round(s, 9)) for d, s in mg.score(q, 10)]
        rows = bm25_topk_spark_multigen(spark, idx, q, 10).collect()
        got = [(r.doc_id, round(r.score, 9)) for r in rows]
        assert got == want, q
    # mode="and": a term missing from the corpus empties the result
    assert bm25_topk_spark_multigen(spark, idx, "license zzznope", 5, mode="and").count() == 0


def test_merge_generations_equals_snapshot_rebuild(spark, corpus2, tmp_path):
    """Lucene-style segment merge: collapse generations (with an update and
    a delete) WITHOUT the source table; result must be rank-identical to a
    fresh build over the equivalent live snapshot, with live-only stats."""
    from search_replica_spark.streaming.incremental import merge_generations

    a, b = corpus2
    idx = str(tmp_path / "idx")
    add_generation(spark, spark.createDataFrame(a), idx, CFG)
    upd = a.iloc[[4]].copy()
    upd["content"] = "qqmergedqq new content license apache"
    add_generation(spark, spark.createDataFrame(upd), idx, CFG)
    add_generation(spark, spark.createDataFrame(_delete_batch(a.iloc[[6]])), idx, CFG)
    add_generation(spark, spark.createDataFrame(b), idx, CFG)

    stats = merge_generations(spark, idx, CFG)

    snap = a.copy()
    snap.iloc[4, snap.columns.get_loc("content")] = "qqmergedqq new content license apache"
    snap = snap.drop(snap.index[[6]])
    snap = pd.concat([snap, b], ignore_index=True)
    full = str(tmp_path / "full")
    build_index(spark, spark.createDataFrame(snap), full, CFG)

    assert stats["n_docs"] == len(snap)  # dead docs purged from stats
    mg = MultiGenReader(spark, idx)
    assert len(mg.gens) == 1 and mg.n_docs == len(snap)
    want = TermAtATimeScorer(IndexReader(spark, full))
    for q in ("qqmergedqq", "license apache", "def return", "the"):
        g = mg.score(q, 10)
        w = want.score(q, 10)
        assert [(d, round(s, 9)) for d, s in g] == [(d, round(s, 9)) for d, s in w], q
    # the merged index keeps accepting generations
    add_generation(spark, spark.createDataFrame(a.iloc[[0]]), idx, CFG)
    assert len(MultiGenReader(spark, idx).gens) == 2


def test_merge_policy_in_stream_and_epoch_watermark(spark, corpus2, tmp_path):
    """index_stream(max_generations=2): generations collapse in-flight; a
    replay of a pre-merge epoch stays a no-op after the merge."""
    from search_replica_spark.streaming.incremental import _load_gens

    a, b = corpus2
    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "sidx")
    os.makedirs(in_dir)
    schema = "repo string, path string, commit string, lang string, content string"
    for i, chunk in enumerate((a.iloc[:70], a.iloc[70:140], a.iloc[140:])):
        chunk.to_parquet(os.path.join(in_dir, f"b{i}.parquet"), index=False)
    q = index_stream(
        spark, in_dir, idx, schema, CFG, max_generations=2, max_files_per_trigger=1
    )
    q.awaitTermination(600)
    gens = _load_gens(idx)
    assert len(gens) <= 2  # merge policy fired
    mg = MultiGenReader(spark, idx)
    assert mg.n_docs == len(a)
    wm = max(g.get("max_epoch") or -1 for g in gens)
    assert wm >= 0  # watermark survived the merge
    # replaying a committed epoch after the merge is a no-op
    out = add_generation(spark, spark.createDataFrame(a.iloc[:70]), idx, CFG, epoch_id=0)
    assert out.get("replayed") is True
    assert MultiGenReader(spark, idx).n_docs == len(a)


def test_liveness_is_sparse_and_lazy(spark, corpus2, tmp_path):
    """Driver-side liveness state is O(superseded + tombstoned), NOT an
    O(corpus) bitmap, and computing it never loads the doc store into the
    driver: the property that keeps a serving node's memory flat as the
    corpus grows."""
    from search_replica_spark.streaming.incremental import LiveDocs

    a, b = corpus2
    for n, tag in ((40, "s"), (120, "l")):  # 3x the docs, same churn
        idx = str(tmp_path / f"idx{tag}")
        add_generation(spark, spark.createDataFrame(a.iloc[:n]), idx, CFG)
        add_generation(spark, spark.createDataFrame(a.iloc[:2]), idx, CFG)  # 2 superseded
        add_generation(spark, spark.createDataFrame(_delete_batch(a.iloc[[4]])), idx, CFG)
        mg = MultiGenReader(spark, idx)
        assert mg._live_cache is None  # lazy: nothing computed yet
        lv = mg._live
        assert isinstance(lv, LiveDocs)
        assert mg._doc_len is None  # liveness never pulled the doc store
        assert lv.dead.size == 3  # 2 superseded + 1 tombstoned — corpus-size-free
        assert lv.sum() == n - 1  # n docs, 2 re-upserts superseded, 1 deleted
    # mask ops used by the scorers
    import numpy as np

    dead0 = int(lv.dead[0])
    alive = next(i for i in range(lv.n) if i not in set(lv.dead))
    assert lv[dead0] is False or lv[dead0] == False  # noqa: E712 scalar path
    assert bool(lv[alive])
    got = lv[np.array([dead0, alive])]
    assert got.tolist() == [False, True]
    dense = lv.astype(bool)
    assert dense.sum() == lv.sum() and not dense[dead0]


def test_single_gen_liveness_fast_path(spark, corpus2, tmp_path):
    """Post-merge steady state: one live generation + later tombstone-only
    generations resolves by point lookup, and stays rank-identical."""
    a, _ = corpus2
    idx = str(tmp_path / "idx1g")
    add_generation(spark, spark.createDataFrame(a.iloc[:30]), idx, CFG)
    add_generation(spark, spark.createDataFrame(_delete_batch(a.iloc[[7]])), idx, CFG)
    mg = MultiGenReader(spark, idx)
    assert len(mg.live_gens) == 1
    assert mg._live.dead.size == 1
    did = doc_id_of(a["repo"].iloc[7], a["path"].iloc[7])
    assert did not in [d for d, _ in mg.score("the", 100)]


def test_multigen_readers_use_the_index_k1_b(spark, corpus2, tmp_path):
    """MultiGenReader scores with the index's own k1/b (stats.json), not
    library defaults: TAAT, WAND (whose stored block maxima were computed
    with the index's k1/b) and the distributed plan agree on an index
    built with non-default parameters."""
    import dataclasses

    from search_replica_spark.streaming.incremental import bm25_topk_spark_multigen

    a, b = corpus2
    cfg = dataclasses.replace(CFG, k1=2.0, b=0.3)
    idx = str(tmp_path / "k1b")
    add_generation(spark, spark.createDataFrame(a), idx, cfg)
    add_generation(spark, spark.createDataFrame(b), idx, cfg)
    mg = MultiGenReader(spark, idx)
    assert (mg.k1, mg.b) == (2.0, 0.3)
    for q in ("license apache", "def return", "the"):
        taat = [(d, round(s, 9)) for d, s in mg.score(q, 10)]
        wand = [(d, round(s, 9)) for d, s in mg.wand(q, 10)]
        rows = bm25_topk_spark_multigen(spark, idx, q, 10).collect()
        assert taat == wand == [(r.doc_id, round(r.score, 9)) for r in rows], q


def test_distributed_multigen_without_doclens(spark, corpus2, tmp_path):
    """A store_doclens=False generational index has empty dls_bin streams:
    the distributed plan takes doc_len from the docs tables instead and
    stays rank-identical to MultiGenReader."""
    import dataclasses

    from search_replica_spark.streaming.incremental import bm25_topk_spark_multigen

    a, b = corpus2
    cfg = dataclasses.replace(CFG, store_doclens=False)
    idx = str(tmp_path / "nodl")
    add_generation(spark, spark.createDataFrame(a), idx, cfg)
    upd = a.iloc[[4]].copy()
    upd["content"] = "qqnodlqq updated body license"
    add_generation(spark, spark.createDataFrame(pd.concat([upd, b])), idx, cfg)
    mg = MultiGenReader(spark, idx)
    assert len(mg.live_gens) == 2
    for q in ("license apache", "qqnodlqq", "def return"):
        want = [(d, round(s, 9)) for d, s in mg.score(q, 10)]
        rows = bm25_topk_spark_multigen(spark, idx, q, 10).collect()
        assert [(r.doc_id, round(r.score, 9)) for r in rows] == want, q
