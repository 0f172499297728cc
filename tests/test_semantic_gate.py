"""SemanticGatedIngest: embedding near-dup admission on the shared
ledger/commit protocol — crash-window exactly-once sweep, batch-mode
decision parity, model persistence determinism, within-batch collapse,
and compact composition (the text gate's chaos contract, semantic twin).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from data_pipeline_spark.streaming.ingest import ChaosCrash, SemanticGatedIngest

DIM = 16


def _unit(i: int) -> list[float]:
    """Deterministic well-separated unit vector (hash-seeded)."""
    rng = np.random.RandomState(1000 + i)
    v = rng.standard_normal(DIM)
    return (v / np.linalg.norm(v)).tolist()


def _near(base: list[float], seed: int, eps: float = 0.03) -> list[float]:
    rng = np.random.RandomState(seed)
    v = np.asarray(base) + eps * rng.standard_normal(DIM)
    return (v / np.linalg.norm(v)).tolist()


BASE = {i: _unit(i) for i in range(8)}
B1 = [(1, BASE[1]), (2, BASE[2]), (3, BASE[3])]
B2 = [
    (10, _near(BASE[1], 7)),   # near-copy of committed doc 1 -> reject
    (11, BASE[4]),             # novel -> admit
    (12, _near(BASE[4], 8)),   # within-batch near-copy of 11 -> drop
    (13, BASE[5]),             # novel -> admit
]


def _sink(spark, tmp_path, name="a", **kw):
    return SemanticGatedIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        ledger_path=str(tmp_path / f"ledger_{name}"),
        id_col="doc_id",
        vec_col="embedding",
        threshold=0.9,
        n_lists=4,
        m=4,
        n_centroids=8,
        **kw,
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, embedding ARRAY<DOUBLE>")


def _corpus_ids(spark, tmp_path):
    return sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )


def test_admit_reject_and_within_batch_collapse(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    assert sink.admit_batch(_df(spark, B1), 0) == 3
    # 10 rejected (near-copy of committed 1), 12 dropped within-batch
    assert sink.admit_batch(_df(spark, B2), 1) == 2
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3, 11, 13]
    # model persisted before any commit
    assert os.path.exists(os.path.join(sink.index_dir, "model.json"))


@pytest.mark.parametrize(
    "crash_at", ["after_gate", "after_corpus", "after_index"]
)
def test_crash_window_replay_is_exactly_once(spark, tmp_path, crash_at):
    sink = _sink(spark, tmp_path)
    assert sink.admit_batch(_df(spark, B1), 0) == 3

    sink.crash_points = {crash_at}
    with pytest.raises(ChaosCrash):
        sink.admit_batch(_df(spark, B2), 1)

    recovered = _sink(spark, tmp_path)
    assert recovered.admit_batch(_df(spark, B2), 1) == 2
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3, 11, 13]
    assert recovered.admit_batch(_df(spark, B2), 1) == 0  # replay no-op
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3, 11, 13]


def test_model_trains_once_and_recovers_identically(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, B1), 0)
    with open(os.path.join(sink.index_dir, "model.json")) as fh:
        first = fh.read()
    # later triggers never retrain
    sink.admit_batch(_df(spark, B2), 1)
    with open(os.path.join(sink.index_dir, "model.json")) as fh:
        assert fh.read() == first
    # a fresh sink loads the persisted model (no retrain on batch 2's
    # different distribution) and keeps making the same decisions
    recovered = _sink(spark, tmp_path)
    flags = {
        r.doc_id: r.near_dup
        for r in recovered.gate_flags(_df(spark, B2)).collect()
    }
    assert flags[10] == 1 and flags[11] == 0


def test_first_model_write_failing_midway_leaves_no_torn_model(
    spark, tmp_path, monkeypatch
):
    """The first ``model.json`` write of a sink fails halfway (a full
    disk).  That trigger fails, but no torn model is left behind: the
    next trigger trains the model a clean sink trains, admits, and later
    triggers gate as usual."""
    import builtins
    import errno
    import io

    sink = _sink(spark, tmp_path / "faulty")
    model_path = os.path.join(sink.index_dir, "model.json")
    real_open = builtins.open
    faults = []

    class HalfWrite:
        def __init__(self, fh):
            self._fh = fh

        def write(self, s):
            self._fh.write(s[: len(s) // 2])
            self._fh.flush()
            raise OSError(errno.ENOSPC, "No space left on device")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._fh.close()

        def __getattr__(self, name):
            return getattr(self._fh, name)

    def is_model(file) -> bool:
        if isinstance(file, int):  # a descriptor the sink opened itself
            return os.path.exists(model_path) and os.path.samestat(
                os.fstat(file), os.stat(model_path)
            )
        return os.path.basename(os.fspath(file)).startswith("model.json")

    def faulty_open(file, mode="r", *args, **kwargs):
        fh = real_open(file, mode, *args, **kwargs)
        if "w" in mode and not faults and is_model(file):
            faults.append(file)
            return HalfWrite(fh)
        return fh

    # os.fdopen opens through io.open, every other writer through open
    monkeypatch.setattr(builtins, "open", faulty_open)
    monkeypatch.setattr(io, "open", faulty_open)
    with pytest.raises(OSError, match="No space left"):
        sink.admit_batch(_df(spark, B1), 0)
    monkeypatch.undo()
    assert faults

    assert sink.admit_batch(_df(spark, B1), 0) == 3
    assert sink.admit_batch(_df(spark, B2), 1) == 2
    assert _corpus_ids(spark, tmp_path / "faulty") == [1, 2, 3, 11, 13]
    clean = _sink(spark, tmp_path / "clean")
    assert clean.admit_batch(_df(spark, B1), 0) == 3
    with open(model_path) as a, open(
        os.path.join(clean.index_dir, "model.json")
    ) as b:
        assert a.read() == b.read()


def test_batch_mode_parity_with_greedy_semantic_dedup(spark, tmp_path):
    """Streaming admissions over ordered epochs == the greedy batch
    semantic dedup (min-id keeper first: a doc survives iff no SURVIVOR
    with smaller id sits at cosine >= threshold)."""
    rows = []
    for i in range(6):
        rows.append((100 + i, BASE[i]))
        rows.append((200 + i, _near(BASE[i], 50 + i)))  # near-copy, larger id
    rows.sort()

    # greedy expected set (driver brute force)
    vecs = {i: np.asarray(v) for i, v in rows}
    survivors: list[int] = []
    for i in sorted(vecs):
        v = vecs[i] / np.linalg.norm(vecs[i])
        if all(
            float(v @ (vecs[s] / np.linalg.norm(vecs[s]))) < 0.9
            for s in survivors
        ):
            survivors.append(i)

    sink = _sink(spark, tmp_path)
    for epoch, start in enumerate(range(0, len(rows), 4)):
        sink.admit_batch(_df(spark, rows[start : start + 4]), epoch)
    assert _corpus_ids(spark, tmp_path) == survivors


def test_compact_composes_with_semantic_gate(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, B1), 0)
    sink.admit_batch(_df(spark, [(20, BASE[6])]), 1)
    assert sink.compact() == 4
    # gate still rejects near-copies of pre-compaction docs
    flags = {
        r.doc_id: r.near_dup
        for r in sink.gate_flags(
            _df(spark, [(30, _near(BASE[1], 9)), (31, BASE[7])])
        ).collect()
    }
    assert flags[30] == 1 and flags[31] == 0
    assert sink.admit_batch(
        _df(spark, [(30, _near(BASE[1], 9)), (31, BASE[7])]), 2
    ) == 1
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3, 20, 31]


def test_empty_and_first_batch_paths(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    # first batch: no committed index -> everything (post-collapse) admits
    flags = sink.gate_flags(_df(spark, B1))
    assert {r.keep for r in flags.collect()} == {1}
    assert sink.admit_batch(_df(spark, B1), 0) == 3
    # empty trigger commits cleanly
    assert sink.admit_batch(_df(spark, []), 1) == 0


def test_null_embedding_admits_and_never_crashes(spark, tmp_path):
    """NULL vectors normalize to zero cosine: they always ADMIT (the
    text gate's NULL contract, semantic twin) and crash no kernel —
    including when the committed index itself holds a NULL row."""
    sink = _sink(spark, tmp_path)
    rows0 = [(1, BASE[1]), (2, None), (3, BASE[3])]
    assert sink.admit_batch(_df(spark, rows0), 0) == 3
    rows1 = [(10, _near(BASE[1], 7)), (11, None), (12, BASE[4])]
    flags = {r.doc_id: r.near_dup for r in sink.gate_flags(_df(spark, rows1)).collect()}
    assert flags == {10: 1, 11: 0, 12: 0}
    assert sink.admit_batch(_df(spark, rows1), 1) == 2  # 11 and 12


def test_empty_first_trigger_then_normal_flow(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    assert sink.admit_batch(_df(spark, []), 0) == 0  # no model train crash
    assert sink.admit_batch(_df(spark, B1), 1) == 3
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3]


def test_streaming_end_to_end_writestream(spark, tmp_path):
    """The full writeStream/availableNow path: a file stream feeds the
    semantic sink trigger by trigger; near-copies of committed vectors
    are rejected, novel vectors admitted — the inherited foreachBatch
    machinery composes with the overridden gate unchanged."""
    sink = _sink(spark, tmp_path)
    assert sink.admit_batch(_df(spark, B1), 0) == 3

    src = tmp_path / "src"
    _df(
        spark,
        [(40, _near(BASE[2], 13)), (41, BASE[6])],  # dup of 2, novel
    ).write.parquet(str(src))
    stream = spark.readStream.schema(
        "doc_id LONG, embedding ARRAY<DOUBLE>"
    ).parquet(str(src))
    # new checkpoint => new epoch scope => its own ledger (the text
    # gate's convention)
    streaming_sink = SemanticGatedIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        ledger_path=str(tmp_path / "stream_ledger"),
        id_col="doc_id",
        vec_col="embedding",
        threshold=0.9,
        n_lists=4,
        m=4,
        n_centroids=8,
    )
    q = streaming_sink.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3, 41]


# -- model lifecycle (r11): versioned retrain/reindex contract --------------


def test_retrain_reencodes_index_and_keeps_decisions(spark, tmp_path):
    """The drift contract: retrain() bumps the model version, re-encodes
    EVERY committed index row under the new codebooks (single-version
    invariant), actually changes the model (v2 trains on the committed
    corpus, not the first batch), and gate decisions on the planted
    fixtures are unchanged — the exact-verify stage makes admission
    robust to quantizer replacement."""
    import json

    sink = _sink(spark, tmp_path)
    assert sink.admit_batch(_df(spark, B1), 0) == 3
    assert sink.admit_batch(_df(spark, B2), 1) == 2
    before = {
        r.doc_id: (r.near_dup, r.keep)
        for r in sink.gate_flags(_df(spark, B2)).collect()
    }
    assert sink._active_version() == 1

    n = sink.retrain()
    assert n == 5  # [1, 2, 3, 11, 13]
    assert sink._active_version() == 2
    assert os.path.exists(os.path.join(sink.index_dir, "model_v2.json"))
    with open(os.path.join(sink.index_dir, "model_v2.json")) as fh:
        v2 = json.load(fh)
    with open(os.path.join(sink.index_dir, "model.json")) as fh:
        v1 = json.load(fh)
    assert v2["trained_on_n"] == 5 and v1["trained_on_n"] == 0
    assert v2["coarse"] != v1["coarse"]  # trained on 5 docs, not 3
    # every committed index row re-encoded under v2
    idx = sink.committed_index()
    vs = idx.agg(F.min("model_v"), F.max("model_v")).first()
    assert (vs[0], vs[1]) == (2, 2)
    # decisions unchanged across the version bump (fresh sink too)
    recovered = _sink(spark, tmp_path)
    after = {
        r.doc_id: (r.near_dup, r.keep)
        for r in recovered.gate_flags(_df(spark, B2)).collect()
    }
    assert after == before
    # corpus intact and a replayed epoch stays a no-op
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3, 11, 13]
    assert recovered.admit_batch(_df(spark, B2), 1) == 0
    # post-retrain admissions encode under the ACTIVE version
    assert recovered.admit_batch(_df(spark, [(50, BASE[7])]), 2) == 1
    vs = recovered.committed_index().agg(
        F.min("model_v"), F.max("model_v")
    ).first()
    assert (vs[0], vs[1]) == (2, 2)


@pytest.mark.parametrize(
    "crash_at",
    [
        "retrain_after_model",
        "retrain_after_corpus",
        "retrain_before_ledger",
        "retrain_after_ledger",
    ],
)
def test_retrain_crash_windows_never_corrupt(spark, tmp_path, crash_at):
    """Chaos replay across the version bump: a crash anywhere before the
    ledger append leaves the v1 index fully live (vacuum sweeps the
    orphans, the next retrain completes); after the append, v2 is live
    and the superseded dirs are invisible.  Decisions identical in every
    window."""
    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, B1), 0)
    sink.admit_batch(_df(spark, B2), 1)
    expect = {
        r.doc_id: (r.near_dup, r.keep)
        for r in sink.gate_flags(_df(spark, B2)).collect()
    }

    sink.crash_points = {crash_at}
    with pytest.raises(ChaosCrash):
        sink.retrain()

    recovered = _sink(spark, tmp_path)
    committed_v = recovered._active_version()
    if crash_at == "retrain_after_ledger":
        assert committed_v == 2  # commit landed; only cleanup was lost
    else:
        assert committed_v == 1  # old index fully live
    got = {
        r.doc_id: (r.near_dup, r.keep)
        for r in recovered.gate_flags(_df(spark, B2)).collect()
    }
    assert got == expect
    recovered.vacuum()
    # a completed retrain converges from any window
    assert recovered.retrain() == 5
    assert recovered._active_version() == committed_v + 1
    got = {
        r.doc_id: (r.near_dup, r.keep)
        for r in recovered.gate_flags(_df(spark, B2)).collect()
    }
    assert got == expect
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3, 11, 13]


def test_retrain_after_policy_autotriggers(spark, tmp_path):
    """retrain_after: the commit hook retrains once the live corpus has
    grown by the threshold since the active model trained."""
    sink = _sink(spark, tmp_path, retrain_after=4)
    assert sink.admit_batch(_df(spark, B1), 0) == 3   # live 3 < 4: no
    assert sink._active_version() == 1
    assert sink.admit_batch(_df(spark, B2), 1) == 2   # live 5 >= 4: retrain
    assert sink._active_version() == 2
    # v2 trained_on_n = 5, so the next small commit does NOT retrain
    assert sink.admit_batch(_df(spark, [(60, BASE[6])]), 2) == 1
    assert sink._active_version() == 2
    # drift accessor reports a finite ratio on the committed index
    d = sink.adc_drift()
    assert d is not None and d >= 0.0


def test_mixed_version_index_fails_loud(spark, tmp_path):
    """A retrain committed concurrently with an unserialized writer's
    old-version epoch leaves a mixed-version index — the gate must
    refuse to probe it (codes under two quantizers are not comparable),
    not degrade silently."""
    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, B1), 0)
    sink.retrain()  # index now v2
    # simulate a TRULY CONCURRENT stale commit: the retrain lands between
    # the foreign writer's version check and its append — the one
    # interleaving only serialize_writers can prevent, so the reconcile
    # hook is disabled to model it (a merely STALE cached writer is now
    # reconciled before committing — see
    # test_foreign_retrain_is_picked_up_by_cached_writer)
    stale = _sink(spark, tmp_path, name="stale")
    stale._load_model(1)
    stale._model_version = 1
    stale._foreign_version_check = lambda: None
    stale.admit_batch(_df(spark, [(70, BASE[7])]), 0)
    fresh = _sink(spark, tmp_path, name="probe")
    with pytest.raises(RuntimeError, match="MIXED model versions"):
        fresh.gate_flags(_df(spark, B2)).collect()


def test_pre_r11_rows_mixed_with_v2_surface_as_mixed(spark, tmp_path):
    """ADVICE r11: pre-r11 index files (no model_v COLUMN at all)
    committed alongside post-retrain v2 files must surface as a MIXED
    index and fail loud — not be silently stamped v1-or-v2 by whichever
    parquet footer the schema sampler picked.  Probing v1-encoded PQ
    codes with the v2 quantizer is the exact silent recall loss the
    mixed-version guard exists to prevent; per-row coalesce over a
    merged schema is what routes this mix INTO that guard."""
    import glob
    import shutil

    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, B1), 0)
    sink.retrain()  # whole index re-encoded at v2
    # a stale v1 writer commits an epoch, then its files are rewritten
    # WITHOUT the model_v column — the on-disk shape of a pre-r11 sidecar
    stale = _sink(spark, tmp_path, name="stale")
    stale._load_model(1)
    stale._model_version = 1
    stale.admit_batch(_df(spark, [(70, BASE[7])]), 0)
    parts = glob.glob(
        os.path.join(sink._docs_dir, "ingest_writer=*", "ingest_epoch=*")
    )
    stripped_one = False
    for part in parts:
        rows = spark.read.parquet(part)
        ids = {r.cor_id for r in rows.select("cor_id").collect()}
        if ids == {70}:
            rows.drop("model_v").write.parquet(part + ".new")
            shutil.rmtree(part)
            os.rename(part + ".new", part)
            stripped_one = True
    assert stripped_one
    fresh = _sink(spark, tmp_path, name="probe")
    with pytest.raises(RuntimeError, match="MIXED model versions"):
        fresh.gate_flags(_df(spark, B2)).collect()


def test_retrain_policy_is_ledger_cost_per_commit(spark, tmp_path):
    """ADVICE r11: with a retrain policy set, the per-commit policy hook
    must not aggregate the full index per micro-batch — the version comes
    from the instance cache (no _active_version index scan after the
    first resolution) and adc_drift runs only every Nth non-empty
    commit."""
    sink = _sink(
        spark, tmp_path, retrain_drift=float("inf"), drift_check_every=3
    )
    drift_calls = []
    version_scans = []
    orig_drift, orig_active = sink.adc_drift, sink._active_version

    def spy_drift():
        drift_calls.append(1)
        return orig_drift()

    def spy_active():
        version_scans.append(1)
        return orig_active()

    sink.adc_drift = spy_drift
    sink._active_version = spy_active
    for i, doc in enumerate(range(20, 26)):
        vec = _unit(doc)
        assert sink.admit_batch(_df(spark, [(doc, vec)]), i) == 1
    # drift probed on commits 3 and 6 only (cadence 3)
    assert len(drift_calls) == 2
    # no O(index) version scan after the model resolved on commit 1
    assert len(version_scans) <= 1
    # the infinite threshold never retrains
    assert sink._cached_version() == 1


def test_gate_scan_prunes_to_probed_lists(spark, tmp_path):
    """r11 verdict item #4: the ADC scan's probed-list membership is
    pushed into the index scan (a ``list_id IN`` parquet filter, not a
    python-side mask over a full-index Arrow transfer), the exact-verify
    fetch prunes with the same filter, and decisions are IDENTICAL
    before and after the compaction that clusters the sidecar layout by
    list range."""
    from data_pipeline_spark.plans.audit import formatted_plan

    sink = _sink(spark, tmp_path, n_probe=1)
    assert sink.admit_batch(_df(spark, B1), 0) == 3
    assert sink.admit_batch(_df(spark, [(20, BASE[6]), (21, BASE[7])]), 1) == 2

    batch = _df(spark, [(99, _near(BASE[1], 17)), (98, BASE[0])])
    before = {
        (r.doc_id, r.near_dup, r.keep)
        for r in sink.gate_flags(batch).collect()
    }
    plan = formatted_plan(sink.gate_flags(batch))
    # the In filter reaches the parquet scan (pushed, not residual-only)
    assert "In(list_id" in plan.split("PushedFilters", 1)[1].splitlines()[0], plan

    # compact rewrites the sidecar range-partitioned + sorted on list_id;
    # decisions must not move
    assert sink.compact() == 5
    after = {
        (r.doc_id, r.near_dup, r.keep)
        for r in sink.gate_flags(batch).collect()
    }
    assert after == before
    # near-copy of committed doc 1 flagged, novel vector kept
    flags = dict((d, (nd, k)) for d, nd, k in after)
    assert flags[99] == (1, 0) and flags[98] == (0, 1)
    # the compacted files each cover a narrow list range (clustering
    # actually happened): per-file distinct list_id spans are bounded
    import glob

    files = glob.glob(
        os.path.join(sink._docs_dir, "ingest_writer=c*", "*", "*.parquet")
    )
    assert files
    spans = []
    for f in files:
        rows = spark.read.parquet(f).select("list_id").collect()
        if rows:
            vals = [r.list_id for r in rows]
            spans.append((min(vals), max(vals)))
    # ranges are disjoint-ish: no file covers the whole list space when
    # more than one file exists
    if len(spans) > 1:
        assert any(hi - lo < sink.n_lists - 1 for lo, hi in spans)


# -- auto-scaled coarse geometry (r12) ---------------------------------------


def test_lists_for_clamps():
    """n_lists ~ sqrt(n) with the constructor value as floor and 4096 as
    cap; the knob is inert when auto_scale_lists is off."""
    sink = object.__new__(SemanticGatedIngest)
    sink.n_lists, sink.auto_scale_lists = 64, True
    assert sink._lists_for(100) == 64            # floor: never shrinks
    assert sink._lists_for(1_000_000) == 1000    # sqrt regime
    assert sink._lists_for(10**9) == 4096        # sample-collect cap
    sink.auto_scale_lists = False
    assert sink._lists_for(10**9) == 64


def test_retrain_auto_scales_coarse_lists(spark, tmp_path):
    """auto_scale_lists: retrain re-derives the coarse list count from
    the committed corpus size (sqrt, floored at the constructor value),
    and the grown geometry lives entirely in the versioned model file —
    post-retrain gating still rejects near-copies of committed docs and
    admits novel ones.  Default off: retrain keeps the constructor
    count on the same corpus."""
    import math

    rows = [(100 + i, _unit(100 + i)) for i in range(144)]
    sink = _sink(spark, tmp_path, auto_scale_lists=True)
    n = sink.admit_batch(_df(spark, rows), 0)
    assert n >= 140  # well-separated seeds; tolerate rare 16-dim collapse
    assert sink.retrain() == n
    v = sink._cached_version()
    coarse = sink._models[v][0]
    assert len(coarse) == int(round(math.sqrt(n)))  # 12 at n=144, > floor 4
    # decisions under the grown geometry: near-copy of a committed doc
    # (id 100, smallest id — never within-batch collapsed) rejected,
    # novel admitted
    nxt = [(900, _near(_unit(100), 3)), (901, _unit(90001))]
    assert sink.admit_batch(_df(spark, nxt), 1) == 1
    assert 901 in _corpus_ids(spark, tmp_path)
    assert 900 not in _corpus_ids(spark, tmp_path)
    # a fresh instance attached to the grown index loads the persisted
    # scaled model (geometry is model-file state, not instance state)
    again = _sink(spark, tmp_path, name="reader", auto_scale_lists=True)
    assert len(again._models[again._cached_version()][0]) == len(coarse)
    # fixed-geometry default on an identical corpus: count unchanged
    fixed_dir = tmp_path / "fixed"
    fixed_dir.mkdir()
    fsink = _sink(spark, fixed_dir)
    assert fsink.admit_batch(_df(spark, rows), 0) == n
    fsink.retrain()
    assert len(fsink._models[fsink._cached_version()][0]) == fsink.n_lists


# -- foreign-retrain reconciliation + sidecar read discipline (r12) ----------


def test_foreign_retrain_is_picked_up_by_cached_writer(spark, tmp_path):
    """A long-lived writer whose model version is instance-cached must
    reconcile a COMMITTED foreign retrain instead of encoding stale-
    version rows into the new index (the silent corruption the mixed-
    version guard exists to catch, which a pure cache never re-runs).
    The signal is O(listdir): the foreign retrain's model file."""
    a = _sink(spark, tmp_path, name="a")
    a.admit_batch(_df(spark, B1), 0)
    assert a._model_version == 1
    b = _sink(spark, tmp_path, name="b")
    assert b.retrain() == 3  # commits v2, re-encodes the whole index
    # a's next admit gates AND encodes under v2 — no mixed index, no error
    assert a.admit_batch(_df(spark, [(50, BASE[6])]), 1) == 1
    assert a._model_version == 2
    vs = {
        r.model_v
        for r in a.committed_index().select("model_v").distinct().collect()
    }
    assert vs == {2}


def test_orphan_model_file_rescans_once_then_real_retrain_lands(spark, tmp_path):
    """An orphaned model file (retrain crashed before its ledger append)
    must not flip the cached version — and because a LATER retrain
    rewrites the SAME filename before committing, the orphan is
    remembered by stat signature, not version number, so that commit is
    still reconciled."""
    import json as _json
    import time as _time

    a = _sink(spark, tmp_path, name="a")
    a.admit_batch(_df(spark, B1), 0)
    # plant the orphan: v2 model file exists, index still fully v1
    with open(a._model_path) as fh:
        payload = _json.load(fh)
    payload["version"] = 2
    with open(a._model_file(2), "w") as fh:
        fh.write(_json.dumps(payload))
    assert a.admit_batch(_df(spark, [(60, BASE[6])]), 1) == 1
    assert a._model_version == 1  # orphan: committed index is the truth
    _time.sleep(0.01)  # ensure a distinguishable mtime on the rewrite
    b = _sink(spark, tmp_path, name="b")
    assert b.retrain() == 4  # overwrites model_v2.json, commits v2
    assert a.admit_batch(_df(spark, [(61, BASE[7])]), 2) == 1
    assert a._model_version == 2
    vs = {
        r.model_v
        for r in a.committed_index().select("model_v").distinct().collect()
    }
    assert vs == {2}


def test_sidecar_schema_cached_not_remerged(spark, tmp_path, monkeypatch):
    """mergeSchema is an all-file footer job — O(files) per gate trigger
    on a long-running stream.  The merged schema must resolve once and
    be reused as an explicit schema (parquet fills missing columns with
    nulls, the per-row coalesce stamps them v1)."""
    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, B1), 0)
    assert sink.committed_index().count() == 3  # resolves + caches
    assert sink._docs_schema is not None
    from pyspark.sql.readwriter import DataFrameReader

    def boom(self, *a, **k):
        raise AssertionError("schema re-inferred after cache")

    monkeypatch.setattr(DataFrameReader, "option", boom)
    assert sink.committed_index().count() == 3  # explicit-schema read
    # cache invalidates when a new model generation appears
    monkeypatch.undo()
    sink.retrain()
    assert sink.committed_index().count() == 3
    assert sink._docs_schema_fv == 2


def test_compact_preserves_model_v_on_pre_r11_mix(spark, tmp_path):
    """compact() must read the sidecar through the back-compat hook: a
    plain read of a dir mixing pre-r11 files (no model_v column) with
    v2 files can sample a pre-r11 footer and drop model_v from the
    rewrite — laundering a MIXED index into 'all v1' and destroying the
    evidence the fail-loud guard needs.  After compaction the mix must
    still surface as MIXED."""
    import glob
    import shutil

    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, B1), 0)
    sink.retrain()  # whole index re-encoded at v2
    stale = _sink(spark, tmp_path, name="stale")
    stale._load_model(1)
    stale._model_version = 1
    stale.admit_batch(_df(spark, [(70, BASE[7])]), 0)
    parts = glob.glob(
        os.path.join(sink._docs_dir, "ingest_writer=*", "ingest_epoch=*")
    )
    stripped_one = False
    for part in parts:
        rows = spark.read.parquet(part)
        ids = {r.cor_id for r in rows.select("cor_id").collect()}
        if ids == {70}:
            rows.drop("model_v").write.parquet(part + ".new")
            shutil.rmtree(part)
            os.rename(part + ".new", part)
            stripped_one = True
    assert stripped_one
    compactor = _sink(spark, tmp_path, name="compactor")
    assert compactor.compact() == 4
    probe = _sink(spark, tmp_path, name="probe2")
    with pytest.raises(RuntimeError, match="MIXED model versions"):
        probe.gate_flags(_df(spark, B2)).collect()
