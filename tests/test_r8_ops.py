"""Round-8 operators: splits, mixing weights, dedup observability, sketch
calibration, Gram matrix, SCD2 intervals. The round-8 text operators
(Gopher quality, type-token ratio, tokenizer fertility, n-gram novelty)
are tested in test_text_ops.py."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, source=s) for i, (t, s) in enumerate(rows)]
    )


def test_train_split_deterministic_and_leakproof(spark, sf_dir):
    from radar_output_restructure_spark.operators.curation import (
        content_train_split,
    )
    from radar_output_restructure_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc: r.split for r in content_train_split(docs).collect()}
    b = {r.doc: r.split for r in content_train_split(docs).collect()}
    assert a == b  # content-hash: no rand() anywhere
    assert set(a.values()) <= {"train", "val", "test"}
    # exact copies land in the same split (leakage-proof by construction)
    dup = _docs(spark, [("same text", "s"), ("same text", "s")])
    splits = {r.split for r in content_train_split(dup).collect()}
    assert len(splits) == 1


def test_source_balance_weights_math(spark):
    from radar_output_restructure_spark.operators.curation import (
        source_balance_weights,
    )

    df = _docs(spark, [("t", "a")] * 3 + [("t", "b")] * 1)
    out = {r.source: r for r in source_balance_weights(df).collect()}
    # total 4, 2 sources -> uniform share 2: a = 2/3, b = 2/1
    assert out["a"].weight_micro == 666667
    assert out["b"].weight_micro == 2_000_000


def test_source_dup_rate_and_hist(spark):
    from radar_output_restructure_spark.operators.dedup_scale import (
        dup_group_size_hist,
        source_dup_rate,
    )

    df = _docs(
        spark,
        [
            ("copy me", "a"),
            ("copy me", "a"),
            ("copy me", "b"),  # cross-source copy counts for b too
            ("unique one", "b"),
        ],
    )
    rate = {r.source: r for r in source_dup_rate(df).collect()}
    assert rate["a"].n_dup_docs == 2 and rate["a"].dup_rate_micro == 1_000_000
    assert rate["b"].n_dup_docs == 1 and rate["b"].dup_rate_micro == 500000
    hist = {r.n_copies: r.n_groups for r in dup_group_size_hist(df).collect()}
    assert hist == {1: 1, 3: 1}


def test_minhash_estimate_error_exact_duplicates(spark):
    from radar_output_restructure_spark.operators.dedup_scale import (
        minhash_estimate_error,
    )

    df = _docs(
        spark,
        [
            ("alpha beta gamma delta epsilon zeta", "s"),
            ("alpha beta gamma delta epsilon zeta", "s"),  # exact dup
            ("totally unrelated content lives here now", "s"),
        ],
    )
    rows = minhash_estimate_error(df).collect()
    pair = {(r.doc_a, r.doc_b): r for r in rows}
    assert (0, 1) in pair  # identical docs always band-collide
    r = pair[(0, 1)]
    assert r.n_matching == 8
    assert r.est_micro == 1_000_000 and r.exact_micro == 1_000_000
    assert r.abs_err_micro == 0


def test_gram_matrix_matches_numpy(spark):
    from radar_output_restructure_spark.operators.similarity import gram_matrix

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).astype(np.float64)
    # exact-half milli values: 0.0625*1000 = 62.5 exactly in binary. The
    # oracle (SQL round) is half-away-from-zero, so these MUST quantize to
    # +-63, not banker's 62 — regression for the np.rint divergence.
    vecs[0] = [0.0625, -0.0625, 0.1875, -0.1875, 0.0625, 0.0625, 0.0, 1.0]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )
    out = {(r.i, r.j): r.s for r in gram_matrix(df, dims=8, scale=1000).collect()}
    av = np.abs(vecs * 1000)
    r = np.floor(av + 0.5)
    r = np.where(r - av > 0.5, r - 1.0, r)
    q = (np.sign(vecs) * r).astype(np.int64)  # round-half-away model
    assert q[0, 0] == 63 and q[0, 1] == -63
    ref = q.T @ q
    assert len(out) == 8 * 9 // 2
    for i in range(8):
        for j in range(i, 8):
            assert out[(i + 1, j + 1)] == ref[i, j]


def test_r8_metric_invariants_on_real_data(spark, sf_dir):
    """Range/consistency invariants every micro-ratio metric must satisfy
    on the real testdata, whatever the corpus contents."""
    from radar_output_restructure_spark.operators.dedup_scale import (
        dup_group_size_hist,
        minhash_estimate_error,
        source_dup_rate,
    )
    from radar_output_restructure_spark.operators.text import (
        gopher_quality,
        ngram_novelty,
        type_token_ratio,
    )
    from radar_output_restructure_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    for r in type_token_ratio(docs).collect():
        assert 0 <= r.n_types <= r.n_tokens
        assert 0 <= r.ttr_micro <= 1_000_000
    for r in ngram_novelty(docs).collect():
        assert 0 <= r.n_novel <= r.n_shingles
        assert 0 <= r.novelty_micro <= 1_000_000
    for r in gopher_quality(docs).collect():
        assert r.passes in (0, 1)
        assert 0 <= r.alpha_ratio_micro <= 1_000_000
        assert (r.n_words == 0) == (r.mean_word_len_milli == 0)
    rates = source_dup_rate(docs).collect()
    assert sum(r.n_docs for r in rates) == n_docs
    for r in rates:
        assert 0 <= r.n_dup_docs <= r.n_docs
        assert 0 <= r.dup_rate_micro <= 1_000_000
    hist = dup_group_size_hist(docs).collect()
    assert sum(r.n_copies * r.n_groups for r in hist) == n_docs
    for r in minhash_estimate_error(docs).collect():
        assert 0 <= r.n_matching <= 8
        assert 0 <= r.est_micro <= 1_000_000
        assert 0 <= r.exact_micro <= 1_000_000
        assert r.abs_err_micro == abs(r.est_micro - r.exact_micro)


def test_scd2_intervals_semantics(spark):
    from datetime import datetime

    from radar_output_restructure_spark.operators.timeseries import (
        scd2_intervals,
    )

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: A A B A -> three intervals (consecutive A's merge)
        Row(event_id=1, user_id=1, event_type="A", ts=t(0)),
        Row(event_id=2, user_id=1, event_type="A", ts=t(1)),
        Row(event_id=3, user_id=1, event_type="B", ts=t(2)),
        Row(event_id=4, user_id=1, event_type="A", ts=t(3)),
        # user 2: single state, stays open
        Row(event_id=5, user_id=2, event_type="C", ts=t(0)),
        # tie on ts resolved by event_id: 6 (X) before 7 (Y)
        Row(event_id=7, user_id=3, event_type="Y", ts=t(0)),
        Row(event_id=6, user_id=3, event_type="X", ts=t(0)),
    ]
    out = scd2_intervals(spark.createDataFrame(rows)).collect()
    by_key = {}
    for r in sorted(out, key=lambda r: (r.key, r.valid_from)):
        by_key.setdefault(r.key, []).append(r)
    u1 = by_key[1]
    assert [(r.state, r.n_events) for r in u1] == [("A", 2), ("B", 1), ("A", 1)]
    assert u1[0].valid_to == u1[1].valid_from == t(2)
    assert u1[1].valid_to == u1[2].valid_from == t(3)
    assert u1[2].valid_to is None  # latest interval open
    assert by_key[2][0].valid_to is None and by_key[2][0].n_events == 1
    u3 = sorted(by_key[3], key=lambda r: r.state)
    assert [(r.state, r.valid_to is None) for r in u3] == [
        ("X", False),
        ("Y", True),
    ]  # event_id tiebreak: X's interval closed by Y at the same instant


def test_scd2_intervals_random_model(spark):
    """Randomized cross-check vs an O(n) Python reference: many users, few
    states, and DELIBERATE ts collisions so the event_id tiebreak decides
    island numbering. Any divergence in change-point marking, island
    aggregation, or interval closing shows up as a tuple mismatch."""
    import random
    from datetime import datetime, timedelta

    from radar_output_restructure_spark.operators.timeseries import (
        scd2_intervals,
    )

    rng = random.Random(42)
    base = datetime(2024, 1, 1)
    rows = []
    for eid in range(400):
        rows.append(
            Row(
                event_id=eid,
                user_id=rng.randrange(12),
                event_type=rng.choice("ABC"),
                # minute granularity over a 50-minute span: ~8 events per
                # (user, ts) cell on average -> ties are the common case
                ts=base + timedelta(minutes=rng.randrange(50)),
            )
        )

    def model(evs):
        out = []
        by_user: dict = {}
        for r in evs:
            by_user.setdefault(r.user_id, []).append(r)
        for uid, es in by_user.items():
            es.sort(key=lambda r: (r.ts, r.event_id))
            intervals = []  # [state, valid_from, n_events]
            for r in es:
                if intervals and intervals[-1][0] == r.event_type:
                    intervals[-1][2] += 1
                else:
                    intervals.append([r.event_type, r.ts, 1])
            for i, (state, frm, n) in enumerate(intervals):
                to = intervals[i + 1][1] if i + 1 < len(intervals) else None
                out.append((uid, state, frm, to, n))
        return sorted(out)

    got = sorted(
        (r.key, r.state, r.valid_from, r.valid_to, r.n_events)
        for r in scd2_intervals(spark.createDataFrame(rows)).collect()
    )
    assert got == model(rows)


def test_scd2_single_shuffle_plan(spark, sf_dir):
    """The gaps-and-islands plan shuffles event rows EXACTLY once: the
    (key, island) windows and the closing lead() all reuse the original
    HashPartitioning(key) exchange (keeping the key column un-renamed
    through the plan is what makes Catalyst accept the reuse)."""
    import contextlib
    import io

    from radar_output_restructure_spark.operators.timeseries import (
        scd2_intervals,
    )
    from radar_output_restructure_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scd2_intervals(ev).explain()
    plan = buf.getvalue()
    assert plan.count("Exchange hashpartitioning") == 1, plan
