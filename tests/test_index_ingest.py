"""Streaming IVF index upkeep: exactly-once drop ingestion across restarts,
epoch-replay skip via the ingest ledger, and optional auto-compaction."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from radar_output_restructure_spark.operators.ann_index import (
    probe_ivf_index,
    write_ivf_index,
)
from radar_output_restructure_spark.sources.tables import load_table
from radar_output_restructure_spark.streaming.index_ingest import (
    make_batch_ingestor,
    streaming_ivf_ingest,
)


def _drop(df, src_dir: str, name: str) -> None:
    """Write `df` as a single parquet FILE named `name` inside `src_dir`
    (the file source reads files, not nested dirs)."""
    tmp = src_dir + "/.tmp_" + name
    df.coalesce(1).write.parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(src_dir, name))
    shutil.rmtree(tmp)


def _content(spark, path):
    return {(r.vec_id, r.cell) for r in spark.read.parquet(path).collect()}


class _Crash(Exception):
    """A crash injected after an epoch's last move, before its ledger write."""


def _crash_after_moves(spark, delta, centroids, index, batch_id):
    """One epoch append that dies after moving every staged file into its
    cell dir: the ledger is never written, staging and the intent stay."""
    import pytest

    from radar_output_restructure_spark.sinks.storage import HadoopTargetStorage
    from radar_output_restructure_spark.streaming.index_ingest import (
        _append_epoch,
    )

    def crash(_intent):
        raise _Crash

    with pytest.raises(_Crash):
        _append_epoch(
            HadoopTargetStorage(spark), delta, centroids, index, batch_id,
            "vec_id", "embedding", crash,
        )


def test_streaming_ingest_exactly_once_across_restarts(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") < 5)
    index = str(tmp_path / "index")
    src = str(tmp_path / "drops")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)
    _drop(emb.filter("vec_id >= 150 and vec_id < 300"), src, "d1.parquet")
    _drop(emb.filter("vec_id >= 300 and vec_id < 450"), src, "d2.parquet")

    q = streaming_ivf_ingest(
        spark, src, index, centroids, ckpt, schema=emb.schema
    )
    q.awaitTermination(120)
    expect_450 = str(tmp_path / "full450")
    write_ivf_index(emb.filter(F.col("vec_id") < 450), centroids, expect_450)
    assert _content(spark, index) == _content(spark, expect_450)

    # restart over the same dir with one NEW drop: only the new file is
    # ingested (checkpoint carries the processed-file set), no duplicates
    _drop(emb.filter("vec_id >= 450"), src, "d3.parquet")
    q2 = streaming_ivf_ingest(
        spark, src, index, centroids, ckpt, schema=emb.schema
    )
    q2.awaitTermination(120)
    expect_all = str(tmp_path / "full_all")
    write_ivf_index(emb, centroids, expect_all)
    assert _content(spark, index) == _content(spark, expect_all)

    # and the probe agrees with the full rebuild exactly
    probe = lambda p: {  # noqa: E731
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in probe_ivf_index(
            spark, p, queries, centroids, k=5, nprobe=4
        ).collect()
    }
    assert probe(index) == probe(expect_all)

    # idle restart: nothing new -> index untouched
    before = _content(spark, index)
    q3 = streaming_ivf_ingest(
        spark, src, index, centroids, ckpt, schema=emb.schema
    )
    q3.awaitTermination(120)
    assert _content(spark, index) == before


def test_batch_ingestor_replay_skip_and_autocompact(spark, sf_dir, tmp_path):
    """A replayed epoch (same batch_id) appends exactly once, and the
    auto-compact option keeps every cell at one file."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    index = str(tmp_path / "index")
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)

    ingest = make_batch_ingestor(
        spark, index, centroids, compact_max_files_per_cell=1
    )
    delta = emb.filter("vec_id >= 150 and vec_id < 300")
    ingest(delta, 7)
    after_first = _content(spark, index)
    ingest(delta, 7)  # replay of the SAME epoch: ledger skips it
    assert _content(spark, index) == after_first
    assert len(after_first) == emb.filter("vec_id < 300").count()

    ingest(emb.filter("vec_id >= 300"), 8)  # next epoch still lands
    assert len(_content(spark, index)) == emb.count()
    # auto-compaction ran after each commit: one file per cell
    for d in glob.glob(os.path.join(index, "cell=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_streaming_ingest_starts_on_empty_drop_dir(spark, sf_dir, tmp_path):
    """A fresh upkeep job started before the first drop arrives must drain
    zero files and exit cleanly (schema falls back to the index layout)."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    index = str(tmp_path / "index")
    src = str(tmp_path / "drops")
    os.makedirs(src)
    write_ivf_index(emb, centroids, index)
    before = _content(spark, index)
    q = streaming_ivf_ingest(
        spark, src, index, centroids, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert _content(spark, index) == before


def _ledger_path(index: str) -> str:
    from radar_output_restructure_spark.streaming.index_ingest import LEDGER_NAME

    return os.path.join(index, LEDGER_NAME)


def test_ingest_ledger_rejects_foreign_run(spark, sf_dir, tmp_path):
    """Single-writer contract: epoch ids only mean anything within one
    checkpoint lineage, so an ingestor whose run_id differs from the
    ledger's owner must fail loudly — never silently skip batches."""
    import json

    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    index = str(tmp_path / "index")
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)

    owner = make_batch_ingestor(spark, index, centroids, run_id="ckpt-A")
    owner(emb.filter("vec_id >= 150 and vec_id < 300"), 0)
    with open(_ledger_path(index)) as fh:
        assert json.load(fh)["run_id"] == "ckpt-A"

    intruder = make_batch_ingestor(spark, index, centroids, run_id="ckpt-B")
    before = _content(spark, index)
    with pytest.raises(RuntimeError, match="owned by run"):
        # batch id 0 of the fresh lineage would have been silently skipped
        # by a bare max-committed check
        intruder(emb.filter("vec_id >= 300"), 0)
    assert _content(spark, index) == before


def test_ingest_ledger_rejects_unowned_with_committed_epochs(
    spark, sf_dir, tmp_path
):
    """A ledger written by a run_id=None batch harness (or a pre-ownership
    format) that already holds committed epochs must not be adopted by a
    named run: its epoch ids came from another lineage, and a fresh
    checkpoint restarting at batch 0 would silently skip every early batch
    under a bare max-committed check."""
    import json

    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    index = str(tmp_path / "index")
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)

    harness = make_batch_ingestor(spark, index, centroids, run_id=None)
    harness(emb.filter("vec_id >= 150 and vec_id < 300"), 7)
    with open(_ledger_path(index)) as fh:
        state = json.load(fh)
    assert state == {"max_committed_batch_id": 7, "run_id": None}

    adopter = make_batch_ingestor(spark, index, centroids, run_id="ckpt-new")
    before = _content(spark, index)
    with pytest.raises(RuntimeError, match="no owning run"):
        # batch 0 of the new lineage is REAL data; adoption would skip it
        adopter(emb.filter("vec_id >= 300"), 0)
    assert _content(spark, index) == before

    # a CONTINUING lineage over its own pre-ownership ledger is safe — the
    # replay-skip rule never bites above max_committed — and its first
    # commit stamps ownership (the upgrade path from the legacy format)
    resumer = make_batch_ingestor(spark, index, centroids, run_id="ckpt-new")
    resumer(emb.filter("vec_id >= 300"), 8)
    with open(_ledger_path(index)) as fh:
        assert json.load(fh) == {
            "max_committed_batch_id": 8,
            "run_id": "ckpt-new",
        }

    # a fresh index (ledger absent / max_committed == -1) is adoptable:
    # there is nothing to skip, and first commit claims ownership
    index2 = str(tmp_path / "index2")
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index2)
    claimer = make_batch_ingestor(spark, index2, centroids, run_id="ckpt-new")
    claimer(emb.filter("vec_id >= 150 and vec_id < 300"), 0)
    with open(_ledger_path(index2)) as fh:
        assert json.load(fh)["run_id"] == "ckpt-new"


def test_none_harness_refuses_owned_ledger(spark, sf_dir, tmp_path):
    """A run_id=None batch harness over a stream-owned ledger must refuse:
    its commit would bump max_committed under the owner (silent epoch
    skips for the owning stream) and erase the owner stamp."""
    import json

    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    index = str(tmp_path / "index")
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)

    owner = make_batch_ingestor(spark, index, centroids, run_id="ckpt-A")
    owner(emb.filter("vec_id >= 150 and vec_id < 300"), 57)

    backfill = make_batch_ingestor(spark, index, centroids, run_id=None)
    before = _content(spark, index)
    with pytest.raises(RuntimeError, match="owned by run"):
        backfill(emb.filter("vec_id >= 300"), 58)
    assert _content(spark, index) == before
    with open(_ledger_path(index)) as fh:
        assert json.load(fh) == {
            "max_committed_batch_id": 57,
            "run_id": "ckpt-A",  # owner stamp survives
        }


def test_streaming_second_ingestor_fails_loudly(spark, sf_dir, tmp_path):
    """Two streaming upkeep jobs (separate checkpoints) against one index:
    the second dies on its first batch instead of corrupting the ledger."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    index = str(tmp_path / "index")
    src = str(tmp_path / "drops")
    os.makedirs(src)
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)
    _drop(emb.filter("vec_id >= 150 and vec_id < 300"), src, "d1.parquet")

    q1 = streaming_ivf_ingest(
        spark, src, index, centroids, str(tmp_path / "ckptA"), schema=emb.schema
    )
    q1.awaitTermination(120)
    after_first = _content(spark, index)

    _drop(emb.filter("vec_id >= 300"), src, "d2.parquet")
    q2 = streaming_ivf_ingest(
        spark, src, index, centroids, str(tmp_path / "ckptB"), schema=emb.schema
    )
    with pytest.raises(StreamingQueryException, match="owned by run"):
        q2.awaitTermination(120)
        raise AssertionError("second ingestor did not fail")
    assert _content(spark, index) == after_first  # nothing skipped or lost


def test_replay_of_uncommitted_epoch_appends_exactly_once(
    spark, sf_dir, tmp_path
):
    """Crash window between the epoch's moves and the ledger write: the
    replay's recovery rolls the published intent forward and commits the
    epoch, so the replay itself is skipped and no vector lands twice."""
    from radar_output_restructure_spark.streaming.index_ingest import (
        EPOCH_STAGING_DIR,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    index = str(tmp_path / "index")
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)
    delta = emb.filter("vec_id >= 150 and vec_id < 300").select(
        "vec_id", "embedding"
    )

    # simulate the crash: epoch 0 fully moved in, ledger never written
    _crash_after_moves(spark, delta, centroids, index, 0)
    assert glob.glob(os.path.join(index, "cell=*", "e0-*.parquet"))
    assert not os.path.exists(_ledger_path(index))

    ingest = make_batch_ingestor(spark, index, centroids, run_id="ckpt")
    ingest(delta, 0)  # foreachBatch replays the same epoch id
    assert not os.path.exists(os.path.join(index, EPOCH_STAGING_DIR))
    got = sorted(
        r.vec_id for r in spark.read.parquet(index).collect()
    )
    assert got == sorted(
        r.vec_id for r in emb.filter("vec_id < 300").collect()
    ), "duplicate or missing vectors after uncommitted-epoch replay"


def test_replay_mid_move_crash_appends_exactly_once(spark, sf_dir, tmp_path):
    """Crash while moving staged files: some of the epoch's files reached
    their cell dirs, the rest are still in staging. Recovery moves the rest
    and commits the epoch, so the whole epoch lands exactly once."""
    import shutil as _sh

    from radar_output_restructure_spark.streaming.index_ingest import (
        EPOCH_STAGING_DIR,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    index = str(tmp_path / "index")
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)
    delta = emb.filter("vec_id >= 150 and vec_id < 300").select(
        "vec_id", "embedding"
    )

    _crash_after_moves(spark, delta, centroids, index, 3)
    moved = sorted(glob.glob(os.path.join(index, "cell=*", "e3-*.parquet")))
    assert len(moved) >= 2, "need >=2 epoch files to simulate a partial move"
    # un-move half the files back into staging = the mid-move crash state
    for p in moved[: len(moved) // 2]:
        cell_dir = os.path.basename(os.path.dirname(p))
        stage_cell = os.path.join(index, EPOCH_STAGING_DIR, cell_dir)
        os.makedirs(stage_cell, exist_ok=True)
        name = os.path.basename(p).split("-", 1)[1]  # strip the e3- tag
        _sh.move(p, os.path.join(stage_cell, name))

    ingest = make_batch_ingestor(spark, index, centroids, run_id="ckpt")
    ingest(delta, 3)
    got = sorted(r.vec_id for r in spark.read.parquet(index).collect())
    assert got == sorted(
        r.vec_id for r in emb.filter("vec_id < 300").collect()
    )


def test_committed_epoch_leftover_staging_is_preserved(spark, sf_dir, tmp_path):
    """Crash after the ledger write but before staging cleanup: the next
    batch's recovery must NOT touch the committed epoch's files — only drop
    the stale staging dir — then land its own epoch."""
    import json

    from radar_output_restructure_spark.streaming.index_ingest import (
        EPOCH_STAGING_DIR,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    index = str(tmp_path / "index")
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)

    d1 = emb.filter("vec_id >= 150 and vec_id < 300").select(
        "vec_id", "embedding"
    )
    _crash_after_moves(spark, d1, centroids, index, 5)
    with open(_ledger_path(index), "w") as fh:
        json.dump({"max_committed_batch_id": 5, "run_id": "ckpt"}, fh)
    # staging + intent intentionally left behind (the simulated crash)
    assert os.path.exists(os.path.join(index, EPOCH_STAGING_DIR))

    ingest = make_batch_ingestor(spark, index, centroids, run_id="ckpt")
    ingest(emb.filter("vec_id >= 300").select("vec_id", "embedding"), 6)
    assert not os.path.exists(os.path.join(index, EPOCH_STAGING_DIR))
    assert glob.glob(os.path.join(index, "cell=*", "e5-*.parquet"))
    got = sorted(r.vec_id for r in spark.read.parquet(index).collect())
    assert got == sorted(r.vec_id for r in emb.collect())


def test_pending_compaction_swap_cannot_eat_committed_epoch(
    spark, sf_dir, tmp_path
):
    """The r8 review's data-loss window: compaction crashed after publishing
    its swap manifest, then an epoch append committed. Recovery (which now
    runs BEFORE the next append and deletes only the manifest's explicit
    old-file list) must leave the committed epoch's files alone."""
    import json

    from radar_output_restructure_spark.operators.ann_index import (
        _STAGING_DIR,
        _SWAP_MANIFEST,
        append_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    index = str(tmp_path / "index")
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)
    append_ivf_index(
        emb.filter("vec_id >= 150 and vec_id < 300"), centroids, index
    )

    # stage compacted copies + publish the manifest BY HAND (the crash
    # happens right after publish, before the swap executes)
    staging = os.path.join(index, _STAGING_DIR)
    crowded = sorted(
        int(d.rsplit("cell=", 1)[1])
        for d in glob.glob(os.path.join(index, "cell=*"))
        if len(glob.glob(os.path.join(d, "*.parquet"))) > 1
    )
    assert crowded
    (
        spark.read.parquet(index)
        .filter(F.col("cell").isin(crowded))
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(staging)
    )
    manifest = {
        "cells": {
            str(c): [
                os.path.basename(f)
                for f in glob.glob(os.path.join(staging, f"cell={c}", "*.parquet"))
            ]
            for c in crowded
        },
        "old_files": {
            str(c): [
                os.path.basename(f)
                for f in glob.glob(os.path.join(index, f"cell={c}", "*.parquet"))
            ]
            for c in crowded
        },
    }
    with open(os.path.join(staging, _SWAP_MANIFEST), "w") as fh:
        json.dump(manifest, fh)

    # an epoch now commits through the ingestor: it completes the pending
    # swap FIRST, then appends — its files postdate the manifest and must
    # survive
    ingest = make_batch_ingestor(spark, index, centroids, run_id="ckpt")
    ingest(emb.filter("vec_id >= 300").select("vec_id", "embedding"), 0)
    assert not os.path.exists(staging)
    got = sorted(r.vec_id for r in spark.read.parquet(index).collect())
    assert got == sorted(r.vec_id for r in emb.collect())


def test_two_ingestor_chaos_crash_between_intent_and_first_move(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The full adversarial interleaving (r9 verdict item 7): ingestor A
    crashes BETWEEN publishing the intent manifest and its FIRST rename —
    staging holds every epoch file plus the intent, no cell dir was
    touched. Ingestor B (same run_id lineage, as after a driver restart
    over the same checkpoint) recovers and proceeds. The probe must equal
    a from-scratch rebuild exactly."""
    import pytest

    import radar_output_restructure_spark.streaming.index_ingest as ii
    from radar_output_restructure_spark.sinks.storage import HadoopTargetStorage

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") < 5)
    index = str(tmp_path / "index")
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)
    delta = emb.filter("vec_id >= 150 and vec_id < 300").select(
        "vec_id", "embedding"
    )

    # ingestor A: epoch 0 commits normally; epoch 1 crashes after the
    # intent publish, before the first rename
    ingest_a = make_batch_ingestor(spark, index, centroids, run_id="ckpt")
    ingest_a(delta, 0)

    def no_rename(*a, **k):
        raise IOError("executor lost before the first move")

    monkeypatch.setattr(HadoopTargetStorage, "move", no_rename)
    delta2 = emb.filter("vec_id >= 300 and vec_id < 450").select(
        "vec_id", "embedding"
    )
    with pytest.raises(IOError, match="before the first move"):
        ingest_a(delta2, 1)
    monkeypatch.undo()

    # crash state: intent published, staging full, NO e1- files moved
    assert os.path.exists(
        os.path.join(index, ii.EPOCH_STAGING_DIR, ii.EPOCH_INTENT_NAME)
    )
    assert not glob.glob(os.path.join(index, "cell=*", "e1-*.parquet"))

    # ingestor B: same run_id lineage (driver restart over the checkpoint)
    ingest_b = make_batch_ingestor(spark, index, centroids, run_id="ckpt")
    ingest_b(delta2, 1)  # recovery rolls epoch 1 forward; replay skipped
    assert not os.path.exists(os.path.join(index, ii.EPOCH_STAGING_DIR))

    rebuild = str(tmp_path / "rebuild")
    write_ivf_index(emb.filter("vec_id < 450"), centroids, rebuild)

    def probe(p):
        return {
            (r.query_id, r.neighbor_id, r.sim)
            for r in probe_ivf_index(
                spark, p, queries, centroids, k=5, nprobe=4
            ).collect()
        }

    assert probe(index) == probe(rebuild)

    # and a replay of epoch 1 (foreachBatch at-least-once) is a no-op
    ingest_b(delta2, 1)
    assert probe(index) == probe(rebuild)


def test_uncommitted_later_epoch_is_not_committed_under_an_earlier_batch(
    spark, sf_dir, tmp_path
):
    """Recovery rolls a crashed epoch forward and commits its batch id, so
    an intent from a LATER epoch than the arriving batch (left by another
    run) must fail loudly: committing it would skip the arriving batch."""
    import json

    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16)
    index = str(tmp_path / "index")
    write_ivf_index(emb.filter(F.col("vec_id") < 150), centroids, index)
    delta = emb.filter("vec_id >= 150 and vec_id < 300").select(
        "vec_id", "embedding"
    )
    _crash_after_moves(spark, delta, centroids, index, 9)

    ingest = make_batch_ingestor(spark, index, centroids, run_id=None)
    with pytest.raises(RuntimeError, match="uncommitted epoch 9"):
        ingest(emb.filter("vec_id >= 300").select("vec_id", "embedding"), 2)
    assert not os.path.exists(_ledger_path(index))

    ingest(delta, 9)  # the epoch's own replay commits it, landing it once
    with open(_ledger_path(index)) as fh:
        assert json.load(fh)["max_committed_batch_id"] == 9
    assert len(_content(spark, index)) == emb.filter("vec_id < 300").count()
