"""Property-based tests (hypothesis) for the pure-Python/deterministic core:
filename parsing, sanitize semantics, dedup models, manifest algebra.

The reference has no randomized testing (SURVEY §5); these pin the invariants
the distributed operators rely on, using Python models as oracles. Spark-free
(fast), so hypothesis can run many examples.
"""

from __future__ import annotations

import os
import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from radar_output_restructure_spark.sources.kafka_tree import parse_offset_filename
from radar_output_restructure_spark.sources.manifest import FileEntry, ProcessedFileManifest

TOPIC = st.text(
    alphabet=string.ascii_letters + string.digits + "_-", min_size=1, max_size=20
)


@given(
    topic=TOPIC,
    part=st.integers(0, 999),
    off_from=st.integers(0, 10**15),
    off_to=st.one_of(st.none(), st.integers(0, 10**15)),
    ext=st.sampled_from(["avro", "parquet", "csv.gz", "json"]),
)
def test_offset_filename_roundtrip(topic, part, off_from, off_to, ext):
    """S7: <topic>+<p>+<from>[+<to>].<ext> parses back to its components."""
    name = f"{topic}+{part}+{off_from}" + (f"+{off_to}" if off_to is not None else "")
    parsed = parse_offset_filename(f"{name}.{ext}")
    assert parsed == (topic, part, off_from, off_to)


@given(s=st.text(max_size=60))
def test_sanitize_model(s):
    """P8: result contains only [a-zA-Z0-9_-] and equals the regex model."""
    from radar_output_restructure_spark.functions.sanitize import sanitize_str

    out = sanitize_str(s, "unknown")
    model = re.sub(r"[^a-zA-Z0-9_-]+", "", s)
    assert out == (model if model else "unknown")
    assert re.fullmatch(r"[a-zA-Z0-9_-]+|unknown", out)


@given(rows=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5)), max_size=30))
def test_keep_last_model(rows):
    """D1 model: keep LAST occurrence per key, ordered by last occurrence.
    (The Spark Window implementation is validated against golden cases in
    test_restructure_e2e; this pins the model the goldens came from.)"""
    last_index: dict[tuple, int] = {}
    for i, r in enumerate(rows):
        last_index[r] = i
    expect = [r for i, r in enumerate(rows) if last_index[r] == i]
    # model property: no duplicates, subsequence of input order by last occ.
    assert len(set(expect)) == len(expect)
    assert sorted(last_index.values()) == [i for i, r in enumerate(rows) if last_index[r] == i]


@given(
    commits=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 3)), max_size=40
    ),
    revokes=st.sets(st.integers(0, 9)),
)
@settings(max_examples=50)
def test_manifest_algebra(tmp_path_factory, commits, revokes):
    """T1-T7: latest commit wins per path; revocation removes; prune returns
    exactly the unseen-or-newer files."""
    d = tmp_path_factory.mktemp("manifest")
    m = ProcessedFileManifest(str(d))
    state: dict[str, int] = {}
    for fid, mtime in commits:
        m.commit([FileEntry(f"/f{fid}", mtime)])
        state[f"/f{fid}"] = mtime
    for fid in revokes:
        m.revoke([FileEntry(f"/f{fid}", 0)])
        state.pop(f"/f{fid}", None)
    assert m.load() == state
    cand = [FileEntry(f"/f{i}", 2) for i in range(10)]
    pruned = m.prune(cand)
    expect = [f for f in cand if f.path not in state or 2 > state[f.path]]
    assert pruned == expect
    # compact preserves state
    m.compact()
    assert m.load() == state


# ---------------------------------------------------------------------------
# Avro container codec round-trip (sources/avro_io.py)
# ---------------------------------------------------------------------------

_AVRO_VALUE_SCHEMA = {
    "type": "record",
    "name": "prop_rec",
    "fields": [
        {"name": "s", "type": ["null", "string"]},
        {"name": "l", "type": "long"},
        {"name": "d", "type": "double"},
        {"name": "f", "type": "float"},
        {"name": "b", "type": "boolean"},
        {"name": "by", "type": "bytes"},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "nested", "type": ["null", {
            "type": "record", "name": "inner",
            "fields": [{"name": "x", "type": "int"}],
        }]},
    ],
}

_avro_record = st.fixed_dictionaries(
    {
        "s": st.none() | st.text(max_size=40),
        "l": st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "d": st.floats(allow_nan=False, width=64),
        "f": st.floats(allow_nan=False, width=32),
        "b": st.booleans(),
        "by": st.binary(max_size=40),
        "arr": st.lists(st.integers(-(2**40), 2**40), max_size=8),
        "m": st.dictionaries(st.text(max_size=10), st.text(max_size=10), max_size=5),
        "nested": st.none()
        | st.fixed_dictionaries({"x": st.integers(-(2**31), 2**31 - 1)}),
    }
)


@given(
    records=st.lists(_avro_record, max_size=25),
    sync_interval=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=60, deadline=None)
def test_avro_container_round_trip_property(tmp_path_factory, records, sync_interval):
    """write_container -> read_container is the identity for every value the
    type system admits, under each of the six block codecs and across block
    boundaries (the evaluation-order decode bug would have been caught
    here)."""
    import os
    import uuid

    from radar_output_restructure_spark.sources import avro_io

    tmp = tmp_path_factory.mktemp("avro_prop")
    for codec in ("null", "deflate", "snappy", "zstandard", "bzip2", "xz"):
        path = str(tmp / f"{uuid.uuid4().hex}.avro")
        avro_io.write_container(
            path, _AVRO_VALUE_SCHEMA, records, codec=codec,
            sync_interval=sync_interval,
        )
        schema, out = avro_io.read_container(path)
        assert schema == _AVRO_VALUE_SCHEMA
        assert out == records, codec
        os.unlink(path)


# ---------------------------------------------------------------------------
# subset-schema compatibility (functions/schema_compat.py)
# ---------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402

_LEAF_TYPES = [T.StringType(), T.LongType(), T.DoubleType(), T.BooleanType()]


@st.composite
def _struct_and_subset(draw):
    """A random 2-level struct plus a subset made by deleting fields
    (order preserved)."""
    n = draw(st.integers(2, 6))
    fields = []
    for i in range(n):
        if draw(st.booleans()):
            inner = T.StructType(
                [
                    T.StructField(f"c{j}", draw(st.sampled_from(_LEAF_TYPES)))
                    for j in range(draw(st.integers(1, 3)))
                ]
            )
            fields.append(T.StructField(f"f{i}", inner))
        else:
            fields.append(
                T.StructField(f"f{i}", draw(st.sampled_from(_LEAF_TYPES)))
            )
    sup = T.StructType(fields)

    def prune(struct):
        kept = []
        for f in struct.fields:
            if not draw(st.booleans()):
                continue
            if isinstance(f.dataType, T.StructType):
                sub_inner = prune(f.dataType)
                if sub_inner.fields:
                    kept.append(T.StructField(f.name, sub_inner))
            else:
                kept.append(f)
        return T.StructType(kept)

    return sup, prune(sup)


@given(pair=_struct_and_subset())
@settings(max_examples=80, deadline=None)
def test_pruned_schema_is_always_subschema(pair):
    from radar_output_restructure_spark.functions.schema_compat import (
        is_subschema,
    )

    sup, sub = pair
    assert is_subschema(sub, sup)
    assert is_subschema(sup, sup)  # reflexive
    # a superset is never a subschema of a strict subset
    if len(sub.fields) < len(sup.fields):
        assert not is_subschema(sup, sub)


@given(pair=_struct_and_subset())
@settings(max_examples=40, deadline=None)
def test_reordered_fields_are_not_subschema(pair):
    from radar_output_restructure_spark.functions.schema_compat import (
        is_subschema,
    )

    sup, _ = pair
    if len(sup.fields) < 2:
        return
    reordered = T.StructType(list(reversed(sup.fields)))
    # reversal of >=2 distinct-name fields breaks the order-preserving rule
    assert not is_subschema(reordered, sup)


# ---------------------------------------------------------------------------
# PNG decoder: spec round-trip against a forward-filtering reference encoder
# ---------------------------------------------------------------------------


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),   # width
    st.integers(min_value=1, max_value=12),   # height
    st.sampled_from([1, 2, 3, 4]),            # channels (gray/GA/RGB/RGBA)
    st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=5),
    st.integers(min_value=0, max_value=2**32 - 1),  # pixel seed
)
def test_png_decoder_roundtrip_property(w, h, channels, filters, seed):
    """decode_png must invert every PNG filter combination the encoder can
    emit: channel means of the decoded image equal the source pixels' for
    arbitrary sizes, channel counts, per-row filter choices, and content."""
    import numpy as np

    from radar_output_restructure_spark.operators.multimodal import decode_png
    from tests.test_multimodal import _make_png

    px = np.random.RandomState(seed % (2**31)).randint(
        0, 256, size=(h, w, channels), dtype=np.uint8
    )
    meta = decode_png(_make_png(px, channels, filters))
    assert (meta["width"], meta["height"]) == (w, h)
    if channels <= 2:
        m = float(px[:, :, 0].mean())
        expect = (m, m, m)
    else:
        mm = px[:, :, :3].reshape(-1, 3).mean(axis=0)
        expect = (float(mm[0]), float(mm[1]), float(mm[2]))
    got = (meta["mean_r"], meta["mean_g"], meta["mean_b"])
    assert np.allclose(got, expect, atol=1e-5), (got, expect)


@given(
    ts=st.integers(0, 10**7),
    start=st.integers(0, 10**7),
    length=st.integers(1, 10**6),
    bucket_us=st.integers(1, 10**6),
)
def test_interval_join_bucket_coverage_model(ts, start, length, bucket_us):
    """Model of operators/timeseries.interval_join's bucket math (microsecond
    domain): whenever ts falls in the half-open [start, end), ts's single
    bucket MUST be inside the interval's exploded bucket range — the
    completeness invariant that makes the equi-join lossless. And a ts
    outside every bucket of the range can never satisfy the residual, so
    the join is also exact (no spurious residual evaluations needed)."""
    end = start + length
    ts_bucket = ts // bucket_us
    lo = start // bucket_us
    hi = (end - 1) // bucket_us  # half-open end
    if start <= ts < end:
        assert lo <= ts_bucket <= hi
    if not (lo <= ts_bucket <= hi):
        assert not (start <= ts < end)


@given(
    base=st.tuples(st.integers(0, 2**32 - 1), st.integers(0, 2**32 - 1)),
    flip_bits=st.lists(st.integers(0, 63), min_size=0, max_size=3, unique=True),
    far=st.tuples(st.integers(0, 2**32 - 1), st.integers(0, 2**32 - 1)),
)
@settings(max_examples=300, deadline=None)
def test_wide_simhash_banding_model(base, flip_bits, far):
    """Model check for the 64-bit/16-bit-band candidate geometry: pigeonhole
    recall is EXACT — a pair derived by flipping <= 3 of the 64 bits MUST
    collide in at least one of the 4 bands (pure-Python mirror of the
    banding in operators/dedup_scale.simhash_near_dup_pairs_wide; no Spark
    needed). The `far` fingerprint exercises the no-false-hamming side: the
    in-join popcount verify must agree with the model's hamming."""
    bands, width = 4, 16
    mask = (1 << width) - 1

    def band_values(lo, hi):
        return [
            ((lo if i < 2 else hi) >> ((i % 2) * width)) & mask
            for i in range(bands)
        ]

    lo_a, hi_a = base
    lo_b, hi_b = lo_a, hi_a
    for b in flip_bits:
        if b < 32:
            lo_b ^= 1 << b
        else:
            hi_b ^= 1 << (b - 32)
    hamming = bin(lo_a ^ lo_b).count("1") + bin(hi_a ^ hi_b).count("1")
    assert hamming == len(flip_bits)
    assert 0 <= lo_b < 2**32 and 0 <= hi_b < 2**32
    # <= 3 flipped bits cannot touch all 4 bands: some band is untouched
    assert any(
        a == b
        for a, b in zip(band_values(lo_a, hi_a), band_values(lo_b, hi_b))
    )
    # verify-side model: the popcount the join computes equals true hamming
    lo_f, hi_f = far
    h_far = bin(lo_a ^ lo_f).count("1") + bin(hi_a ^ hi_f).count("1")
    assert 0 <= h_far <= 64


def test_manifest_compact_is_concurrent_append_safe(tmp_path_factory):
    """Ledger compaction under a concurrent appender: the compacted segment
    is name-anchored to sort immediately after the LAST segment it
    subsumes, so a revoke (or newer re-commit) stored after the compaction
    read its segments replays AFTER the compacted state instead of being
    shadowed by it — the resurrection race a now()-named segment has."""
    import os as _os

    from radar_output_restructure_spark.sources.manifest import (
        FileEntry,
        ProcessedFileManifest,
    )

    d = str(tmp_path_factory.mktemp("manifest"))
    m = ProcessedFileManifest(d)
    for i in range(5):
        m.commit([FileEntry(f"/f{i}", 100 + i)])
    subsumed = m._segments()

    # simulate the race: another replica's revoke and mtime re-commit land
    # AFTER compact listed its segments but BEFORE it publishes. compact()
    # reads its own listing, so run it with the listing pinned first.
    state_at_listing = m._replay(subsumed)
    racer = ProcessedFileManifest(d)
    racer.revoke([FileEntry("/f1", 0)])
    racer.commit([FileEntry("/f2", 999)])  # reprocessed-with-newer-mtime

    # perform the compaction exactly as compact() does, from the pinned
    # listing (the three-line body is re-run here because compact() would
    # re-list and see the racer's segments, hiding the race)
    seg = subsumed[-1] + "~compact-test.jsonl"
    import json as _json

    body = "".join(
        _json.dumps({"op": "commit", "path": p, "modified_ms": mm}) + "\n"
        for p, mm in sorted(state_at_listing.items())
    )
    m.storage.store_atomic(seg, body.encode())
    for old in subsumed:
        m.storage.delete(old)

    final = ProcessedFileManifest(d).load()
    assert "/f1" not in final  # the revoke survived the compaction
    assert final["/f2"] == 999  # the newer mtime survived too
    assert final["/f0"] == 100 and final["/f4"] == 104

    # and the real compact() on the settled ledger preserves state exactly
    m2 = ProcessedFileManifest(d)
    m2.compact()
    assert len(m2._segments()) == 1
    assert m2.load() == final


def test_manifest_maybe_compact_bounds_segments(tmp_path_factory):
    from radar_output_restructure_spark.sources.manifest import (
        FileEntry,
        ProcessedFileManifest,
    )

    d = str(tmp_path_factory.mktemp("manifest"))
    m = ProcessedFileManifest(d)
    for i in range(70):
        m.commit([FileEntry(f"/f{i}", i)])
    state = m.load()
    assert len(m._segments()) == 70
    assert m.maybe_compact() is True
    assert len(m._segments()) == 1
    assert m.load() == state
    assert m.maybe_compact() is False  # under the threshold: no-op
