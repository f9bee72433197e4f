"""Streaming append path (VERDICT r2 item 4): `_store_payload` must
chunk-copy a large pre-existing target through the staged file instead of
materializing old+new in memory. Correctness is
byte-level round-trips; the scale property is a tracemalloc peak-memory
bound that is independent of the existing target's size."""

from __future__ import annotations

import gzip
import tracemalloc
import zipfile

import pytest

from radar_output_restructure_spark.sinks.storage import LocalTargetStorage
from radar_output_restructure_spark.sinks.writers import _store_payload


@pytest.fixture
def storage():
    return LocalTargetStorage()


def test_store_payload_plain_append_roundtrip(tmp_path, storage):
    dst = str(tmp_path / "f.csv")
    _store_payload(dst, b"a,b\n1,2\n", None, storage)
    _store_payload(dst, b"3,4\n", None, storage)
    assert open(dst, "rb").read() == b"a,b\n1,2\n3,4\n"


def test_store_payload_gzip_members_roundtrip(tmp_path, storage):
    dst = str(tmp_path / "f.csv.gz")
    _store_payload(dst, b"a,b\n1,2\n", "gzip", storage)
    _store_payload(dst, b"3,4\n", "gzip", storage)
    # two members, decompress() reads both
    assert gzip.decompress(open(dst, "rb").read()) == b"a,b\n1,2\n3,4\n"


def test_store_payload_zip_rewrite_roundtrip(tmp_path, storage):
    dst = str(tmp_path / "bin.csv.zip")
    _store_payload(dst, b"a,b\n1,2\n", "zip", storage)
    _store_payload(dst, b"3,4\n", "zip", storage)
    with zipfile.ZipFile(dst) as zf:
        names = zf.namelist()
        assert names == ["bin.csv"]  # single entry, rewritten not appended
        assert zf.read("bin.csv") == b"a,b\n1,2\n3,4\n"


EXISTING_MB = 16
PEAK_LIMIT_MB = 6  # << EXISTING_MB: proves the old content is not resident


def _peak_during(fn) -> int:
    tracemalloc.start()
    try:
        fn()
        _cur, peak = tracemalloc.get_traced_memory()
        return peak
    finally:
        tracemalloc.stop()


@pytest.mark.parametrize("compression", [None, "gzip", "zip"])
def test_append_peak_memory_independent_of_target_size(
    tmp_path, storage, compression
):
    """Append 1 KB to a multi-MB existing target: tracemalloc peak stays
    bounded by the copy chunk size + payload, NOT the target size (the old
    implementation read the full target into memory and would peak at
    >= EXISTING_MB here)."""
    ext = {None: ".csv", "gzip": ".csv.gz", "zip": ".csv.zip"}[compression]
    dst = str(tmp_path / f"big{ext}")
    # low-compressibility content so the gzip/zip cases hold real megabytes
    import numpy as np

    body = np.random.RandomState(3).bytes(EXISTING_MB << 20)
    if compression == "gzip":
        storage.store_atomic(dst, gzip.compress(body, 1))
    elif compression == "zip":
        with storage.store_atomic_writer(dst) as out, zipfile.ZipFile(
            out, "w", zipfile.ZIP_DEFLATED, compresslevel=1
        ) as zf:
            zf.writestr("big.csv", body)
    else:
        storage.store_atomic(dst, body)
    del body

    peak = _peak_during(
        lambda: _store_payload(dst, b"x" * 1024, compression, storage)
    )
    assert peak < PEAK_LIMIT_MB << 20, f"{compression}: peak {peak >> 20} MB"
    # and the append really landed
    if compression == "gzip":
        raw = gzip.decompress(open(dst, "rb").read())
    elif compression == "zip":
        with zipfile.ZipFile(dst) as zf:
            raw = zf.read("big.csv")
    else:
        raw = open(dst, "rb").read()
    assert len(raw) == (EXISTING_MB << 20) + 1024 and raw.endswith(b"x" * 64)


def test_store_atomic_writer_discards_on_error(tmp_path, storage):
    dst = str(tmp_path / "f.bin")
    storage.store_atomic(dst, b"published")
    with pytest.raises(RuntimeError):
        with storage.store_atomic_writer(dst) as fh:
            fh.write(b"partial")
            raise RuntimeError("mid-write crash")
    # target untouched, no tmp litter
    assert open(dst, "rb").read() == b"published"
    assert sorted(p.name for p in tmp_path.iterdir()) == ["f.bin"]
