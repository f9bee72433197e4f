"""JSON-lines sink (nesting preserved, keep-first dedup, excludeFields
pruning — SURVEY S11/P3/D4) and zip compression (S13) through the public
RestructurePlan API. Models JsonAvroConverterTest.kt:43-80 and
CompressionFactoryTest round-trips."""

from __future__ import annotations

import gzip
import json
import os
import zipfile

import pytest
from pyspark.sql import Row

from radar_output_restructure_spark.plans.restructure import (
    DedupConfig,
    RestructureConfig,
    RestructurePlan,
)
from tests.test_restructure_e2e import SERVER_STATUS_SCHEMA, _write_fixture


ROWS = [
    Row(
        key=Row(projectId="p1", userId="u1", sourceId="s1"),
        value=Row(time=3600.0, serverStatus="CONNECTED", ipAddress="10.0.0.1"),
    ),
    Row(
        key=Row(projectId="p1", userId="u1", sourceId="s1"),
        value=Row(time=3601.0, serverStatus="DISCONNECTED", ipAddress=None),
    ),
    # exact duplicate of row 0 -> keep-FIRST drops it in JSON mode
    Row(
        key=Row(projectId="p1", userId="u1", sourceId="s1"),
        value=Row(time=3600.0, serverStatus="CONNECTED", ipAddress="10.0.0.1"),
    ),
]


def _run(spark, tmp_path, **cfg_kw):
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_fixture(spark, input_dir, "t", ROWS, 0, 0, 2, SERVER_STATUS_SCHEMA)
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir, **cfg_kw)
    return RestructurePlan(spark, cfg).run()["t"]


def test_json_lines_nested_with_nulls(spark, tmp_path):
    finals = _run(spark, tmp_path, output_format="json")
    assert [os.path.basename(f) for f in finals] == ["19700101_0100.json"]
    lines = open(finals[0]).read().splitlines()
    assert len(lines) == 3
    rec = json.loads(lines[0])
    # nesting preserved, field order = schema order, null explicit
    assert rec == {
        "key": {"projectId": "p1", "userId": "u1", "sourceId": "s1"},
        "value": {"time": 3600.0, "serverStatus": "CONNECTED", "ipAddress": "10.0.0.1"},
    }
    assert json.loads(lines[1])["value"]["ipAddress"] is None
    assert '"ipAddress":null' in lines[1]


def test_json_dedup_keep_first(spark, tmp_path):
    finals = _run(
        spark, tmp_path, output_format="json", dedup=DedupConfig(enable=True)
    )
    lines = open(finals[0]).read().splitlines()
    assert len(lines) == 2  # duplicate line dropped, first occurrence kept
    assert json.loads(lines[0])["value"]["serverStatus"] == "CONNECTED"
    assert json.loads(lines[1])["value"]["serverStatus"] == "DISCONNECTED"


def test_json_exclude_fields_nested_prune(spark, tmp_path):
    finals = _run(
        spark,
        tmp_path,
        output_format="json",
        exclude_fields={"value.ipAddress", "key.sourceId"},
    )
    rec = json.loads(open(finals[0]).read().splitlines()[0])
    assert "ipAddress" not in rec["value"]
    assert "sourceId" not in rec["key"]
    assert rec["value"]["serverStatus"] == "CONNECTED"


def test_gzip_csv_roundtrip_and_append(spark, tmp_path):
    finals = _run(spark, tmp_path, compression="gzip")
    assert finals[0].endswith("19700101_0100.csv.gz")
    body = gzip.open(finals[0]).read().decode().splitlines()
    assert body[0].startswith("key.projectId")
    assert len(body) == 4  # header + 3 rows


def _bytes_tree(root: str) -> dict[str, bytes]:
    """relative path -> bytes of every output file, ledger state aside."""
    return {
        os.path.relpath(os.path.join(d, f), root): open(os.path.join(d, f), "rb").read()
        for d, _dirs, files in os.walk(root)
        if not os.path.relpath(d, root).startswith("offsets")
        for f in files
    }


def test_dedup_gzip_restructure_is_byte_reproducible(spark, tmp_path):
    """gzip members carry MTIME 0, like the reference's GZIPOutputStream:
    two dedup+gzip restructures of one input give byte-identical trees,
    through the first write and the dedup rewrite alike."""
    input_dir = str(tmp_path / "in")
    cfgs = [
        RestructureConfig(
            input_dir=input_dir, output_dir=str(tmp_path / out),
            compression="gzip", dedup=DedupConfig(enable=True),
        )
        for out in ("a", "b")
    ]
    _write_fixture(spark, input_dir, "t", ROWS[:2], 0, 0, 1, SERVER_STATUS_SCHEMA)
    for cfg in cfgs:
        RestructurePlan(spark, cfg).run()
    # a re-delivered row: the second pass rewrites the file deduplicated
    _write_fixture(spark, input_dir, "t", ROWS[2:], 0, 2, 2, SERVER_STATUS_SCHEMA)
    for cfg in cfgs:
        (final,) = RestructurePlan(spark, cfg).run()["t"]
    assert len(gzip.open(final).read().splitlines()) == 3  # header + 2 rows
    tree_a, tree_b = (_bytes_tree(cfg.output_dir) for cfg in cfgs)
    assert tree_a == tree_b
    gz = [data for path, data in tree_a.items() if path.endswith(".gz")]
    assert gz and all(data[4:8] == bytes(4) for data in gz)  # MTIME field


def test_missing_distinct_field_falls_back_to_whole_row(spark, tmp_path):
    """A distinct field the topic lacks falls back like the writer's rule
    (CsvAvroConverterFactory.fieldIndexes): the whole row is the key, so
    the exact duplicate drops and the topic still writes."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_fixture(spark, input_dir, "t", ROWS, 0, 0, 2, SERVER_STATUS_SCHEMA)
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir,
        dedup=DedupConfig(enable=True, distinct_fields=["value.missing"]),
    )
    plan = RestructurePlan(spark, cfg)
    (final,) = plan.run()["t"]
    assert plan.last_errors == {}
    body = open(final).read().splitlines()
    assert len(body) == 3  # header + the two distinct rows


def test_zip_csv_single_entry_archive(spark, tmp_path):
    finals = _run(spark, tmp_path, compression="zip")
    assert finals[0].endswith("19700101_0100.csv.zip")
    with zipfile.ZipFile(finals[0]) as zf:
        names = zf.namelist()
        assert names == ["19700101_0100.csv"]  # single entry, archive name base
        body = zf.read(names[0]).decode().splitlines()
    assert len(body) == 4 and body[0].startswith("key.projectId")


def test_zip_json_append_across_runs(spark, tmp_path):
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_fixture(spark, input_dir, "t", ROWS[:1], 0, 0, 0, SERVER_STATUS_SCHEMA)
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, output_format="json",
        compression="zip",
    )
    RestructurePlan(spark, cfg).run()
    _write_fixture(spark, input_dir, "t", ROWS[1:2], 0, 1, 1, SERVER_STATUS_SCHEMA)
    finals = RestructurePlan(spark, cfg).run()["t"]
    with zipfile.ZipFile(finals[0]) as zf:
        body = zf.read(zf.namelist()[0]).decode().splitlines()
    assert len(body) == 2  # old content kept, new row appended


PARTS = ["pf_p", "pf_u", "pf_topic", "pf_bin"]


def _csv_frame(spark, rows):
    return spark.createDataFrame(
        rows,
        "pf_p string, pf_u string, pf_topic string, pf_bin string, "
        "__pos long, v string",
    )


def test_legacy_partitionby_writer_paths(spark, tmp_path):
    """The one writer on driver-only storage (the Hadoop backend, here on a
    plain path): exact names, header written once, append across two
    invocations."""
    from pyspark.sql import functions as F

    from radar_output_restructure_spark.sinks.storage import HadoopTargetStorage
    from radar_output_restructure_spark.sinks.writers import (
        write_output_tree_direct,
    )

    df = _csv_frame(
        spark,
        [("p", "u", "t", "19700101_0100", 1, "a"), ("p", "u", "t", "19700101_0100", 2, "b")],
    )
    out = str(tmp_path / "out")
    kw = dict(fmt="csv", order_col="__pos", storage=HadoopTargetStorage(spark))
    finals = write_output_tree_direct(df, out, PARTS, **kw)
    assert [os.path.relpath(f, out) for f in finals] == ["p/u/t/19700101_0100.csv"]
    assert open(finals[0]).read().splitlines() == ["v", "a", "b"]
    # second invocation appends without duplicating the header
    write_output_tree_direct(df.withColumn("v", F.upper("v")), out, PARTS, **kw)
    assert open(finals[0]).read().splitlines() == ["v", "a", "b", "A", "B"]


def test_finalize_unescapes_hive_partition_values(spark, tmp_path):
    """Output names carry the RAW partition values (like the cleaner's
    expectation paths, which are built from the column values): '%' and
    space on both storage kinds, ':' on local storage (a Hadoop Path
    rejects ':' in a file name)."""
    from radar_output_restructure_spark.sinks.storage import HadoopTargetStorage
    from radar_output_restructure_spark.sinks.writers import (
        write_output_tree_direct,
    )

    for storage, bin_value in [
        (HadoopTargetStorage(spark), "1230_50%"),
        (None, "12:30_50%"),
    ]:
        df = _csv_frame(spark, [("p", "u 1", "t", bin_value, 1, "a")])
        out = str(tmp_path / f"out-{bin_value}")
        finals = write_output_tree_direct(
            df, out, PARTS, fmt="csv", order_col="__pos", storage=storage
        )
        assert [os.path.relpath(f, out) for f in finals] == [
            f"p/u 1/t/{bin_value}.csv"
        ]
        assert open(finals[0]).read().splitlines() == ["v", "a"]


def test_hadoop_target_storage_roundtrip(spark, tmp_path):
    """HadoopTargetStorage against the local FileSystem (file:// scheme) —
    the same code path serves s3a:// / abfs:// through Hadoop config."""
    from radar_output_restructure_spark.sinks.storage import HadoopTargetStorage

    st = HadoopTargetStorage(spark)
    root = str(tmp_path / "hstore")
    st.makedirs(root + "/sub")
    p = root + "/sub/a.txt"
    assert not st.exists(p)
    st.store_atomic(p, b"hello\x00world")
    assert st.exists(p)
    assert st.read(p) == b"hello\x00world"
    st.store_atomic(p, b"replaced")  # overwrite-rename path
    assert st.read(p) == b"replaced"
    files = st.walk_files(root)
    assert len(files) == 1 and files[0].endswith("/sub/a.txt")
    # move: the file and its .crc sidecar arrive, the source is gone
    q = root + "/sub/b.txt"
    st.move(p, q)
    assert not st.exists(p) and st.read(q) == b"replaced"
    assert sorted(os.listdir(tmp_path / "hstore" / "sub")) == [".b.txt.crc", "b.txt"]
    # the local FileSystem refuses a rename onto an existing file by
    # returning False (a destination under a file raises in Java instead)
    st.store_atomic(p, b"other")
    with pytest.raises(IOError, match="returned false"):
        st.move(p, q)
    assert st.read(p) == b"other" and st.read(q) == b"replaced"
    st.delete(root)
    assert not st.exists(p)
    assert st.walk_files(root) == []


def test_hadoop_storage_reads_a_file_edited_by_hand(spark, tmp_path):
    """The local FileSystem writes a `.crc` sidecar; a file edited by hand
    afterwards (a ledger fixed up by an operator) still reads, whole and
    ranged."""
    from radar_output_restructure_spark.sinks.storage import HadoopTargetStorage

    st = HadoopTargetStorage(spark)
    p = str(tmp_path / "ledger.json")
    st.store_atomic(p, b'{"committed": 1}')
    assert os.path.exists(tmp_path / ".ledger.json.crc")
    with open(p, "wb") as fh:
        fh.write(b'{"committed": 2, "edited": true}')
    assert st.read(p) == b'{"committed": 2, "edited": true}'
    assert b"".join(st.open_read_chunks(p, 5)) == b'{"committed": 2, "edited": true}'


def test_hadoop_storage_move_refuses_a_missing_or_file_parent(spark, tmp_path):
    """`move` raises IOError, and moves nothing, when the destination's
    parent is missing (HDFS refuses that rename; the local FileSystem would
    create the parent) or is a file (Java raises)."""
    from radar_output_restructure_spark.sinks.storage import HadoopTargetStorage

    st = HadoopTargetStorage(spark)
    src = str(tmp_path / "a.bin")
    st.store_atomic(src, b"payload")
    for dest in (tmp_path / "missing" / "a.bin", tmp_path / "a.bin" / "b.bin"):
        with pytest.raises(IOError, match="is not a directory"):
            st.move(src, str(dest))
        assert st.read(src) == b"payload"
    assert not os.path.exists(tmp_path / "missing")


def test_hadoop_storage_streaming_writer_and_error_discard(spark, tmp_path):
    """store_atomic_writer on the Hadoop backend (file:// = the rename-atomic
    branch): streamed chunks publish atomically; an exception mid-write
    leaves the previous content intact and no tmp litter. Completes the
    backend matrix next to the Local and S3 variants of this test."""
    import os as _os

    import pytest as _pytest

    from radar_output_restructure_spark.sinks.storage import HadoopTargetStorage

    st = HadoopTargetStorage(spark)
    root = str(tmp_path / "hstream")
    st.makedirs(root)
    p = root + "/f.bin"
    with st.store_atomic_writer(p) as fh:
        fh.write(b"part1-")
        fh.write(b"part2")
    assert st.read(p) == b"part1-part2"
    # chunked read round-trip
    assert b"".join(st.open_read_chunks(p, 4)) == b"part1-part2"
    with _pytest.raises(RuntimeError):
        with st.store_atomic_writer(p) as fh:
            fh.write(b"partial")
            raise RuntimeError("mid-write crash")
    assert st.read(p) == b"part1-part2"
    # no tmp litter (Hadoop's local FS adds .crc checksum sidecars — fine)
    visible = [n for n in _os.listdir(root) if not n.startswith(".")]
    assert visible == ["f.bin"]


def test_write_output_tree_with_hadoop_storage(spark, tmp_path):
    """The writer runs its partition loop on the driver for the Hadoop
    backend (the object-store path, exercised here on file://): one
    exact-named file, arrival order kept."""
    from radar_output_restructure_spark.sinks.storage import HadoopTargetStorage
    from radar_output_restructure_spark.sinks.writers import (
        write_output_tree_direct,
    )

    out = str(tmp_path / "out")
    df = spark.createDataFrame(
        [Row(pf_p="p", pf_u="u", pf_topic="t", pf_bin="19700101_0100",
             a=str(i), __pos=i) for i in range(5)]
    )
    finals = write_output_tree_direct(
        df, "file://" + out, PARTS, fmt="csv",
        order_col="__pos", storage=HadoopTargetStorage(spark),
    )
    assert finals == ["file://" + out + "/p/u/t/19700101_0100.csv"]
    lines = open(out + "/p/u/t/19700101_0100.csv").read().splitlines()
    assert lines[0] == "a" and lines[1:] == ["0", "1", "2", "3", "4"]


def test_direct_writer_accepts_driver_only_storage(spark, tmp_path, monkeypatch):
    """A driver-only backend (not executor_safe) is written from the
    driver, its rows read in chunks; a group spanning two chunks still
    becomes one file with one header."""
    from radar_output_restructure_spark.sinks import writers
    from radar_output_restructure_spark.sinks.storage import HadoopTargetStorage

    assert not HadoopTargetStorage.executor_safe
    df = spark.range(25).selectExpr(
        "cast(id % 3 as string) as pf_bin", "cast(id as string) as a", "id"
    )
    chunk_sizes = []
    orig = writers._local_chunks

    def small_chunks(frame):
        for pdf in orig(frame, rows=4):
            chunk_sizes.append(len(pdf))
            yield pdf

    monkeypatch.setattr(writers, "_local_chunks", small_chunks)
    finals = writers.write_output_tree_direct(
        df, str(tmp_path), ["pf_bin"], order_col="id",
        storage=HadoopTargetStorage(spark),
    )
    assert [os.path.basename(f) for f in finals] == ["0.csv", "1.csv", "2.csv"]
    assert max(chunk_sizes) == 4 and sum(chunk_sizes) == 25
    for b, f in enumerate(finals):
        assert open(f).read().splitlines() == ["a"] + [
            str(i) for i in range(25) if i % 3 == b
        ]


def test_one_exists_call_per_output_file(spark, tmp_path):
    """The writer asks the storage once per target file whether it exists
    (a HEAD request per file on S3/Azure), also on the append run."""
    from radar_output_restructure_spark.sinks.storage import LocalTargetStorage
    from radar_output_restructure_spark.sinks.writers import (
        write_output_tree_direct,
    )

    log = str(tmp_path / "exists.log")

    class LoggingStorage(LocalTargetStorage):
        def exists(self, path):
            with open(log, "a") as fh:
                fh.write(path + "\n")
            return super().exists(path)

    df = _csv_frame(
        spark,
        [("p", u, "t", "19700101_0100", i, str(i)) for i, u in enumerate("abcab")],
    )
    out = str(tmp_path / "out")
    for compression, dedup in [(None, None), ("gzip", None), ("gzip", (None, None))]:
        for _run in range(2):  # first write, then an append
            if os.path.exists(log):
                os.remove(log)
            finals = write_output_tree_direct(
                df, out, PARTS, compression=compression, order_col="__pos",
                storage=LoggingStorage(), dedup=dedup,
            )
            assert len(finals) == 3
            assert sorted(open(log).read().splitlines()) == finals


# one frame with the values a CSV/JSON writer is most likely to alter:
# leading/trailing spaces, empty and NULL cells, quotes, commas, an embedded
# newline, a NULL partition value, and '%' and space in path segments
EDGE_VALUES = [
    " lead", "trail ", "", None, 'say "hi"', "a,b", "line\nbreak", "  ",
]


def _edge_frame(spark, fmt, round_no):
    from pyspark.sql import functions as F

    rows = [
        (
            None if i % 5 == 0 else "p",
            "u 1" if i % 2 else "u%2",
            "t",
            "19700101_0100",
            round_no * 100 + i,
            v,
            EDGE_VALUES[(i + 3) % len(EDGE_VALUES)],
            None if i % 3 == 0 else i * 10**12,
        )
        for i, v in enumerate(EDGE_VALUES * 2)
    ]
    df = spark.createDataFrame(
        rows,
        "pf_p string, pf_u string, pf_topic string, pf_bin string, "
        "__pos long, v string, w string, n long",
    )
    if fmt == "json":
        return df.select(
            *PARTS, "__pos",
            F.to_json(F.struct("v", "w", "n"), {"ignoreNullFields": "false"})
            .alias("line"),
        )
    if fmt == "csv":
        return df.drop("n")
    return df


def _tree(root, compression):
    import pyarrow.parquet as pq

    from radar_output_restructure_spark.sinks.writers import decompress

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.startswith("."):  # Hadoop's local-FS .crc sidecars
                continue
            path = os.path.join(dirpath, name)
            data = open(path, "rb").read()
            if name.endswith(".parquet"):
                table = pq.read_table(path)
                data = (table.schema, table.to_pylist())
            elif not name.startswith("schema-"):
                data = decompress(data, compression)
            out[os.path.relpath(path, root)] = data
    return out


@pytest.mark.parametrize(
    "fmt,compression",
    [("csv", None), ("csv", "gzip"), ("csv", "zip"), ("json", None),
     ("parquet", None)],
)
def test_local_and_hadoop_targets_write_identical_trees(
    spark, tmp_path, fmt, compression
):
    """One writer, two places its loop runs: the same frames written
    through LocalTargetStorage (executors) and HadoopTargetStorage on a
    file:// URI (driver) give identical trees after decompression — a
    first write, an append, and a dedup-on-append run."""
    from pyspark.sql import types as T

    from radar_output_restructure_spark.sinks.storage import (
        HadoopTargetStorage,
        LocalTargetStorage,
    )
    from radar_output_restructure_spark.sinks.writers import (
        write_output_tree_direct,
    )

    frames = [_edge_frame(spark, fmt, r) for r in range(3)]
    schema = T.StructType([T.StructField("v", T.StringType())])
    roots = {}
    for name, storage, prefix in [
        ("local", LocalTargetStorage(), ""),
        ("hadoop", HadoopTargetStorage(spark), "file://"),
    ]:
        root = str(tmp_path / name)
        roots[name] = root
        for r, df in enumerate(frames):
            finals = write_output_tree_direct(
                df, prefix + root, PARTS, fmt=fmt, compression=compression,
                value_schema=schema, order_col="__pos", storage=storage,
                dedup=(None, None) if r == 2 else None,
            )
            assert len(finals) == 4
    local, hadoop = (_tree(roots[n], compression) for n in ("local", "hadoop"))
    assert sorted(local) == sorted(hadoop)
    assert "__HIVE_DEFAULT_PARTITION__/u%2/t/schema-t.json" in local
    for rel in local:
        assert local[rel] == hadoop[rel], rel
    if fmt != "parquet":
        body = next(
            v for k, v in local.items() if k.startswith("p/u 1/t/19700101_")
        )
        assert b" lead" in body and b"trail " in body


def test_parquet_sink_typed_roundtrip(spark, tmp_path):
    """Parquet output (beyond-reference typed sink): exact-named
    .parquet files in the same tree, columns TYPED (double/string, not
    rendered strings), dotted names preserved, sidecar written, rerun
    no-op."""
    finals = _run(spark, tmp_path, output_format="parquet")
    assert [os.path.basename(f) for f in finals] == ["19700101_0100.parquet"]
    back = spark.read.parquet(finals[0])
    assert set(back.columns) == {
        "key.projectId", "key.userId", "key.sourceId",
        "value.time", "value.serverStatus", "value.ipAddress",
    }
    assert dict(back.dtypes)["`value.time`".strip("`")] == "double"
    rows = sorted(
        back.select("`value.time`", "`value.serverStatus`").collect()
    )
    assert [tuple(r) for r in rows] == [
        (3600.0, "CONNECTED"),
        (3600.0, "CONNECTED"),
        (3601.0, "DISCONNECTED"),
    ]
    out_dir = os.path.dirname(finals[0])
    assert os.path.exists(os.path.join(out_dir, "schema-t.json"))
    # rerun: manifest makes it a no-op
    cfg = RestructureConfig(
        input_dir=str(tmp_path / "in"),
        output_dir=str(tmp_path / "out"),
        output_format="parquet",
    )
    assert RestructurePlan(spark, cfg).run()["t"] == []


def test_parquet_sink_append_across_runs(spark, tmp_path):
    """Late data appends into the existing parquet bin by row-group merge:
    total rows grow, the file stays one valid parquet object."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_fixture(
        spark, input_dir, "t", ROWS[:2], 0, 0, 1, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, output_format="parquet"
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    assert spark.read.parquet(finals[0]).count() == 2
    late = [
        Row(
            key=Row(projectId="p1", userId="u1", sourceId="s1"),
            value=Row(time=3650.0, serverStatus="UNKNOWN", ipAddress=None),
        )
    ]
    _write_fixture(
        spark, input_dir, "t", late, 0, 2, 2, SERVER_STATUS_SCHEMA
    )
    finals2 = RestructurePlan(spark, cfg).run()["t"]
    assert finals2 == finals
    back = spark.read.parquet(finals[0])
    assert back.count() == 3
    assert (
        back.filter(back["`value.serverStatus`"] == "UNKNOWN").count() == 1
    )


def test_parquet_rejects_zip(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="parquet codec"):
        _run(spark, tmp_path, output_format="parquet", compression="zip")


def test_csv_line_sql_matches_column_quote_minimal(spark):
    """The writer's one-string SQL line renderer (b6b365c) must stay
    bit-identical to the Column-algebra QUOTE_MINIMAL form it replaced:
    quote iff the cell contains ',', '\"', CR or LF; quotes double inside;
    NULL renders as the empty cell."""
    from pyspark.sql import functions as F

    vals = [
        "plain", 'has"quote', "has,comma", "has\nnewline", "has\rcr",
        "", None, 'mix,"\n\rall', "`tick`", "tab\there", 'a,b"c\nd',
    ]
    name = "key.we`ird"
    df = spark.createDataFrame([(v,) for v in vals], "c string").withColumnRenamed(
        "c", name
    )
    cellc = F.coalesce(F.col(f"`{name.replace('`', '``')}`"), F.lit(""))
    needs = (
        cellc.contains(",") | cellc.contains('"')
        | cellc.contains("\n") | cellc.contains("\r")
    )
    old = F.when(
        needs,
        F.concat(F.lit('"'), F.replace(cellc, F.lit('"'), F.lit('""')), F.lit('"')),
    ).otherwise(cellc)
    q = name.replace("`", "``")
    cell = f"coalesce(`{q}`, '')"
    needs_sql = (
        f"contains({cell}, ',') OR contains({cell}, '\"') "
        f"OR contains({cell}, '\\n') OR contains({cell}, '\\r')"
    )
    quoted = f"concat('\"', replace({cell}, '\"', '\"\"'), '\"')"
    sql = f"CASE WHEN {needs_sql} THEN {quoted} ELSE {cell} END"
    rows = df.select(old.alias("o"), F.expr(sql).alias("n")).collect()
    assert all(r.o == r.n for r in rows), [
        (r.o, r.n) for r in rows if r.o != r.n
    ]


def test_sidecar_avro_names_are_unique():
    """A schema with two struct fields must not emit duplicate Avro record
    fullnames ('Can't redefine: record')."""
    import json

    from pyspark.sql import types as T

    from radar_output_restructure_spark.sinks.writers import _avro_schema_json

    schema = T.StructType(
        [
            T.StructField(
                "key",
                T.StructType([T.StructField("userId", T.StringType())]),
            ),
            T.StructField(
                "value",
                T.StructType([T.StructField("time", T.DoubleType())]),
            ),
        ]
    )
    body = json.loads(_avro_schema_json(schema, "topic_a"))

    names = []

    def walk(node):
        if isinstance(node, dict):
            if node.get("type") == "record":
                names.append(node["name"])
            for v in node.values():
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    walk(body)
    assert len(names) == len(set(names)), names


def test_direct_writer_null_partition_uses_hive_token(spark, tmp_path):
    """A NULL partition value must become __HIVE_DEFAULT_PARTITION__ (as
    Spark's partitionBy does), not '' which os.path.join silently drops."""
    import os

    from pyspark.sql import Row

    from radar_output_restructure_spark.sinks.writers import (
        write_output_tree_direct,
    )

    df = spark.createDataFrame(
        [
            Row(pf_project=None, pf_topic="t", pf_bin="20240101_0000", v=1.0),
            Row(pf_project="p", pf_topic="t", pf_bin="20240101_0000", v=2.0),
        ],
        "pf_project string, pf_topic string, pf_bin string, v double",
    )
    out = str(tmp_path / "out")
    write_output_tree_direct(
        df, out, ["pf_project", "pf_topic", "pf_bin"], fmt="csv"
    )
    got = sorted(
        os.path.relpath(os.path.join(r, f), out)
        for r, _d, fs in os.walk(out)
        for f in fs
        if f.endswith(".csv")
    )
    assert got == [
        "__HIVE_DEFAULT_PARTITION__/t/20240101_0000.csv",
        "p/t/20240101_0000.csv",
    ]


def test_sidecar_topic_with_quote_is_valid_json(spark, tmp_path):
    import glob
    import json

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from radar_output_restructure_spark.sinks.writers import (
        write_output_tree_direct,
    )

    df = spark.createDataFrame(
        [Row(pf_topic='a"b', pf_bin="20240101_0000", v=1.0)],
        "pf_topic string, pf_bin string, v double",
    )
    out = str(tmp_path / "out")
    write_output_tree_direct(
        df,
        out,
        ["pf_topic", "pf_bin"],
        fmt="csv",
        value_schema=T.StructType([T.StructField("v", T.DoubleType())]),
    )
    sidecars = glob.glob(out + "/**/schema-*.json", recursive=True)
    assert sidecars
    body = json.loads(open(sidecars[0]).read())  # must parse
    assert body["name"] == 'a"b'


def test_dedup_csv_fast_path_tolerates_short_line():
    """A truncated/short line in an existing target must not raise
    IndexError when distinct columns index past its fields."""
    from radar_output_restructure_spark.sinks.writers import _dedup_csv_content

    old = b"a,b,c\n1,2,3\n1\n"  # truncated second record
    new = b"1,2,9\n"
    out = _dedup_csv_content(old, new, distinct=["a", "c"], ignore=None)
    lines = out.decode().splitlines()
    assert lines[0] == "a,b,c"
    # key(1,3) then key(1,'') then key(1,9): all distinct, keep-last order
    assert lines[1:] == ["1,2,3", "1", "1,2,9"]
    # and a short line that COLLIDES on the padded key deduplicates keep-last
    out2 = _dedup_csv_content(b"a,b,c\n1\n", b"1,2,\n", ["a", "c"], None)
    assert out2.decode().splitlines()[1:] == ["1,2,"]
