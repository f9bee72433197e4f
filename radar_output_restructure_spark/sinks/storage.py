"""Target-storage abstraction for the exact-name writers (SURVEY §2.1 S14;
reference target/TargetStorage.kt:24-68 with LocalTargetStorage.kt,
S3TargetStorage.kt, AzureTargetStorage.kt implementations).

The writers only ever need six primitives — exists / read / atomic store /
makedirs / delete / walk — so the storage backend is one small class:

* `LocalTargetStorage`: os/shutil on a mounted filesystem (local disk, NFS,
  FUSE mounts of object stores). Picklable, so it ships to executors and the
  writer's partition loop runs there.
* `HadoopTargetStorage`: the driver-side seam to ANY Hadoop FileSystem URL —
  file://, hdfs://, s3a://, abfs:// — through the running JVM's FileSystem
  API, so the cloud connectors' config (credentials, retries, server-side
  copy) is Hadoop configuration, not engine code. NOT picklable (it holds a
  py4j handle), so the writer runs its partition loop on the driver for it.
  The executor-side object-store backends are `S3TargetStorage` and
  `AzureTargetStorage` (`s3://`, `azure://`).

Atomicity contract: `store_atomic` must publish the full payload or nothing
(tmp file + rename locally; create-then-rename on Hadoop FileSystems, which
object-store connectors implement as upload + server-side copy).
"""

from __future__ import annotations

import io
import os
import shutil
import uuid
from collections.abc import Iterable, Iterator
from contextlib import contextmanager

#: streaming-copy chunk size: large enough to amortize per-call overhead
#: (one py4j round-trip per chunk on Hadoop backends), small enough that a
#: concurrent writer pool keeps peak memory modest
CHUNK_SIZE = 1 << 20


def as_prefix(key: str) -> str:
    """Object key -> directory-style listing prefix (shared by the S3 and
    Azure backends so the normalization can't drift between them)."""
    return key.rstrip("/") + "/" if key else ""



def storage_for(path: str, spark=None) -> "TargetStorage":
    """Pick the backend by URI scheme. `s3://`/`s3a://` prefer the native
    executor-safe boto3 backend (direct writer works), constructed from the
    session's `fs.s3a.*` Hadoop configuration (endpoint, region, static/
    session keys, path-style) so existing s3a deployments keep talking to
    the same endpoint/account they configured; when the conf names a
    credentials provider boto3 cannot reproduce (assumed roles, custom
    classes) — or boto3 is absent — the driver-side Hadoop FileSystem
    connector serves the path instead, honoring the full conf. `abfs://`,
    `hdfs://`, `file://` route through the Hadoop FileSystem (needs the
    SparkSession's JVM); plain paths use the local filesystem directly.
    Callers needing exact control pass an explicit storage instance
    (RestructureConfig.source_storage / target_storage)."""
    if "://" in path:
        scheme = path.split("://", 1)[0]
        if scheme in ("s3", "s3a", "s3n"):
            try:
                import boto3  # noqa: F401

                from radar_output_restructure_spark.sinks.s3_storage import (
                    S3TargetStorage,
                    s3_kwargs_from_hadoop_conf,
                )

                if spark is None:
                    return S3TargetStorage()
                kwargs, path_style, translatable = s3_kwargs_from_hadoop_conf(
                    spark
                )
                if translatable:
                    return S3TargetStorage(path_style=path_style, **kwargs)
                # fall through: Hadoop connector honors the exotic provider
            except ImportError:
                pass  # fall through to the Hadoop connector
        if scheme == "azure":
            # the native REST backend's own scheme (the reference's
            # `azure://` target type). Endpoint/credentials come from the
            # session conf keys spark.radar.azure.* — explicit instances
            # override as with S3.
            from radar_output_restructure_spark.sinks.azure_storage import (
                AzureTargetStorage,
            )

            conf = (spark.conf if spark is not None else None)
            get = (lambda k: conf.get(k, None)) if conf else (lambda k: None)
            endpoint = get("spark.radar.azure.endpoint")
            if endpoint:
                return AzureTargetStorage(
                    endpoint_url=endpoint,
                    account=get("spark.radar.azure.account"),
                    account_key=get("spark.radar.azure.accountKey"),
                    sas_token=get("spark.radar.azure.sasToken"),
                )
            raise ValueError(
                "azure:// paths need spark.radar.azure.endpoint (and "
                "account/accountKey or sasToken) in the session conf, or an "
                "explicit AzureTargetStorage instance"
            )
        if spark is None:
            raise ValueError(
                f"{path!r} has a filesystem scheme; a SparkSession is "
                "required to resolve it through Hadoop"
            )
        return HadoopTargetStorage(spark)
    return LocalTargetStorage()


class TargetStorage:
    """Storage surface the engine (writers, listings, ledgers) is built on."""

    #: safe to pickle into executor tasks; the writer's and the cleaner's
    #: partition loops run on the executors when True and on the driver
    #: when False (`sinks.writers.run_partition_loop`)
    executor_safe = False

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def read(self, path: str) -> bytes:
        raise NotImplementedError

    def store_atomic(self, path: str, data: bytes) -> None:
        self.store_atomic_stream(path, (data,))

    def store_atomic_writer(self, path: str):
        """Context manager yielding a writable binary stream; the full
        content is published atomically on clean exit and discarded on
        exception. The streaming form of `store_atomic`: appends that copy
        a large existing target never hold it in memory."""
        raise NotImplementedError

    def store_atomic_stream(self, path: str, chunks: Iterable[bytes]) -> None:
        with self.store_atomic_writer(path) as fh:
            for chunk in chunks:
                fh.write(chunk)

    def open_read_chunks(
        self, path: str, chunk_size: int = CHUNK_SIZE
    ) -> Iterator[bytes]:
        """Yield the file's bytes in bounded chunks (streaming read)."""
        with self.open_seekable(path) as fh:
            while True:
                chunk = fh.read(chunk_size)
                if not chunk:
                    return
                yield chunk

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def walk_files(self, root: str) -> list[str]:
        """Every file path under root (recursive); [] when root is absent."""
        raise NotImplementedError

    # -- source-side listing surface (S2/S3: the reference's SourceStorage) --

    def walk_file_status(self, root: str) -> list[tuple[str, int, int]]:
        """(path, mtime_ms, size) for every file under root (recursive)."""
        raise NotImplementedError

    def list_dirs(self, root: str) -> list[str]:
        """Names (not paths) of the immediate subdirectories of root."""
        raise NotImplementedError

    def list_entries(
        self, root: str, start_after: str | None = None
    ) -> tuple[list[str], list[tuple[str, int, int]]]:
        """ONE non-recursive LIST of `root`: (subdir names, files as
        (name, mtime_ms, size)), files restricted to names sorting AFTER
        `start_after` when given — the S3 ListObjectsV2 `StartAfter`
        contract the incremental storage index builds on (SURVEY S9,
        reference source/StorageIndexManager.kt:55-64).

        Contract caveat on SUBDIRS under `start_after`: S3's server-side
        StartAfter also filters CommonPrefixes, so a subdirectory whose
        keys all sort before the cursor is omitted by the S3 backend,
        while Local/Azure (client-side filters) still return every dir.
        Callers must treat the dir list as possibly incomplete under a
        cursor — the storage index does (new subdirs of file-bearing dirs
        are a full-sync discovery by documented design, and Kafka trees
        never mix files and subdirs in one directory)."""
        raise NotImplementedError

    def mtime_ms(self, path: str) -> int:
        raise NotImplementedError

    def open_seekable(self, path: str):
        """Binary file-like with read/seek/tell — what pyarrow needs for a
        parquet footer read without fetching the whole object."""
        raise NotImplementedError


class LocalTargetStorage(TargetStorage):
    """target/LocalTargetStorage.kt semantics on the local filesystem."""

    executor_safe = True

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read(self, path: str) -> bytes:
        with open(path, "rb") as fh:
            return fh.read()

    @contextmanager
    def store_atomic_writer(self, path: str):
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        try:
            with open(tmp, "wb") as fh:
                yield fh
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def walk_files(self, root: str) -> list[str]:
        out: list[str] = []
        for dirpath, _dirs, files in os.walk(root):
            out += [os.path.join(dirpath, f) for f in files]
        return out

    def walk_file_status(self, root: str) -> list[tuple[str, int, int]]:
        out: list[tuple[str, int, int]] = []
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                full = os.path.join(dirpath, f)
                st = os.stat(full)
                out.append((full, int(st.st_mtime * 1000), st.st_size))
        return out

    def list_dirs(self, root: str) -> list[str]:
        if not os.path.isdir(root):
            return []
        return sorted(
            d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))
        )

    def mtime_ms(self, path: str) -> int:
        return int(os.stat(path).st_mtime * 1000)

    def list_entries(
        self, root: str, start_after: str | None = None
    ) -> tuple[list[str], list[tuple[str, int, int]]]:
        # scandir is O(dir size) locally either way; the start_after filter
        # models the object-store LIST pushdown the index relies on
        if not os.path.isdir(root):
            return [], []
        dirs: list[str] = []
        files: list[tuple[str, int, int]] = []
        with os.scandir(root) as it:
            for e in sorted(it, key=lambda e: e.name):
                if e.is_dir():
                    dirs.append(e.name)
                elif start_after is None or e.name > start_after:
                    st = e.stat()
                    files.append((e.name, int(st.st_mtime * 1000), st.st_size))
        return dirs, files

    def open_seekable(self, path: str):
        return open(path, "rb")


class _JvmSeekableFile:
    """Python file-like over a Hadoop FSDataInputStream (driver-side py4j).
    Each read is one JVM round-trip — metadata-read sized, not data-path."""

    mode = "rb"

    def __init__(self, jvm, fs, jpath):
        self._stream = fs.open(jpath)
        self._size = fs.getFileStatus(jpath).getLen()
        self._jvm = jvm
        self.closed = False

    def size(self) -> int:
        return self._size

    def read(self, n: int = -1) -> bytes:
        remaining = self._size - self.tell()
        if n is None or n < 0 or n > remaining:
            n = remaining
        if n <= 0:
            return b""
        # commons-io (on Spark's classpath) returns the filled byte[] —
        # py4j copies Java byte[] RETURN values back as Python bytes
        return bytes(
            self._jvm.org.apache.commons.io.IOUtils.toByteArray(
                self._stream, n
            )
        )

    def seek(self, pos: int, whence: int = 0) -> int:
        if whence == 1:
            pos = self.tell() + pos
        elif whence == 2:
            pos = self._size + pos
        self._stream.seek(pos)
        return pos

    def tell(self) -> int:
        return self._stream.getPos()

    def seekable(self) -> bool:
        return True

    def readable(self) -> bool:
        return True

    def close(self) -> None:
        if not self.closed:
            self._stream.close()
            self.closed = True

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


class _JvmOutputFile:
    """Writable binary file-like over a Hadoop FSDataOutputStream (py4j).
    Non-seekable (object-store uploads are forward-only); each write is one
    JVM round-trip, so callers stream CHUNK_SIZE-d chunks, not lines."""

    mode = "wb"

    def __init__(self, stream):
        self._stream = stream
        self.closed = False

    def write(self, data: bytes) -> int:
        self._stream.write(bytearray(data))
        return len(data)

    def flush(self) -> None:
        self._stream.hflush()

    def writable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return False

    def tell(self) -> int:
        raise io.UnsupportedOperation("tell on a forward-only upload stream")

    def close(self) -> None:
        if not self.closed:
            self._stream.close()
            self.closed = True

    def abort(self) -> bool:
        """Best-effort discard without publishing: s3a/abfs output streams
        implement Hadoop's Abortable (cancels the multipart upload)."""
        try:
            self._stream.abort()
            self.closed = True
            return True
        except Exception:
            return False


class HadoopTargetStorage(TargetStorage):
    """Driver-side storage over any Hadoop FileSystem scheme.

    Resolves the FileSystem for each path's URI through the active session's
    Hadoop configuration, so `s3a://bucket/...` or `abfs://container@.../...`
    targets work with whatever credentials/committer config the cluster
    already has. Holds py4j handles — driver-only (executor_safe = False).
    """

    executor_safe = False

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _fs_path(self, path: str):
        jpath = self._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self._conf)
        return fs, jpath

    def exists(self, path: str) -> bool:
        fs, jpath = self._fs_path(path)
        return fs.exists(jpath)

    def read(self, path: str) -> bytes:
        fs, jpath = self._fs_path(path)
        stream = fs.open(jpath)
        try:
            helper = self._jvm.org.apache.commons.io.IOUtils
            return bytes(helper.toByteArray(stream))
        finally:
            stream.close()

    #: S3-family connectors have DEFERRED-VISIBILITY writes: create() starts
    #: a (multipart) upload that becomes the object only at close(), GETs
    #: keep serving the old object until then, and the stream implements
    #: Hadoop's Abortable. Only these may safely write the FINAL key while a
    #: reader streams the old content — the reference's overwrite-PUT
    #: semantics (target/S3TargetStorage.kt:47-154).
    _DEFERRED_VISIBILITY_SCHEMES = frozenset({"s3", "s3a", "s3n"})

    @contextmanager
    def store_atomic_writer(self, path: str):
        fs, jpath = self._fs_path(path)
        scheme = jpath.toUri().getScheme()
        if scheme in self._DEFERRED_VISIBILITY_SCHEMES:
            # One overwrite PUT, no delete/rename window during which the
            # target is absent. On error, Abortable.abort() cancels the
            # upload unpublished; if abort is unavailable the stream is
            # deliberately NOT closed — an incomplete multipart upload never
            # materializes (bucket lifecycle rules reap it), whereas close()
            # would publish the partial object over the old one.
            out = _JvmOutputFile(fs.create(jpath, True))
            try:
                yield out
            except BaseException:
                out.abort()
                raise
            out.close()
            return
        # Everything else — real filesystems (file/hdfs/viewfs, atomic
        # rename) AND non-S3 object stores (abfs/gs/wasb/oss) — stages to a
        # temp key. abfs in particular TRUNCATES the destination the moment
        # create(overwrite) opens it, so writing the final key directly
        # would corrupt the read-old-while-appending flow the writers use;
        # staging keeps the old object intact until the complete new one
        # publishes, and any failure leaves it untouched. ADLS Gen2 rename
        # is an atomic metadata op; flat-namespace stores copy+delete, which
        # still isolates failures to the temp key. rename() onto an existing
        # file fails on HDFS, so an existing target is moved ASIDE first —
        # never deleted while it is the only complete copy: a crash (or a
        # false rename return) between a delete and the final rename would
        # otherwise destroy both the target and, via the error path, the
        # staged tmp that held the only old+new content.
        tmp = self._jvm.org.apache.hadoop.fs.Path(
            f"{path}.tmp-{uuid.uuid4().hex}"
        )
        out = _JvmOutputFile(fs.create(tmp, True))
        try:
            yield out
        except BaseException:
            if not out.abort():
                out.close()
            fs.delete(tmp, False)
            raise
        out.close()
        backup = None
        if fs.exists(jpath):
            backup = self._jvm.org.apache.hadoop.fs.Path(
                f"{path}.old-{uuid.uuid4().hex}"
            )
            if not fs.rename(jpath, backup):
                fs.delete(tmp, False)  # old target intact: tmp disposable
                raise IOError(f"rename {path} -> {backup} failed")
        if not fs.rename(tmp, jpath):
            if backup is not None and fs.rename(backup, jpath):
                fs.delete(tmp, False)  # old restored: tmp disposable
                raise IOError(f"rename {tmp} -> {path} failed (restored old)")
            # restore failed too (or no backup): tmp is the ONLY complete
            # copy — leave it for manual recovery, never delete it
            raise IOError(
                f"rename {tmp} -> {path} failed; staged copy left at {tmp}"
            )
        if backup is not None:
            fs.delete(backup, False)

    def makedirs(self, path: str) -> None:
        fs, jpath = self._fs_path(path)
        fs.mkdirs(jpath)

    def delete(self, path: str) -> None:
        fs, jpath = self._fs_path(path)
        if fs.exists(jpath):
            fs.delete(jpath, True)

    def walk_files(self, root: str) -> list[str]:
        return [p for p, _m, _s in self.walk_file_status(root)]

    def walk_file_status(self, root: str) -> list[tuple[str, int, int]]:
        fs, jpath = self._fs_path(root)
        if not fs.exists(jpath):
            return []
        out: list[tuple[str, int, int]] = []
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            st = it.next()
            # local-FS URIs normalize to plain paths so they compare equal
            # with the scan's normalized source_file column; object-store
            # schemes (s3a://, abfs://) pass through
            p = st.getPath().toString()
            if p.startswith("file:"):
                p = "/" + p[5:].lstrip("/")
            out.append(
                (p, int(st.getModificationTime()), int(st.getLen()))
            )
        return out

    def list_dirs(self, root: str) -> list[str]:
        fs, jpath = self._fs_path(root)
        if not fs.exists(jpath):
            return []
        return sorted(
            st.getPath().getName()
            for st in fs.listStatus(jpath)
            if st.isDirectory()
        )

    def list_entries(
        self, root: str, start_after: str | None = None
    ) -> tuple[list[str], list[tuple[str, int, int]]]:
        fs, jpath = self._fs_path(root)
        if not fs.exists(jpath):
            return [], []
        dirs: list[str] = []
        files: list[tuple[str, int, int]] = []
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if st.isDirectory():
                dirs.append(name)
            elif start_after is None or name > start_after:
                files.append(
                    (name, int(st.getModificationTime()), int(st.getLen()))
                )
        dirs.sort()
        files.sort()
        return dirs, files

    def mtime_ms(self, path: str) -> int:
        fs, jpath = self._fs_path(path)
        return int(fs.getFileStatus(jpath).getModificationTime())

    def open_seekable(self, path: str):
        fs, jpath = self._fs_path(path)
        return _JvmSeekableFile(self._jvm, fs, jpath)
