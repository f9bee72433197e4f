"""Executor-safe S3 object-store backend (SURVEY §2.1 S2/S14; reference
target/S3TargetStorage.kt:47-154).

`HadoopTargetStorage` reaches s3a:// through the driver JVM, so the writer
runs its partition loop on the driver for it. This backend speaks the S3
API natively through boto3 and IS picklable: the constructor captures only
plain configuration (bucket-agnostic client kwargs), and the boto3 client is
built lazily once per process — driver or executor worker — so
`write_output_tree_direct` writes straight to S3 from every task, matching
the reference's per-file PUT model.

Semantics mirror the reference's S3TargetStorage:
* `store_atomic*` publishes with a single PUT / multipart upload — the
  object flips old->new atomically at completion, no delete/rename window
  (S3TargetStorage.kt:47-154 does the same overwrite PUT).
* writes spool through a disk-backed temp file, so staging a large append
  stream costs disk, not memory; on error the spool is dropped and nothing
  is published.
* object stores have no directories: `makedirs` is a no-op, listings are
  prefix scans, directory listings use delimiter common-prefixes.

At 100 TB: every executor task holds one boto3 client (connection-pooled),
uploads are multipart (bounded memory), and listing is paginated server-side
— no driver bottleneck and no whole-listing materialization beyond the
(manifest-sized) path list the planner already needs.

boto3 is optional: importing this module is safe without it; constructing
the storage raises with a clear message.
"""

from __future__ import annotations

from contextlib import contextmanager

from radar_output_restructure_spark.sinks.storage import (
    CHUNK_SIZE,
    RangedReader,
    TargetStorage,
    as_prefix,
)

#: spool appends/uploads in memory up to this, then overflow to disk — the
#: common case (one user-hour group) stays in RAM, a pathological hot bin
#: degrades to disk instead of ballooning the executor heap
_SPOOL_MAX = 8 << 20


def parse_s3_url(path: str) -> tuple[str, str]:
    """('bucket', 'key') from s3://bucket/key or s3a://bucket/key."""
    scheme, rest = path.split("://", 1)
    if scheme not in ("s3", "s3a", "s3n"):
        raise ValueError(f"not an S3 url: {path!r}")
    bucket, _, key = rest.partition("/")
    return bucket, key


#: fs.s3a credential providers whose semantics the boto3 default chain (plus
#: the translated static/session keys below) reproduces. Anything else —
#: AssumedRoleCredentialProvider, custom classes — carries behavior boto3
#: cannot honor from Hadoop conf alone, so `storage_for` keeps those
#: deployments on the Hadoop connector.
_TRANSLATABLE_PROVIDERS = (
    "",
    # Hadoop's DEFAULT chain (static keys -> session keys -> env vars ->
    # instance profile) is exactly what boto3's default chain resolves too
    "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider",
    "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider",
    "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider",
    "org.apache.hadoop.fs.s3a.auth.IAMInstanceCredentialsProvider",
    "com.amazonaws.auth.DefaultAWSCredentialsProviderChain",
    "com.amazonaws.auth.EnvironmentVariableCredentialsProvider",
    "software.amazon.awssdk.auth.credentials.DefaultCredentialsProvider",
    "software.amazon.awssdk.auth.credentials.EnvironmentVariableCredentialsProvider",
)


def s3_kwargs_from_hadoop_conf(spark) -> tuple[dict, bool, bool]:
    """(client_kwargs, path_style, translatable) from the session's
    `fs.s3a.*` configuration.

    Existing s3a deployments keep credentials/endpoints (MinIO, custom
    regions, static keys) in Hadoop conf; silently ignoring that and using
    boto3's default chain would change which account/endpoint the engine
    writes to the moment boto3 happens to be installed. The common keys
    translate 1:1; a non-default credentials provider is reported as NOT
    translatable so the caller can stay on the Hadoop connector, which
    honors the full conf.
    """
    conf = spark._jsc.hadoopConfiguration()

    def get(key: str) -> str:
        return conf.get(key, "") or ""

    kwargs: dict = {}
    endpoint = get("fs.s3a.endpoint")
    if endpoint and endpoint != "s3.amazonaws.com":
        if "://" not in endpoint:
            scheme = (
                "https"
                if get("fs.s3a.connection.ssl.enabled").lower() != "false"
                else "http"
            )
            endpoint = f"{scheme}://{endpoint}"
        kwargs["endpoint_url"] = endpoint
    if get("fs.s3a.endpoint.region"):
        kwargs["region_name"] = get("fs.s3a.endpoint.region")
    if get("fs.s3a.access.key"):
        kwargs["aws_access_key_id"] = get("fs.s3a.access.key")
    if get("fs.s3a.secret.key"):
        kwargs["aws_secret_access_key"] = get("fs.s3a.secret.key")
    if get("fs.s3a.session.token"):
        kwargs["aws_session_token"] = get("fs.s3a.session.token")
    path_style = get("fs.s3a.path.style.access").lower() == "true"
    providers = get("fs.s3a.aws.credentials.provider")
    translatable = all(
        p.strip() in _TRANSLATABLE_PROVIDERS for p in providers.split(",")
    )
    return kwargs, path_style, translatable


class S3TargetStorage(TargetStorage):
    """Picklable, executor-safe TargetStorage over the native S3 API.

    `client_kwargs` go to `boto3.client("s3", **kwargs)` — endpoint_url,
    region_name, credentials. Only plain values: the instance pickles into
    Spark tasks and each process builds its own client on first use.
    `path_style=True` forces path-style addressing (MinIO and most
    self-hosted endpoints), mirroring `fs.s3a.path.style.access`.
    """

    executor_safe = True

    def __init__(self, path_style: bool = False, **client_kwargs):
        self._client_kwargs = client_kwargs
        self._path_style = path_style
        self._client = None

    # -- pickling: ship config, never the client/socket pool --------------
    def __getstate__(self):
        return {
            "_client_kwargs": self._client_kwargs,
            "_path_style": self._path_style,
        }

    def __setstate__(self, state):
        self._client_kwargs = state["_client_kwargs"]
        self._path_style = state.get("_path_style", False)
        self._client = None

    @property
    def client(self):
        if self._client is None:
            try:
                import boto3
            except ImportError as exc:  # pragma: no cover
                raise ImportError(
                    "S3TargetStorage requires boto3; use "
                    "HadoopTargetStorage (driver-side, s3a://) when the "
                    "AWS SDK is not installed"
                ) from exc
            kwargs = dict(self._client_kwargs)
            if self._path_style:
                from botocore.config import Config

                kwargs["config"] = Config(s3={"addressing_style": "path"})
            self._client = boto3.client("s3", **kwargs)
        return self._client

    # -- target surface ---------------------------------------------------

    def exists(self, path: str) -> bool:
        bucket, key = parse_s3_url(path)
        try:
            self.client.head_object(Bucket=bucket, Key=key)
            return True
        except self.client.exceptions.ClientError as exc:
            if exc.response["Error"]["Code"] in ("404", "NoSuchKey"):
                return False
            raise

    def read(self, path: str) -> bytes:
        bucket, key = parse_s3_url(path)
        return self.client.get_object(Bucket=bucket, Key=key)["Body"].read()

    def object_tags(self, path: str) -> dict[str, str]:
        """Object tag set (S8: the reference reads an `endOffset` tag for
        files named without `+to`, source/S3SourceStorage.kt:65-90)."""
        bucket, key = parse_s3_url(path)
        resp = self.client.get_object_tagging(Bucket=bucket, Key=key)
        return {t["Key"]: t["Value"] for t in resp.get("TagSet", [])}

    @contextmanager
    def store_atomic_writer(self, path: str):
        import tempfile

        bucket, key = parse_s3_url(path)
        with tempfile.SpooledTemporaryFile(max_size=_SPOOL_MAX) as spool:
            yield spool
            # only on clean exit: publish as one PUT/multipart upload —
            # an exception above skips this and the spool just vanishes
            spool.seek(0)
            self.client.upload_fileobj(spool, bucket, key)

    def open_read_chunks(self, path: str, chunk_size: int = CHUNK_SIZE):
        """One streaming GET (not per-chunk range requests)."""
        bucket, key = parse_s3_url(path)
        body = self.client.get_object(Bucket=bucket, Key=key)["Body"]
        try:
            while True:
                chunk = body.read(chunk_size)
                if not chunk:
                    return
                yield chunk
        finally:
            body.close()

    def makedirs(self, path: str) -> None:
        pass  # object stores have no directories

    def delete(self, path: str) -> None:
        bucket, key = parse_s3_url(path)
        if self.exists(path):
            self.client.delete_object(Bucket=bucket, Key=key)
            return
        # prefix ("directory") delete, batched at the API's 1000-key limit
        batch: list[dict] = []
        for obj_key, _m, _s in self._list(bucket, as_prefix(key)):
            batch.append({"Key": obj_key})
            if len(batch) == 1000:
                self.client.delete_objects(
                    Bucket=bucket, Delete={"Objects": batch}
                )
                batch = []
        if batch:
            self.client.delete_objects(Bucket=bucket, Delete={"Objects": batch})

    def _list(self, bucket: str, prefix: str):
        paginator = self.client.get_paginator("list_objects_v2")
        for page in paginator.paginate(Bucket=bucket, Prefix=prefix):
            for obj in page.get("Contents", []):
                yield (
                    obj["Key"],
                    int(obj["LastModified"].timestamp() * 1000),
                    int(obj["Size"]),
                )

    def walk_file_status(self, root: str) -> list[tuple[str, int, int]]:
        bucket, key = parse_s3_url(root)
        scheme = root.split("://", 1)[0]
        return [
            (f"{scheme}://{bucket}/{k}", m, s)
            for k, m, s in self._list(bucket, as_prefix(key))
        ]

    def list_entries(
        self, root: str, start_after: str | None = None
    ) -> tuple[list[str], list[tuple[str, int, int]]]:
        """Non-recursive LIST with true server-side `StartAfter` pushdown —
        the request the incremental index issues per poll costs O(new keys),
        which is the whole point of SURVEY S9 at millions of objects."""
        bucket, key = parse_s3_url(root)
        prefix = as_prefix(key)
        kwargs = {"Bucket": bucket, "Prefix": prefix, "Delimiter": "/"}
        if start_after is not None:
            kwargs["StartAfter"] = prefix + start_after
        dirs: list[str] = []
        files: list[tuple[str, int, int]] = []
        paginator = self.client.get_paginator("list_objects_v2")
        for page in paginator.paginate(**kwargs):
            for cp in page.get("CommonPrefixes", []):
                dirs.append(cp["Prefix"].rstrip("/").rsplit("/", 1)[-1])
            for obj in page.get("Contents", []):
                name = obj["Key"][len(prefix):]
                if "/" in name or not name:
                    continue  # safety: only immediate children
                files.append(
                    (
                        name,
                        int(obj["LastModified"].timestamp() * 1000),
                        int(obj["Size"]),
                    )
                )
        return sorted(dirs), sorted(files)

    def mtime_ms(self, path: str) -> int:
        bucket, key = parse_s3_url(path)
        head = self.client.head_object(Bucket=bucket, Key=key)
        return int(head["LastModified"].timestamp() * 1000)

    def open_seekable(self, path: str):
        bucket, key = parse_s3_url(path)
        head = self.client.head_object(Bucket=bucket, Key=key)

        def fetch(start: int, n: int) -> bytes:
            rng = f"bytes={start}-{start + n - 1}"
            resp = self.client.get_object(Bucket=bucket, Key=key, Range=rng)
            return resp["Body"].read()

        return RangedReader(int(head["ContentLength"]), fetch)

    # -- conditional writes (the topic-lock primitives, locks.py) ----------

    def _put_if(self, path: str, body: bytes, **condition) -> bool:
        bucket, key = parse_s3_url(path)
        try:
            self.client.put_object(Bucket=bucket, Key=key, Body=body, **condition)
            return True
        except self.client.exceptions.ClientError as exc:
            code = exc.response.get("Error", {}).get("Code", "")
            # 412 on both conditions; ConditionalRequestConflict (409) when
            # a concurrent conditional write on the same key is in flight —
            # the caller lost the race either way.
            if code in ("PreconditionFailed", "ConditionalRequestConflict"):
                return False
            raise

    def create_if_absent(self, path: str, body: bytes) -> bool:
        return self._put_if(path, body, IfNoneMatch="*")

    def replace_if_match(self, path: str, body: bytes, etag: str) -> bool:
        return self._put_if(path, body, IfMatch=etag)

    def read_with_etag(self, path: str) -> tuple[bytes, str, float | None] | None:
        bucket, key = parse_s3_url(path)
        try:
            resp = self.client.get_object(Bucket=bucket, Key=key)
        except self.client.exceptions.ClientError as exc:
            if exc.response["Error"]["Code"] in ("404", "NoSuchKey"):
                return None
            raise
        lm = resp.get("LastModified")
        return resp["Body"].read(), resp["ETag"], (
            lm.timestamp() if lm is not None else None
        )
