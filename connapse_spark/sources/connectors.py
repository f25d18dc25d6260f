"""Source connectors (S1-S5, SURVEY.md §2.1) — Spark-first.

The reference's IConnector surface (IConnector.cs:3-23 — ReadFileAsync,
ListFilesAsync(prefix) → [ConnectorFile(Path, SizeBytes, LastModified,
ContentType)], ExistsAsync, WatchAsync) collapses into Spark's ``binaryFile``
source: listing, prefix pruning, parallel reads, and (path, length,
modificationTime, content) columns all come from the data source framework;
cloud stores are the same code with an ``s3a://`` / ``abfss://`` URI —
Hadoop's connectors do the paginated listing the reference hand-rolls
(S3Connector.cs:78-108).

"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def list_files(
    spark: SparkSession,
    uri: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """S1-S4 ListFilesAsync: listing WITHOUT reading content — binaryFile
    scan of metadata columns only (column pruning drops the content IO).
    Returns (path, size_bytes, last_modified)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(uri).select(
        F.col("path"),
        F.col("length").alias("size_bytes"),
        F.col("modificationTime").alias("last_modified"),
    )


def decode_text(files: DataFrame, encoding: str = "UTF-8") -> DataFrame:
    """Text-file decode (P1 entry): binary → string column, JVM-side."""
    return files.withColumn("text", F.decode(F.col("content"), encoding))


# ---------------------------------------------------------------------------
# §2.9 connection testers (reference: Connapse.Storage/ConnectionTesters/*,
# ConnectionTestResult.cs:1-50 — Success/Message/Details/Duration shape)
# ---------------------------------------------------------------------------


def _result(success: bool, message: str, details: dict, t0: float) -> dict:
    import time

    return {
        "success": success,
        "message": message,
        "details": details,
        "duration_s": round(time.monotonic() - t0, 3),
    }


def test_storage_connection(
    spark: SparkSession, uri: str, glob: str | None = None
) -> dict:
    """Storage tester (S3ConnectionTester.cs / AzureBlobConnectionTester.cs /
    MinioConnectionTester.cs analogue): the cheapest authenticated
    round-trip is a metadata-only listing capped at one file — exercises
    scheme resolution, credentials, and bucket/container reachability
    without reading content. Never raises; failures come back in the
    result like ConnectionTestResult.CreateFailure."""
    import time

    t0 = time.monotonic()
    try:
        n = len(list_files(spark, uri, glob).limit(1).collect())
        return _result(
            True,
            f"Connected to {uri} ({'files visible' if n else 'empty prefix'})",
            {"files_seen": n},
            t0,
        )
    except Exception as ex:  # noqa: BLE001 — tester surface, never raises
        return _result(
            False, f"Connection failed: {type(ex).__name__}", {"error": str(ex)}, t0
        )


def test_embedding_provider(
    provider=None, dims: int = 64, probe_text: str = "connection probe"
) -> dict:
    """Embedding-provider tester (TeiConnectionTester.cs /
    OpenAiConnectionTester.cs analogue): one tiny driver-side probe call,
    validating the (texts → vectors) contract and the dimension count the
    index expects — the same checks the reference runs before saving a
    provider config."""
    import time

    from connapse_spark.functions.embed import embed_py

    t0 = time.monotonic()
    fn = provider or (lambda texts: [embed_py(t, dims) for t in texts])
    try:
        out = fn([probe_text])
        if len(out) != 1 or len(out[0]) != dims:
            return _result(
                False,
                f"Provider returned shape ({len(out)}, {len(out[0]) if out else 0}), expected (1, {dims})",
                {"expected_dims": dims},
                t0,
            )
        return _result(True, f"Embedding provider OK ({dims} dims)", {"dims": dims}, t0)
    except Exception as ex:  # noqa: BLE001
        return _result(
            False, f"Provider call failed: {type(ex).__name__}", {"error": str(ex)}, t0
        )


def test_llm_provider(complete_fn=None, probe_prompt: str = "ping") -> dict:
    """LLM-provider tester (OllamaConnectionTester.cs /
    AnthropicConnectionTester.cs analogue): one tiny completion, checking
    the (prompts → strings) contract."""
    import time

    t0 = time.monotonic()
    if complete_fn is None:
        import pandas as pd

        from connapse_spark.operators.rag import fake_provider

        complete_fn = lambda ps: list(fake_provider(pd.Series(ps)))  # noqa: E731
    try:
        out = complete_fn([probe_prompt])
        ok = len(out) == 1 and isinstance(out[0], str) and out[0]
        return (
            _result(True, "LLM provider OK", {"sample_len": len(out[0])}, t0)
            if ok
            else _result(False, "Provider returned empty/invalid completion", {}, t0)
        )
    except Exception as ex:  # noqa: BLE001
        return _result(
            False, f"Provider call failed: {type(ex).__name__}", {"error": str(ex)}, t0
        )


def test_rerank_provider(rerank_fn=None, probe_query: str = "ping") -> dict:
    """Reranker tester (CohereConnectionTester.cs / JinaConnectionTester.cs
    / VoyageConnectionTester.cs analogue): one two-document probe,
    checking the (query, docs → scores) contract — as many scores as
    docs, all finite floats. ``rerank_fn(query, docs) -> list[float]``;
    defaults to the deterministic fake provider the search tests use."""
    import math
    import time

    t0 = time.monotonic()
    if rerank_fn is None:
        from connapse_spark.functions.embed import embed_py

        def rerank_fn(query, docs):  # deterministic hash-embedding dot scores
            qv = embed_py(query, 16)
            return [
                sum(a * b for a, b in zip(qv, embed_py(d, 16))) for d in docs
            ]
    docs = ["first probe document", "second probe document"]
    try:
        scores = list(rerank_fn(probe_query, docs))
        if len(scores) != len(docs) or not all(
            isinstance(s, (int, float)) and math.isfinite(s) for s in scores
        ):
            return _result(
                False,
                f"Provider returned {len(scores)} scores for {len(docs)} docs",
                {"scores": [str(s) for s in scores]},
                t0,
            )
        return _result(True, "Rerank provider OK", {"n_scored": len(scores)}, t0)
    except Exception as ex:  # noqa: BLE001
        return _result(
            False, f"Provider call failed: {type(ex).__name__}", {"error": str(ex)}, t0
        )


def test_all_connections(spark: SparkSession, storage_uri: str | None = None) -> dict:
    """The reference's connection-tester sweep (ConnectionTesters/*.cs —
    one result per configured seam) as a single call: every tester runs,
    nothing raises, and the report maps seam → ConnectionTestResult-shaped
    dict. Pass ``storage_uri`` to include the storage probe."""
    report = {
        "embedding": test_embedding_provider(),
        "llm": test_llm_provider(),
        "rerank": test_rerank_provider(),
    }
    if storage_uri is not None:
        report["storage"] = test_storage_connection(spark, storage_uri)
    return report


# ---------------------------------------------------------------------------
# S2/S4 executable path: boto3 S3 object connector (runs against any
# S3-compatible endpoint — AWS, MinIO, or the moto test server, exactly the
# LocalStack role in the reference's integration tests,
# tests/Connapse.Integration.Tests/LocalStackFixture.cs)
# ---------------------------------------------------------------------------


def s3_client(endpoint_url: str | None = None, region: str = "us-east-1"):
    """boto3 client factory; credentials resolve from the environment the
    standard way (explicit test creds against local endpoints). The ONE
    place the endpoint/credential policy lives — the distributed
    read/write twins construct their per-partition clients through this
    same function (it is module-level, so executors import it instead of
    closure-capturing a client)."""
    import boto3

    kwargs = {"region_name": region}
    if endpoint_url:
        kwargs.update(
            endpoint_url=endpoint_url,
            aws_access_key_id=os.environ.get("AWS_ACCESS_KEY_ID", "test"),
            aws_secret_access_key=os.environ.get("AWS_SECRET_ACCESS_KEY", "test"),
        )
    return boto3.client("s3", **kwargs)


def s3_list_objects(
    spark: SparkSession,
    bucket: str,
    prefix: str = "",
    endpoint_url: str | None = None,
    max_keys: int = 100_000,
) -> DataFrame:
    """ListFilesAsync against a real S3 API (S3Connector.cs:78-108's
    paginated loop): driver-side paginator → (path, size_bytes,
    last_modified) frame. Listings are metadata (tiny vs the objects);
    ``max_keys`` guards the driver exactly like knn_join's query cap — at
    true data-lake scale the s3a/binaryFile path (Hadoop's distributed
    listing) or an S3 Inventory manifest replaces this, and everything
    downstream is unchanged (same columns)."""
    c = s3_client(endpoint_url)
    rows, token, truncated = [], None, False
    while True:
        kw = {"Bucket": bucket, "Prefix": prefix, "MaxKeys": 1000}
        if token:
            kw["ContinuationToken"] = token
        resp = c.list_objects_v2(**kw)
        for o in resp.get("Contents", []):
            rows.append((f"s3://{bucket}/{o['Key']}", int(o["Size"]),
                         o["LastModified"].isoformat()))
        truncated = bool(resp.get("IsTruncated"))
        if not truncated or len(rows) > max_keys:
            break
        token = resp.get("NextContinuationToken")
    # The guard fires only when the FULL listing cannot be returned within
    # max_keys — either pagination was cut off with pages remaining, or a
    # complete final page pushed past the cap. A bucket holding exactly
    # max_keys objects lists cleanly (the earlier >= check wrongly raised
    # there); silently trimming a too-long listing would corrupt every
    # downstream delta computation, so over-cap is an error, not a trim.
    if truncated or len(rows) > max_keys:
        raise ValueError(
            f"s3_list_objects: listing exceeded max_keys={max_keys}; "
            "use the s3a/binaryFile path or an S3 Inventory manifest"
        )
    return spark.createDataFrame(
        rows, "path string, size_bytes long, last_modified string"
    )


def s3_read_objects(
    listing: DataFrame,
    endpoint_url: str | None = None,
) -> DataFrame:
    """ReadFileAsync, distributed: the listing's keys fan out over
    executors and each partition GETs its objects with its own boto3
    client (created per partition, NOT serialized from the driver),
    yielding (path, content binary) Arrow batches — the exact input schema
    of parsers.parse_text_documents / parse_binary_documents, so
    S3 → parse → chunk → embed is one lazy plan.

    Scale: repartition the listing by size-balanced ranges for even fetch
    load; throughput is per-executor-connection bound, the same regime as
    Hadoop's s3a readers. Object bytes never pass through the driver."""
    import pandas as pd

    ep = endpoint_url

    def fetch(batches):
        c = None
        for pdf in batches:
            if c is None:
                from connapse_spark.sources.connectors import s3_client

                c = s3_client(ep)
            paths, bodies = [], []
            for p in pdf["path"]:
                assert p.startswith("s3://")
                bucket, key = p[5:].split("/", 1)
                bodies.append(c.get_object(Bucket=bucket, Key=key)["Body"].read())
                paths.append(p)
            yield pd.DataFrame({"path": paths, "content": bodies})

    return listing.select("path").mapInPandas(fetch, "path string, content binary")


def s3_put_object(
    bucket: str,
    key: str,
    data: bytes,
    content_type: str | None = None,
    endpoint_url: str | None = None,
) -> dict:
    """WriteFileAsync, single object (MinioConnector.cs WriteFileAsync:
    PutObject with optional ContentType). Driver-side — the control-plane
    write for manifests/small artifacts; bulk data goes through
    :func:`s3_write_objects`."""
    c = s3_client(endpoint_url)
    kw = {"Bucket": bucket, "Key": key, "Body": data}
    if content_type:
        kw["ContentType"] = content_type
    resp = c.put_object(**kw)
    return {
        "path": f"s3://{bucket}/{key}",
        "size_bytes": len(data),
        "etag": resp.get("ETag", "").strip('"'),
    }


def s3_delete_object(bucket: str, key: str, endpoint_url: str | None = None) -> None:
    """DeleteFileAsync: S3 DeleteObject is idempotent (no error on a missing
    key), matching the reference's already-deleted-is-success contract."""
    s3_client(endpoint_url).delete_object(Bucket=bucket, Key=key)


def s3_object_exists(bucket: str, key: str, endpoint_url: str | None = None) -> bool:
    """ExistsAsync: HEAD the object, 404 → False (MinioConnector.cs
    ExistsAsync via GetObjectMetadataAsync)."""
    from botocore.exceptions import ClientError

    try:
        s3_client(endpoint_url).head_object(Bucket=bucket, Key=key)
        return True
    except ClientError as e:
        if e.response.get("ResponseMetadata", {}).get("HTTPStatusCode") == 404:
            return False
        raise


def s3_write_objects(
    files: DataFrame,
    bucket: str,
    prefix: str = "",
    endpoint_url: str | None = None,
) -> DataFrame:
    """WriteFileAsync, distributed: the batch twin of s3_read_objects for
    the WRITE direction (the S4 managed-storage gap carried since r4).
    Input: (key, content binary[, content_type]); each partition PUTs its
    objects with its own boto3 client — object bytes never pass through
    the driver, so a 1000-executor cluster uploads 1000-wide. Returns
    (path, key, size_bytes, etag) — an upload receipt the caller can join
    back or feed straight to a listing-delta (sync_delta).

    This is an ACTION-on-collect operator like the read twin: the PUTs
    happen when the returned frame is materialized; re-materializing would
    re-upload (PUT is idempotent per key, so the result state is the same —
    but persist the receipt if it feeds multiple downstream plans)."""
    import pandas as pd

    ep = endpoint_url
    pfx = prefix.strip("/")
    has_ct = "content_type" in files.columns
    cols = ["key", "content"] + (["content_type"] if has_ct else [])

    def put(batches):
        c = None
        for pdf in batches:
            if c is None:
                from connapse_spark.sources.connectors import s3_client

                c = s3_client(ep)
            out = {"path": [], "key": [], "size_bytes": [], "etag": []}
            for row in pdf.itertuples(index=False):
                key = row.key.lstrip("/")
                if pfx:
                    key = f"{pfx}/{key}"
                body = bytes(row.content)
                kw = {"Bucket": bucket, "Key": key, "Body": body}
                ct = getattr(row, "content_type", None)
                if ct:
                    kw["ContentType"] = ct
                resp = c.put_object(**kw)
                out["path"].append(f"s3://{bucket}/{key}")
                out["key"].append(key)
                out["size_bytes"].append(len(body))
                out["etag"].append(resp.get("ETag", "").strip('"'))
            yield pd.DataFrame(out)

    return files.select(*cols).mapInPandas(
        put, "path string, key string, size_bytes long, etag string"
    )


def balance_by_size(listing: DataFrame, n_partitions: int) -> DataFrame:
    """Spread a (path, size_bytes, …) listing across ``n_partitions`` by
    BYTES, not file count: exclusive cumulative sum over size-desc order →
    bin index → repartition on it. Without this, one partition drawing the
    few giant objects straggles the whole fetch stage — the small-files
    problem's mirror image. Used ahead of s3_read_objects:
    ``s3_read_objects(balance_by_size(listing, 64), …)``."""
    from pyspark.sql.window import Window

    w = (
        Window.orderBy(F.desc("size_bytes"), "path")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    total = listing.agg(F.sum("size_bytes")).collect()[0][0] or 1
    per_bin = max(1, total // n_partitions + 1)
    binned = listing.withColumn(
        "_bin",
        (F.coalesce(F.sum("size_bytes").over(w), F.lit(0)) / per_bin).cast("int"),
    )
    # EXACT identity partitioner via the RDD API: hash-repartition can
    # collide two bins into one task and repartitionByRange's sampled
    # boundaries are unreliable on small listings (observed: all rows in
    # one range) — both re-create the straggler this helper exists to
    # kill. The RDD hop is fine here: the input is a metadata LISTING
    # (bytes-per-row, not object bytes), one of the few places
    # per-partition imperative control genuinely beats the DataFrame API.
    spark = listing.sparkSession
    schema = listing.schema
    rdd = (
        binned.rdd.map(lambda r: (r["_bin"], r))
        .partitionBy(n_partitions, lambda k: int(k))
        .values()
        .map(lambda r: [r[f.name] for f in schema.fields])
    )
    return spark.createDataFrame(rdd, schema)


# ---------------------------------------------------------------------------
# Azure Blob REST tier — the executable twin of the boto3 S3 tier above.
# The container ships no azure-storage-blob SDK and no Azurite binary, but
# the Blob service REST protocol is a public spec (List Blobs XML, Get
# Blob, Shared Key signing — learn.microsoft.com/rest/api/storageservices),
# simple enough for stdlib urllib + hmac; the integration tests run it
# against a protocol-faithful mock server that verifies the signatures
# with an independent implementation of the documented algorithm. The
# reference integration-tests this connector against Azurite
# (tests/Connapse.Integration.Tests/AzuriteFixture.cs).
# ---------------------------------------------------------------------------

AZURE_API_VERSION = "2021-08-06"

_AZURE_STD_HEADERS = [
    "Content-Encoding", "Content-Language", "Content-Length", "Content-MD5",
    "Content-Type", "Date", "If-Modified-Since", "If-Match", "If-None-Match",
    "If-Unmodified-Since", "Range",
]


def azure_shared_key_auth(
    method: str,
    path: str,
    query: dict[str, str],
    headers: dict[str, str],
    account: str,
    key_b64: str,
) -> str:
    """``Authorization: SharedKey`` header value for one Blob-service
    request (the 2009-09-19+ Shared Key scheme): VERB + the 11 standard
    headers + canonicalized ``x-ms-*`` headers (lowercase, sorted) +
    canonicalized resource (/account/path + sorted query as name:value
    lines), HMAC-SHA256 under the base64-decoded account key."""
    import base64
    import hashlib
    import hmac

    hl = {k.lower(): v for k, v in headers.items()}
    parts = [method.upper()]
    for h in _AZURE_STD_HEADERS:
        v = hl.get(h.lower(), "")
        if h == "Content-Length" and v == "0":
            v = ""  # zero-length bodies sign as empty per the spec
        parts.append(v)
    xms = sorted((k, v) for k, v in hl.items() if k.startswith("x-ms-"))
    canon_headers = "".join(f"{k}:{v}\n" for k, v in xms)
    canon_res = f"/{account}{path}"
    for name in sorted(query):
        canon_res += f"\n{name.lower()}:{query[name]}"
    string_to_sign = "\n".join(parts) + "\n" + canon_headers + canon_res
    sig = base64.b64encode(
        hmac.new(
            base64.b64decode(key_b64), string_to_sign.encode("utf-8"), hashlib.sha256
        ).digest()
    ).decode("ascii")
    return f"SharedKey {account}:{sig}"


def _azure_call(
    endpoint: str,
    account: str,
    key_b64: str,
    method: str,
    path: str,
    query: dict[str, str],
    body: bytes | None = None,
    extra_headers: dict[str, str] | None = None,
    ok_statuses: tuple[int, ...] = (200,),
) -> tuple[int, bytes]:
    """One signed Blob-service request; returns (status, body). Statuses
    in ``ok_statuses`` return normally; anything else raises. Stdlib
    urllib only — the same no-client-library discipline as
    http_embedding_provider."""
    import urllib.error
    import urllib.parse
    import urllib.request
    from email.utils import formatdate

    headers = {
        "x-ms-date": formatdate(usegmt=True),
        "x-ms-version": AZURE_API_VERSION,
    }
    if body is not None:
        headers["Content-Length"] = str(len(body))
    if extra_headers:
        headers.update(extra_headers)
    if body is not None and "Content-Type" not in headers:
        # urllib injects application/x-www-form-urlencoded for bodied
        # requests with no Content-Type — an UNSIGNED header the service
        # would include in its canonicalization; pin one explicitly
        headers["Content-Type"] = "application/octet-stream"
    # Sign the path AS SENT ON THE WIRE (percent-encoded): the service
    # reconstructs the canonicalized resource from the request URI, so a
    # blob name needing encoding (space, unicode) must sign its encoded
    # form — signing the raw path 403s on exactly those names (r5 ADVICE).
    wire_path = urllib.parse.quote(path)
    headers["Authorization"] = azure_shared_key_auth(
        method, wire_path, query, headers, account, key_b64
    )
    qs = urllib.parse.urlencode(query)
    url = f"{endpoint}{wire_path}" + (f"?{qs}" if qs else "")
    req = urllib.request.Request(url, data=body, headers=headers, method=method)
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as ex:
        if ex.code in ok_statuses:
            return ex.code, ex.read()
        raise


def _azure_request(
    endpoint: str,
    account: str,
    key_b64: str,
    path: str,
    query: dict[str, str],
) -> bytes:
    """One signed GET; returns the response body."""
    return _azure_call(endpoint, account, key_b64, "GET", path, query)[1]


def azure_put_blob(
    account: str,
    container: str,
    name: str,
    data: bytes,
    key_b64: str,
    content_type: str | None = None,
    endpoint_url: str | None = None,
) -> dict:
    """WriteFileAsync (AzureBlobConnector.cs WriteFileAsync): Put Blob as
    a BlockBlob with optional Content-Type; overwrites like the SDK's
    UploadAsync. Returns the landing receipt."""
    ep = endpoint_url or f"https://{account}.blob.core.windows.net"
    extra = {"x-ms-blob-type": "BlockBlob"}
    if content_type:
        extra["Content-Type"] = content_type
    _azure_call(
        ep, account, key_b64, "PUT", f"/{container}/{name}", {},
        body=data, extra_headers=extra, ok_statuses=(201,),
    )
    return {
        "path": f"abfss://{container}@{account}.dfs.core.windows.net/{name}",
        "size_bytes": len(data),
    }


def azure_delete_blob(
    account: str,
    container: str,
    name: str,
    key_b64: str,
    endpoint_url: str | None = None,
) -> None:
    """DeleteFileAsync: Delete Blob; a missing blob is success
    (DeleteIfExistsAsync semantics)."""
    ep = endpoint_url or f"https://{account}.blob.core.windows.net"
    _azure_call(
        ep, account, key_b64, "DELETE", f"/{container}/{name}", {},
        ok_statuses=(202, 404),
    )


def azure_blob_exists(
    account: str,
    container: str,
    name: str,
    key_b64: str,
    endpoint_url: str | None = None,
) -> bool:
    """ExistsAsync: HEAD the blob, 404 → False."""
    ep = endpoint_url or f"https://{account}.blob.core.windows.net"
    status, _ = _azure_call(
        ep, account, key_b64, "HEAD", f"/{container}/{name}", {},
        ok_statuses=(200, 404),
    )
    return status == 200


def azure_write_blobs(
    files: DataFrame,
    account: str,
    container: str,
    key_b64: str,
    endpoint_url: str | None = None,
) -> DataFrame:
    """Put Blob, distributed — the Azure twin of s3_write_objects: input
    (name, content binary[, content_type]); each partition PUTs its blobs
    with fresh signed requests (strings-only closure), returning
    (path, name, size_bytes) receipts. Blob bytes never pass through the
    driver."""
    import pandas as pd

    ep = endpoint_url or f"https://{account}.blob.core.windows.net"
    has_ct = "content_type" in files.columns
    cols = ["name", "content"] + (["content_type"] if has_ct else [])

    def put(batches):
        for pdf in batches:
            out = {"path": [], "name": [], "size_bytes": []}
            for row in pdf.itertuples(index=False):
                body = bytes(row.content)
                extra = {"x-ms-blob-type": "BlockBlob"}
                ct = getattr(row, "content_type", None)
                if ct:
                    extra["Content-Type"] = ct
                _azure_call(
                    ep, account, key_b64, "PUT", f"/{container}/{row.name}", {},
                    body=body, extra_headers=extra, ok_statuses=(201,),
                )
                out["path"].append(
                    f"abfss://{container}@{account}.dfs.core.windows.net/{row.name}"
                )
                out["name"].append(row.name)
                out["size_bytes"].append(len(body))
            yield pd.DataFrame(out)

    return files.select(*cols).mapInPandas(
        put, "path string, name string, size_bytes long"
    )


def azure_list_blobs(
    spark: SparkSession,
    account: str,
    container: str,
    key_b64: str,
    prefix: str = "",
    endpoint_url: str | None = None,
    max_results: int = 100_000,
) -> DataFrame:
    """List Blobs (``?restype=container&comp=list``) with NextMarker
    pagination → the same (path, size_bytes, last_modified) frame as
    s3_list_objects, with ``abfss://`` paths so everything downstream of
    either connector is identical. The guard semantics mirror the S3
    fix: raise ONLY when the full listing cannot be returned within
    ``max_results``."""
    import xml.etree.ElementTree as ET

    ep = endpoint_url or f"https://{account}.blob.core.windows.net"
    rows: list[tuple[str, int, str]] = []
    marker = ""
    while True:
        query = {"restype": "container", "comp": "list", "maxresults": "1000"}
        if prefix:
            query["prefix"] = prefix
        if marker:
            query["marker"] = marker
        body = _azure_request(ep, account, key_b64, f"/{container}", query)
        root = ET.fromstring(body)
        for blob in root.iter("Blob"):
            name = blob.findtext("Name") or ""
            props = blob.find("Properties")
            size = int(props.findtext("Content-Length") or 0)
            mtime = props.findtext("Last-Modified") or ""
            rows.append(
                (
                    f"abfss://{container}@{account}.dfs.core.windows.net/{name}",
                    size,
                    mtime,
                )
            )
        marker = root.findtext("NextMarker") or ""
        if not marker or len(rows) > max_results:
            break
    if marker or len(rows) > max_results:
        raise ValueError(
            f"azure_list_blobs: listing exceeded max_results={max_results}; "
            "use the abfss/binaryFile path or a Blob Inventory manifest"
        )
    return spark.createDataFrame(
        rows, "path string, size_bytes long, last_modified string"
    )


def azure_read_blobs(
    listing: DataFrame,
    account: str,
    key_b64: str,
    endpoint_url: str | None = None,
) -> DataFrame:
    """Get Blob, distributed: the listing fans out over executors and each
    partition GETs its blobs with fresh signed requests (only strings
    cross the closure boundary — no session object is serialized),
    yielding (path, content) Arrow batches — the same schema as
    s3_read_objects, so Azure → parse → chunk → embed is one lazy plan."""
    import pandas as pd

    ep = endpoint_url or f"https://{account}.blob.core.windows.net"
    marker = f"@{account}.dfs.core.windows.net/"

    def fetch(batches):
        for pdf in batches:
            paths, bodies = [], []
            for p in pdf["path"]:
                assert p.startswith("abfss://")
                rest = p[len("abfss://"):]
                container, name = rest.split(marker, 1)
                bodies.append(
                    _azure_request(ep, account, key_b64, f"/{container}/{name}", {})
                )
                paths.append(p)
            yield pd.DataFrame({"path": paths, "content": bodies})

    return listing.select("path").mapInPandas(fetch, "path string, content binary")
