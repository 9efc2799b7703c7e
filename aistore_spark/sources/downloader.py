"""Downloader — external→cluster ingest jobs (S10, T7).

Reference: ``ext/dload`` (~4k LoC Go): job types ``single | range |
multi | backend`` (``ext/dload/api.go:25-30``), where ``range`` expands
a brace template into a URL set (``api.go:87-129``), ``backend`` syncs
a remote bucket subset by regex (``api.go:95,344-346``), with per-job
limits ``{Connections, BytesPerHour}`` and optional ETL on ingest
(``api.go:84-86``).

Spark-first: a download job *plan* is a DataFrame of (url, objname)
work items — template expansion is the F2 generator, regex subsetting
is a filter, limits are throttling metadata. Execution is one
:func:`~aistore_spark.util.map_arrays` pass over the plan with a
pluggable fetcher: the map's kernel owns a partition's batches, so
each partition is one fetch stream with one token bucket. Partition
count ≈ ``Connections`` caps concurrency, and the per-stream bucket
implements ``BytesPerHour``.

No network in this container: the default fetcher is a deterministic
fake (content = md5(url) hex bytes); the real HTTP fetcher is gated
behind an import-try and marked for real deployments.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aistore_spark.functions.templates import expand_template
from aistore_spark.util import local_frame, map_arrays

FetchFn = Callable[[str], bytes]


def fake_fetch(url: str) -> bytes:
    """Deterministic stand-in fetcher: md5(url) hex as the body."""
    return hashlib.md5(url.encode("utf-8")).hexdigest().encode("ascii")


def http_fetch(url: str) -> bytes:  # pragma: no cover - no network here
    """Real fetcher for deployments with network access."""
    try:
        from urllib.request import urlopen
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("no HTTP stack available") from exc
    with urlopen(url) as resp:  # noqa: S310
        return resp.read()


def range_job_plan(
    spark: SparkSession,
    template: str,
    dest_prefix: str = "",
    regex: str | None = None,
) -> DataFrame:
    """S10 ``range`` job: brace-template URL expansion → work items.

    Destination object name = last path segment, prefixed
    (``ext/dload/api.go:87-129``); optional regex subset filter
    (the ``backend``-sync filter shape).
    """
    urls = expand_template(spark, template).withColumnRenamed("name", "url")
    if regex:
        urls = urls.filter(F.col("url").rlike(regex))
    objname = F.concat(
        F.lit(dest_prefix),
        F.element_at(F.split(F.col("url"), "/"), -1),
    )
    return urls.select("url", objname.alias("objname"))


def single_job_plan(spark: SparkSession, objname: str, link: str) -> DataFrame:
    """S10 ``single`` job: one named object from one link
    (``SingleBody``/``SingleObj``, ``ext/dload/api.go:88-92,120-123``).
    """
    return local_frame(
        spark, [(link, objname)], schema="url string, objname string"
    )


def multi_job_plan(
    spark: SparkSession,
    objects: dict[str, str] | list[str],
    dest_prefix: str = "",
) -> DataFrame:
    """S10 ``multi`` job: an explicit objects payload — either a
    ``{objname: link}`` map or a list of links whose object names are
    the last URL path segment (``MultiBody.ObjectsPayload``,
    ``ext/dload/api.go:134-137``; payload normalization
    ``ext/dload/utils.go``).
    """
    if isinstance(objects, dict):
        rows = [(link, dest_prefix + name) for name, link in sorted(objects.items())]
    else:
        rows = [
            (link, dest_prefix + link.rsplit("/", 1)[-1]) for link in objects
        ]
    return local_frame(spark, rows, schema="url string, objname string")


def backend_job_plan(
    local: DataFrame,
    remote: DataFrame,
    prefix: str = "",
    suffix: str = "",
    sync: bool = False,
) -> DataFrame:
    """S10 ``backend`` job: sync a remote-bucket subset into the
    cluster (``BackendBody{Prefix, Suffix, Sync}``,
    ``ext/dload/api.go:115-119``).

    Work items: every remote object in the prefix/suffix subset that is
    absent locally or carries a newer version → ``download``; with
    *sync*, local objects in the subset that no longer exist remotely →
    ``delete`` (the F5/M10 semantics on the ingest path). Present and
    current objects are skipped (not emitted), like the dispatcher's
    skipped-count.

    One full-outer hash join on name, prefix/suffix filters pushed to
    both scans.
    """

    def subset(df: DataFrame) -> DataFrame:
        out = df
        if prefix:
            out = out.filter(F.col("name").startswith(prefix))
        if suffix:
            out = out.filter(F.col("name").endswith(suffix))
        return out

    loc = subset(local).select(
        F.col("name").alias("l_name"), F.col("version").alias("l_version")
    )
    rem = subset(remote).select(
        F.col("name").alias("r_name"), F.col("version").alias("r_version")
    )
    j = loc.join(rem, loc["l_name"] == rem["r_name"], "full_outer")
    action = (
        F.when(F.col("l_name").isNull(), F.lit("download"))
        .when(
            F.col("r_name").isNotNull() & (F.col("l_version") != F.col("r_version")),
            F.lit("download"),
        )
        .when(F.col("r_name").isNull(), F.lit("delete") if sync else F.lit("skip"))
        .otherwise(F.lit("skip"))
    )
    return (
        j.select(
            F.coalesce(F.col("r_name"), F.col("l_name")).alias("objname"),
            action.alias("action"),
        )
        .filter(F.col("action") != "skip")
    )


class TokenBucket:
    """``BytesPerHour`` token bucket (``Limits``, ``ext/dload/api.go:
    70-73``): refills at ``bytes_per_hour/3600`` per second with a one-
    second burst; each fetch consumes its size and sleeps out any
    deficit. Clock/sleep injectable so tests run on virtual time.
    """

    def __init__(self, bytes_per_hour: float, clock=None, sleep=None):
        import time

        if bytes_per_hour <= 0:
            raise ValueError("bytes_per_hour must be > 0 for a throttled bucket")
        self.rate = bytes_per_hour / 3600.0  # bytes per second
        self.burst = self.rate
        self.clock = clock or time.monotonic
        self.sleep = sleep or time.sleep
        self.tokens = self.burst
        self.last = self.clock()

    def throttle(self, nbytes: int) -> float:
        now = self.clock()
        self.tokens = min(self.burst, self.tokens + (now - self.last) * self.rate)
        self.last = now
        self.tokens -= nbytes
        if self.tokens < 0:
            wait = -self.tokens / self.rate
            self.sleep(wait)
            self.last += wait
            self.tokens = 0.0
            return wait
        return 0.0


#: sentinels for error rows when ``continue_on_err`` is set — fixed
#: non-NULL values, so downstream aggregations and the SQL oracle see
#: a size and a checksum on every row.
ERR_SIZE = -1
ERR_CHECKSUM = "__err__"


def execute_download(
    plan: DataFrame,
    fetch: FetchFn = fake_fetch,
    connections: int = 8,
    bytes_per_hour: int = 0,
    bucket_factory: Callable[[float], "TokenBucket"] | None = None,
    continue_on_err: bool = False,
) -> DataFrame:
    """Run a download plan: one fetch per work item, through
    :func:`~aistore_spark.util.map_arrays`.

    ``connections`` bounds parallel fetch streams via partition count
    (the reference's per-job ``Connections`` limit); ``bytes_per_hour``
    > 0 rate-limits each stream with a token bucket at its
    ``bytes_per_hour / connections`` share (``Limits``,
    ``ext/dload/api.go:70-73``).

    Per-item error semantics (``continue_on_err``): the reference's
    dispatcher records failed tasks as ``TaskErrInfo{Name, Err}`` in
    the job status and keeps downloading (``Errs []TaskErrInfo``,
    ``ext/dload/api.go:67,108-112``, aggregated at ``api.go:289``) —
    one flaky URL never kills the job. With ``continue_on_err=True``
    a failed fetch emits an error row (``err`` = the exception text,
    ``data`` NULL, ``size`` = :data:`ERR_SIZE`, ``checksum`` =
    :data:`ERR_CHECKSUM`) and the task moves on; successful rows carry
    ``err = ''``. With the default ``False``, the first failure raises
    out of the task and fails the job — the strict mode a caller wants
    when a partial ingest is worse than none.
    """
    plan = plan.repartition(connections)
    # clamp to >= 1 byte/hour per stream: a job limit below the stream
    # count would otherwise int-truncate to a zero-rate bucket and the
    # first throttle() divides by zero
    per_stream = max(bytes_per_hour / max(connections, 1), 1.0)

    def run(batches):
        # one stream per partition: the kernel owns the partition's
        # batches, so the bucket outlives each batch
        bucket = None
        if bytes_per_hour > 0:
            bucket = (
                bucket_factory(per_stream)
                if bucket_factory
                else TokenBucket(per_stream)
            )

        def fetch_row(url):
            try:
                body = fetch(url)
            except Exception as exc:  # noqa: BLE001
                if not continue_on_err:
                    raise
                return None, ERR_SIZE, ERR_CHECKSUM, str(exc)
            if bucket is not None:
                bucket.throttle(len(body))
            return body, len(body), hashlib.md5(body).hexdigest(), ""

        for urls, objnames in batches:
            yield (urls, objnames, *zip(*map(fetch_row, urls)))

    return map_arrays(
        plan,
        ["url", "objname"],
        "url string, objname string, data binary, size bigint, "
        "checksum string, err string",
        run,
    )
